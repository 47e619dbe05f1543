package graft.perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around each call into a layer, plus Spark listener records.
  *
  * Spans are opened and closed on the single driver thread; each sets a
  * job group naming it, so the jobs it causes attach to it. Listener
  * events arrive asynchronously, so they are only recorded here and are
  * attributed to spans after the listener bus has drained: a job by its
  * job group, or else (streaming micro-batches run under their own group)
  * by the innermost span open at its start; a task through its stage's
  * job; a Catalyst phase by the innermost span open when it began.
  * Everything stays in memory until [[writeSpans]] at the end.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext

  final class Span(val id: Int, val parent: Int, val name: String,
                   val layer: String, val pass: Int) {
    val startMs: Double = System.currentTimeMillis().toDouble
    private val startNs = System.nanoTime()
    var endMs: Double = Double.MaxValue
    def close(): Unit = endMs = startMs + (System.nanoTime() - startNs) / 1e6
    def durMs: Double = endMs - startMs
    def contains(t: Double): Boolean = t >= startMs && t <= endMs
  }

  private final case class Job(id: Int, group: String, timeMs: Long, stages: Seq[Int])
  private final case class Task(stage: Int, launchMs: Long, finishMs: Long,
                                runMs: Long, shuffleBytes: Long, spillBytes: Long)
  private final case class Phase(name: String, startMs: Long, durMs: Long)

  private val spans = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[Span]()
  private val jobs = mutable.ArrayBuffer[Job]()
  private val tasks = mutable.ArrayBuffer[Task]()
  private val phases = mutable.ArrayBuffer[Phase]()
  private var streamRows = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs += Job(e.jobId, group, e.time, e.stageIds)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = Option(e.taskMetrics)
      tasks += Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.map(_.executorRunTime).getOrElse(0L),
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(t => t.memoryBytesSpilled + t.diskBytesSpilled).getOrElse(0L))
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qe.tracker.phases.foreach { case (name, p) =>
        phases += Phase(name, p.startTimeMs, p.durationMs) }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { streamRows += e.progress.numInputRows }
  }

  private var attached = false

  /** Start recording listener events (the traced passes). */
  def attach(): Unit = if (!attached) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  /** Deliver every pending event, then stop recording. */
  def detach(): Unit = if (attached) {
    PerfbenchBridge.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  /** Time `body` as a span; its jobs run under a job group naming it. */
  def span[T](name: String, layer: String, pass: Int)(body: => T): T = {
    val parent = open.headOption
    val s = new Span(spans.size, parent.map(_.id).getOrElse(-1), name, layer, pass)
    spans += s
    open.push(s)
    sc.setJobGroup(s"perfbench-${s.id}", name)
    try body
    finally {
      s.close()
      open.pop()
      parent match {
        case Some(p) => sc.setJobGroup(s"perfbench-${p.id}", p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Streaming rows read per tick span so far. */
  def rowsPerTick: Double = synchronized {
    val ticks = spans.count(s => s.layer == "streaming" && s.parent < 0)
    if (ticks == 0) 0.0 else streamRows.toDouble / ticks
  }

  private def innermost(t: Double): Option[Span] =
    spans.filter(_.contains(t)).maxByOption(_.startMs)

  private def root(s: Span): Span =
    if (s.parent < 0) s else root(spans(s.parent))

  /** Each recorded job's span: the one its job group names, else the
    * innermost span open when it started. */
  private def jobSpans: Seq[(Job, Span)] = {
    val byGroup = spans.map(s => s"perfbench-${s.id}" -> s).toMap
    jobs.toSeq.flatMap(j => byGroup.get(j.group).orElse(innermost(j.timeMs.toDouble)).map(j -> _))
  }

  /** Length of the union of `ivs`, clipped to [lo, hi]. */
  private def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var reach = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** Per-layer totals over the top-level (call) spans of `passes`. */
  def layers(passes: Set[Int], cores: Int): Map[String, Map[String, Double]] = synchronized {
    val owners = jobSpans
    val stageRoot = owners.flatMap { case (j, s) => j.stages.map(_ -> root(s)) }.toMap
    val calls = spans.filter(s => s.parent < 0 && passes(s.pass))
    val callSet = calls.map(_.id).toSet
    val tasksOf = tasks.flatMap(t => stageRoot.get(t.stage).filter(r => callSet(r.id)).map(_.id -> t))
      .groupMap(_._1)(_._2)
    val jobsOf = owners.map { case (j, s) => root(s).id -> j }.groupMap(_._1)(_._2)
    // a phase belongs to the innermost span open when it began; its
    // minutes split between the call's construct and execute children
    val phaseOf = phases.toSeq.flatMap(p => innermost(p.startMs.toDouble).map(s => s -> p.durMs))
    def planIn(pred: Span => Boolean): Map[Int, Double] =
      phaseOf.filter(x => pred(x._1)).groupMapReduce(x => root(x._1).id)(_._2.toDouble)(_ + _)
    val planAll = planIn(_ => true)
    val planExec = planIn(_.name == "execute")
    val childDur = spans.filter(_.parent >= 0).groupMapReduce(s => (s.parent, s.name))(_.durMs)(_ + _)

    calls.groupBy(_.layer).map { case (layer, cs) =>
      def tasksIn(c: Span): Seq[Task] = tasksOf.get(c.id).toSeq.flatten
      val ts = cs.flatMap(tasksIn)
      val wallMs = cs.map(_.durMs).sum
      val taskMs = ts.map(_.runMs).sum.toDouble
      val waitMs = cs.map { c =>
        val iv = tasksIn(c).map(t => (t.launchMs.toDouble, t.finishMs.toDouble))
        c.durMs - covered(iv, c.startMs, c.endMs)
      }.sum
      val execMs = cs.map(c => childDur.getOrElse((c.id, "execute"), 0.0) -
        planExec.getOrElse(c.id, 0.0)).sum
      val slowest = ts.groupBy(_.stage).values.maxByOption(st =>
        st.map(_.finishMs).max - st.map(_.launchMs).min)
      val skew = slowest.map { st =>
        val runs = st.map(_.runMs.toDouble).sorted
        runs.last / math.max(1.0, runs(runs.size / 2))
      }.getOrElse(0.0)
      layer -> Map(
        "construct_s" -> cs.map(c => childDur.getOrElse((c.id, "construct"), 0.0)).sum / 1e3,
        "plan_s" -> cs.map(c => planAll.getOrElse(c.id, 0.0)).sum / 1e3,
        "exec_s" -> execMs / 1e3,
        "task_s" -> taskMs / 1e3,
        "occupancy" -> (if (wallMs > 0) taskMs / (wallMs * cores) else 0.0),
        "driver_wait_s" -> waitMs / 1e3,
        "jobs" -> cs.map(c => jobsOf.getOrElse(c.id, Nil).size).sum.toDouble,
        "tasks" -> ts.size.toDouble,
        "shuffle_bytes" -> ts.map(_.shuffleBytes).sum.toDouble,
        "task_skew" -> skew,
        "spill_bytes" -> ts.map(_.spillBytes).sum.toDouble,
        "wall_s" -> wallMs / 1e3)
    }
  }

  /** Every span as one JSON line: the call spans and their construct and
    * execute children, plus one `plan.<phase>` child per Catalyst phase
    * under the span open when it began. Each carries its self time
    * (duration minus the part its children cover) and the jobs, stages,
    * tasks and task time attributed directly to it. */
  def writeSpans(path: String): Unit = synchronized {
    val owners = jobSpans
    val jobSpan = owners.map { case (j, s) => s.id -> j }.groupMap(_._1)(_._2)
    val stageSpan = owners.flatMap { case (j, s) => j.stages.map(_ -> s.id) }.toMap
    val taskSpan = tasks.toSeq.flatMap(t => stageSpan.get(t.stage).map(_ -> t)).groupMap(_._1)(_._2)
    val planSpans = phases.toSeq.flatMap(p => innermost(p.startMs.toDouble).map(s =>
      (s.id, s.layer, s.pass, "plan." + p.name, p.startMs.toDouble, p.durMs.toDouble)))
    val kids = (spans.filter(_.parent >= 0).map(k => (k.parent, k.startMs, k.endMs)) ++
      planSpans.map(p => (p._1, p._5, p._5 + p._6))).groupBy(_._1)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      spans.foreach { s =>
        val iv = kids.getOrElse(s.id, Nil).map(k => (k._2, k._3)).toSeq
        val js = jobSpan.getOrElse(s.id, Nil)
        val ts = taskSpan.getOrElse(s.id, Nil)
        w.println(Json.write(ListMap("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "layer" -> s.layer, "pass" -> s.pass, "start_ms" -> s.startMs,
          "dur_ms" -> s.durMs, "self_ms" -> (s.durMs - covered(iv, s.startMs, s.endMs)),
          "jobs" -> js.map(_.id), "stages" -> js.map(_.stages.size).sum,
          "tasks" -> ts.size, "task_ms" -> ts.map(_.runMs).sum)))
      }
      planSpans.zipWithIndex.foreach { case ((parent, layer, pass, name, start, dur), i) =>
        w.println(Json.write(ListMap("id" -> (spans.size + i), "parent" -> parent, "name" -> name,
          "layer" -> layer, "pass" -> pass, "start_ms" -> start, "dur_ms" -> dur,
          "self_ms" -> dur)))
      }
    } finally w.close()
  }
}
