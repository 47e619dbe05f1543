package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Stage-accounting probe (r15, r14 verdict directive #3): run one query
  * and decompose its wall into task time vs scheduler/driver idle. For
  * each pass it prints wall seconds, the number of stages and tasks, the
  * summed executor run time, and the derived core-occupancy fraction
  * `Σ taskRunTime / (wall × cores)` — a query whose occupancy is tiny is
  * floor-bound (job scheduling, codegen sessions, driver work), not
  * compute-bound, which is the honest read of a flat c8/c32 ratio at
  * small SF.
  *
  * Usage: StageProbe <sfDir> <passes> <query> [query ...]
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val passes = math.max(1, args(1).toInt)
    val names = args.drop(2).toSeq
    val spark = Bench.session()

    // per-measurement accumulators, reset between passes
    object L extends SparkListener {
      var stages = 0
      var tasks = 0L
      var runMs = 0L
      var cpuNs = 0L
      def reset(): Unit = { stages = 0; tasks = 0L; runMs = 0L; cpuNs = 0L }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        tasks += s.stageInfo.numTasks
        runMs += s.stageInfo.taskMetrics.executorRunTime
        cpuNs += s.stageInfo.taskMetrics.executorCpuTime
      }
    }
    spark.sparkContext.addSparkListener(L)

    Bench.warmUp(spark, sfDir, names)

    (1 to passes).foreach { p =>
      names.foreach { n =>
        // listener-bus delivery is async — give the previous
        // measurement's tail events time to land before resetting
        Thread.sleep(500)
        L.reset()
        val t0 = System.nanoTime()
        try Bench.materialize(SparkEntry.queries(n)(spark, sfDir))
        catch { case e: Throwable =>
          System.err.println(s"[stageprobe] $n failed: ${e.getMessage}")
        }
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500)
        val occ = (L.runMs / 1000.0) / (wall * Bench.cpus)
        println(f"STAGEPROBE pass=$p query=$n wall=$wall%.3fs " +
          f"stages=${L.stages} tasks=${L.tasks} " +
          f"taskRun=${L.runMs / 1000.0}%.3fs cpu=${L.cpuNs / 1e9}%.3fs " +
          f"occupancy=$occ%.3f")
      }
    }
    spark.stop()
  }
}
