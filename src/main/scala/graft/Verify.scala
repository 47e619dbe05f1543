package graft
import java.nio.file.{Files, Paths}
import graft.tables.Tables
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Retry eligibility: ONLY failures that are transient by construction
    * — broadcast timeouts, shuffle fetch failures, and the awaitResult
    * wrappers Spark puts around them under GC pressure. A deterministic
    * query bug must fail the gate, not pass on a lucky second run
    * (blanket retries would mask a query that fails half its runs).
    */
  def isTransient(e: Throwable): Boolean = {
    val texts = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
      .map(t => t.getClass.getName + ": " + String.valueOf(t.getMessage))
      .mkString("\n").toLowerCase
    Seq("broadcasttimeout", "timeoutexception", "futures timed out",
      "fetchfailed", "exception thrown in awaitresult")
      .exists(texts.contains)
  }

  /** args: <sfDir> <outDir> [queryName ...] — trailing names (a local
    * iteration aid) restrict the dump; the driver always passes two
    * args. Split out so BenchContractSpec pins the REAL parse against
    * the driver's two-positional-arg invocation.
    */
  private[graft] def parseArgs(args: Array[String]): (String, String, Set[String]) = {
    val Array(sfDir, outDir) = args.take(2)
    (sfDir, outDir, args.drop(2).toSet)
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = parseArgs(args)
    val spark = Bench.session()
    new java.io.File(outDir).mkdirs()
    // Queries run on a small thread pool: they are independent (disjoint
    // temp-view names, per-call scratch dirs), Spark's scheduler
    // interleaves concurrent jobs fine, and ~150 sequential queries
    // would otherwise dominate the round's wall clock on a loaded host.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "4").toInt)
    // retry-then-success is recorded in the round record (retries.json)
    // so flakiness stays visible even when the gate passes
    val retried = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val tasks = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            // one retry for CLASSIFIED-TRANSIENT failures only: an
            // await/broadcast hiccup deep into the sweep must not zero a
            // query's correctness, but a deterministic bug must not pass
            // on its lucky second run
            def attempt(): Unit = Tables.write(fn(spark, sfDir).coalesce(1))
              .mode("overwrite").parquet(s"$outDir/$name")
            try attempt()
            catch {
              case e1: Throwable if isTransient(e1) =>
                System.err.println(
                  s"[verify] $name transient failure: ${e1.getMessage}; retrying")
                try { attempt(); retried.add(name) }
                catch { case e: Throwable =>
                  System.err.println(s"[verify] $name failed: ${e.getMessage}")
                }
              case e1: Throwable =>
                System.err.println(
                  s"[verify] $name failed (non-transient, not retried): ${e1.getMessage}")
            }
          }
        })
      }
    tasks.foreach(_.get())
    pool.shutdown()
    Files.writeString(Paths.get(s"$outDir/retries.json"),
      retried.toArray.map(n => "\"" + n + "\"").mkString("[", ",", "]"))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
