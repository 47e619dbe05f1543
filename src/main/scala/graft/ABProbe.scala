package graft

import org.apache.spark.sql.SparkSession
import graft.tables.Tables

/** Paired A/B measurement probe — the r15 measurement protocol (r14
  * verdict directive #4) for a ±30 % shared host: time a SUBSET of
  * queries for N round-robin passes in one JVM and print EVERY pass's
  * wall seconds — pass 1 included, so construction-state memo
  * amortization is visible next to the steady-state min — plus the
  * final-pass shuffle bytes (the noise-free plan signal).
  *
  * The driver never runs this; it exists so before/after builds can be
  * alternated B/A/B/A in one shell session (scripts/ab_probe.sh) and
  * compared by PAIRED per-query ratios, which cancel run-level host
  * drift that single before/after runs cannot (the r14 lesson: 43
  * untouched queries drifted a uniform ~16-20 %).
  *
  * Usage: ABProbe <sfDir> <passes> <query> [query ...]
  * Output (one JSON line): {"metric":"abprobe","sf":...,"queries":
  *   {name:{"passes":[s,s,...],"min":s,"shuffle_bytes":n}}}
  */
object ABProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val passes = math.max(1, args(1).toInt)
    val names = args.drop(2).toSeq
    require(names.nonEmpty, "ABProbe needs at least one query name")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    // identical session config to Bench — the probe must measure the
    // same plans the graded bench runs
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.broadcastTimeout", "1200")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warm-up at the smallest SF exactly like Bench: compiles/JITs every
    // plan shape so pass 1 at the measured SF reflects execution + memo
    // construction, not codegen time
    val warmDir = {
      val tiny = sfDir.replaceAll("sf[0-9.]+$", "sf0.001")
      if (new java.io.File(tiny).isDirectory) tiny else sfDir
    }
    names.foreach { n =>
      SparkEntry.queries.get(n).foreach { fn =>
        try Bench.materialize(fn(spark, warmDir))
        catch { case _: Throwable => () }
      }
    }
    Tables.names.foreach { t =>
      try Tables.parquet(spark, s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => () }
    }

    val named = names.map(n => n -> SparkEntry.queries(n))
    val shuffleBytes = scala.collection.mutable.Map[String, Long]()
    val walls = (1 to passes).map { p =>
      named.map { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          if (p == passes)
            shuffleBytes(name) = Telemetry.measure(fn(spark, sfDir))
              .shuffleBytesWritten
          else Bench.materialize(fn(spark, sfDir))
        } catch { case e: Throwable =>
          System.err.println(s"[abprobe] $name failed: ${e.getMessage}")
          shuffleBytes(name) = -1L
        }
        name -> (System.nanoTime() - t0) / 1e9
      }.toMap
    }
    def s3(v: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = names.map { n =>
      val ps = walls.map(_(n))
      "\"" + n + "\":{\"passes\":[" + ps.map(s3).mkString(",") +
        "],\"min\":" + s3(ps.min) +
        ",\"shuffle_bytes\":" + shuffleBytes.getOrElse(n, -1L) + "}"
    }.mkString("{", ",", "}")
    println(s"""{"metric":"abprobe","sf":"$sfDir","cpus":$cpus,"queries":$qs}""")
    spark.stop()
  }
}
