package graft

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
  * A failed pass prints `null` and is left out of `min` (`null` when
  * every pass failed), so a failure never reads as a speedup.
  */
object ABProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val passes = math.max(1, args(1).toInt)
    val names = args.drop(2).toSeq
    require(names.nonEmpty, "ABProbe needs at least one query name")
    val spark = Bench.session()
    Bench.warmUp(spark, sfDir, names)

    val named = names.map(n => n -> SparkEntry.queries(n))
    val shuffleBytes = scala.collection.mutable.Map[String, Long]()
    val walls = (1 to passes).map { p =>
      named.map { case (name, fn) =>
        val t0 = System.nanoTime()
        // a failed pass is NaN, never a (fast) wall that could win the min
        val wall = try {
          if (p == passes)
            shuffleBytes(name) = Telemetry.measure(fn(spark, sfDir))
              .shuffleBytesWritten
          else Bench.materialize(fn(spark, sfDir))
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[abprobe] $name failed: ${e.getMessage}")
          shuffleBytes(name) = -1L
          Double.NaN
        }
        name -> wall
      }.toMap
    }
    def s3(v: Double) =
      if (v.isNaN) "null" else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = names.map { n =>
      val ps = walls.map(_(n))
      val ok = ps.filterNot(_.isNaN)
      "\"" + n + "\":{\"passes\":[" + ps.map(s3).mkString(",") +
        "],\"min\":" + s3(if (ok.isEmpty) Double.NaN else ok.min) +
        ",\"shuffle_bytes\":" + shuffleBytes.getOrElse(n, -1L) + "}"
    }.mkString("{", ",", "}")
    println(s"""{"metric":"abprobe","sf":"$sfDir","cpus":${Bench.cpus},"queries":$qs}""")
    spark.stop()
  }
}
