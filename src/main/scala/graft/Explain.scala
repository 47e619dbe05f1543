package graft

/** Dev tool: dump `explain(formatted)` for the bench headline queries
  * (usage: runMain graft.Explain [sfDir] [query ...]), in the session
  * `Bench` times them in.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else Bench.headline
    val spark = Bench.session()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n========== $name ==========")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
