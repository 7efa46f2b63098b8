package graft.tools

/** Dev utility: time individual SparkEntry queries with a warm JVM.
  * Usage: TimeQ <comma-separated-query-names> <sfDir>
  */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSession("32", "WARN")
    graft.SparkEntry.queries("q_scan_project")(spark, args(1)).count() // warmup
    for (q <- args(0).split(",")) {
      for (i <- 1 to 2) {
        val t0 = System.nanoTime()
        val n = graft.SparkEntry.queries(q)(spark, args(1)).count()
        println(f"TIMING $q run$i ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
      }
    }
    spark.stop()
  }
}
