package graft.tools

/** Dev utility: print the physical plan of SparkEntry queries — the
  * per-operator audit loop (broadcast vs shuffle joins, PushedFilters,
  * ReadSchema pruning, WholeStageCodegen spans).
  * Usage: ExplainQ <query-name>... [sfDir defaults to sf0.01]
  */
object ExplainQ {
  def main(args: Array[String]): Unit = {
    val (names, dirs) = args.partition(a => !a.startsWith("/"))
    val sfDir = dirs.headOption.getOrElse("/root/testdata/sf0.01")
    // scan metadata (DataFilters, PushedFilters) in full: cut at Spark's
    // default 100 characters, the cut point moves with expression-id widths
    val spark = graft.LocalSession("8", "ERROR", Seq("spark.sql.maxMetadataStringLength" -> "100000"))
    for (q <- names) {
      println(s"===== $q =====")
      val df = graft.SparkEntry.queries(q)(spark, sfDir)
      val cap = sys.env.get("EXPLAINQ_CHARS").map(_.toInt).getOrElse(8000)
      println(df.queryExecution.executedPlan.toString.take(cap))
    }
  }
}
