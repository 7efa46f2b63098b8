package graft.tools

/** Scale-exponent probes for the round-15 distributed window
  * lowerings (big-offset shifts, IGNORE NULLS rank joins, whole-input
  * EXCLUDE, DISTINCT look-ahead, ghosted value functions), run over
  * the FULL orders table — the gate queries filter on o_custkey, which
  * gen_scale.py offsets per replica, so the gates themselves do not
  * grow with the fixture and cannot measure scaling. Each probe wraps
  * its window in a one-row aggregate so Catalyst cannot prune the
  * window away; that row prints next to the timings (every distinct
  * value across the reps), so two builds compare value parity too.
  * `orders` is registered without statistics, and no probe joins it
  * (a join would build them), so no window input has a row bound and
  * every probe measures the bucketed operator.
  *
  * Usage: WinScaleProbe <sfDir> [reps]
  */
object WinScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val cpus = graft.LocalSession.cpus("32")
    val spark = graft.LocalSession(cpus, "ERROR")
    val db = new graft.sql.GraftDatabase(spark,
      java.nio.file.Files.createTempDirectory("wsp").toString)
    db.registerParquet("orders", s"$sfDir/orders.parquet")

    val probes = Seq(
      "big_shift" ->
        ("SELECT sum(CASE WHEN lg IS NULL THEN 0 ELSE lg END) AS s FROM " +
          "(SELECT lag(round(o_totalprice), 1200, -1.0) OVER " +
          "(ORDER BY o_orderkey) AS lg FROM orders) t"),
      "big_shift_ignore_nulls" ->
        ("SELECT sum(CASE WHEN lg IS NULL THEN 0 ELSE lg END) AS s FROM " +
          "(SELECT lag(k, 1100 IGNORE NULLS) OVER (ORDER BY o_orderkey) AS lg " +
          "FROM (SELECT o_orderkey, CASE WHEN o_orderkey % 4 = 0 THEN NULL " +
          "ELSE round(o_totalprice) END AS k FROM orders) b) t"),
      "whole_input_exclude" ->
        ("SELECT sum(sg) AS s1, min(mg) AS s2 FROM " +
          "(SELECT sum(p) OVER (ORDER BY o_custkey RANGE BETWEEN UNBOUNDED " +
          "PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS sg, " +
          "min(p) OVER (ORDER BY o_custkey RANGE BETWEEN UNBOUNDED " +
          "PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS mg " +
          "FROM (SELECT o_custkey, round(o_totalprice) AS p FROM orders) b) t"),
      "distinct_lookahead" ->
        ("SELECT sum(ds) AS s FROM (SELECT CAST(sum(DISTINCT o_custkey % 97) " +
          "OVER (ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND " +
          "5 FOLLOWING) AS BIGINT) AS ds FROM orders) t"),
      "value_fn_ghosts" ->
        ("SELECT sum(fv) AS s1, sum(nv) AS s2 FROM " +
          "(SELECT first_value(k IGNORE NULLS) OVER (ORDER BY o_orderkey " +
          "ROWS BETWEEN 4 PRECEDING AND 4 FOLLOWING) AS fv, " +
          "nth_value(k, 2) OVER (ORDER BY o_orderkey " +
          "ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS nv " +
          "FROM (SELECT o_orderkey, CASE WHEN o_orderkey % 4 = 0 THEN NULL " +
          "ELSE round(o_totalprice) END AS k FROM orders) b) t"),
      "carry_ignore_nulls" ->
        ("SELECT sum(CASE WHEN ld IS NULL THEN 0 ELSE ld END) AS s FROM " +
          "(SELECT lead(k, 3 IGNORE NULLS) OVER (ORDER BY o_orderkey) AS ld " +
          "FROM (SELECT o_orderkey, CASE WHEN o_orderkey % 4 = 0 THEN NULL " +
          "ELSE round(o_totalprice) END AS k FROM orders) b) t"),
      "ghost_shift" ->
        ("SELECT sum(lg) AS s FROM (SELECT lag(round(o_totalprice), 3, -1.0) " +
          "OVER (ORDER BY o_orderkey) AS lg FROM orders) t"),
      "part_whole_exclude" ->
        ("SELECT sum(mg) AS s FROM (SELECT min(p) OVER " +
          "(PARTITION BY o_custkey % 50 ORDER BY k RANGE BETWEEN " +
          "UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS mg " +
          "FROM (SELECT o_custkey, round(o_totalprice) AS p, " +
          "CAST(o_orderkey % 1000 AS INT) AS k FROM orders) b) t"),
      "prefix_scan_ref" ->
        ("SELECT max(rk) AS s FROM (SELECT rank() OVER " +
          "(ORDER BY o_totalprice DESC) AS rk FROM orders) t"))

    for ((name, sql) <- probes) {
      val runs = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val rows = db.select(sql).fold(e => sys.error(e.msg), _.collect())
        ((System.nanoTime() - t0) / 1e9, rows.map(_.mkString(",")).mkString(";"))
      }
      val ts = runs.map(_._1)
      println(f"$name%-24s median=${ts.sorted.apply(ts.length / 2)}%6.2f  " +
        s"all=${ts.map(t => f"$t%.2f").mkString(",")}  " +
        s"value=${runs.map(_._2).distinct.mkString(" | ")}")
    }
    spark.stop()
  }
}
