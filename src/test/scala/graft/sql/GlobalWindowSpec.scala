package graft.sql

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.JobCounter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.SparkTestSession
import graft.operators.Fixpoint

/** Differential pins for the bucketed unpartitioned-window operator
  * (GlobalWindows): every kind it computes — prefix scan, halo, IGNORE
  * NULLS carry, whole-input EXCLUDE, rank join — against Spark's own
  * single-partition window over the same rows, at 1, 4 and 7 buckets,
  * and the one-task path a small table takes (Spark's own window).
  * The reference spells every NULL placement out (the engine's default
  * is NULLS LAST in both directions) and breaks ties on the unique `id`.
  */
class GlobalWindowSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val tRows = 300

  // tRows rows (fixed seed): unique id, a nullable second order key k
  // with many ties, a nullable value v and a DECIMAL(10,2) m, NULL with v
  private lazy val db: GraftDatabase = {
    val rnd = new scala.util.Random(20261017L)
    def maybe(p: Int, x: => Int): Any = if (rnd.nextInt(p) == 0) null else x
    val rows = (1 to tRows).map { id =>
      val k = maybe(6, rnd.nextInt(25))
      val v = maybe(4, rnd.nextInt(200) - 50)
      Row(id, k, v, v match {
        case v: Int => java.math.BigDecimal.valueOf(v * 37L + id, 2)
        case _      => null
      })
    }
    val schema = StructType(Seq(StructField("id", IntegerType, false),
      StructField("k", IntegerType), StructField("v", IntegerType),
      StructField("m", DecimalType(10, 2))))
    val path = Files.createTempDirectory("gws").resolve("t.parquet").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      .write.parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("gws_ref")
    val d = new GraftDatabase(spark, Files.createTempDirectory("graft-wh").toString)
    d.registerParquet("t", path)
    // a known row count: t runs on one task
    d.statistics.injectStats("t", tRows)
    d
  }

  /** `body` with t one row past the one-task threshold: the bucketed
    * operator.
    */
  private def bucketed[T](body: => T): T = {
    db.statistics.injectStats("t", GlobalWindows.OneTaskRows + 1)
    try body finally db.statistics.injectStats("t", tRows)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case null                    => "null"
      case d: Double               => f"$d%.9f"
      case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
      case x                       => x.toString
    }.mkString("|")).sorted

  /** The engine's `sql` equals Spark's `reference` on the one-task path
    * and at every bucket count, with the same result schema on every
    * path.
    */
  private def same(sql: String, reference: String): Unit = {
    val engine = db // registers the reference view too
    val expected = rows(spark.sql(reference))
    def check(path: String): StructType = {
      val df = engine.select(sql).fold(e => fail(s"$sql -> ${e.msg}"), identity)
      val got = rows(df)
      val diff = got.zip(expected).filter { case (g, e) => g != e }
      if (got.length != expected.length || diff.nonEmpty)
        fail(s"$path: ${got.length} rows vs ${expected.length}, " +
          s"first differences (engine, spark): ${diff.take(3)}")
      df.schema
    }
    val oneTask = check("one task")
    for (p <- Seq(1, 4, 7))
      Fixpoint.withConfRestored(spark, Fixpoint.PartitionsKey) {
        spark.conf.set(Fixpoint.PartitionsKey, p.toLong)
        val types = bucketed(check(s"$p buckets"))
        assert(types == oneTask, s"$p buckets: $types vs one task: $oneTask")
      }
  }

  // ORDER specs: engine spelling -> reference spelling
  private val byKId = "k, id" -> "k ASC NULLS LAST, id ASC NULLS LAST"
  private val byKDescId = "k DESC, id" -> "k DESC NULLS LAST, id ASC NULLS LAST"
  private val byK = "k" -> "k ASC NULLS LAST"
  private val byKDesc = "k DESC" -> "k DESC NULLS LAST"

  /** One statement over `t` projecting id and every item, each item an
    * (engine, reference) pair of window expressions with `%s` standing
    * for the ORDER spec.
    */
  private def sameItems(items: ((String, String), (String, String))*): Unit = {
    def select(side: ((String, String), (String, String)) => String,
        from: String) =
      "SELECT id, " + items.zipWithIndex.map { case ((ord, it), i) =>
        s"${side(ord, it)} AS r$i" }.mkString(", ") + s" FROM $from"
    same(select((o, it) => it._1.replace("%s", o._1), "t"),
      select((o, it) => it._2.replace("%s", o._2), "gws_ref"))
  }
  private def both(e: String): (String, String) = e -> e

  test("prefix scan: ranks, ntile, percent_rank, cume_dist, running aggregates") {
    sameItems(
      byKId -> both("row_number() OVER (ORDER BY %s)"),
      byK -> both("rank() OVER (ORDER BY %s)"),
      byKDesc -> both("dense_rank() OVER (ORDER BY %s)"),
      byK -> both("percent_rank() OVER (ORDER BY %s)"),
      byKDesc -> both("cume_dist() OVER (ORDER BY %s)"),
      byKId -> both("ntile(7) OVER (ORDER BY %s)"),
      byKDescId -> both("ntile(500) OVER (ORDER BY %s)"),
      byKId -> both("count(v) OVER (ORDER BY %s)"),
      byK -> both("count(*) OVER (ORDER BY %s)"),
      byK -> both("sum(v) OVER (ORDER BY %s)"),
      byKId -> both("avg(v) OVER (ORDER BY %s)"),
      byKDescId -> both("min(v) OVER (ORDER BY %s)"),
      byKDesc -> both("max(v) OVER (ORDER BY %s)"),
      byKDescId -> both("sum(v) OVER (ORDER BY %s ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND CURRENT ROW)"))
  }

  test("lag/lead: halo, IGNORE NULLS carry and rank join offsets") {
    sameItems(
      byKDescId -> both("lag(v) OVER (ORDER BY %s)"),
      byKDescId -> both("lead(v, 3) OVER (ORDER BY %s)"),
      byKId -> both("lag(v, 3, -1) OVER (ORDER BY %s)"),
      byKId -> both("lag(v, 250) OVER (ORDER BY %s)"),
      byKId -> both("lag(v, 1500) OVER (ORDER BY %s)"),
      byKDescId -> both("lead(v, 1500, -7) OVER (ORDER BY %s)"),
      byKDescId -> ("lag(v IGNORE NULLS) OVER (ORDER BY %s)" ->
        "lag(v) IGNORE NULLS OVER (ORDER BY %s)"),
      byKId -> ("lead(v, 3 IGNORE NULLS) OVER (ORDER BY %s)" ->
        "lead(v, 3) IGNORE NULLS OVER (ORDER BY %s)"),
      byKDescId -> ("lag(v, 200, -1 IGNORE NULLS) OVER (ORDER BY %s)" ->
        "lag(v, 200, -1) IGNORE NULLS OVER (ORDER BY %s)"),
      byKDescId -> ("lag(v, 1100 IGNORE NULLS) OVER (ORDER BY %s)" ->
        "lag(v, 1100) IGNORE NULLS OVER (ORDER BY %s)"),
      byKId -> ("lead(v, 1100 IGNORE NULLS) OVER (ORDER BY %s)" ->
        "lead(v, 1100) IGNORE NULLS OVER (ORDER BY %s)"))
  }

  test("bounded ROWS frames: aggregates and value functions over the halo") {
    sameItems(
      byKId -> both("sum(v) OVER (ORDER BY %s ROWS BETWEEN 2 PRECEDING " +
        "AND 3 FOLLOWING)"),
      byKDescId -> both("count(*) OVER (ORDER BY %s ROWS BETWEEN 5 " +
        "PRECEDING AND 1 PRECEDING)"),
      byKId -> both("avg(v) OVER (ORDER BY %s ROWS BETWEEN 1 FOLLOWING " +
        "AND 4 FOLLOWING)"),
      byKDescId -> both("min(v) OVER (ORDER BY %s ROWS BETWEEN 3 " +
        "PRECEDING AND CURRENT ROW)"),
      byKId -> both("max(v) OVER (ORDER BY %s ROWS BETWEEN 60 PRECEDING " +
        "AND 60 FOLLOWING)"),
      byKId -> both("first_value(v) OVER (ORDER BY %s ROWS BETWEEN 3 " +
        "PRECEDING AND 1 FOLLOWING)"),
      byKDescId -> (("last_value(v IGNORE NULLS) OVER (ORDER BY %s ROWS " +
        "BETWEEN 2 PRECEDING AND 2 FOLLOWING)") ->
        ("last_value(v, true) OVER (ORDER BY %s ROWS BETWEEN 2 PRECEDING " +
        "AND 2 FOLLOWING)")),
      byKId -> both("nth_value(v, 2) OVER (ORDER BY %s ROWS BETWEEN 1 " +
        "PRECEDING AND 2 FOLLOWING)"),
      byKDescId -> (("count(DISTINCT v) OVER (ORDER BY %s ROWS BETWEEN 3 " +
        "PRECEDING AND 3 FOLLOWING)") ->
        ("size(collect_set(v) OVER (ORDER BY %s ROWS BETWEEN 3 PRECEDING " +
        "AND 3 FOLLOWING))")))
  }

  test("DISTINCT running and look-ahead aggregates over the first-occurrence mask") {
    // sum(DISTINCT) is NULL over an empty set; the fold seeds 0
    def distinctSum(frame: String) = {
      val cs = s"collect_set(v) OVER (ORDER BY %s$frame)"
      s"IF(size($cs) = 0, NULL, aggregate($cs, 0L, (a, x) -> a + x))"
    }
    sameItems(
      byKId -> ("count(DISTINCT v) OVER (ORDER BY %s)" ->
        "size(collect_set(v) OVER (ORDER BY %s))"),
      byK -> ("sum(DISTINCT v) OVER (ORDER BY %s)" -> distinctSum("")),
      byKDescId -> (("count(DISTINCT v) OVER (ORDER BY %s ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND 4 FOLLOWING)") ->
        ("size(collect_set(v) OVER (ORDER BY %s ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND 4 FOLLOWING))")),
      byKId -> (("sum(DISTINCT v) OVER (ORDER BY %s ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND 50 FOLLOWING)") -> distinctSum(
          " ROWS BETWEEN UNBOUNDED PRECEDING AND 50 FOLLOWING")))
  }

  test("whole-input frames with EXCLUDE: the two-sided carry") {
    val whole = "BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"
    val nn = "IF(v IS NULL, 0, 1)"
    sameItems(
      byKId -> (s"sum(v) OVER (ORDER BY %s ROWS $whole EXCLUDE CURRENT ROW)" ->
        s"IF(count(v) OVER () - $nn = 0, NULL, sum(v) OVER () - coalesce(v, 0))"),
      byK -> (s"count(*) OVER (ORDER BY %s RANGE $whole EXCLUDE GROUP)" ->
        "count(*) OVER () - count(*) OVER (PARTITION BY k)"),
      byK -> (s"sum(v) OVER (ORDER BY %s RANGE $whole EXCLUDE TIES)" ->
        (s"IF(count(v) OVER () - count(v) OVER (PARTITION BY k) + $nn = 0, " +
          "NULL, sum(v) OVER () - coalesce(sum(v) OVER (PARTITION BY k), 0) " +
          "+ coalesce(v, 0))")),
      byKDescId -> (s"min(v) OVER (ORDER BY %s ROWS $whole EXCLUDE CURRENT ROW)" ->
        ("least(min(v) OVER (ORDER BY %s ROWS BETWEEN UNBOUNDED PRECEDING " +
          "AND 1 PRECEDING), min(v) OVER (ORDER BY %s ROWS BETWEEN 1 " +
          "FOLLOWING AND UNBOUNDED FOLLOWING))")))
  }

  test("DECIMAL sums and averages keep the buckets' types on every path") {
    // the carry adds sums of sums and divides a running average in
    // double, so these items take the buckets at any input size
    val whole = "BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"
    val nn = "IF(m IS NULL, 0, 1)"
    val cs = "collect_set(m) OVER (ORDER BY %s)"
    sameItems(
      byKId -> both("sum(m) OVER (ORDER BY %s)"),
      byK -> ("avg(m) OVER (ORDER BY %s)" -> ("CAST(sum(m) OVER (ORDER BY " +
        "%s) AS DOUBLE) / NULLIF(count(m) OVER (ORDER BY %s), 0)")),
      byKDescId -> ("sum(DISTINCT m) OVER (ORDER BY %s)" -> (s"IF(size($cs) " +
        s"= 0, NULL, aggregate($cs, CAST(0 AS DECIMAL(38,2)), (a, x) -> a + x))")),
      byKId -> (s"sum(m) OVER (ORDER BY %s ROWS $whole EXCLUDE CURRENT ROW)" ->
        s"IF(count(m) OVER () - $nn = 0, NULL, sum(m) OVER () - coalesce(m, 0))"),
      byKId -> both("sum(m) OVER (ORDER BY %s ROWS BETWEEN 2 PRECEDING " +
        "AND 1 FOLLOWING)"),
      byKId -> both("avg(m) OVER ()"))
    // aggregate scope: a running sum and average of sums
    same("SELECT k, sum(sum(m)) OVER (ORDER BY k) AS rs, " +
      "avg(sum(m)) OVER (ORDER BY k) AS ra FROM t GROUP BY k",
      "SELECT k, sum(sum(m)) OVER w AS rs, CAST(sum(sum(m)) OVER w AS " +
        "DOUBLE) / NULLIF(count(sum(m)) OVER w, 0) AS ra FROM gws_ref " +
        "GROUP BY k WINDOW w AS (ORDER BY k ASC NULLS LAST)")
    // the keyless correlated running average: the inner rows before each
    // id, over the same carry
    same("SELECT id, (SELECT avg(m) FROM t t2 WHERE t2.id < t.id) AS a FROM t",
      "SELECT id, CAST(sum(m) OVER w AS DOUBLE) / NULLIF(count(m) OVER w, 0) " +
        "AS a FROM gws_ref WINDOW w AS (ORDER BY id ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND 1 PRECEDING)")
  }

  test("aggregate scope and QUALIFY run the same operator") {
    same("SELECT k, count(*) AS n, " +
      "rank() OVER (ORDER BY count(*) DESC, k) AS rk, " +
      "sum(sum(v)) OVER (ORDER BY k) AS rs, " +
      "lag(count(*), 2) OVER (ORDER BY k DESC) AS lg, " +
      "sum(count(*)) OVER () AS tot FROM t GROUP BY k",
      "SELECT k, count(*) AS n, " +
        "rank() OVER (ORDER BY count(*) DESC NULLS LAST, k ASC NULLS LAST) AS rk, " +
        "sum(sum(v)) OVER (ORDER BY k ASC NULLS LAST) AS rs, " +
        "lag(count(*), 2) OVER (ORDER BY k DESC NULLS LAST) AS lg, " +
        "sum(count(*)) OVER () AS tot FROM gws_ref GROUP BY k")
    same("SELECT id, v FROM t QUALIFY lag(v, 3) OVER (ORDER BY k DESC, id) > 60 " +
      "OR row_number() OVER (ORDER BY k, id) % 9 = 0",
      "SELECT id, v FROM (SELECT id, v, " +
        "lag(v, 3) OVER (ORDER BY k DESC NULLS LAST, id ASC NULLS LAST) AS l, " +
        "row_number() OVER (ORDER BY k ASC NULLS LAST, id ASC NULLS LAST) AS rn " +
        "FROM gws_ref) x WHERE l > 60 OR rn % 9 = 0")
  }

  test("every kind of one ORDER spec shares one range bucketing") {
    val kinds = "row_number() OVER (ORDER BY id) AS rn, " +
      "sum(v) OVER (ORDER BY id ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS sw, " +
      "lag(v IGNORE NULLS) OVER (ORDER BY id) AS li, " +
      "sum(v) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING AND " +
      "UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS sx, " +
      "lag(v, 1500) OVER (ORDER BY id) AS lb"
    // the executed plan and every sub-plan a materialization boundary
    // hides from it: (bucket-id columns named, materializations)
    def bucketing(sql: String): (Set[String], Int) = {
      val audit = Lowering.MaterializeAudit
      audit.plans.clear()
      audit.enabled = true
      val plans = try {
        val top = db.select(sql).fold(e => fail(e.msg), identity)
          .queryExecution.executedPlan
        val subs = Iterator.continually(audit.plans.poll())
          .takeWhile(_ != null).toSeq
        top +: subs
      } finally audit.enabled = false
      (plans.flatMap(p => "__gsh\\d+_pid".r.findAllIn(p.toString)).toSet,
        plans.length - 1)
    }
    // one bucketing, materialized once plus once for the rank join
    val (one, m1) = bucketed(bucketing(s"SELECT id, $kinds FROM t"))
    assert(one.size == 1 && m1 == 2, (one, m1))
    val (two, m2) = bucketed(bucketing(s"SELECT id, $kinds, " +
      "rank() OVER (ORDER BY k DESC) AS rk FROM t"))
    assert(two.size == 2 && m2 == 3, (two, m2))
    // on one task: no bucketing and nothing materialized
    assert(bucketing(s"SELECT id, $kinds FROM t") == ((Set.empty[String], 0)))
  }

  test("the row count in the driver chooses one task or the buckets, with no job") {
    val d = new GraftDatabase(spark, Files.createTempDirectory("graft-wh").toString)
    d.query("CREATE TABLE ev (id BIGINT, kind INT, amount BIGINT, note VARCHAR(8))")
    // 4,800 rows by INSERT: the statistics stay fresh
    for (b <- 0 until 6)
      d.query("INSERT INTO ev VALUES " + (0 until 800).map { i =>
        val id = b * 800 + i
        val amount = if (id % 8 == 0) "NULL" else (id * 37 % 1000).toString
        val note = if (id % 3 == 0) "NULL" else s"'n${id % 5}'"
        s"($id, ${id % 20}, $amount, $note)"
      }.mkString(", ")).fold(e => fail(e.msg), identity)
    // the ingest benchmark's window template
    val sql = "SELECT id, rn, rs, lg, ld, nt, fv, lv FROM (SELECT id, " +
      "row_number() OVER (ORDER BY id) AS rn, " +
      "sum(amount) OVER (ORDER BY id) AS rs, " +
      "lag(amount, 2050) OVER (ORDER BY id) AS lg, " +
      "lead(kind, 1050) OVER (ORDER BY id) AS ld, " +
      "ntile(55) OVER (ORDER BY id) AS nt, " +
      "first_value(note IGNORE NULLS) OVER (ORDER BY id) AS fv, " +
      "last_value(note IGNORE NULLS) OVER (ORDER BY id) AS lv " +
      "FROM ev) x WHERE rn % 85 = 3"
    val sc = spark.sparkContext
    // (jobs while the statement is built, bucket ids in its plan, rows)
    def run(sql: String): (Int, Boolean, Seq[String]) = {
      val (df, built) = JobCounter.jobsDuring(sc)(
        d.select(sql).fold(e => fail(e.msg), identity))
      val bucketIds = "__gsh\\d+_pid".r
        .findFirstIn(df.queryExecution.executedPlan.toString).nonEmpty
      (built, bucketIds, rows(df))
    }
    val (built, bucketIds, oneTask) = run(sql)
    assert(built == 0 && !bucketIds, (built, bucketIds))
    assert(oneTask.length == 57, oneTask.length)
    val (_, ran) = JobCounter.jobsDuring(sc)(
      d.select(sql).fold(e => fail(e.msg), _.collect()))
    assert(ran <= 2, s"$ran jobs to run the windows on one task")
    // one row past the threshold: the buckets and the same rows
    d.statistics.injectStats("ev", GlobalWindows.OneTaskRows + 1)
    val (pinned, pinnedIds, pinnedRows) = run(sql)
    assert(pinnedIds && pinned > 0 && pinnedRows == oneTask, pinned)
    // no job beyond the bucketed build's own to make the choice: as many
    // as over a derived table, whose size is unknown
    assert(run(sql.replace("FROM ev)", "FROM (SELECT * FROM ev) e)")) ==
      ((pinned, true, oneTask)))
    // a DELETE (here of no row) leaves the statistics stale with an exact
    // row count, and a table made by CREATE TABLE AS has one too: one task
    d.query("DELETE FROM ev WHERE id < 0").fold(e => fail(e.msg), identity)
    assert(d.statistics.isStale("ev"))
    assert(run(sql) == ((0, false, oneTask)))
    d.query("CREATE TABLE ev2 AS SELECT * FROM ev").fold(e => fail(e.msg), identity)
    assert(run(sql.replace("FROM ev)", "FROM ev2)")) == ((0, false, oneTask)))
  }
}
