package graft.sql

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.JobCounter
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** INSERT … VALUES into a plain warehouse table writes its parquet file
  * on the driver: no Spark job, every batch visible to the next statement
  * and to a reopened warehouse, no trace of a batch that failed its
  * constraints, and nothing read from a hidden temp file. Bucketed tables
  * keep Spark's bucketed write.
  */
class WritePathSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def freshWh(): String = Files.createTempDirectory("graft-write").toString

  private def run(db: GraftDatabase, sql: String): Unit =
    db.query(sql).fold(e => fail(s"$sql -> ${e.msg}"), _ => ())

  /** The rows a statement returns (RETURNING, SHOW …), collected. */
  private def result(db: GraftDatabase, sql: String): Seq[Row] = db.query(sql) match {
    case Right(db.Rows(df)) => df.collect().toSeq
    case other              => fail(s"$sql -> $other")
  }

  private def rows(db: GraftDatabase, sql: String): Seq[Row] =
    db.select(sql).fold(e => fail(s"$sql -> ${e.msg}"), _.collect().toSeq)

  private def count(db: GraftDatabase, t: String): Long =
    rows(db, s"SELECT count(*) AS n FROM $t").head.getLong(0)

  /** Every file name under the table's data directory, hidden ones too. */
  private def listing(wh: String, t: String): Set[String] =
    Files.list(Paths.get(wh, "data", t)).iterator.asScala
      .map(_.getFileName.toString).toSet

  private def parquetFiles(wh: String, t: String): Set[String] =
    listing(wh, t).filter(n => n.startsWith("part-") && n.endsWith(".parquet"))

  private def batch(from: Int, n: Int): String =
    (from until from + n).map(i => s"($i, 'v$i', ${i * 0.5})").mkString(", ")

  private def jobs[T](block: => T): (T, Int) = JobCounter.jobsDuring(spark.sparkContext)(block)

  test("INSERT … VALUES into a plain table fires no Spark job") {
    val wh = freshWh()
    val db = new GraftDatabase(spark, wh)
    run(db, "CREATE TABLE t (k INT, s VARCHAR(10), d DOUBLE)")
    for (b <- 0 until 3) {
      val (_, n) = jobs(run(db, s"INSERT INTO t VALUES ${batch(b * 200, 200)}"))
      assert(n == 0, s"batch $b fired $n job(s)")
    }
    assert(parquetFiles(wh, "t").size == 3)
    assert(count(db, "t") == 600)
    // the RETURNING image and SHOW TABLES are driver rows as well
    val (ret, retJobs) = jobs(result(db, "INSERT INTO t VALUES (9000, 'r', 1.0) RETURNING k, s"))
    assert(ret == Seq(Row(9000, "r")))
    assert(retJobs == 0)
    val (shown, showJobs) = jobs(result(db, "SHOW TABLES"))
    assert(shown == Seq(Row("t", "table")))
    assert(showJobs == 0)
  }

  test("interleaved INSERT and SELECT see every batch; a reopened warehouse reads every file") {
    val wh = freshWh()
    val db = new GraftDatabase(spark, wh)
    run(db, "CREATE TABLE t (k INT, s VARCHAR(10), d DOUBLE)")
    for (b <- 1 to 6) {
      run(db, s"INSERT INTO t VALUES ${batch(b * 100, 50)}")
      assert(count(db, "t") == b * 50L)
      assert(rows(db, "SELECT max(k) AS m FROM t").head.getInt(0) == b * 100 + 49)
    }
    assert(parquetFiles(wh, "t").size == 6)
    val expected = rows(db, "SELECT k, s, d FROM t ORDER BY k")
    val reopened = new GraftDatabase(spark, wh)
    assert(rows(reopened, "SELECT k, s, d FROM t ORDER BY k") == expected)
    assert(reopened.statistics.get("t").map(_.rowCount).contains(300L))
    // and it keeps appending
    run(reopened, s"INSERT INTO t VALUES ${batch(5000, 10)}")
    assert(count(reopened, "t") == 310)
    assert(count(new GraftDatabase(spark, wh), "t") == 310)
  }

  test("a stray hidden temp file changes no result") {
    val wh = freshWh()
    val db = new GraftDatabase(spark, wh)
    run(db, "CREATE TABLE t (k INT, s VARCHAR(10), d DOUBLE)")
    run(db, s"INSERT INTO t VALUES ${batch(0, 20)}")
    val before = rows(db, "SELECT k, s, d FROM t ORDER BY k")
    // what an interrupted write leaves: a partial file under the temp name
    val dir = Paths.get(wh, "data", "t")
    val real = dir.resolve(parquetFiles(wh, "t").head)
    val stray = dir.resolve(".part-00000-00000000-0000-0000-0000-000000000000-c000.snappy.parquet.tmp")
    Files.write(stray, Files.readAllBytes(real).take(100))
    assert(rows(db, "SELECT k, s, d FROM t ORDER BY k") == before)
    assert(rows(new GraftDatabase(spark, wh), "SELECT k, s, d FROM t ORDER BY k") == before)
    run(db, s"INSERT INTO t VALUES ${batch(100, 5)}")
    assert(count(db, "t") == 25)
    assert(Files.exists(stray))
  }

  test("a batch that fails CHECK or NOT NULL leaves no file, row count or sketch change") {
    val wh = freshWh()
    val db = new GraftDatabase(spark, wh)
    run(db, "CREATE TABLE c (a INT CHECK (a > 0), b INT NOT NULL GENERATED ALWAYS AS (a + 1))")
    val (_, okJobs) = jobs(run(db, "INSERT INTO c VALUES (1), (2)"))
    val files0 = listing(wh, "c")
    val stats0 = db.statistics.get("c").get
    def unchanged(): Unit = {
      assert(listing(wh, "c") == files0)
      val stats1 = db.statistics.get("c").get
      assert(stats1.rowCount == stats0.rowCount)
      assert(stats1.sketches.keySet == stats0.sketches.keySet)
      stats0.sketches.foreach { case (k, s) => assert(stats1.sketches(k).sameElements(s), k) }
      assert(rows(db, "SELECT a, b FROM c ORDER BY a") == Seq(Row(1, 2), Row(2, 3)))
    }
    val check = intercept[Exception](db.query("INSERT INTO c VALUES (3), (0)"))
    assert(check.getMessage.contains("CHECK constraint failed: c CHECK (a > 0)"), check.getMessage)
    unchanged()
    // a NULL source makes the generated NOT NULL column NULL: a runtime check
    val notNull = intercept[Exception](db.query("INSERT INTO c VALUES (4), (NULL)"))
    assert(notNull.getMessage.contains("NOT NULL constraint failed: c.b"), notNull.getMessage)
    unchanged()
    // the constraint pass folds into the driver rows as well
    assert(okJobs == 0)
  }

  test("INSERT … RETURNING returns the rows as written, generated columns materialized") {
    val wh = freshWh()
    val db = new GraftDatabase(spark, wh)
    run(db, "CREATE TABLE c (a INT, b INT NOT NULL GENERATED ALWAYS AS (a + 1))")
    val (ret, retJobs) = jobs(result(db, "INSERT INTO c VALUES (1), (5) RETURNING *"))
    assert(ret.toSet == Set(Row(1, 2), Row(5, 6)))
    assert(retJobs == 0)
    assert(parquetFiles(wh, "c").size == 1)
    assert(rows(db, "SELECT a, b FROM c ORDER BY a") == Seq(Row(1, 2), Row(5, 6)))
    run(db, "CREATE TABLE g (a INT, b INT GENERATED ALWAYS AS (a * 2))")
    assert(result(db, "INSERT INTO g VALUES (5) RETURNING b, a") == Seq(Row(10, 5)))
    // a bucketed table returns the same image its bucketed write stored
    run(db, "CREATE TABLE gb (a BIGINT, b BIGINT GENERATED ALWAYS AS (a * 2)) CLUSTERED BY (a) INTO 2 BUCKETS")
    assert(result(db, "INSERT INTO gb VALUES (3), (4) RETURNING *").toSet == Set(Row(3L, 6L), Row(4L, 8L)))
    assert(rows(db, "SELECT a, b FROM gb ORDER BY a") == Seq(Row(3L, 6L), Row(4L, 8L)))
  }

  test("a bucketed table's INSERT still writes hash-bucketed files") {
    val wh = freshWh()
    val db = new GraftDatabase(spark, wh)
    run(db, "CREATE TABLE bp (k BIGINT, v BIGINT) CLUSTERED BY (k) INTO 4 BUCKETS")
    run(db, "INSERT INTO bp VALUES " + (1 to 64).map(i => s"($i, ${i * 10})").mkString(", "))
    val buckets = parquetFiles(wh, "bp").map { n =>
      val m = "part-\\d{5}-[0-9a-f-]{36}_(\\d{5})\\.c000\\.snappy\\.parquet".r
        .findFirstMatchIn(n).getOrElse(fail(s"not a bucket file: $n"))
      m.group(1).toInt
    }
    assert(buckets == Set(0, 1, 2, 3))
    val conf = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(conf)
    try {
      spark.conf.set(conf, "false")
      val df = db.select("SELECT v FROM bp WHERE k = 7").toOption.get
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 4"), plan)
      assert(df.collect().map(_.getLong(0)).toSeq == Seq(70L))
    } finally spark.conf.set(conf, prev)
  }
}
