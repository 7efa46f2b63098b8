package graft.sql

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Statements that differ only in their constants share work: a table's
  * resolved scan is reused while its files are unchanged, and numeric,
  * date and timestamp constants are parameters of the generated code, so
  * the compiled classes are reused too.
  */
class StatementReuseSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def freshDb(): (GraftDatabase, String) = {
    val wh = Files.createTempDirectory("graft-reuse").toString
    (new GraftDatabase(spark, wh), wh)
  }

  private def run(db: GraftDatabase, sql: String): Unit =
    db.query(sql).fold(e => fail(s"$sql -> ${e.msg}"), _ => ())

  private def frame(db: GraftDatabase, sql: String): DataFrame =
    db.select(sql).fold(e => fail(s"$sql -> ${e.msg}"), identity)

  private def rows(db: GraftDatabase, sql: String): Seq[Row] = frame(db, sql).collect().toSeq

  /** Generated classes compiled while `block` runs. */
  private def compiles[T](block: => T): (T, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val r = block
    (r, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  private def relations(df: DataFrame): Seq[LogicalRelation] =
    df.queryExecution.analyzed.collect { case r: LogicalRelation => r }

  test("a SELECT that differs only in its constants compiles no class and keeps its pushed filter") {
    val (db, _) = freshDb()
    run(db, "CREATE TABLE t (a INT, b BIGINT, d DOUBLE, dt DATE)")
    run(db, "INSERT INTO t VALUES (1, 10, 1.5, DATE '2024-01-01'), " +
      "(2, 20, 2.5, DATE '2024-01-02'), (3, 30, 3.5, DATE '2024-01-03')")
    def q(a: Int) = s"SELECT a, b, d, dt FROM t WHERE a = $a AND b < ${a * 10 + 5} " +
      s"AND d > ${a - 1}.25 AND dt >= DATE '2024-01-0$a' ORDER BY a"
    assert(rows(db, q(1)) == Seq(Row(1, 10L, 1.5, java.sql.Date.valueOf("2024-01-01"))))
    val (df, planned) = compiles(frame(db, q(2)))
    val (got, ran) = compiles(df.collect().toSeq)
    assert(got == Seq(Row(2, 20L, 2.5, java.sql.Date.valueOf("2024-01-02"))))
    assert(planned + ran == 0, s"compiled $planned class(es) planning, $ran running")
    val pushed = "PushedFilters: \\[[^\\]]*".r
      .findAllIn(df.queryExecution.executedPlan.toString).toSeq
    assert(pushed.exists(_.contains("EqualTo(a,2)")), pushed)
  }

  test("two reads of an unchanged table share one resolved relation with fresh attribute ids") {
    val (db, _) = freshDb()
    run(db, "CREATE TABLE t (a INT, b INT)")
    run(db, "INSERT INTO t VALUES (1, 2), (3, 4)")
    val r1 = relations(frame(db, "SELECT a FROM t"))
    val r2 = relations(frame(db, "SELECT b FROM t WHERE a > 1"))
    assert(r1.size == 1 && r2.size == 1)
    assert(r1.head.relation.isInstanceOf[HadoopFsRelation])
    assert(r1.head.relation eq r2.head.relation)
    assert(r1.head.output.map(_.exprId).intersect(r2.head.output.map(_.exprId)).isEmpty)
  }

  test("every writer, graft's own or outside it, shows in the next SELECT") {
    val (db, wh) = freshDb()
    run(db, "CREATE TABLE t (a INT, b INT)")
    def all(): Seq[Row] = rows(db, "SELECT * FROM t ORDER BY a")
    run(db, "INSERT INTO t VALUES (1, 10), (2, 20)")
    assert(all() == Seq(Row(1, 10), Row(2, 20)))
    run(db, "INSERT INTO t VALUES (3, 30)")
    assert(all() == Seq(Row(1, 10), Row(2, 20), Row(3, 30)))
    run(db, "DELETE FROM t WHERE a = 2")
    assert(all() == Seq(Row(1, 10), Row(3, 30)))
    run(db, "UPDATE t SET b = 31 WHERE a = 3")
    assert(all() == Seq(Row(1, 10), Row(3, 31)))
    run(db, "ALTER TABLE t ADD COLUMN c INT")
    assert(all() == Seq(Row(1, 10, null), Row(3, 31, null)))
    run(db, "TRUNCATE TABLE t")
    assert(all().isEmpty)
    // a parquet file written into the table directory by another program
    val out = Files.createTempDirectory("graft-reuse-out").resolve("f").toString
    spark.createDataFrame(java.util.List.of(Row(7, 70, 700)), frame(db, "SELECT * FROM t").schema)
      .coalesce(1).write.parquet(out)
    val part = Files.list(Paths.get(out)).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(part, Paths.get(wh, "data", "t", "part-outside.parquet"))
    assert(all() == Seq(Row(7, 70, 700)))
  }

  test("a self-join over one resolved relation returns the rows of its uncached twin") {
    val (db, _) = freshDb()
    run(db, "CREATE TABLE t (a INT, b INT)")
    val data = Seq((1, 2), (2, 3), (3, 1), (4, 4), (5, 9))
    run(db, "INSERT INTO t VALUES " + data.map { case (a, b) => s"($a, $b)" }.mkString(", "))
    val want = (for ((xa, xb) <- data; (ya, yb) <- data if xb == ya) yield Row(xa, ya, yb)).sortBy(_.getInt(0))
    val sql = "SELECT x.a AS xa, y.a AS ya, y.b AS yb FROM t x, t y WHERE x.b = y.a ORDER BY xa"
    assert(rows(db, sql) == want) // the first side resolves, the second reuses it
    assert(rows(db, sql) == want) // both sides reuse it
  }
}
