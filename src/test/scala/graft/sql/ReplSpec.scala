package graft.sql

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class ReplSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  test("a statement that throws prints an error and the shell goes on") {
    val db = new GraftDatabase(spark, Files.createTempDirectory("graft-repl").toString)
    db.query("CREATE TABLE t (s VARCHAR(8))")
    db.query("INSERT INTO t VALUES ('abc')")
    val bad = "SELECT CAST(s AS INTEGER) AS n FROM t"
    // the statement analyzes and throws at evaluation (ANSI cast)
    intercept[Exception](db.select(bad).map(_.collect()))
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) {
      Repl.step(db, bad)
      Repl.step(db, "SELECT 42 AS x")
    }
    val lines = out.toString("UTF-8").linesIterator.toSeq
    assert(lines.head.startsWith("error: "), lines.mkString("\n"))
    assert(lines.exists(_.contains("42")), lines.mkString("\n"))
  }
}
