package graft.sql

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The warehouse catalog document (`warehouse.json`): every catalog
  * object survives a reopen, including the statements whose text once
  * broke the line-oriented sidecar formats; a document that does not
  * decode, or a warehouse left in the earlier per-kind files, fails the
  * open naming the file; EXPORT DATABASE never writes a sequence that
  * IMPORT cannot replay.
  */
class WarehouseCatalogSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def freshWh(): String = Files.createTempDirectory("graft-cat").toString

  private def run(db: GraftDatabase, sql: String): Unit =
    db.query(sql).fold(e => fail(s"$sql -> ${e.msg}"), _ => ())

  private def single(db: GraftDatabase, sql: String): Any =
    db.select(sql).fold(e => fail(s"$sql -> ${e.msg}"), _.collect().head.get(0))

  test("reopen: a DEFAULT string holding a newline") {
    val wh = freshWh()
    val db = new GraftDatabase(spark, wh)
    run(db, "CREATE TABLE d (a INT, s VARCHAR(10) DEFAULT 'x\ny')")
    val db2 = new GraftDatabase(spark, wh)
    run(db2, "INSERT INTO d (a) VALUES (1)")
    assert(single(db2, "SELECT s FROM d") == "x\ny")
  }

  test("reopen and EXPORT: TIME and TIMESTAMPTZ DEFAULTs") {
    val wh = freshWh()
    run(new GraftDatabase(spark, wh), "CREATE TABLE tt (a INT, " +
      "t TIME DEFAULT TIME '10:00:00', " +
      "z TIMESTAMPTZ DEFAULT TIMESTAMPTZ '2024-01-01 02:00:00+02')")
    val db2 = new GraftDatabase(spark, wh)
    run(db2, "INSERT INTO tt (a) VALUES (1)")
    val dir = freshWh()
    run(db2, s"EXPORT DATABASE '$dir'")
    val db3 = new GraftDatabase(spark, freshWh())
    run(db3, s"IMPORT DATABASE '$dir'")
    run(db3, "INSERT INTO tt (a) VALUES (2)")
    for (db <- Seq(db2, db3)) {
      assert(single(db, "SELECT CAST(t AS VARCHAR) AS s FROM tt WHERE a = 1") ==
        "10:00:00")
      assert(single(db, "SELECT count(*) AS n FROM tt WHERE " +
        "z = TIMESTAMPTZ '2024-01-01 00:00:00+00'") == db.select("SELECT a FROM tt")
        .fold(e => fail(e.msg), _.count()))
    }
  }

  test("reopen: a CHECK written over two lines") {
    val wh = freshWh()
    run(new GraftDatabase(spark, wh),
      "CREATE TABLE c (a INT, CHECK (a > 0\n AND a < 5))")
    val db2 = new GraftDatabase(spark, wh)
    run(db2, "INSERT INTO c VALUES (3)")
    val e = intercept[Exception](db2.query("INSERT INTO c VALUES (7)"))
    assert(e.getMessage.contains("CHECK constraint failed"))
  }

  test("reopen: a GENERATED expression written over two lines") {
    val wh = freshWh()
    run(new GraftDatabase(spark, wh),
      "CREATE TABLE g (a INT, b INT GENERATED ALWAYS AS (a\n * 2))")
    val db2 = new GraftDatabase(spark, wh)
    run(db2, "INSERT INTO g VALUES (3)")
    assert(single(db2, "SELECT b FROM g") == 6)
  }

  test("reopen: a struct member named 'my field'") {
    val wh = freshWh()
    val db = new GraftDatabase(spark, wh)
    run(db, "CREATE TABLE sp AS SELECT {'my field': 1} AS st")
    val db2 = new GraftDatabase(spark, wh)
    assert(db2.catalogTables("sp").attributes == db.catalogTables("sp").attributes)
    val st = db2.select("SELECT st FROM sp").fold(e => fail(e.msg), identity)
    assert(st.schema.fields.head.dataType.toString.contains("my field"))
    assert(st.count() == 1L)
  }

  test("one catalog document holds every kind of catalog object") {
    val wh = freshWh()
    val db = new GraftDatabase(spark, wh)
    Seq("CREATE SCHEMA s",
      "CREATE TYPE mood AS ENUM ('sad', 'ok')",
      "CREATE TABLE s.t (k INT, m mood)",
      "INSERT INTO s.t VALUES (1, 'ok'), (2, 'sad')",
      "CREATE VIEW v AS SELECT k FROM s.t WHERE m = 'ok'",
      "CREATE MATERIALIZED VIEW mv AS SELECT count(*) AS n FROM s.t",
      "CREATE MACRO twice(x) AS x * 2",
      "CREATE SEQUENCE q START 10",
      "SELECT nextval('q') AS n").foreach(run(db, _))
    val files = Files.list(Paths.get(wh)).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(files.contains("warehouse.json"))
    assert((files & Set("catalog.json", "types.json", "schemas.txt",
      "macros.json", "sequences.json", "views.json", "matviews.json")).isEmpty,
      files)
    val db2 = new GraftDatabase(spark, wh)
    assert(single(db2, "SELECT k FROM v") == 1)
    assert(single(db2, "SELECT n FROM mv") == 2L)
    assert(single(db2, "SELECT twice(21) AS x") == 42L)
    assert(single(db2, "SELECT nextval('q') AS n") == 11L)
    run(db2, "CREATE TABLE s.u (x mood)")
    assert(db2.query("CREATE SCHEMA s").isLeft) // the schema came back
  }

  test("a catalog document that does not decode fails the open, naming file and entry") {
    val wh = freshWh()
    run(new GraftDatabase(spark, wh), "CREATE TABLE t (a INT)")
    run(new GraftDatabase(spark, wh), "CREATE VIEW w AS SELECT a FROM t")
    val doc = Paths.get(wh, "warehouse.json")
    val good = Files.readString(doc)
    def openFails(text: String, entry: String): Unit = {
      Files.writeString(doc, text)
      val e = intercept[IllegalStateException](new GraftDatabase(spark, wh))
      assert(e.getMessage.contains(doc.toString), e.getMessage)
      assert(e.getMessage.contains(entry), e.getMessage)
    }
    openFails(good.replace("\"INT\"", "\"NOPE\""), "tables[0] 't'")
    openFails(good.replace("CREATE VIEW w AS", "CREATE VIEW w"), "views[0]")
    openFails(good.take(good.length / 2), "not a JSON document")
  }

  test("a warehouse holding only the earlier per-kind catalog files fails the open, naming them") {
    val wh = freshWh()
    Files.writeString(Paths.get(wh, "catalog.json"),
      """{"table":"t","attributes":[{"name":"a","type":"INT","nullable":true}]}""")
    Files.writeString(Paths.get(wh, "views.json"), "")
    val e = intercept[IllegalStateException](new GraftDatabase(spark, wh))
    assert(e.getMessage.contains("catalog.json") && e.getMessage.contains("views.json"),
      e.getMessage)
  }

  test("EXPORT DATABASE rejects a column name the dialect cannot read back") {
    for (col <- Seq("my col", "key")) {
      val src = freshWh() + "/src.parquet"
      spark.range(2).selectExpr("id AS ok", s"id AS `$col`").write.parquet(src)
      val db = new GraftDatabase(spark, freshWh())
      run(db, s"CREATE TABLE imp AS SELECT * FROM read_parquet('$src')")
      db.query(s"EXPORT DATABASE '${freshWh()}'") match {
        case Left(e) =>
          assert(e.msg.contains("'imp'") && e.msg.contains(s"'$col'"), e.msg)
        case Right(r) => fail(s"exported $r")
      }
    }
  }

  test("EXPORT DATABASE of a sequence at its bound") {
    // an exhausted non-cycle sequence has no next value to restart from
    val db = new GraftDatabase(spark, freshWh())
    run(db, "CREATE SEQUENCE cap START 1 MAXVALUE 2")
    run(db, "SELECT nextval('cap') AS a, nextval('cap') AS b")
    val Left(err) = db.query(s"EXPORT DATABASE '${freshWh()}'"): @unchecked
    assert(err.msg.contains("'cap'"), err.msg)
    // a CYCLE sequence exports its wrapped next value, which IMPORT accepts
    val db2 = new GraftDatabase(spark, freshWh())
    run(db2, "CREATE SEQUENCE cyc START 1 MAXVALUE 2 CYCLE")
    run(db2, "SELECT nextval('cyc') AS a, nextval('cyc') AS b")
    val dir = freshWh()
    run(db2, s"EXPORT DATABASE '$dir'")
    val db3 = new GraftDatabase(spark, freshWh())
    run(db3, s"IMPORT DATABASE '$dir'")
    assert(single(db3, "SELECT nextval('cyc') AS n") == 1L)
  }
}
