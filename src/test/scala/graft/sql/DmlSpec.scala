package graft.sql

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row

import graft.SparkTestSession

/** DELETE / UPDATE via copy-on-write rewrite — the statements the
  * reference lists as TODO (reference README.md:51, planner/mod.rs:92-93).
  */
class DmlSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def db(): GraftDatabase = {
    val g = new GraftDatabase(spark, Files.createTempDirectory("graft-dml-wh").toString)
    g.query("CREATE TABLE t (id INT, tag VARCHAR(10), n INT)")
    g.query("INSERT INTO t VALUES (1, 'a', 10), (2, 'b', 20), (3, 'a', 30), (4, NULL, 40)")
    g
  }

  private def rows(g: GraftDatabase): Seq[Row] =
    g.select("SELECT id, tag, n FROM t").toOption.get.orderBy("id").collect().toSeq

  test("delete with predicate removes matching rows and rebuilds stats") {
    val g = db()
    val Right(g.Done(msg)) = g.query("DELETE FROM t WHERE tag = 'a'"): @unchecked
    assert(msg.contains("deleted 2"))
    assert(rows(g) == Seq(Row(2, "b", 20), Row(4, null, 40)))
    assert(g.statistics.get("t").get.rowCount == 2)
  }

  test("delete keeps rows whose predicate is NULL (3VL)") {
    val g = db()
    // tag = NULL row: predicate tag <> 'a' is NULL there → row must survive
    g.query("DELETE FROM t WHERE tag <> 'a'")
    assert(rows(g).map(_.getInt(0)) == Seq(1, 3, 4))
  }

  test("delete without where empties the table; inserts still work after") {
    val g = db()
    val Right(g.Done(msg)) = g.query("DELETE FROM t"): @unchecked
    assert(msg.contains("deleted 4"))
    assert(rows(g).isEmpty)
    g.query("INSERT INTO t VALUES (9, 'z', 90)")
    assert(rows(g) == Seq(Row(9, "z", 90)))
  }

  test("update rewrites matching rows only, with checked conversion") {
    val g = db()
    val Right(g.Done(msg)) = g.query("UPDATE t SET n = 99, tag = 'x' WHERE id <= 2"): @unchecked
    assert(msg.contains("updated 2"))
    assert(rows(g) == Seq(
      Row(1, "x", 99), Row(2, "x", 99), Row(3, "a", 30), Row(4, null, 40)))
    // type errors surface like INSERT's
    assert(g.query("UPDATE t SET n = 9999999999 WHERE id = 1").isLeft) // int overflow
    assert(g.query("UPDATE t SET nosuch = 1").isLeft)
  }

  test("update with row-level expressions; all SET values read the pre-update row") {
    val g = db()
    val Right(g.Done(msg)) =
      g.query("UPDATE t SET n = n * 2 + id WHERE tag = 'a'"): @unchecked
    assert(msg.contains("updated 2"))
    assert(rows(g) == Seq(
      Row(1, "a", 21), Row(2, "b", 20), Row(3, "a", 63), Row(4, null, 40)))
    // swap semantics: both SET values evaluate against the ORIGINAL row
    g.query("CREATE TABLE sw (a INT, b INT)")
    g.query("INSERT INTO sw VALUES (1, 2)")
    assert(g.query("UPDATE sw SET a = b, b = a").isRight)
    assert(g.select("SELECT a, b FROM sw").toOption.get.collect().toSeq ==
      Seq(Row(2, 1)))
    // expressions can use functions and CASE
    assert(g.query("UPDATE t SET tag = upper(coalesce(tag, 'z'))").isRight)
    assert(rows(g).map(_.getString(1)) == Seq("A", "B", "A", "Z"))
    // aggregates in SET are rejected
    assert(g.query("UPDATE t SET n = count(*)").isLeft)
  }

  test("update persists across database reopen") {
    val wh = Files.createTempDirectory("graft-dml-wh").toString
    val g1 = new GraftDatabase(spark, wh)
    g1.query("CREATE TABLE t (id INT, tag VARCHAR(10), n INT)")
    g1.query("INSERT INTO t VALUES (1, 'a', 10)")
    g1.query("UPDATE t SET n = 11 WHERE id = 1")
    val g2 = new GraftDatabase(spark, wh)
    assert(rows(g2) == Seq(Row(1, "a", 11)))
    assert(g2.statistics.get("t").get.rowCount == 1)
  }

  test("DROP TABLE removes data, statistics and catalog entry") {
    val wh = Files.createTempDirectory("graft-drop-wh").toString
    val g = new GraftDatabase(spark, wh)
    g.query("CREATE TABLE d1 (a INT)")
    g.query("INSERT INTO d1 VALUES (1), (2)")
    val Right(g.Done(msg)) = g.query("DROP TABLE d1"): @unchecked
    assert(msg.contains("dropped"))
    assert(g.query("SELECT a FROM d1").isLeft)          // gone
    assert(g.statistics.get("d1").isEmpty)              // stats gone
    assert(g.query("CREATE TABLE d1 (b VARCHAR(5))").isRight) // name reusable
    // persists across reopen
    val g2 = new GraftDatabase(spark, wh)
    assert(g2.query("DROP TABLE d1").isRight)
    assert(g2.query("SELECT b FROM d1").isLeft)
    // IF EXISTS is a no-op on a missing table; bare DROP errors
    assert(g2.query("DROP TABLE IF EXISTS nosuch").isRight)
    assert(g2.query("DROP TABLE nosuch").isLeft)
    // bucketed tables drop their session-catalog entry too
    g2.query("CREATE TABLE db (k BIGINT) CLUSTERED BY (k) INTO 4 BUCKETS")
    g2.query("INSERT INTO db VALUES (1), (2), (3)")
    assert(g2.query("DROP TABLE db").isRight)
    assert(g2.query("SELECT k FROM db").isLeft)
  }

  test("external fixture tables are read-only") {
    val g = db()
    g.registerParquet("region", s"${SparkTestSession.sf0001}/region.parquet")
    assert(g.query("DELETE FROM region").isLeft)
    assert(g.query("UPDATE region SET r_name = 'X'").isLeft)
    assert(g.query("INSERT INTO region VALUES (9, 'X')").isLeft)
  }

  test("UPDATE SET col = (SELECT …): uncorrelated, correlated, pre-update row") {
    val g = new GraftDatabase(spark,
      Files.createTempDirectory("graft-updsub-wh").toString)
    g.query("CREATE TABLE t (id INT PRIMARY KEY, x INT, y INT)").toOption.get
    g.query("INSERT INTO t VALUES (1, 10, 0), (2, 20, 0), (3, 30, 0)").toOption.get
    g.query("CREATE TABLE o (k INT, amt INT)").toOption.get
    g.query("INSERT INTO o VALUES (1, 5), (1, 7), (2, 100), (4, 9)").toOption.get
    def snap(): Seq[Row] = g.select("SELECT id, x, y FROM t").toOption.get
      .orderBy("id").collect().toSeq
    // uncorrelated: every row reads the one guarded aggregate value
    assert(g.query("UPDATE t SET y = (SELECT max(amt) AS v FROM o)").isRight)
    assert(snap() == Seq(Row(1, 10, 100), Row(2, 20, 100), Row(3, 30, 100)))
    // correlated per-key aggregate, gated by WHERE; unmatched rows keep y
    assert(g.query("UPDATE t SET y = (SELECT sum(amt) AS v FROM o " +
      "WHERE o.k = t.id) WHERE x < 25").isRight)
    assert(snap() == Seq(Row(1, 10, 12), Row(2, 20, 100), Row(3, 30, 100)))
    // SET a = (sub), b = a reads the PRE-update a (SQL swap rule);
    // count over an empty correlated group is 0, not NULL
    assert(g.query("UPDATE t SET x = (SELECT count(amt) AS v FROM o " +
      "WHERE o.k = t.id), y = x").isRight)
    assert(snap() == Seq(Row(1, 2, 10), Row(2, 1, 20), Row(3, 0, 30)))
    // a multi-row uncorrelated subquery fails the one-row guard loudly
    val multi = scala.util.Try(g.query("UPDATE t SET y = (SELECT amt FROM o)"))
    assert(multi.isFailure || multi.get.isLeft)
    assert(snap() == Seq(Row(1, 2, 10), Row(2, 1, 20), Row(3, 0, 30)))
    // a scalar subquery inside a larger value operand, as in a SELECT item
    assert(g.query("UPDATE t SET y = y + (SELECT sum(amt) AS v FROM o " +
      "WHERE o.k = t.id) WHERE id = 1").isRight)
    assert(snap() == Seq(Row(1, 2, 22), Row(2, 1, 20), Row(3, 0, 30)))
    assert(g.query("UPDATE t SET y = (SELECT max(amt) AS v FROM o) - 70 WHERE id = 1").isRight)
    assert(snap() == Seq(Row(1, 2, 30), Row(2, 1, 20), Row(3, 0, 30)))
  }

  test("INSERT INTO ... BY NAME maps the select's output names") {
    val g = new GraftDatabase(spark,
      Files.createTempDirectory("graft-byname-wh").toString)
    g.query("CREATE TABLE bn (a INT, b VARCHAR(8), c INT)").toOption.get
    // permuted + partial: unlisted columns NULL-fill
    assert(g.query("INSERT INTO bn BY NAME SELECT 7 AS c, 'x' AS b").isRight)
    assert(g.query("INSERT INTO bn BY NAME SELECT 1 AS a, 2 AS c, 'y' AS b").isRight)
    val rows = g.select("SELECT a, b, c FROM bn").toOption.get
      .orderBy("c").collect().toSeq
    assert(rows == Seq(Row(1, "y", 2), Row(null, "x", 7)))
    // unknown output name; BY NAME + explicit list; VALUES source
    assert(g.query("INSERT INTO bn BY NAME SELECT 1 AS zz").isLeft)
    assert(g.query("INSERT INTO bn BY NAME (a) SELECT 1 AS a").isLeft)
    assert(g.query("INSERT INTO bn BY NAME VALUES (1, 'a', 2)").isLeft)
  }

  test("MERGE INTO: conditional delete/update/insert, first-match-wins") {
    val g = new GraftDatabase(spark,
      Files.createTempDirectory("graft-merge-wh").toString)
    g.query("CREATE TABLE tgt (id INT PRIMARY KEY, v INT, tag VARCHAR(8))").toOption.get
    g.query("INSERT INTO tgt VALUES (1, 10, 'a'), (2, 20, 'b'), (3, 30, 'c')").toOption.get
    g.query("CREATE TABLE srcx (id INT, dv INT)").toOption.get
    g.query("INSERT INTO srcx VALUES (1, 5), (3, 100), (4, 7), (5, 1)").toOption.get
    val r = g.query("MERGE INTO tgt t USING srcx s ON t.id = s.id " +
      "WHEN MATCHED AND s.dv > 50 THEN DELETE " +
      "WHEN MATCHED THEN UPDATE SET v = t.v + s.dv " +
      "WHEN NOT MATCHED AND s.dv > 2 THEN INSERT (id, v) VALUES (s.id, s.dv)")
    assert(r.isRight, r)
    val rows = g.select("SELECT id, v, tag FROM tgt").toOption.get
      .orderBy("id").collect().toSeq
    // 1: updated (second clause); 2: untouched; 3: deleted (first clause
    // wins over update); 4: inserted with NULL tag; 5: dv=1 fails the
    // insert condition
    assert(rows == Seq(Row(1, 15, "a"), Row(2, 20, "b"), Row(4, 7, null)))
    // derived source + multi-column SET
    assert(g.query("MERGE INTO tgt t USING (SELECT 2 AS k, 99 AS nv) u " +
      "ON t.id = u.k WHEN MATCHED THEN UPDATE SET v = u.nv, tag = 'upd'").isRight)
    val rows2 = g.select("SELECT id, v, tag FROM tgt").toOption.get
      .orderBy("id").collect().toSeq
    assert(rows2 == Seq(Row(1, 15, "a"), Row(2, 99, "upd"), Row(4, 7, null)))
    // the SQL standard's multi-match error: two source rows hit one target
    g.query("INSERT INTO srcx VALUES (1, 6)").toOption.get
    val dup = scala.util.Try(g.query("MERGE INTO tgt t USING srcx s " +
      "ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.dv"))
    assert(dup.isFailure)
    // scalar-subquery SET values ride the operand machinery, evaluated
    // over the pre-merge snapshot: uncorrelated = one broadcast 1-row
    // frame, correlated = per-key aggregate frame
    g.query("DELETE FROM srcx WHERE id = 1 AND dv = 6").toOption.get
    assert(g.query("MERGE INTO tgt t USING srcx s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET v = (SELECT max(x.dv) AS m FROM srcx x)").isRight)
    val rows3 = g.select("SELECT id, v FROM tgt").toOption.get
      .orderBy("id").collect().toSeq
    assert(rows3 == Seq(Row(1, 100), Row(2, 99), Row(4, 100)))
    assert(g.query("MERGE INTO tgt t USING srcx s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET v = " +
      "(SELECT sum(x.dv) AS m FROM srcx x WHERE x.id = t.id)").isRight)
    val rows4 = g.select("SELECT id, v FROM tgt").toOption.get
      .orderBy("id").collect().toSeq
    assert(rows4 == Seq(Row(1, 5), Row(2, 99), Row(4, 7)))
    // WHEN conditions may carry subqueries (the marker machinery in the
    // pre-bound selects' CASE helpers): avg(dv) = 28.25, so the matched
    // targets (1: v=5, 4: v=7) both delete
    assert(g.query("MERGE INTO tgt t USING srcx s ON t.id = s.id " +
      "WHEN MATCHED AND t.v < (SELECT avg(x.dv) AS m FROM srcx x) " +
      "THEN DELETE").isRight)
    assert(g.select("SELECT id FROM tgt").toOption.get
      .collect().map(_.getInt(0)).toSeq.sorted == Seq(2))
    // correlated WHEN condition on the insert side (sel2 scope)
    assert(g.query("MERGE INTO tgt t USING srcx s ON t.id = s.id " +
      "WHEN NOT MATCHED AND s.dv = (SELECT max(x.dv) AS m FROM srcx x " +
      "WHERE x.id = s.id) AND s.dv > 2 " +
      "THEN INSERT (id, v) VALUES (s.id, s.dv)").isRight)
    assert(g.select("SELECT id FROM tgt").toOption.get
      .collect().map(_.getInt(0)).toSeq.sorted == Seq(1, 2, 3, 4))
    // source-side ON subquery conjuncts now pre-evaluate in the source
    // body (dedicated test below); TARGET-side ones still reject
    assert(g.query("MERGE INTO tgt t USING srcx s ON t.id = s.id AND " +
      "t.v > (SELECT avg(x.dv) AS m FROM srcx x) " +
      "WHEN MATCHED THEN DELETE").isLeft)
  }

  test("DELETE / UPDATE RETURNING *: affected rows come back pre-rewrite") {
    val g = db()
    // DELETE: the removed rows' PRE-image
    val del = g.select("DELETE FROM t WHERE tag = 'a' RETURNING *")
      .toOption.get.orderBy("id").collect().toSeq
    assert(del == Seq(Row(1, "a", 10), Row(3, "a", 30)))
    assert(rows(g).map(_.getInt(0)) == Seq(2, 4))
    // UPDATE: the updated rows' POST-image
    val upd = g.select("UPDATE t SET n = n + 1 WHERE id = 2 RETURNING *")
      .toOption.get.collect().toSeq
    assert(upd == Seq(Row(2, "b", 21)))
    assert(rows(g) == Seq(Row(2, "b", 21), Row(4, null, 40)))
    // subquery WHERE composes; empty match returns an empty frame
    val none = g.select("UPDATE t SET n = 0 WHERE id IN " +
      "(SELECT id FROM t WHERE n > 99) RETURNING *").toOption.get
    assert(none.collect().isEmpty)
    // RETURNING a column list: projects the affected frame (computed
    // items need AS; aggregates reject)
    val delL = g.select("DELETE FROM t WHERE id = 2 RETURNING id, n * 2 AS n2")
      .toOption.get.collect().toSeq
    assert(delL == Seq(Row(2, 42)))
    assert(rows(g).map(_.getInt(0)) == Seq(4))
    g.query("INSERT INTO t VALUES (2, 'b', 21)").toOption.get
    assert(g.query("DELETE FROM t WHERE id = 0 RETURNING n + 1").isLeft)
    assert(g.query("DELETE FROM t WHERE id = 0 RETURNING max(n) AS m").isLeft)
    // INSERT … RETURNING: the inserted rows (VALUES and SELECT forms)
    val ins = g.select("INSERT INTO t VALUES (9, 'z', 90) RETURNING *")
      .toOption.get.collect().toSeq
    assert(ins == Seq(Row(9, "z", 90)))
    val insSel = g.select("INSERT INTO t SELECT id + 100 AS a, tag AS b, " +
      "n AS c FROM t WHERE id = 9 RETURNING *").toOption.get.collect().toSeq
    assert(insSel == Seq(Row(109, "z", 90)))
    // ON CONFLICT + RETURNING: DO NOTHING returns the INSERTED rows
    // only (the untouched pre-existing conflict is not affected)
    val dn = g.select("INSERT INTO t VALUES (9, 'q', 1), (11, 'w', 2) " +
      "ON CONFLICT (id) DO NOTHING RETURNING *").toOption.get
    assert(dn.collect().toSeq == Seq(Row(11, "w", 2)))
    assert(rows(g).exists(r => r.getInt(0) == 9 && r.getString(1) == "z"))
    // DO UPDATE returns inserted + updated rows (post-image), and the
    // column list projects them
    val du = g.select("INSERT INTO t VALUES (9, 'u', 5), (12, 'x', 3) " +
      "ON CONFLICT (id) DO UPDATE SET n = t.n + excluded.n " +
      "RETURNING id, n").toOption.get.collect().toSeq.sortBy(_.getInt(0))
    assert(du == Seq(Row(9, 95), Row(12, 3)))
  }

  test("INSERT ON CONFLICT: upsert via the MERGE machinery") {
    val g = new GraftDatabase(spark,
      Files.createTempDirectory("graft-ups-wh").toString)
    g.query("CREATE TABLE t (id INT PRIMARY KEY, v INT, tag VARCHAR(8))").toOption.get
    g.query("INSERT INTO t VALUES (1, 10, 'a'), (2, 20, 'b')").toOption.get
    // DO UPDATE: conflicting row updates (excluded.* = incoming values),
    // new row inserts
    assert(g.query("INSERT INTO t VALUES (1, 99, 'x'), (3, 30, 'c') " +
      "ON CONFLICT (id) DO UPDATE SET v = excluded.v, tag = 'upd'").isRight)
    def snap() = g.select("SELECT id, v, tag FROM t").toOption.get
      .orderBy("id").collect().toSeq
    assert(snap() == Seq(Row(1, 99, "upd"), Row(2, 20, "b"), Row(3, 30, "c")))
    // DO NOTHING: conflicting row unchanged, new row inserts
    assert(g.query("INSERT INTO t VALUES (2, 77, 'y'), (4, 40, 'd') " +
      "ON CONFLICT (id) DO NOTHING").isRight)
    assert(snap() == Seq(Row(1, 99, "upd"), Row(2, 20, "b"),
      Row(3, 30, "c"), Row(4, 40, "d")))
    // partial column list: unlisted columns NULL-fill on insert, stay
    // put on update; qualified target + excluded references mix
    assert(g.query("INSERT INTO t (id, v) VALUES (3, 1), (5, 50) " +
      "ON CONFLICT (id) DO UPDATE SET v = t.v + excluded.v").isRight)
    assert(snap() == Seq(Row(1, 99, "upd"), Row(2, 20, "b"),
      Row(3, 31, "c"), Row(4, 40, "d"), Row(5, 50, null)))
    // rejections: no conflict column list; conflict column not inserted;
    // ON CONFLICT on the SELECT form
    assert(g.query("INSERT INTO t VALUES (1, 1, 'z') " +
      "ON CONFLICT DO NOTHING").isLeft)
    assert(g.query("INSERT INTO t (v, tag) VALUES (1, 'z') " +
      "ON CONFLICT (id) DO NOTHING").isLeft)
    assert(g.query("INSERT INTO t SELECT id, v, tag FROM t " +
      "ON CONFLICT (id) DO NOTHING").isLeft)
  }

  test("DEFAULT column values: fill on omission, DEFAULT keyword, persistence") {
    val wh = Files.createTempDirectory("graft-default-wh").toString
    val g = new GraftDatabase(spark, wh)
    g.query("CREATE TABLE dt (id INT, v INT DEFAULT 7, " +
      "tag VARCHAR(8) DEFAULT 'none', w DOUBLE)").toOption.get
    // unlisted columns fill their default (w has none → NULL)
    g.query("INSERT INTO dt (id) VALUES (1)").toOption.get
    // the DEFAULT keyword as a VALUES item; expressions alongside
    g.query("INSERT INTO dt VALUES (2, DEFAULT, 'x', 1.5), " +
      "(3, 30, DEFAULT, DEFAULT)").toOption.get
    // INSERT ... SELECT with a column list fills defaults too
    g.query("INSERT INTO dt (id, w) SELECT 4 AS a, 2.5 AS b").toOption.get
    val rows = g.select("SELECT id, v, tag, w FROM dt").toOption.get
      .orderBy("id").collect().toSeq
    assert(rows == Seq(
      Row(1, 7, "none", null), Row(2, 7, "x", 1.5),
      Row(3, 30, "none", null), Row(4, 7, "none", 2.5)))
    // defaults survive a database reopen (catalog round-trip)
    val g2 = new GraftDatabase(spark, wh)
    g2.query("INSERT INTO dt (id) VALUES (9)").toOption.get
    val r9 = g2.select("SELECT v, tag FROM dt WHERE id = 9").toOption.get
      .collect().head
    assert(r9.getInt(0) == 7 && r9.getString(1) == "none")
    // UPDATE SET x = DEFAULT restores the declared default
    g.query("UPDATE dt SET v = DEFAULT, tag = 'u' WHERE id = 3").toOption.get
    val r3 = g.select("SELECT v, tag FROM dt WHERE id = 3").toOption.get
      .collect().head
    assert(r3.getInt(0) == 7 && r3.getString(1) == "u")
    // unconvertible default fails at CREATE; DEFAULT outside VALUES/SET
    // rejects loudly
    assert(g.query("CREATE TABLE bad (x INT DEFAULT 'zz')").isLeft)
    assert(g.query("SELECT DEFAULT AS d FROM dt").isLeft)
  }

  test("MERGE ON subqueries: source-side conjuncts pre-evaluate, target-side reject") {
    val g = new GraftDatabase(spark,
      Files.createTempDirectory("graft-merge-onsub-wh").toString)
    g.query("CREATE TABLE mt (k INT, v INT)").toOption.get
    g.query("INSERT INTO mt VALUES (1, 10), (2, 20), (3, 30)").toOption.get
    g.query("CREATE TABLE ms (k INT, v INT)").toOption.get
    g.query("INSERT INTO ms VALUES (1, 100), (2, 5), (4, 400)").toOption.get
    // avg(ms.v) = 168.33: only (4,400) passes the scalar conjunct, so
    // (1,100) and (2,5) are UNMATCHED (insert), (4,400) inserts too
    // (no k=4 target); no target row is matched
    val r = g.query("MERGE INTO mt t USING ms s " +
      "ON t.k = s.k AND s.v > (SELECT avg(v) AS m FROM ms) " +
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.v)")
    assert(r.isRight, r)
    val rows = g.select("SELECT k, v FROM mt").toOption.get
      .orderBy("k", "v").collect().toSeq
    assert(rows == Seq(Row(1, 10), Row(1, 100), Row(2, 5), Row(2, 20),
      Row(3, 30), Row(4, 400)))
    // IN-subquery conjunct: k in {1,4} (v >= 100 rows of ms) — the two
    // k=1 rows and the k=4 row flip to 0; ON correlation to the
    // source's own columns inside the subquery composes
    assert(g.query("MERGE INTO mt t USING ms s ON t.k = s.k AND " +
      "s.k IN (SELECT k FROM ms m2 WHERE m2.v >= 100) " +
      "WHEN MATCHED THEN UPDATE SET v = 0").isRight)
    val rows2 = g.select("SELECT k, v FROM mt").toOption.get
      .orderBy("k", "v").collect().toSeq
    assert(rows2 == Seq(Row(1, 0), Row(1, 0), Row(2, 5), Row(2, 20),
      Row(3, 30), Row(4, 0)))
    // target-side subquery conjuncts and unqualified references reject
    assert(g.query("MERGE INTO mt t USING ms s ON t.k = s.k AND " +
      "t.v > (SELECT avg(v) AS m FROM ms) WHEN MATCHED THEN DELETE").isLeft)
    assert(g.query("MERGE INTO mt t USING ms s ON t.k = s.k AND " +
      "v > (SELECT avg(v) AS m FROM ms) WHEN MATCHED THEN DELETE").isLeft)
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE: complement-row update/delete") {
    val g = new GraftDatabase(spark,
      Files.createTempDirectory("graft-mbs-wh").toString)
    g.query("CREATE TABLE t (id INT PRIMARY KEY, v INT)").toOption.get
    g.query("INSERT INTO t VALUES (1, 10), (2, 20), (3, -5), (4, 40)").toOption.get
    g.query("CREATE TABLE s (id INT)").toOption.get
    g.query("INSERT INTO s VALUES (1), (2)").toOption.get
    // matched rows bump; unmatched negatives delete; other unmatched zero
    assert(g.query("MERGE INTO t USING s ON t.id = s.id " +
      "WHEN MATCHED AND t.v > 15 THEN UPDATE SET v = t.v + 100 " +
      "WHEN NOT MATCHED BY SOURCE AND t.v < 0 THEN DELETE " +
      "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 0").isRight)
    val rows = g.select("SELECT id, v FROM t").toOption.get
      .orderBy("id").collect().toSeq
    // 1: matched but v=10 ≤ 15 → untouched; 2: matched v=20 → 120;
    // 3: unmatched v<0 → deleted; 4: unmatched → 0
    assert(rows == Seq(Row(1, 10), Row(2, 120), Row(4, 0)))
  }

  test("ALTER TABLE: add/drop/rename column, rename table, truncate; persistence") {
    val wh = Files.createTempDirectory("graft-alter-wh").toString
    val g = new GraftDatabase(spark, wh)
    g.query("CREATE TABLE a1 (id INT PRIMARY KEY, x INT, name VARCHAR(20))").toOption.get
    g.query("INSERT INTO a1 VALUES (1, 10, 'one'), (2, 20, 'two')").toOption.get
    // ADD COLUMN: old rows read NULL, new inserts carry the value
    assert(g.query("ALTER TABLE a1 ADD COLUMN score DOUBLE").isRight)
    g.query("INSERT INTO a1 VALUES (3, 30, 'three', 9.5)").toOption.get
    assert(g.select("SELECT id, score FROM a1").toOption.get
      .orderBy("id").collect().toSeq ==
      Seq(Row(1, null), Row(2, null), Row(3, 9.5)))
    // RENAME COLUMN rewrites (parquet binds by name) — values survive
    assert(g.query("ALTER TABLE a1 RENAME COLUMN x TO qty").isRight)
    // DROP COLUMN prunes
    assert(g.query("ALTER TABLE a1 DROP COLUMN name").isRight)
    assert(g.select("SELECT * FROM a1").toOption.get.columns.toSeq ==
      Seq("id", "qty", "score"))
    // RENAME TO re-keys catalog, data dir and statistics
    assert(g.query("ALTER TABLE a1 RENAME TO a2").isRight)
    assert(g.select("SELECT id, qty FROM a2").toOption.get
      .orderBy("id").collect().toSeq == Seq(Row(1, 10), Row(2, 20), Row(3, 30)))
    assert(g.select("SELECT id FROM a1").isLeft)
    // the altered schema persists across reopen
    val g2 = new GraftDatabase(spark, wh)
    assert(g2.select("SELECT id, qty, score FROM a2").toOption.get
      .orderBy("id").collect().toSeq ==
      Seq(Row(1, 10, null), Row(2, 20, null), Row(3, 30, 9.5)))
    assert(g2.statistics.get("a2").get.rowCount == 3)
    // rejections: duplicate/unknown columns, last column, rename clash
    assert(g2.query("ALTER TABLE a2 ADD COLUMN qty INT").isLeft)
    assert(g2.query("ALTER TABLE a2 DROP COLUMN nope").isLeft)
    assert(g2.query("ALTER TABLE a2 RENAME COLUMN id TO qty").isLeft)
    assert(g2.query("ALTER TABLE nosuch ADD COLUMN c INT").isLeft)
    // ALTER COLUMN TYPE rewrites with a cast
    assert(g2.query("ALTER TABLE a2 ALTER COLUMN qty TYPE DOUBLE").isRight)
    assert(g2.select("SELECT id, qty FROM a2").toOption.get
      .orderBy("id").collect().toSeq ==
      Seq(Row(1, 10.0), Row(2, 20.0), Row(3, 30.0)))
    // TRUNCATE empties but keeps the schema
    assert(g2.query("TRUNCATE TABLE a2").isRight)
    assert(g2.select("SELECT count(*) AS n FROM a2").toOption.get
      .collect().head.getLong(0) == 0L)
    assert(g2.query("INSERT INTO a2 VALUES (9, 1.5, 0.5)").isRight)
  }

  test("ALTER re-validates stored CHECK / generated expressions at ALTER time") {
    val g = new GraftDatabase(spark,
      Files.createTempDirectory("graft-alterck-wh").toString)
    g.query("CREATE TABLE c1 (a INT CHECK (a > 0), b INT, " +
      "d INT GENERATED ALWAYS AS (a + b))").toOption.get
    g.query("INSERT INTO c1 (a, b) VALUES (1, 2)").toOption.get
    // dropping a column a CHECK references errors AT THE ALTER — not at
    // the next write (and the message names the constraint)
    val e1 = g.query("ALTER TABLE c1 DROP COLUMN a")
    assert(e1.isLeft)
    assert(e1.left.toOption.get.msg.contains("CHECK"))
    // renaming a column a generator references errors at the ALTER too
    val e2 = g.query("ALTER TABLE c1 RENAME COLUMN b TO z")
    assert(e2.isLeft)
    assert(e2.left.toOption.get.msg.contains("generated"))
    // retyping a CHECK-referenced column to an incomparable type errors
    assert(g.query("ALTER TABLE c1 ALTER COLUMN a TYPE VARCHAR(5)").isLeft)
    // the table stayed intact and writable through all three rejections
    assert(g.query("INSERT INTO c1 (a, b) VALUES (3, 4)").isRight)
    assert(g.select("SELECT a, b, d FROM c1").toOption.get
      .orderBy("a").collect().toSeq == Seq(Row(1, 2, 3), Row(3, 4, 7)))
    // an ALTER that touches nothing the stored expressions use passes
    assert(g.query("ALTER TABLE c1 ADD COLUMN note VARCHAR(10)").isRight)
  }

  test("INSERT VALUES accepts scalar expressions, not just literals") {
    val g = db()
    // arithmetic, CASE and function calls in a VALUES row desugar to
    // INSERT … SELECT and evaluate like any projection
    assert(g.query(
      "INSERT INTO t VALUES (2 + 3, upper('ab'), CASE WHEN 1 < 2 THEN 50 ELSE 0 END)").isRight)
    assert(rows(g).last == Row(5, "AB", 50))
    // multiple expression rows keep per-row evaluation (UNION ALL chain)
    assert(g.query("INSERT INTO t VALUES (10, 'x', 1*100), (11, lower('Y'), 110)").isRight)
    assert(rows(g).takeRight(2) == Seq(Row(10, "x", 100), Row(11, "y", 110)))
  }

  test("INSERT … SELECT with a column list permutes and NULL-fills") {
    val g = db()
    g.query("CREATE TABLE t2 (id INT, tag VARCHAR(10), n INT)")
    // listed columns out of table order; unlisted column n NULL-fills
    assert(g.query("INSERT INTO t2 (tag, id) SELECT tag, id FROM t WHERE id <= 2").isRight)
    assert(g.select("SELECT id, tag, n FROM t2").toOption.get
      .orderBy("id").collect().toSeq == Seq(Row(1, "a", null), Row(2, "b", null)))
    // rejections: unknown column, duplicate, arity mismatch vs the list
    assert(g.query("INSERT INTO t2 (nope) SELECT id FROM t").isLeft)
    assert(g.query("INSERT INTO t2 (id, id) SELECT id, id FROM t").isLeft)
    assert(g.query("INSERT INTO t2 (id, tag) SELECT id FROM t").isLeft)
    // expression VALUES with a column list goes through the same path
    assert(g.query("INSERT INTO t2 (n, id) VALUES (7 * 3, 99)").isRight)
    assert(g.select("SELECT id, tag, n FROM t2 WHERE id = 99").toOption.get
      .collect().toSeq == Seq(Row(99, null, 21)))
  }
  // ---- sequences (driver-side named counters, DuckDB surface) ----

  test("sequences: allocation order, currval, options, persistence") {
    val wh = Files.createTempDirectory("graft-seq-wh").toString
    val g = new GraftDatabase(spark, wh)
    g.query("CREATE SEQUENCE ids START 100 INCREMENT 3")
      .fold(e => fail(e.msg), identity)
    g.query("CREATE TABLE st (id BIGINT, v VARCHAR(5))")
    g.query("INSERT INTO st VALUES (nextval('ids'), 'a'), (nextval('ids'), 'b')")
      .fold(e => fail(e.msg), identity)
    val got = g.select("SELECT id FROM st").toOption.get
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(100L, 103L))
    // currval in a FROM-less select
    val cur = g.select("SELECT currval('ids') AS c").toOption.get
      .collect().head.getLong(0)
    assert(cur == 103L)
    // state persists across reopen (monotone ids)
    val g2 = new GraftDatabase(spark, wh)
    val nxt = g2.select("SELECT nextval('ids') AS n").toOption.get
      .collect().head.getLong(0)
    assert(nxt == 106L)
  }

  test("sequences: bounds, cycle, descending defaults, error surfaces") {
    val g = new GraftDatabase(spark,
      Files.createTempDirectory("graft-seq-wh2").toString)
    g.query("CREATE SEQUENCE cap START 1 MAXVALUE 2")
    g.query("SELECT nextval('cap') AS a, nextval('cap') AS b")
      .fold(e => fail(e.msg), identity)
    val Left(overMax) = g.query("SELECT nextval('cap') AS a"): @unchecked
    assert(overMax.msg.contains("maximum"))
    g.query("CREATE SEQUENCE cyc START 1 MAXVALUE 2 CYCLE")
    val r = g.select("SELECT nextval('cyc') AS a, nextval('cyc') AS b, " +
      "nextval('cyc') AS c").toOption.get.collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((1L, 2L, 1L)))
    // descending default: starts at MAXVALUE
    g.query("CREATE SEQUENCE dsc INCREMENT BY -2 MAXVALUE 50")
    val d = g.select("SELECT nextval('dsc') AS a, nextval('dsc') AS b")
      .toOption.get.collect().head
    assert((d.getLong(0), d.getLong(1)) == ((50L, 48L)))
    // currval before any nextval errors
    g.query("CREATE SEQUENCE fresh")
    val Left(noCur) = g.query("SELECT currval('fresh') AS c"): @unchecked
    assert(noCur.msg.contains("no value yet"))
    // unknown sequence errors
    val Left(noSeq) = g.query("SELECT nextval('ghost') AS n"): @unchecked
    assert(noSeq.msg.contains("does not exist"))
    // table-scan nextval rejects loudly (row order undefined)
    g.query("CREATE TABLE tt (x INT)")
    g.query("INSERT INTO tt VALUES (1), (2)")
    val Left(scan) = g.query("SELECT nextval('cyc') AS n FROM tt"): @unchecked
    assert(scan.msg.contains("FROM-less"))
    // DROP SEQUENCE removes it; IF EXISTS no-ops
    g.query("DROP SEQUENCE cap").fold(e => fail(e.msg), identity)
    val Left(dropped) = g.query("SELECT nextval('cap') AS n"): @unchecked
    assert(dropped.msg.contains("does not exist"))
    g.query("DROP SEQUENCE IF EXISTS cap").fold(e => fail(e.msg), identity)
  }

  test("UPDATE … FROM: source columns in SET, matched rows only") {
    val g = db()
    g.query("CREATE TABLE deltas (tag VARCHAR(10), d INT)")
    g.query("INSERT INTO deltas VALUES ('a', 100), ('c', 999)")
    g.query("UPDATE t SET n = n + deltas.d FROM deltas " +
      "WHERE t.tag = deltas.tag").fold(e => fail(e.msg), identity)
    assert(rows(g) == Seq(Row(1, "a", 110), Row(2, "b", 20),
      Row(3, "a", 130), Row(4, null, 40)))
    // derived source with alias; extra target-side predicate
    g.query("UPDATE t SET n = s.m FROM (SELECT max(n) AS m FROM t) s " +
      "WHERE t.id = 2").fold(e => fail(e.msg), identity)
    assert(rows(g).map(_.getInt(2)) == Seq(110, 130, 130, 40))
  }

  test("DELETE … USING: anti-join delete of matched rows") {
    val g = db()
    g.query("CREATE TABLE bad (tag VARCHAR(10))")
    g.query("INSERT INTO bad VALUES ('a')")
    g.query("DELETE FROM t USING bad WHERE t.tag = bad.tag")
      .fold(e => fail(e.msg), identity)
    assert(rows(g).map(_.getInt(0)) == Seq(2, 4)) // NULL tag survives
    // USING with a derived source
    g.query("DELETE FROM t USING (SELECT 20 AS lim) s WHERE t.n > s.lim")
      .fold(e => fail(e.msg), identity)
    assert(rows(g).map(_.getInt(0)) == Seq(2))
  }

}
