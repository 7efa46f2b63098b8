package graft.sql

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row

import graft.SparkTestSession

/** End-to-end dialect engine tests: the reference REPL demo scenario
  * (reference database.rs:47-91; FIXTURES.md §1) run through
  * parse → analyze → lower → execute, plus plan-shape assertions that
  * Catalyst turned the declarative lowering into real joins.
  */
class DialectSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def freshDb(): GraftDatabase =
    new GraftDatabase(spark, Files.createTempDirectory("graft-wh").toString)

  /** A global-window pin on both paths, each on a fresh database: the
    * bucketed operator (`bucketed`: its plan shape is asserted) and the
    * default, where the small tables run as Spark's own window on one
    * task. Every value assertion holds on both.
    */
  private def onBothWindowPaths(body: (GraftDatabase, Boolean) => Unit): Unit =
    for (bucketed <- Seq(true, false)) body(freshDb(), bucketed)

  /** On the bucketed path, every table of `db` counts one row past the
    * one-task threshold; a body calls this once its tables are filled.
    */
  private def pinBuckets(db: GraftDatabase, bucketed: Boolean): Unit =
    if (bucketed) db.catalogTables.keys.foreach(
      db.statistics.injectStats(_, GlobalWindows.OneTaskRows + 1))

  private def demoDb(): GraftDatabase = {
    val db = freshDb()
    def run(sql: String): Unit = db.query(sql) match {
      case Left(e)  => fail(s"$sql -> ${e.msg}")
      case Right(_) => ()
    }
    run("CREATE TABLE people (id INT PRIMARY KEY, name VARCHAR(255), age INT)")
    run("CREATE TABLE cars (id INT PRIMARY KEY, model VARCHAR(255), owner_id INT)")
    // note the non-ASCII name and the NULL age — they exercise string
    // encoding and null handling (FIXTURES.md §1)
    run("INSERT INTO people VALUES (1, 'Elon', 20), " +
      "(2, 'Dr. Emmett L. „Doc“ Brown', 30), (3, 'Marty McFly', NULL)")
    run("INSERT INTO cars VALUES (1, 'Tesla Model 3', 1), (2, 'DeLorean DMC-12', 2)")
    db
  }

  test("demo: create, insert, scan") {
    val db = demoDb()
    val rows = db.select("SELECT id, name, age FROM people").toOption.get
      .orderBy("id").collect()
    assert(rows.toSeq == Seq(
      Row(1, "Elon", 20),
      Row(2, "Dr. Emmett L. „Doc“ Brown", 30),
      Row(3, "Marty McFly", null)))
  }

  test("demo: join + filter + projection (the canonical smoke query)") {
    val db = demoDb()
    val df = db.select(
      "SELECT name, model FROM people p, cars c WHERE p.id = c.owner_id AND age > 21").toOption.get
    assert(df.collect().toSeq == Seq(Row("Dr. Emmett L. „Doc“ Brown", "DeLorean DMC-12")))
  }

  test("catalyst rewrites crossJoin+filter into a real join (no CartesianProduct)") {
    val db = demoDb()
    val df = db.select(
      "SELECT name, model FROM people p, cars c WHERE p.id = c.owner_id").toOption.get
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("CartesianProduct"), physical)
    assert(physical.contains("Join") || physical.contains("BroadcastHashJoin"), physical)
  }

  test("select star and qualified star expansion") {
    val db = demoDb()
    val df = db.select("SELECT * FROM people").toOption.get
    assert(df.columns.toSeq == Seq("id", "name", "age"))
    // duplicate output names across tables get binding-qualified
    val j = db.select("SELECT * FROM people p, cars c WHERE p.id = c.owner_id").toOption.get
    assert(j.columns.toSeq == Seq("p_id", "name", "age", "c_id", "model", "owner_id"))
    // t.* as one item of a longer list
    val q = db.select("SELECT c.*, p.name FROM people p, cars c " +
      "WHERE p.id = c.owner_id ORDER BY c.id").toOption.get
    assert(q.columns.toSeq == Seq("id", "model", "owner_id", "name"))
    assert(q.collect().map(_.getString(3)).toSeq ==
      Seq("Elon", "Dr. Emmett L. „Doc“ Brown"))
    // bare * combined with an expression
    val s = db.select("SELECT *, length(name) AS ln FROM people ORDER BY id").toOption.get
    assert(s.columns.toSeq == Seq("id", "name", "age", "ln"))
    // unknown binding errors; star without FROM errors
    assert(db.select("SELECT z.* FROM people p").isLeft)
    assert(db.select("SELECT p.*").isLeft)
  }

  test("null semantics are SQL 3VL, not the reference's NULL=NULL quirk (SURVEY §1.4)") {
    val db = demoDb()
    // age NULL row never matches any comparison, even NULL = NULL
    val eq = db.select("SELECT name FROM people WHERE age = NULL").toOption.get
    assert(eq.count() == 0)
    val lt = db.select("SELECT name FROM people WHERE age < 100").toOption.get
    assert(lt.collect().map(_.getString(0)).toSet == Set("Elon", "Dr. Emmett L. „Doc“ Brown"))
  }

  test("or / neq / gt-normalization all execute (beyond reference analyzer)") {
    val db = demoDb()
    val df = db.select("SELECT name FROM people WHERE age > 25 OR name = 'Elon'").toOption.get
    assert(df.collect().map(_.getString(0)).toSet ==
      Set("Elon", "Dr. Emmett L. „Doc“ Brown"))
    val neq = db.select("SELECT name FROM people WHERE age <> 20").toOption.get
    assert(neq.collect().map(_.getString(0)).toSet == Set("Dr. Emmett L. „Doc“ Brown"))
  }

  test("insert type errors surface as query errors") {
    val db = demoDb()
    assert(db.query("INSERT INTO people VALUES (1, 'x')").isLeft)        // missing
    assert(db.query("INSERT INTO people VALUES (1, 'x', 2, 3)").isLeft)  // too many
    assert(db.query("INSERT INTO people VALUES (1, 2, 3)").isLeft)       // type
    assert(db.query("INSERT INTO nosuch VALUES (1)").isLeft)             // relation
  }

  test("parse errors surface with position") {
    val db = demoDb()
    val e = db.query("SELFROMWHERE a TO XYZ MAKES NO SENSE!")
    assert(e.isLeft)
  }

  test("catalog persists across database instances (reference catalog segments analogue)") {
    val wh = Files.createTempDirectory("graft-wh").toString
    val db1 = new GraftDatabase(spark, wh)
    assert(db1.query("CREATE TABLE t (a INT, b VARCHAR(5))").isRight)
    assert(db1.query("INSERT INTO t VALUES (1, 'x'), (2, 'y')").isRight)
    val db2 = new GraftDatabase(spark, wh)
    val rows = db2.select("SELECT a, b FROM t").toOption.get.orderBy("a").collect()
    assert(rows.toSeq == Seq(Row(1, "x"), Row(2, "y")))
  }

  test("widened dialect: DISTINCT, AS aliases, JOIN ON, IS NULL, BETWEEN, IN, LIKE, NOT") {
    val db = demoDb()
    db.query("INSERT INTO cars VALUES (3, 'Cybertruck', 1)")
    // DISTINCT: projection → distinct → sort on output names
    val d = db.select("SELECT DISTINCT owner_id FROM cars ORDER BY owner_id").toOption.get
    assert(d.collect().map(_.getInt(0)).toSeq == Seq(1, 2))
    // JOIN … ON desugars into the WHERE conjunction; AS renames output
    val j = db.select("SELECT name AS owner, model FROM people p JOIN cars c ON p.id = c.owner_id " +
      "WHERE age IS NOT NULL ORDER BY model").toOption.get
    assert(j.columns.toSeq == Seq("owner", "model"))
    assert(j.collect().map(_.getString(1)).toSeq ==
      Seq("Cybertruck", "DeLorean DMC-12", "Tesla Model 3"))
    // IS NULL (3VL: the NULL-age row is reachable ONLY via IS NULL)
    val n = db.select("SELECT name FROM people WHERE age IS NULL").toOption.get
    assert(n.collect().map(_.getString(0)).toSeq == Seq("Marty McFly"))
    // BETWEEN desugars to >= AND <=
    val b = db.select("SELECT name FROM people WHERE age BETWEEN 25 AND 35").toOption.get
    assert(b.collect().map(_.getString(0)).toSeq == Seq("Dr. Emmett L. „Doc“ Brown"))
    // IN desugars to an OR chain
    val i = db.select("SELECT name FROM people WHERE id IN (1, 3) ORDER BY id").toOption.get
    assert(i.collect().map(_.getString(0)).toSeq == Seq("Elon", "Marty McFly"))
    // LIKE with % wildcard
    val l = db.select("SELECT name FROM people WHERE name LIKE 'M%'").toOption.get
    assert(l.collect().map(_.getString(0)).toSeq == Seq("Marty McFly"))
    // NOT is 3VL: NOT (age = 20) excludes the NULL-age row too
    val nt = db.select("SELECT name FROM people WHERE NOT age = 20").toOption.get
    assert(nt.collect().map(_.getString(0)).toSeq == Seq("Dr. Emmett L. „Doc“ Brown"))
    // NOT IN / NOT BETWEEN / NOT LIKE parse and execute
    val ni = db.select("SELECT name FROM people WHERE id NOT IN (2, 3)").toOption.get
    assert(ni.collect().map(_.getString(0)).toSeq == Seq("Elon"))
    // errors: LIKE on a non-string column; DISTINCT sorting an unprojected col
    assert(db.query("SELECT name FROM people WHERE age LIKE 'x%'").isLeft)
    assert(db.query("SELECT DISTINCT name FROM people ORDER BY age").isLeft)
  }

  test("arithmetic expressions in WHERE and HAVING") {
    val db = demoDb()
    db.query("INSERT INTO cars VALUES (3, 'Cybertruck', 1)")
    def names(sql: String): Seq[String] =
      db.select(sql).toOption.get.collect().map(_.getString(0)).toSeq.sorted
    assert(names("SELECT name FROM people WHERE age * 2 > 50") ==
      Seq("Dr. Emmett L. „Doc“ Brown"))
    assert(names("SELECT name FROM people WHERE (age + 10) / 2 >= 15") ==
      Seq("Dr. Emmett L. „Doc“ Brown", "Elon").sorted)
    assert(names("SELECT name FROM people WHERE age - 25 < 0") == Seq("Elon"))
    assert(names("SELECT name FROM people WHERE -age < -25") ==
      Seq("Dr. Emmett L. „Doc“ Brown"))
    assert(names("SELECT name FROM people WHERE age % 3 = 0") ==
      Seq("Dr. Emmett L. „Doc“ Brown"))
    // precedence: * binds tighter than +
    assert(names("SELECT name FROM people WHERE age + 5 * 2 = 30") == Seq("Elon"))
    // arithmetic over aggregates in HAVING
    val h = db.select("SELECT owner_id, count(*) FROM cars GROUP BY owner_id " +
      "HAVING count(*) * 2 >= 4 ORDER BY owner_id").toOption.get
    assert(h.collect().map(_.getInt(0)).toSeq == Seq(1))
    // arithmetic on a non-numeric column is a type error
    assert(db.query("SELECT name FROM people WHERE name + 1 > 2").isLeft)
  }

  test("computed projections require AS and work in scan and aggregate contexts") {
    val db = demoDb()
    val df = db.select("SELECT name, age * 2 AS dbl, (age + 1) % 7 AS m FROM people " +
      "WHERE age IS NOT NULL ORDER BY name").toOption.get
    assert(df.columns.toSeq == Seq("name", "dbl", "m"))
    // int column × long literal widens to long (Spark numeric promotion)
    assert(df.collect().map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      Seq((60L, 3L), (40L, 0L)))
    // over group keys after aggregation
    val g = db.select("SELECT owner_id, owner_id * 10 AS tens, count(*) FROM cars " +
      "GROUP BY owner_id ORDER BY owner_id").toOption.get
    assert(g.columns.toSeq == Seq("owner_id", "tens", "count_star"))
    assert(g.collect().map(_.getLong(1)).toSeq == Seq(10L, 20L))
    // computed column without AS is an error
    assert(db.query("SELECT age * 2 FROM people").isLeft)
    // computed over an ungrouped column in an aggregate context is an error
    assert(db.query("SELECT age * 2 AS x, count(*) FROM people GROUP BY name").isLeft)
  }

  test("aggregates over expressions and expressions over aggregates") {
    val db = demoDb()
    // sum over a computed argument
    val r = db.select("SELECT owner_id, sum(id * 10) AS s, count(*) * 2 AS n2 " +
      "FROM cars GROUP BY owner_id ORDER BY owner_id").toOption.get
    assert(r.columns.toSeq == Seq("owner_id", "s", "n2"))
    assert(r.collect().map(x => (x.getInt(0), x.getLong(1), x.getLong(2))).toSeq ==
      Seq((1, 10L, 2L), (2, 20L, 2L)))
    // HAVING over an expression aggregate
    val h = db.select("SELECT owner_id FROM cars GROUP BY owner_id " +
      "HAVING sum(id * 10) >= 20 ORDER BY owner_id").toOption.get
    assert(h.collect().map(_.getInt(0)).toSeq == Seq(2))
    // an aggregate-bearing computed item makes the whole query aggregate-
    // scoped even with no GROUP BY
    val t = db.select("SELECT count(*) * 3 AS triple FROM people").toOption.get
    assert(t.collect().map(_.getLong(0)).toSeq == Seq(9L))
    // nested aggregates do not parse
    assert(db.query("SELECT sum(count(*)) AS x FROM cars GROUP BY owner_id").isLeft)
  }

  test("IN (SELECT …) subqueries lower as semi/anti joins") {
    val db = demoDb()
    val s = db.select("SELECT name FROM people WHERE id IN (SELECT owner_id FROM cars) " +
      "ORDER BY id").toOption.get
    assert(s.collect().map(_.getString(0)).toSeq ==
      Seq("Elon", "Dr. Emmett L. „Doc“ Brown"))
    assert(s.queryExecution.executedPlan.toString.contains("LeftSemi"),
      s.queryExecution.executedPlan.toString)
    val a = db.select("SELECT name FROM people WHERE id NOT IN (SELECT owner_id FROM cars) " +
      "ORDER BY id").toOption.get
    assert(a.collect().map(_.getString(0)).toSeq == Seq("Marty McFly"))
    // subquery with its own predicate
    val f = db.select("SELECT name FROM people WHERE id IN " +
      "(SELECT owner_id FROM cars WHERE model LIKE 'T%')").toOption.get
    assert(f.collect().map(_.getString(0)).toSeq == Seq("Elon"))
    // shape/placement errors (OR disjuncts are now supported — see the
    // boolean-marker test)
    assert(db.query("SELECT name FROM people WHERE id IN (SELECT id, owner_id FROM cars)").isLeft)
    assert(db.query("SELECT name FROM people WHERE id IN (SELECT owner_id FROM cars) OR age = 20").isRight)
    // DML subquery predicates are supported (row-id rewrite — see the
    // DELETE-with-subquery test); a shape error inside still rejects
    assert(db.query("DELETE FROM people WHERE id IN (SELECT id, owner_id FROM cars)").isLeft)
  }

  test("scalar comparison subqueries (group-less aggregates) lower as broadcast joins") {
    val db = demoDb()
    // max(age) = 30 → only Doc matches >=, with the subquery on either
    // side: an inner join with the one-row frame, no marker left join
    for (p <- Seq("age >= (SELECT max(age) FROM people)",
        "(SELECT max(age) FROM people) <= age")) {
      val m = db.select(s"SELECT name FROM people WHERE $p").toOption.get
      assert(m.collect().map(_.getString(0)).toSeq == Seq("Dr. Emmett L. „Doc“ Brown"))
      // the lowering's own plan: Catalyst would turn a marker left join
      // under this filter into an inner join
      val plan = m.queryExecution.analyzed.toString
      assert(plan.contains("Join Inner") && !plan.contains("LeftOuter"), plan)
    }
    // count over another table as the scalar
    val c = db.select("SELECT name FROM people WHERE id <= (SELECT count(*) FROM cars) " +
      "ORDER BY id").toOption.get
    assert(c.collect().map(_.getString(0)).toSeq ==
      Seq("Elon", "Dr. Emmett L. „Doc“ Brown"))
    // a multi-row subquery passes analysis but trips the runtime one-row
    // guard (the reference's error-surface style, database.rs:38-45)
    intercept[IllegalStateException] {
      db.query("SELECT name FROM people WHERE age > (SELECT age FROM people)")
    }
    intercept[IllegalStateException] {
      db.query(
        "SELECT name FROM people WHERE age > (SELECT max(age) FROM people GROUP BY name)")
    }
  }

  test("scalar subqueries widen to LIMIT 1 and runtime-guarded one-row forms") {
    val db = demoDb()
    // LIMIT 1 makes one row a static fact — no guard, sort+limit sub
    val m = db.select("SELECT name FROM people WHERE age >= " +
      "(SELECT age FROM people ORDER BY age DESC LIMIT 1)").toOption.get
    assert(m.collect().map(_.getString(0)).toSeq == Seq("Dr. Emmett L. „Doc“ Brown"))
    // a filtered single-row subquery passes its runtime guard
    val g = db.select("SELECT name FROM people WHERE age > " +
      "(SELECT age FROM people WHERE id = 1)").toOption.get
    assert(g.collect().map(_.getString(0)).toSeq == Seq("Dr. Emmett L. „Doc“ Brown"))
    // empty scalar → NULL comparison → no rows (not an error)
    val e = db.select("SELECT name FROM people WHERE age > " +
      "(SELECT age FROM people WHERE id = 99)").toOption.get
    assert(e.count() == 0)
  }

  test("correlated scalar subqueries aggregate per decorrelated key") {
    val db = demoDb()
    db.query("INSERT INTO cars VALUES (3, 'Cybertruck', 1)")
    // each person's age vs the count of their cars: Elon 20 > 2, Doc 30 > 1,
    // Marty has a NULL age (NULL > 0 -> dropped) and Biff has NO cars —
    // correlated count() over an empty set is 0, not NULL (the COUNT
    // decorrelation trap: only a left join + coalesce reproduces it)
    db.query("INSERT INTO people VALUES (4, 'Biff', 40)")
    val c = db.select("SELECT name FROM people p WHERE age > " +
      "(SELECT count(*) FROM cars c WHERE c.owner_id = p.id) ORDER BY id").toOption.get
    assert(c.collect().map(_.getString(0)).toSeq ==
      Seq("Elon", "Dr. Emmett L. „Doc“ Brown", "Biff"))
    // min() over an empty set IS NULL -> comparison drops Biff
    val mn = db.select("SELECT name FROM people p WHERE age > " +
      "(SELECT min(c.id) FROM cars c WHERE c.owner_id = p.id) ORDER BY id").toOption.get
    assert(mn.collect().map(_.getString(0)).toSeq ==
      Seq("Elon", "Dr. Emmett L. „Doc“ Brown"))
    // min() per key: people whose id is above their smallest car id
    val m = db.select("SELECT name FROM people p WHERE id >= " +
      "(SELECT min(c.id) FROM cars c WHERE c.owner_id = p.id) ORDER BY id").toOption.get
    assert(m.collect().map(_.getString(0)).toSeq ==
      Seq("Elon", "Dr. Emmett L. „Doc“ Brown"))
    // a correlated scalar with GROUP BY or a non-aggregate projection is rejected
    assert(db.query("SELECT name FROM people p WHERE age > " +
      "(SELECT c.id FROM cars c WHERE c.owner_id = p.id)").isLeft)
  }

  test("correlated EXISTS / NOT EXISTS decorrelate into semi/anti joins") {
    val db = demoDb()
    val s = db.select("SELECT name FROM people p WHERE EXISTS " +
      "(SELECT c.id FROM cars c WHERE c.owner_id = p.id) ORDER BY id").toOption.get
    assert(s.collect().map(_.getString(0)).toSeq ==
      Seq("Elon", "Dr. Emmett L. „Doc“ Brown"))
    assert(s.queryExecution.executedPlan.toString.contains("LeftSemi"),
      s.queryExecution.executedPlan.toString)
    val a = db.select("SELECT name FROM people p WHERE NOT EXISTS " +
      "(SELECT c.id FROM cars c WHERE c.owner_id = p.id)").toOption.get
    assert(a.collect().map(_.getString(0)).toSeq == Seq("Marty McFly"))
    assert(a.queryExecution.executedPlan.toString.contains("LeftAnti"),
      a.queryExecution.executedPlan.toString)
    // correlated + residual inner predicate (stays inside the subquery)
    val f = db.select("SELECT name FROM people p WHERE EXISTS " +
      "(SELECT c.id FROM cars c WHERE c.owner_id = p.id AND c.model LIKE 'T%')").toOption.get
    assert(f.collect().map(_.getString(0)).toSeq == Seq("Elon"))
    // unqualified correlated reference resolves through the outer scope
    val u = db.select("SELECT model FROM cars c WHERE EXISTS " +
      "(SELECT p.id FROM people p WHERE id = owner_id AND age IS NOT NULL) ORDER BY model").toOption.get
    assert(u.collect().map(_.getString(0)).toSeq ==
      Seq("DeLorean DMC-12", "Tesla Model 3"))
  }

  test("GROUP BY / ORDER BY ordinals resolve to SELECT-list positions") {
    val db = demoDb()
    // expression item via ordinal; ORDER BY an unaliased aggregate
    val g = db.select("SELECT substr(name, 1, 1) AS ini, count(*) " +
      "FROM people GROUP BY 1 ORDER BY 2 DESC, 1").toOption.get
    assert(g.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("D", 1L), ("E", 1L), ("M", 1L)))
    // plain column ordinal in ORDER BY
    val o = db.select("SELECT name, age FROM people ORDER BY 2 DESC NULLS LAST")
      .toOption.get
    assert(o.collect().map(_.getString(0)).toSeq ==
      Seq("Dr. Emmett L. „Doc“ Brown", "Elon", "Marty McFly"))
    // out-of-range and aggregate group keys are rejected
    assert(db.query("SELECT name FROM people ORDER BY 4").isLeft)
    assert(db.query("SELECT name, count(*) FROM people GROUP BY 2").isLeft)
  }

  test("|| concatenation: NULL-propagating, loosest precedence") {
    val db = demoDb()
    // Marty's NULL age poisons the whole concatenation (SQL || semantics,
    // NOT concat()-function NULL-skipping)
    val r = db.select("SELECT name || '#' || age AS t FROM people ORDER BY id")
      .toOption.get
    assert(r.collect().map(_.getString(0)).toSeq ==
      Seq("Elon#20", "Dr. Emmett L. „Doc“ Brown#30", null))
    // arithmetic binds tighter: 'v' || 1 + 2 is 'v' || 3
    val p = db.select("SELECT 'v' || 1 + 2 AS t").toOption.get
    assert(p.collect().map(_.getString(0)).toSeq == Seq("v3"))
  }

  test("residual non-equality correlation rides the EXISTS join condition") {
    val db = demoDb()
    db.query("INSERT INTO cars VALUES (3, 'Cybertruck', 1)")
    // cars: (1, owner 1), (2, owner 2), (3, owner 1) — the Q21 shape:
    // an equi key (owner_id = p.id) plus a non-equality residual
    // (c.id <> p.id) in one EXISTS
    val s = db.select("SELECT name FROM people p WHERE EXISTS " +
      "(SELECT c.id FROM cars c WHERE c.owner_id = p.id AND c.id <> p.id)").toOption.get
    assert(s.collect().map(_.getString(0)).toSeq == Seq("Elon"))
    assert(s.queryExecution.executedPlan.toString.contains("LeftSemi"),
      s.queryExecution.executedPlan.toString)
    // NOT EXISTS: same condition, anti join
    val a = db.select("SELECT name FROM people p WHERE NOT EXISTS " +
      "(SELECT c.id FROM cars c WHERE c.owner_id = p.id AND c.id <> p.id) " +
      "ORDER BY id").toOption.get
    assert(a.collect().map(_.getString(0)).toSeq ==
      Seq("Dr. Emmett L. „Doc“ Brown", "Marty McFly"))
    // inequality residual
    val g = db.select("SELECT name FROM people p WHERE EXISTS " +
      "(SELECT c.id FROM cars c WHERE c.owner_id = p.id AND c.id > p.id)").toOption.get
    assert(g.collect().map(_.getString(0)).toSeq == Seq("Elon"))
    // residual-only correlation (no equi pair at all)
    val r = db.select("SELECT name FROM people p WHERE EXISTS " +
      "(SELECT c.id FROM cars c WHERE c.id > p.id) ORDER BY id").toOption.get
    assert(r.collect().map(_.getString(0)).toSeq ==
      Seq("Elon", "Dr. Emmett L. „Doc“ Brown"))
    // only lowerable as a semi/anti join — rejected under OR, in CASE,
    // and in HAVING (the marker join would duplicate outer rows)
    assert(db.query("SELECT name FROM people p WHERE EXISTS " +
      "(SELECT c.id FROM cars c WHERE c.owner_id = p.id AND c.id <> p.id) " +
      "OR age > 25").isLeft)
    assert(db.query("SELECT name, CASE WHEN EXISTS (SELECT c.id FROM cars c " +
      "WHERE c.owner_id = p.id AND c.id <> p.id) THEN 1 ELSE 0 END AS f " +
      "FROM people p").isLeft)
    assert(db.query("SELECT owner_id, count(*) AS n FROM cars c GROUP BY owner_id " +
      "HAVING EXISTS (SELECT p.id FROM people p WHERE p.id = c.owner_id " +
      "AND p.age <> c.owner_id)").isLeft)
  }

  test("correlated scalar subqueries take expressions over aggregates") {
    val db = demoDb()
    db.query("INSERT INTO cars VALUES (3, 'Cybertruck', 1)")
    db.query("INSERT INTO people VALUES (4, 'Biff', 40)")
    // count inside an expression: the 0-for-empty-set coalesce must
    // apply BEFORE the arithmetic (Biff has no cars: 40 > 10*0)
    val c = db.select("SELECT name FROM people p WHERE age > " +
      "(SELECT 10 * count(*) AS t FROM cars c WHERE c.owner_id = p.id) " +
      "ORDER BY id").toOption.get
    assert(c.collect().map(_.getString(0)).toSeq ==
      Seq("Dr. Emmett L. „Doc“ Brown", "Biff"))
    // avg inside an expression (the TPC-H Q17 shape); empty set stays
    // NULL through the arithmetic, dropping Biff
    val v = db.select("SELECT name FROM people p WHERE age > " +
      "(SELECT 2 * avg(c.id) AS t FROM cars c WHERE c.owner_id = p.id) " +
      "ORDER BY id").toOption.get
    assert(v.collect().map(_.getString(0)).toSeq ==
      Seq("Elon", "Dr. Emmett L. „Doc“ Brown"))
    // the same shape as a projection item
    val pr = db.select("SELECT name, (SELECT 10 * count(*) AS t FROM cars c " +
      "WHERE c.owner_id = p.id) AS tens FROM people p ORDER BY id").toOption.get
    assert(pr.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("Elon", 20L), ("Dr. Emmett L. „Doc“ Brown", 10L),
        ("Marty McFly", 0L), ("Biff", 0L)))
    // bare columns outside the aggregate stay rejected
    assert(db.query("SELECT name FROM people p WHERE age > " +
      "(SELECT c.id * count(*) AS t FROM cars c WHERE c.owner_id = p.id)").isLeft)
  }

  test("uncorrelated EXISTS keeps or drops all rows by subquery emptiness") {
    val db = demoDb()
    val all = db.select("SELECT name FROM people WHERE EXISTS " +
      "(SELECT id FROM cars WHERE model LIKE 'T%')").toOption.get
    assert(all.count() == 3)
    val none = db.select("SELECT name FROM people WHERE EXISTS " +
      "(SELECT id FROM cars WHERE model LIKE 'Z%')").toOption.get
    assert(none.count() == 0)
  }

  test("correlated IN pulls the equality into the semi join") {
    val db = demoDb()
    val s = db.select("SELECT name FROM people p WHERE id IN " +
      "(SELECT owner_id FROM cars c WHERE c.id = p.id) ORDER BY id").toOption.get
    assert(s.collect().map(_.getString(0)).toSeq ==
      Seq("Elon", "Dr. Emmett L. „Doc“ Brown"))
  }

  test("subqueries nest: correlated EXISTS containing an uncorrelated IN") {
    val db = demoDb()
    // people with a car whose model is among the 'T%' models
    val n = db.select("SELECT name FROM people p WHERE EXISTS " +
      "(SELECT c.id FROM cars c WHERE c.owner_id = p.id AND c.id IN " +
      "(SELECT id FROM cars WHERE model LIKE 'T%'))").toOption.get
    assert(n.collect().map(_.getString(0)).toSeq == Seq("Elon"))
  }

  test("ORDER BY aggregates, output aliases and expressions") {
    val db = demoDb()
    db.query("INSERT INTO cars VALUES (3, 'Cybertruck', 1)")
    // top-k groups by count — the canonical reporting shape
    val top = db.select("SELECT owner_id, count(*) AS n FROM cars GROUP BY owner_id " +
      "ORDER BY count(*) DESC, owner_id LIMIT 1").toOption.get
    assert(top.collect().toSeq == Seq(Row(1, 2L)))
    // the output alias resolves as a sort key
    val byAlias = db.select("SELECT owner_id, count(*) AS n FROM cars GROUP BY owner_id " +
      "ORDER BY n DESC, owner_id LIMIT 1").toOption.get
    assert(byAlias.collect().toSeq == Seq(Row(1, 2L)))
    // an unprojected arithmetic sort key in a plain select
    val arith = db.select("SELECT name FROM people ORDER BY 0 - id").toOption.get
    assert(arith.collect().map(_.getString(0)).toSeq ==
      Seq("Marty McFly", "Dr. Emmett L. „Doc“ Brown", "Elon"))
    assert(arith.columns.toSeq == Seq("name")) // hidden sort column dropped
    // alias as sort key in a plain select
    val alias2 = db.select("SELECT id AS k, name FROM people ORDER BY k DESC").toOption.get
    assert(alias2.collect().map(_.getInt(0)).toSeq == Seq(3, 2, 1))
    // a non-aggregate query cannot sort by an aggregate
    assert(db.query("SELECT name FROM people ORDER BY count(*)").isLeft)
    // an ungrouped column is still rejected as an aggregate sort key
    assert(db.query("SELECT owner_id, count(*) FROM cars GROUP BY owner_id " +
      "ORDER BY model").isLeft)
  }

  test("scalar functions: upper/lower/trim/length/abs/round/substr/coalesce/concat") {
    val db = demoDb()
    val f = db.select("SELECT upper(name) AS u, length(name) AS l, " +
      "substr(name, 1, 4) AS p FROM people WHERE id = 1").toOption.get
    assert(f.collect().toSeq == Seq(Row("ELON", 4, "Elon")))
    // functions in WHERE predicates
    val w = db.select(
      "SELECT name FROM people WHERE length(name) > 10 ORDER BY id").toOption.get
    assert(w.count() == 2)
    // coalesce over the NULL age; round/abs over arithmetic
    val c = db.select("SELECT name, coalesce(age, -1) AS a FROM people ORDER BY id").toOption.get
    assert(c.collect().map(_.getLong(1)).toSeq == Seq(20L, 30L, -1L))
    val r = db.select("SELECT round(abs(0 - age) / 7, 1) AS r FROM people WHERE id = 1").toOption.get
    assert(r.collect().head.getDouble(0) == 2.9)
    // concat acts NULL-as-empty (SQL/DuckDB concat semantics)
    val cc = db.select("SELECT concat(name, '_', age) AS nid FROM people ORDER BY id").toOption.get
    assert(cc.collect().map(_.getString(0)).toSeq ==
      Seq("Elon_20", "Dr. Emmett L. „Doc“ Brown_30", "Marty McFly_"))
    // a column NAMED like a function still resolves when not called
    db.query("CREATE TABLE fn (length INT)")
    db.query("INSERT INTO fn VALUES (5)")
    assert(db.select("SELECT length FROM fn").toOption.get.collect().head.getInt(0) == 5)
    // arity / argument errors
    assert(db.query("SELECT upper(name, name) AS x FROM people").isLeft)
    assert(db.query("SELECT round(age, age) AS x FROM people").isLeft)
  }

  test("GROUP BY a computed projection's alias") {
    val db = demoDb()
    // group key = substr expression, referenced by its output alias
    val g = db.select("SELECT substr(name, 1, 1) AS initial, count(*) AS n " +
      "FROM people GROUP BY initial ORDER BY initial").toOption.get
    assert(g.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("D", 1L), ("E", 1L), ("M", 1L)))
    // a plain-column alias as group key, and ORDER BY the expression alias
    val g2 = db.select("SELECT age AS a, count(*) AS n FROM people " +
      "WHERE age IS NOT NULL GROUP BY a ORDER BY a").toOption.get
    assert(g2.collect().map(_.getInt(0)).toSeq == Seq(20, 30))
    // HAVING still filters over the grouped expression result
    val h = db.select("SELECT substr(name, 1, 1) AS initial, count(*) AS n " +
      "FROM people GROUP BY initial HAVING count(*) >= 1 ORDER BY initial").toOption.get
    assert(h.count() == 3)
    // grouping by an aggregate alias is rejected
    assert(db.query("SELECT count(*) AS n FROM people GROUP BY n").isLeft)
    // a bare column that is not the group key is still rejected
    assert(db.query("SELECT substr(name, 1, 1) AS i, age FROM people GROUP BY i").isLeft)
    // inline expression key: the projection item matches structurally and
    // adopts the key; sorting by the same expression sorts the key column
    val inline = db.select("SELECT substr(name, 1, 1) AS i, count(*) AS n " +
      "FROM people GROUP BY substr(name, 1, 1) " +
      "ORDER BY substr(name, 1, 1)").toOption.get
    assert(inline.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("D", 1L), ("E", 1L), ("M", 1L)))
    // hidden inline key: grouped by an expression that is not projected
    val hidden = db.select("SELECT count(*) AS n FROM people " +
      "GROUP BY substr(name, 1, 1) ORDER BY n DESC").toOption.get
    assert(hidden.collect().map(_.getLong(0)).toSeq == Seq(1L, 1L, 1L))
    assert(hidden.columns.toSeq == Seq("n"))
    // GROUP BY an inline aggregate is rejected
    assert(db.query("SELECT count(*) AS n FROM people GROUP BY count(*)").isLeft)
  }

  test("date functions: year/month/day execute and group") {
    val db = freshDb()
    db.registerParquet("orders", s"${graft.SparkTestSession.sf0001}/orders.parquet")
    val y = db.select("SELECT year(o_orderdate) AS yr, count(*) AS n FROM orders " +
      "GROUP BY yr ORDER BY yr").toOption.get
    val rows = y.collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sum > 0)
    assert(rows.forall(r => r.getInt(0) >= 1990 && r.getInt(0) <= 2030))
    val d = db.select("SELECT o_orderkey FROM orders " +
      "WHERE month(o_orderdate) = 1 AND day(o_orderdate) <= 7 " +
      "ORDER BY o_orderkey LIMIT 5").toOption.get
    assert(d.count() <= 5)
  }

  test("derived tables: subqueries in the FROM list") {
    val db = demoDb()
    // aggregate-in-FROM, filtered and ordered outside
    val t = db.select("SELECT t.owner_id, t.n FROM " +
      "(SELECT owner_id, count(*) AS n FROM cars GROUP BY owner_id) t " +
      "WHERE t.n >= 1 ORDER BY t.owner_id").toOption.get
    assert(t.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      Seq((1, 1L), (2, 1L)))
    // joined with a base table (stats-free plan — Catalyst orders it)
    val j = db.select("SELECT p.name, t.n FROM people p JOIN " +
      "(SELECT owner_id, count(*) AS n FROM cars GROUP BY owner_id) t " +
      "ON p.id = t.owner_id ORDER BY p.id").toOption.get
    assert(j.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("Elon", 1L), ("Dr. Emmett L. „Doc“ Brown", 1L)))
    // derived columns resolve unqualified too
    val u = db.select("SELECT n FROM (SELECT count(*) AS n FROM cars) t").toOption.get
    assert(u.collect().head.getLong(0) == 2L)
    // computed derived columns need AS names
    assert(db.query("SELECT t.n FROM (SELECT count(*) FROM cars) t").isLeft)
    // duplicate derived column names are rejected
    assert(db.query("SELECT id FROM (SELECT id, id FROM people) t").isLeft)
  }

  test("window functions: ranking and windowed aggregates") {
    val db = demoDb()
    db.query("INSERT INTO cars VALUES (3, 'Cybertruck', 1)")
    val r = db.select("SELECT model, row_number() OVER " +
      "(PARTITION BY owner_id ORDER BY id) AS rk FROM cars " +
      "ORDER BY owner_id, rk").toOption.get
    assert(r.collect().map(x => (x.getString(0), x.getInt(1))).toSeq ==
      Seq(("Tesla Model 3", 1), ("Cybertruck", 2), ("DeLorean DMC-12", 1)))
    // windowed aggregate: per-partition count without collapsing rows
    val c = db.select("SELECT model, count(*) OVER (PARTITION BY owner_id) AS n " +
      "FROM cars ORDER BY id").toOption.get
    assert(c.collect().map(x => (x.getString(0), x.getLong(1))).toSeq ==
      Seq(("Tesla Model 3", 2L), ("DeLorean DMC-12", 1L), ("Cybertruck", 2L)))
    // running sum (ordered window keeps the SQL default running frame)
    val s = db.select("SELECT id, sum(id) OVER (ORDER BY id) AS running " +
      "FROM people ORDER BY id").toOption.get
    assert(s.collect().map(_.getLong(1)).toSeq == Seq(1L, 3L, 6L))
    // the window alias is usable as an ORDER BY output key
    val byAlias = db.select("SELECT model, row_number() OVER (ORDER BY id) AS rk " +
      "FROM cars ORDER BY rk DESC LIMIT 1").toOption.get
    assert(byAlias.collect().head.getString(0) == "Cybertruck")
    // lag/lead shift within the partition order
    val lg = db.select("SELECT id, lag(id) OVER (ORDER BY id) AS prev, " +
      "lead(id, 2) OVER (ORDER BY id) AS nxt2 FROM people ORDER BY id").toOption.get
    assert(lg.collect().map(x => (x.get(1), x.get(2))).toSeq ==
      Seq((null, 3), (1, null), (2, null)))
    // an explicit ROWS frame: 2-row moving sum
    val mv = db.select("SELECT id, sum(id) OVER (ORDER BY id " +
      "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s2 " +
      "FROM people ORDER BY id").toOption.get
    assert(mv.collect().map(_.getLong(1)).toSeq == Seq(1L, 3L, 5L))
    // frames are rejected for ranking/shift functions
    assert(db.query("SELECT row_number() OVER (ORDER BY id " +
      "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS r FROM people").isLeft)
    // first_value anchors each partition's leading value
    val fv = db.select("SELECT model, first_value(model) OVER " +
      "(PARTITION BY owner_id ORDER BY id) AS fm FROM cars ORDER BY id").toOption.get
    assert(fv.collect().map(_.getString(1)).toSeq ==
      Seq("Tesla Model 3", "DeLorean DMC-12", "Tesla Model 3"))
    // ranking without ORDER BY is rejected; windows over aggregates are
    // supported (dedicated test below)
    assert(db.query("SELECT row_number() OVER (PARTITION BY owner_id) AS rk " +
      "FROM cars").isLeft)
    assert(db.query("SELECT owner_id, count(*), row_number() OVER (ORDER BY owner_id) " +
      "AS rk FROM cars GROUP BY owner_id").isRight)
    assert(db.query("SELECT lag(id) OVER (PARTITION BY owner_id) AS p FROM cars").isLeft)
    assert(db.query("SELECT lag(id, id) OVER (ORDER BY id) AS p FROM cars").isLeft)
  }

  test("INSERT INTO … SELECT and CREATE TABLE AS SELECT") {
    val db = demoDb()
    // CTAS from a query, including a computed column
    db.query("CREATE TABLE adults AS SELECT id, name, age * 2 AS a2 " +
      "FROM people WHERE age >= 20").fold(e => fail(e.msg), identity)
    val t = db.select("SELECT id, name, a2 FROM adults ORDER BY id").toOption.get
    assert(t.collect().toSeq == Seq(
      Row(1, "Elon", 40), Row(2, "Dr. Emmett L. „Doc“ Brown", 60)))
    // INSERT … SELECT appends with positional cast alignment
    db.query("INSERT INTO adults SELECT id + 10 AS nid, name, age FROM people " +
      "WHERE age IS NULL").fold(e => fail(e.msg), identity)
    assert(db.select("SELECT count(*) FROM adults").toOption.get
      .collect().head.getLong(0) == 3)
    // self-referencing insert materializes first, then doubles the table
    db.query("INSERT INTO adults SELECT id, name, a2 FROM adults")
      .fold(e => fail(e.msg), identity)
    assert(db.select("SELECT count(*) FROM adults").toOption.get
      .collect().head.getLong(0) == 6)
    // statistics ride the write path
    assert(db.statistics.get("adults").get.rowCount == 6)
    // arity mismatch and duplicate-name CTAS are analyzer errors
    assert(db.query("INSERT INTO adults SELECT id, name FROM people").isLeft)
    assert(db.query("CREATE TABLE adults AS SELECT id FROM people").isLeft)
    // bucketed CTAS lays the new table out hash-bucketed
    db.query("CREATE TABLE people_b CLUSTERED BY (id) INTO 4 BUCKETS AS " +
      "SELECT id, name FROM people").fold(e => fail(e.msg), identity)
    val j = db.select("SELECT p1.name FROM people_b p1 " +
      "JOIN people_b p2 ON p1.id = p2.id").toOption.get
    assert(j.count() == 3)
  }

  test("scalar subqueries as projection items") {
    val db = demoDb()
    // uncorrelated: every row sees the one global value
    val u = db.select("SELECT name, (SELECT max(age) FROM people) AS mx " +
      "FROM people ORDER BY id").toOption.get
    assert(u.collect().map(_.getInt(1)).toSeq == Seq(30, 30, 30))
    // correlated count: people with no cars get 0, not NULL
    val c = db.select("SELECT p.name, (SELECT count(*) FROM cars c " +
      "WHERE c.owner_id = p.id) AS n FROM people p ORDER BY p.id").toOption.get
    assert(c.collect().map(_.getLong(1)).toSeq == Seq(1L, 1L, 0L))
    // correlated min over an empty set is SQL NULL
    val m = db.select("SELECT p.name, (SELECT min(c.id) FROM cars c " +
      "WHERE c.owner_id = p.id) AS mid FROM people p ORDER BY p.id").toOption.get
    assert(m.collect().map(r => if (r.isNullAt(1)) -1 else r.getInt(1)).toSeq ==
      Seq(1, 2, -1))
    // an empty uncorrelated subquery yields NULL, never zero rows
    val e = db.select("SELECT name, (SELECT age FROM people WHERE id = 99 " +
      "LIMIT 1) AS ghost FROM people ORDER BY id").toOption.get
    assert(e.count() == 3 && e.collect().forall(_.isNullAt(1)))
    // the alias sorts as an output key
    val srt = db.select("SELECT p.name, (SELECT count(*) FROM cars c " +
      "WHERE c.owner_id = p.id) AS n FROM people p ORDER BY n DESC, p.id LIMIT 1")
      .toOption.get
    assert(srt.collect().head.getString(0) == "Elon")
    // a multi-row scalar subquery without LIMIT fails the runtime guard
    // (probed at lowering, like the WHERE-scope scalar guard)
    assert(try {
      db.select("SELECT name, (SELECT age FROM people) AS a FROM people")
      false
    } catch { case _: IllegalStateException => true })
    // an uncorrelated scalar item over an aggregated query rides the
    // post-aggregation broadcast join (was rejected before round 13)
    val ag = db.select("SELECT count(*) AS n, (SELECT max(age) FROM people) " +
      "AS m FROM people").fold(e => fail(e.msg), identity).collect()
    assert(ag.head.getLong(0) == 3L && ag.head.getInt(1) == 30)
    // still rejected: two columns
    assert(db.query("SELECT (SELECT id, age FROM people LIMIT 1) AS x " +
      "FROM people").isLeft)
  }

  test("RANGE frames and distribution ranking (ntile / percent_rank / cume_dist)") {
    val db = demoDb()
    // people ids 1,2,3: RANGE 1 PRECEDING sums value-adjacent ids —
    // distinct from ROWS when keys have gaps
    db.query("INSERT INTO people VALUES (7, 'Einstein', 70)")
    val r = db.select("SELECT id, sum(id) OVER (ORDER BY id " +
      "RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS s " +
      "FROM people ORDER BY id").toOption.get
    // id 7 is value-isolated: its RANGE frame holds only itself (a ROWS
    // frame would have summed 3+7)
    assert(r.collect().map(_.getLong(1)).toSeq == Seq(1L, 3L, 5L, 7L))
    val nt = db.select("SELECT id, ntile(2) OVER (ORDER BY id) AS b, " +
      "percent_rank() OVER (ORDER BY id) AS pr, " +
      "cume_dist() OVER (ORDER BY id) AS cd FROM people ORDER BY id").toOption.get
    val rows = nt.collect()
    assert(rows.map(_.getInt(1)).toSeq == Seq(1, 1, 2, 2))
    assert(rows.map(_.getDouble(2)).toSeq == Seq(0.0, 1.0 / 3, 2.0 / 3, 1.0))
    assert(rows.map(_.getDouble(3)).toSeq == Seq(0.25, 0.5, 0.75, 1.0))
    // RANGE frames need exactly one ORDER BY key; ntile needs a positive
    // integer literal; ranking functions reject frames
    assert(db.query("SELECT sum(id) OVER (ORDER BY id, age " +
      "RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS s FROM people").isLeft)
    assert(db.query("SELECT ntile(0) OVER (ORDER BY id) AS b FROM people").isLeft)
    assert(db.query("SELECT ntile(id) OVER (ORDER BY id) AS b FROM people").isLeft)
    assert(db.query("SELECT percent_rank() OVER (PARTITION BY age) AS p FROM people").isLeft)
    assert(db.query("SELECT rank() OVER (ORDER BY id " +
      "RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS r FROM people").isLeft)
  }

  test("windows under LIMIT, derived self-reference, GROUP BY column precedence") {
    val db = demoDb()
    db.query("INSERT INTO cars VALUES (3, 'Cybertruck', 1)")
    // a window function evaluates over the FULL row set even when the
    // query carries LIMIT and no ORDER BY (LIMIT must not cut the input
    // of the window, only the output)
    val n = db.select("SELECT model, count(*) OVER (PARTITION BY owner_id) AS n " +
      "FROM cars WHERE owner_id = 1 LIMIT 1").toOption.get
    assert(n.collect().head.getLong(1) == 2L)
    // INSERT INTO t … FROM (SELECT … FROM t) d is self-referencing through
    // the derived table and must materialize before the append
    db.query("CREATE TABLE names AS SELECT name FROM people")
      .fold(e => fail(e.msg), identity)
    db.query("INSERT INTO names SELECT name FROM (SELECT name FROM names) d")
      .fold(e => fail(e.msg), identity)
    assert(db.select("SELECT count(*) FROM names").toOption.get
      .collect().head.getLong(0) == 6)
    // an unqualified GROUP BY name resolves to the input column, not a
    // projection alias of the same name (SQL/Postgres/Spark precedence):
    // 4 distinct names, 3 distinct first letters — the column wins
    db.query("INSERT INTO people VALUES (4, 'Eve', 44)")
    val g = db.select("SELECT substr(name, 1, 1) AS name, count(*) AS n " +
      "FROM people GROUP BY name").toOption.get
    assert(g.count() == 4)
    // a non-column name still resolves through the projection alias
    val a = db.select("SELECT substr(name, 1, 1) AS initial, count(*) AS n " +
      "FROM people GROUP BY initial ORDER BY initial").toOption.get
    assert(a.collect().map(_.getString(0)).toSeq == Seq("D", "E", "M"))
  }

  test("LIMIT OFFSET paginates the ordered result") {
    val db = demoDb()
    val p = db.select("SELECT name FROM people ORDER BY id LIMIT 1 OFFSET 1").toOption.get
    assert(p.collect().map(_.getString(0)).toSeq == Seq("Dr. Emmett L. „Doc“ Brown"))
    // OFFSET without LIMIT skips and keeps the rest
    val o = db.select("SELECT name FROM people ORDER BY id OFFSET 2").toOption.get
    assert(o.collect().map(_.getString(0)).toSeq == Seq("Marty McFly"))
    // aggregate scope too
    val a = db.select("SELECT owner_id, count(*) AS n FROM cars GROUP BY owner_id " +
      "ORDER BY owner_id LIMIT 5 OFFSET 1").toOption.get
    assert(a.collect().toSeq == Seq(Row(2, 1L)))
  }

  test("CASE WHEN: searched + simple forms in projection, WHERE and aggregate scope") {
    val db = demoDb()
    val c = db.select("SELECT name, CASE WHEN age IS NULL THEN 'unknown' " +
      "WHEN age >= 30 THEN 'old' ELSE 'young' END AS band " +
      "FROM people ORDER BY id").toOption.get
    assert(c.collect().map(_.getString(1)).toSeq == Seq("young", "old", "unknown"))
    // simple form desugars to subject = value; no ELSE → NULL
    val s2 = db.select("SELECT name, CASE id WHEN 1 THEN 'one' WHEN 2 THEN 'two' " +
      "END AS t FROM people ORDER BY id").toOption.get
    assert(s2.collect().map(_.getString(1)).toSeq == Seq("one", "two", null))
    // CASE inside a WHERE predicate
    val w = db.select("SELECT name FROM people " +
      "WHERE CASE WHEN age IS NULL THEN 0 ELSE age END < 25").toOption.get
    assert(w.collect().map(_.getString(0)).toSet == Set("Elon", "Marty McFly"))
    // CASE over an aggregate (computed projection in aggregate scope) and
    // conditional aggregation (CASE inside the aggregate argument)
    db.query("INSERT INTO cars VALUES (3, 'Cybertruck', 1)")
    val a = db.select("SELECT owner_id, " +
      "CASE WHEN count(*) > 1 THEN 'multi' ELSE 'single' END AS k, " +
      "sum(CASE WHEN model LIKE 'T%' THEN 1 ELSE 0 END) AS t " +
      "FROM cars GROUP BY owner_id ORDER BY owner_id").toOption.get
    assert(a.collect().toSeq == Seq(Row(1, "multi", 1L), Row(2, "single", 0L)))
  }

  test("count/sum DISTINCT execute") {
    val db = demoDb()
    db.query("INSERT INTO cars VALUES (3, 'Cybertruck', 1)")
    val d = db.select(
      "SELECT count(DISTINCT owner_id) AS owners, count(*) AS n FROM cars").toOption.get
    assert(d.collect().toSeq == Seq(Row(2L, 3L)))
    val g = db.select("SELECT owner_id, count(DISTINCT model) AS m FROM cars " +
      "GROUP BY owner_id ORDER BY owner_id").toOption.get
    assert(g.collect().toSeq == Seq(Row(1, 2L), Row(2, 1L)))
    // avg(DISTINCT) composes sum_distinct/count_distinct: owners {1, 2}
    val ad = db.select("SELECT avg(DISTINCT owner_id) AS a FROM cars").toOption.get
    assert(ad.collect().head.getDouble(0) == 1.5)
    assert(db.query("SELECT stddev(DISTINCT owner_id) FROM cars").isLeft)
  }

  test("NOT IN is null-aware (SQL 3VL)") {
    val db = demoDb()
    // ages are {20, 30, NULL}: the NULL poisons NOT IN to non-TRUE for
    // every probe — zero rows, where a bare anti join would return all
    val poisoned = db.select(
      "SELECT name FROM people WHERE id NOT IN (SELECT age FROM people)").toOption.get
    assert(poisoned.count() == 0)
    // NULL probe (Marty's age) against a non-empty NULL-free set → dropped
    val probe = db.select(
      "SELECT name FROM people WHERE age NOT IN (SELECT id FROM cars)").toOption.get
    assert(probe.collect().map(_.getString(0)).toSet ==
      Set("Elon", "Dr. Emmett L. „Doc“ Brown"))
    // empty subquery → NOT IN is TRUE for every probe, even the NULL one
    val empty = db.select("SELECT name FROM people WHERE age NOT IN " +
      "(SELECT id FROM cars WHERE id > 99)").toOption.get
    assert(empty.count() == 3)
  }

  test("correlated NOT IN is null-aware per key") {
    val db = demoDb()
    db.query("CREATE TABLE nums (k INT, v INT)")
    db.query("INSERT INTO nums VALUES (1, 10), (1, NULL), (2, 20)")
    // p1: set {10, NULL} has a NULL → dropped; p2: 30 ∉ {20} → kept;
    // p3: NULL probe but EMPTY per-key set → kept
    val r = db.select("SELECT name FROM people p WHERE age NOT IN " +
      "(SELECT v FROM nums n WHERE n.k = p.id)").toOption.get
    assert(r.collect().map(_.getString(0)).toSet ==
      Set("Dr. Emmett L. „Doc“ Brown", "Marty McFly"))
  }

  test("correlation depth 2: nested EXISTS referencing the outermost scope") {
    val db = demoDb()
    db.query("CREATE TABLE nums (k INT, v INT)")
    db.query("INSERT INTO nums VALUES (1, 1), (2, 99)")
    // Elon: car 1 → nums(k=1, v=1) matches v = p.id → kept.
    // Doc: car 2 → nums(k=2, v=99) fails v = p.id → dropped — the row
    // that distinguishes honoring the DEEP pair from ignoring it.
    val r = db.select("SELECT name FROM people p WHERE EXISTS " +
      "(SELECT c.id FROM cars c WHERE c.owner_id = p.id AND EXISTS " +
      "(SELECT n.k FROM nums n WHERE n.k = c.id AND n.v = p.id))").toOption.get
    assert(r.collect().map(_.getString(0)).toSeq == Seq("Elon"))
    // deep correlation under a NEGATED nested subquery has no join-only
    // form → rejected
    assert(db.query("SELECT name FROM people p WHERE EXISTS " +
      "(SELECT c.id FROM cars c WHERE c.owner_id = p.id AND NOT EXISTS " +
      "(SELECT n.k FROM nums n WHERE n.k = c.id AND n.v = p.id))").isLeft)
    // …and is rejected under an aggregating subquery (flattening would
    // change the count)
    assert(db.query("SELECT name FROM people p WHERE id > " +
      "(SELECT count(*) FROM cars c WHERE EXISTS " +
      "(SELECT n.k FROM nums n WHERE n.k = c.id AND n.v = p.id))").isLeft)
  }

  test("a scalar subquery correlated two scopes out through an IN body's projection rejects like its EXISTS twin") {
    val db = freshDb()
    for (sql <- Seq("CREATE TABLE t (k INT, v INT)", "INSERT INTO t VALUES (1, 10), (2, 11)",
        "CREATE TABLE u (k INT, v INT)", "INSERT INTO u VALUES (1, 1), (2, 2)"))
      assert(db.query(sql).isRight, sql)
    val body = "(SELECT (SELECT max(u.v) FROM u WHERE u.k = t.k) + 9 AS x FROM u u2)"
    val exists = db.select(s"SELECT k FROM t WHERE EXISTS $body").left.map(_.msg)
    assert(exists.left.exists(_.startsWith("bad subquery")), exists)
    assert(db.select(s"SELECT k FROM t WHERE v IN $body").left.map(_.msg) == exists)
  }

  test("uncorrelated scalar subqueries in HAVING") {
    val db = demoDb()
    db.query("INSERT INTO cars VALUES (3, 'Cybertruck', 1)")
    // owner 1 has 2 cars, owner 2 has 1; people with age >= 20 → 2
    val h = db.select("SELECT owner_id, count(*) FROM cars GROUP BY owner_id " +
      "HAVING count(*) >= (SELECT count(*) FROM people WHERE age >= 20)").toOption.get
    assert(h.collect().toSeq == Seq(Row(1, 2L)))
    // mixed plain + subquery HAVING conjuncts
    val mix = db.select("SELECT owner_id, count(*) FROM cars GROUP BY owner_id " +
      "HAVING count(*) >= (SELECT count(*) FROM people WHERE age >= 20) " +
      "AND count(*) < 99").toOption.get
    assert(mix.collect().toSeq == Seq(Row(1, 2L)))
    // output aliases resolve in HAVING (DuckDB extension): n is count(*)
    val byAlias2 = db.select("SELECT owner_id, count(*) AS n FROM cars " +
      "GROUP BY owner_id HAVING n >= 2 ORDER BY owner_id").toOption.get
    assert(byAlias2.collect().toSeq == Seq(Row(1, 2L)))
    // lag with an explicit default replaces the leading NULL
    val lagDef = db.select("SELECT owner_id, lag(owner_id, 1, -1) OVER " +
      "(ORDER BY id) AS prev FROM cars ORDER BY id").toOption.get
    assert(lagDef.collect().map(_.getInt(1)).toSeq == Seq(-1, 1, 2))
    // the runtime one-row guard applies in HAVING too
    intercept[IllegalStateException] {
      db.select("SELECT owner_id, count(*) FROM cars GROUP BY owner_id " +
        "HAVING count(*) > (SELECT id FROM people)")
    }
    // correlated HAVING subqueries are supported (dedicated test below)
    assert(db.query("SELECT owner_id, count(*) FROM cars c GROUP BY owner_id " +
      "HAVING count(*) > (SELECT count(*) FROM people p WHERE p.id = c.owner_id)").isRight)
  }

  test("CAST, round-5 scalar functions, NULLS FIRST/LAST, EXPLAIN") {
    val db = demoDb()
    val c = db.select("SELECT id, cast(id AS double) AS d, cast(id AS varchar) AS s, " +
      "mod(id, 2) AS m, power(id, 2) AS p, floor(id + 0.5) AS fl " +
      "FROM people ORDER BY id").toOption.get
    assert(c.collect().toSeq == Seq(
      Row(1, 1.0, "1", 1, 1.0, 1L),
      Row(2, 2.0, "2", 0, 4.0, 2L),
      Row(3, 3.0, "3", 1, 9.0, 3L)))
    // replace/instr in projection and WHERE
    val r = db.select("SELECT replace(name, 'Elon', 'E.') AS nm FROM people " +
      "WHERE instr(name, 'Elon') > 0").toOption.get
    assert(r.collect().map(_.getString(0)).toSeq == Seq("E."))
    // CAST in a predicate
    val cw = db.select("SELECT name FROM people WHERE cast(age AS double) > 21.5").toOption.get
    assert(cw.collect().map(_.getString(0)).toSeq == Seq("Dr. Emmett L. „Doc“ Brown"))
    // NULLS LAST pushes the NULL-age row to the end (Spark's ASC default
    // is NULLS FIRST — the explicit spec must override it)
    val nl = db.select("SELECT name FROM people ORDER BY age NULLS LAST").toOption.get
    assert(nl.collect().map(_.getString(0)).toSeq ==
      Seq("Elon", "Dr. Emmett L. „Doc“ Brown", "Marty McFly"))
    val nf = db.select("SELECT name FROM people ORDER BY age DESC NULLS FIRST").toOption.get
    assert(nf.collect().map(_.getString(0)).toSeq ==
      Seq("Marty McFly", "Dr. Emmett L. „Doc“ Brown", "Elon"))
    // EXPLAIN surfaces the formatted physical plan
    val ex = db.select("EXPLAIN SELECT name, model FROM people p, cars c " +
      "WHERE p.id = c.owner_id").toOption.get
    val txt = ex.collect().map(_.getString(0)).mkString("\n")
    assert(txt.contains("Physical Plan"))
    assert(txt.contains("Join"), txt)
  }

  test("SELECT without FROM evaluates over one synthetic row") {
    val db = freshDb()
    // cast(3.5 AS bigint) ROUNDS half-away-from-zero like DuckDB (4, not
    // Spark's truncating 3 — the round-10 cast-parity fix): a
    // decimal-point LITERAL is a DECIMAL in DuckDB. A genuinely
    // DOUBLE-typed expression casts half-to-EVEN instead (round-11
    // probe: (2.5::DOUBLE)::BIGINT = 2, (3.5::DOUBLE)::BIGINT = 4,
    // 8416312.5 -> 8416312) — two distinct rounding modes.
    val one = db.select("SELECT 1 + 1 AS x, upper('ab') AS s, " +
      "cast(3.5 AS bigint) AS c, cast(-2.5 AS int) AS n").toOption.get
    assert(one.collect().toSeq == Seq(Row(2L, "AB", 4L, -3)))
    val dbl = db.select("SELECT cast(cast(2.5 AS DOUBLE) AS bigint) AS a, " +
      "cast(cast(3.5 AS DOUBLE) AS bigint) AS b, " +
      "cast(cast(-2.5 AS DOUBLE) AS int) AS c").toOption.get
    assert(dbl.collect().toSeq == Seq(Row(2L, 4L, -2)))
    // star without FROM is rejected with a clear error
    assert(db.select("SELECT *").isLeft)
  }

  test("DATE / TIMESTAMP literals, columns and casts") {
    val db = freshDb()
    db.query("CREATE TABLE ev (id INT, d DATE, ts TIMESTAMP)")
    assert(db.query("INSERT INTO ev VALUES " +
      "(1, DATE '2024-01-15', TIMESTAMP '2024-01-15 10:30:00'), " +
      "(2, DATE '2024-06-01', TIMESTAMP '2024-06-01 00:00:00'), " +
      "(3, '2024-12-31', '2024-12-31 23:59:59')").isRight) // bare ISO strings convert too
    val f = db.select("SELECT id FROM ev WHERE d < DATE '2024-06-01' " +
      "AND ts < TIMESTAMP '2024-06-02 00:00:00'").toOption.get
    assert(f.collect().map(_.getInt(0)).toSeq == Seq(1))
    // year/month/day over date columns; CAST timestamp→date
    val y = db.select("SELECT id, year(d) AS y, month(ts) AS m, " +
      "cast(ts AS date) AS td FROM ev ORDER BY id").toOption.get
    assert(y.collect().map(r => (r.getInt(1), r.getInt(2))).toSeq ==
      Seq((2024, 1), (2024, 6), (2024, 12)))
    assert(y.collect().head.getDate(3).toString == "2024-01-15")
    // a malformed literal is a parse error, not a runtime failure
    assert(db.query("SELECT id FROM ev WHERE d = DATE 'not-a-date'").isLeft)
    // INTERVAL arithmetic: date/timestamp ± INTERVAL, month rollover
    val iv = db.select("SELECT id, d + INTERVAL '1' MONTH AS m, " +
      "ts - INTERVAL 30 MINUTES AS t FROM ev WHERE id = 1").toOption.get
    val r0 = iv.collect().head
    assert(r0.getDate(1).toString == "2024-02-15")
    assert(r0.getTimestamp(2).toString == "2024-01-15 10:00:00.0")
    val ivw = db.select("SELECT id FROM ev " +
      "WHERE d < DATE '2024-07-01' - INTERVAL '2' MONTH ORDER BY id").toOption.get
    assert(ivw.collect().map(_.getInt(0)).toSeq == Seq(1))
    // INTERVAL misuse is rejected
    assert(db.select("SELECT id + INTERVAL '1' DAY AS x FROM ev").isLeft)
    assert(db.select("SELECT INTERVAL '1' DAY + d AS x FROM ev").isLeft)
    assert(db.query("SELECT id FROM ev WHERE d > INTERVAL '1' FORTNIGHT").isLeft)
    // datediff (end, start) and date_trunc
    val dd = db.select("SELECT id, datediff(d, DATE '2024-01-01') AS dd, " +
      "date_trunc('month', ts) AS mt FROM ev WHERE id = 1").toOption.get
    val rdd = dd.collect().head
    assert(rdd.getInt(1) == 14)
    assert(rdd.getTimestamp(2).toString == "2024-01-01 00:00:00.0")
    assert(db.select("SELECT date_trunc('fortnight', ts) AS x FROM ev").isLeft)
    // EXPLAIN covers the write statements' SELECT source
    val exi = db.select("EXPLAIN INSERT INTO ev SELECT id, d, ts FROM ev").toOption.get
    assert(exi.collect().map(_.getString(0)).mkString("\n").contains("Physical Plan"))
    assert(db.query("EXPLAIN DELETE FROM ev").isLeft)
    // EXPLAIN ANALYZE runs the query and reports the final plan with
    // per-operator runtime metrics
    val exa = db.select("EXPLAIN ANALYZE SELECT id FROM ev WHERE id > 1").toOption.get
    val lines = exa.collect().map(_.getString(0))
    assert(lines.head.contains("Analyzed: 2 row(s)"))
    assert(lines.mkString("\n").contains("Physical Plan"))
    assert(lines.mkString("\n").contains("Runtime metrics"))
    assert(lines.exists(_.contains("numOutputRows=2")))
  }

  test("window functions over aggregated queries") {
    val db = demoDb()
    db.query("INSERT INTO cars VALUES (3, 'Cybertruck', 1)")
    // rank owners by car count; windowed sum of the per-group counts
    val df = db.select("SELECT owner_id, count(*) AS n, " +
      "rank() OVER (ORDER BY count(*) DESC, owner_id) AS rk, " +
      "sum(count(*)) OVER () AS total " +
      "FROM cars GROUP BY owner_id ORDER BY owner_id").toOption.get
    assert(df.collect().toSeq == Seq(
      Row(1, 2L, 1, 3L), Row(2, 1L, 2, 3L)))
    // window partitioned by a group key, ordered by an aggregate
    val part = db.select("SELECT owner_id, model, count(*) AS n, " +
      "row_number() OVER (PARTITION BY owner_id ORDER BY count(*) DESC, model) AS rn " +
      "FROM cars GROUP BY owner_id, model ORDER BY owner_id, rn").toOption.get
    assert(part.collect().map(r => (r.getInt(0), r.getInt(3))).toSeq ==
      Seq((1, 1), (1, 2), (2, 1)))
    // HAVING filters before the window sees the groups
    val hv = db.select("SELECT owner_id, count(*) AS n, " +
      "sum(count(*)) OVER () AS total FROM cars GROUP BY owner_id " +
      "HAVING count(*) >= 2 ORDER BY owner_id").toOption.get
    assert(hv.collect().toSeq == Seq(Row(1, 2L, 2L)))
    // an ungrouped column in the window spec is rejected
    assert(db.select("SELECT owner_id, count(*) AS n, " +
      "row_number() OVER (PARTITION BY model ORDER BY owner_id) AS rn " +
      "FROM cars GROUP BY owner_id").isLeft)
    // a window aggregate without GROUP BY is rejected
    assert(db.select("SELECT rank() OVER (ORDER BY count(*)) AS rk FROM cars").isLeft)
  }

  test("GROUP BY ROLLUP / CUBE / GROUPING SETS") {
    val db = demoDb()
    db.query("INSERT INTO cars VALUES (3, 'Cybertruck', 1)")
    // ROLLUP(owner_id): detail rows + grand total (owner_id NULL)
    val ru = db.select("SELECT owner_id, count(*) AS n FROM cars " +
      "GROUP BY ROLLUP(owner_id) ORDER BY n, owner_id").toOption.get
    assert(ru.collect().toSeq == Seq(
      Row(2, 1L), Row(1, 2L), Row(null, 3L)))
    // CUBE over two keys: 2^2 levels; the grand total counts all people
    val cu = db.select("SELECT age, count(*) AS n FROM people " +
      "GROUP BY CUBE(age, name) HAVING count(*) > 2").toOption.get
    assert(cu.collect().toSeq == Seq(Row(null, 3L)))
    // explicit GROUPING SETS with a grand-total () set
    val gs = db.select("SELECT owner_id, count(*) AS n FROM cars " +
      "GROUP BY GROUPING SETS ((owner_id), ()) ORDER BY n, owner_id").toOption.get
    assert(gs.collect().toSeq == Seq(
      Row(2, 1L), Row(1, 2L), Row(null, 3L)))
    // a column named rollup still groups plainly (contextual keyword)
    db.query("CREATE TABLE rt (rollup INT, v INT)")
    db.query("INSERT INTO rt VALUES (1, 10), (1, 20), (2, 30)")
    val plain = db.select("SELECT rollup, count(*) AS n FROM rt " +
      "GROUP BY rollup ORDER BY rollup").toOption.get
    assert(plain.collect().toSeq == Seq(Row(1, 2L), Row(2, 1L)))
    // no aggregate in the projection → rejected
    assert(db.select("SELECT owner_id FROM cars GROUP BY ROLLUP(owner_id)").isLeft)
    // grouping() marks the subtotal row
    val gm = db.select("SELECT owner_id, grouping(owner_id) AS g, count(*) AS n " +
      "FROM cars GROUP BY ROLLUP(owner_id) ORDER BY g, owner_id").toOption.get
    assert(gm.collect().toSeq ==
      Seq(Row(1, 0, 2L), Row(2, 0, 1L), Row(null, 1, 3L)))
    // grouping() without a grouping spec, or over a non-key, is rejected
    assert(db.select("SELECT owner_id, grouping(owner_id) AS g FROM cars " +
      "GROUP BY owner_id").isLeft)
    assert(db.select("SELECT owner_id, grouping(id) AS g, count(*) AS n FROM cars " +
      "GROUP BY ROLLUP(owner_id)").isLeft)
    // statistical aggregates execute
    val st = db.select("SELECT owner_id, round(stddev(id), 4) AS sd, " +
      "round(median(id), 1) AS md FROM cars GROUP BY owner_id " +
      "ORDER BY owner_id").toOption.get
    assert(st.collect().length == 2)
  }

  test("correlated HAVING subqueries join per-key aggregates on group keys") {
    val db = demoDb()
    db.query("INSERT INTO cars VALUES (3, 'Cybertruck', 1)")
    // owners with more cars than people records of that id (Elon: 2 > 1)
    val df = db.select("SELECT owner_id, count(*) AS n FROM cars " +
      "GROUP BY owner_id HAVING count(*) > " +
      "(SELECT count(*) FROM people p WHERE p.id = owner_id) " +
      "ORDER BY owner_id").toOption.get
    assert(df.collect().toSeq == Seq(Row(1, 2L)))
    // empty correlated set → count coalesces to 0, group survives the >
    db.query("INSERT INTO cars VALUES (4, 'Batmobile', 99)")
    val empty = db.select("SELECT owner_id, count(*) AS n FROM cars " +
      "GROUP BY owner_id HAVING count(*) > " +
      "(SELECT count(*) FROM people p WHERE p.id = owner_id) " +
      "ORDER BY owner_id").toOption.get
    assert(empty.collect().toSeq == Seq(Row(1, 2L), Row(99, 1L)))
    // a correlation key that is not a GROUP BY key is rejected
    assert(db.select("SELECT owner_id, count(*) AS n FROM cars " +
      "GROUP BY owner_id HAVING count(*) > " +
      "(SELECT count(*) FROM people p WHERE p.name = model)").isLeft)
  }

  test("EXISTS / IN subqueries in HAVING") {
    val db = demoDb()
    db.query("INSERT INTO cars VALUES (3, 'Cybertruck', 1), (4, 'Batmobile', 99)")
    // correlated EXISTS: only owner groups with a people record survive
    val ex = db.select("SELECT owner_id, count(*) AS n FROM cars " +
      "GROUP BY owner_id HAVING EXISTS " +
      "(SELECT p.id FROM people p WHERE p.id = owner_id) " +
      "ORDER BY owner_id").toOption.get
    assert(ex.collect().toSeq == Seq(Row(1, 2L), Row(2, 1L)))
    // correlated NOT EXISTS: the ownerless group
    val nex = db.select("SELECT owner_id, count(*) AS n FROM cars " +
      "GROUP BY owner_id HAVING NOT EXISTS " +
      "(SELECT p.id FROM people p WHERE p.id = owner_id) " +
      "ORDER BY owner_id").toOption.get
    assert(nex.collect().toSeq == Seq(Row(99, 1L)))
    // an aggregate probe: groups whose count appears in a subquery
    val in = db.select("SELECT owner_id, count(*) AS n FROM cars " +
      "GROUP BY owner_id HAVING count(*) IN (SELECT id FROM people WHERE id >= 2) " +
      "ORDER BY owner_id").toOption.get
    assert(in.collect().toSeq == Seq(Row(1, 2L)))
    // null-aware NOT IN in HAVING: a NULL in the subquery empties the result
    db.query("CREATE TABLE hn (k INT)")
    db.query("INSERT INTO hn VALUES (1), (NULL)")
    val nin = db.select("SELECT owner_id, count(*) AS n FROM cars " +
      "GROUP BY owner_id HAVING count(*) NOT IN (SELECT k FROM hn)").toOption.get
    assert(nin.count() == 0)
    // correlation on a non-group-key is rejected
    assert(db.select("SELECT owner_id, count(*) AS n FROM cars GROUP BY owner_id " +
      "HAVING EXISTS (SELECT p.id FROM people p WHERE p.name = model)").isLeft)
    // subqueries under OR in HAVING (boolean-marker joins post-agg):
    // big groups, plus any group whose owner has a people record
    val orH = db.select("SELECT owner_id, count(*) AS n FROM cars " +
      "GROUP BY owner_id HAVING count(*) >= 2 OR EXISTS " +
      "(SELECT p.id FROM people p WHERE p.id = owner_id) " +
      "ORDER BY owner_id").toOption.get
    assert(orH.collect().toSeq == Seq(Row(1, 2L), Row(2, 1L)))
    // an aggregate probe IN a subquery as one disjunct
    val orH2 = db.select("SELECT owner_id, count(*) AS n FROM cars " +
      "GROUP BY owner_id HAVING owner_id = 99 OR count(*) IN " +
      "(SELECT id FROM people WHERE id >= 2) ORDER BY owner_id").toOption.get
    assert(orH2.collect().toSeq == Seq(Row(1, 2L), Row(99, 1L)))
  }

  test("correlation is restricted to top-level WHERE equalities") {
    val db = demoDb()
    // non-equality correlation and correlated OR branches are legal in
    // EXISTS (they ride the semi join condition as residual conjuncts) …
    val gt = db.select("SELECT name FROM people p WHERE EXISTS " +
      "(SELECT c.id FROM cars c WHERE c.owner_id > p.id)").toOption.get
    assert(gt.collect().map(_.getString(0)).toSeq == Seq("Elon"))
    val or = db.select("SELECT name FROM people p WHERE EXISTS " +
      "(SELECT c.id FROM cars c WHERE c.owner_id = p.id OR c.id = 1) " +
      "ORDER BY id").toOption.get
    assert(or.collect().length == 3)
    // … and a scalar subquery's one inequality conjunct lowers as a
    // running aggregate in WHERE as in the SELECT list (p.id = 1: the
    // cars of owners past 1 have min id 2 < 20; p.id = 2: none, NULL)
    val ineq = db.select("SELECT name FROM people p WHERE age > " +
      "(SELECT min(c.id) FROM cars c WHERE c.owner_id > p.id)").toOption.get
    assert(ineq.collect().map(_.getString(0)).toSeq == Seq("Elon"))
    // correlated reference in the projection
    assert(db.query("SELECT name FROM people p WHERE EXISTS " +
      "(SELECT p.id FROM cars c WHERE c.owner_id = p.id)").isLeft)
    // correlated subquery must not aggregate or LIMIT
    assert(db.query("SELECT name FROM people p WHERE EXISTS " +
      "(SELECT count(*) FROM cars c WHERE c.owner_id = p.id)").isLeft)
    assert(db.query("SELECT name FROM people p WHERE EXISTS " +
      "(SELECT c.id FROM cars c WHERE c.owner_id = p.id LIMIT 1)").isLeft)
  }

  test("correlated aggregate LATERAL: per-key stats including empty groups") {
    val db = demoDb()
    val r = db.select("SELECT p.name, t.n, t.mx FROM people p, " +
      "LATERAL (SELECT count(*) AS n, max(c.id) AS mx FROM cars c " +
      "WHERE c.owner_id = p.id) t ORDER BY p.id").toOption.get
    // Marty owns no cars: the empty group still yields a row with
    // count = 0 and a NULL max (SQL LATERAL-aggregate semantics)
    assert(r.collect().toSeq == Seq(
      Row("Elon", 1L, 1),
      Row("Dr. Emmett L. „Doc“ Brown", 1L, 2),
      Row("Marty McFly", 0L, null)))
    // WHERE over the lateral's aggregate filters after the fused join
    val f = db.select("SELECT p.name FROM people p, " +
      "LATERAL (SELECT count(*) AS n FROM cars c WHERE c.owner_id = p.id) t " +
      "WHERE t.n = 0").toOption.get
    assert(f.collect().map(_.getString(0)).toSeq == Seq("Marty McFly"))
    // a NULL outer key takes the EMPTY group, not the NULL-key group:
    // `lk.k = NULL` is UNKNOWN for every inner row (round-14 fuzz found
    // the completion join matching NULL-to-NULL null-safely)
    db.query("CREATE TABLE lo (id INT, a INT)")
    db.query("INSERT INTO lo VALUES (1, 5), (2, NULL)")
    db.query("CREATE TABLE lk (k INT, v INT)")
    db.query("INSERT INTO lk VALUES (5, 10), (NULL, 99)")
    val nl = db.select("SELECT lo.id, t.n, t.mx FROM lo, " +
      "LATERAL (SELECT count(*) AS n, max(v) AS mx FROM lk " +
      "WHERE lk.k = lo.a) t ORDER BY lo.id").toOption.get
    assert(nl.collect().toSeq == Seq(Row(1, 1L, 10), Row(2, 0L, null)))
    // LEFT JOIN LATERAL … ON 1 = 1 over an aggregate body gives its
    // FROM-list twin's rows (every outer row owns one completed row)
    def sorted(sql: String) =
      db.select(sql).toOption.get.collect().map(_.toString).toSeq.sorted
    val step = sorted("SELECT p.name, t.n FROM people p LEFT JOIN " +
      "LATERAL (SELECT count(*) AS n FROM cars c WHERE c.owner_id = p.id) t " +
      "ON 1 = 1")
    assert(step.nonEmpty && step == sorted("SELECT p.name, t.n FROM people p, " +
      "LATERAL (SELECT count(*) AS n FROM cars c WHERE c.owner_id = p.id) t"))
  }

  test("FROM-list LATERAL key equalities survive RIGHT/FULL join steps") {
    val db = demoDb()
    // a car owned by nobody: the RIGHT join must null-extend its row,
    // which a lateral key equality demoted to a post-join WHERE would
    // wrongly filter away (NULL = NULL is not TRUE)
    db.query("INSERT INTO cars VALUES (3, 'Ghost', 99)")
    val r = db.select("SELECT p.name, t.model, x.id FROM people p, " +
      "LATERAL (SELECT c.model FROM cars c WHERE c.owner_id = p.id) t " +
      "RIGHT JOIN cars x ON x.owner_id = p.id ORDER BY x.id").toOption.get
    assert(r.collect().toSeq == Seq(
      Row("Elon", "Tesla Model 3", 1),
      Row("Dr. Emmett L. „Doc“ Brown", "DeLorean DMC-12", 2),
      Row(null, null, 3)))
  }

  test("subqueries under NOT: three-valued markers keep NULL and FALSE apart") {
    val db = demoDb()
    // a NULL owner_id poisons every no-match IN to UNKNOWN
    db.query("INSERT INTO cars VALUES (3, 'Batmobile', NULL)")
    // NOT over (IN OR plain): every person drops — Elon via the TRUE
    // disjunct, Doc and Marty via UNKNOWN (a 2-valued marker would
    // wrongly keep Doc as NOT(FALSE OR FALSE))
    val notOr = db.select("SELECT name FROM people p WHERE NOT " +
      "(age IN (SELECT owner_id FROM cars) OR id = 1)").toOption.get
    assert(notOr.collect().isEmpty)
    // null-aware NOT IN under OR (the mixed-marker path): NOT IN is never
    // TRUE against a NULL-bearing set, so only id = 1 keeps a row
    val ninOr = db.select("SELECT name FROM people WHERE " +
      "age NOT IN (SELECT owner_id FROM cars) OR id = 1").toOption.get
    assert(ninOr.collect().map(_.getString(0)).toSeq == Seq("Elon"))
    // NOT (EXISTS ... OR plain) — EXISTS is two-valued, NULL age drops
    val notEx = db.select("SELECT name FROM people p WHERE NOT (EXISTS " +
      "(SELECT c.id FROM cars c WHERE c.owner_id = p.id) OR age = 20)")
      .toOption.get
    assert(notEx.collect().isEmpty)
  }

  test("subqueries inside CASE conditions (non-aggregate projections and WHERE)") {
    val db = demoDb()
    db.query("INSERT INTO cars VALUES (3, 'Batmobile', NULL)")
    val cls = db.select("SELECT name, CASE WHEN EXISTS (SELECT c.id FROM cars c " +
      "WHERE c.owner_id = p.id) THEN 'has' ELSE 'none' END AS car " +
      "FROM people p ORDER BY id").toOption.get
    assert(cls.collect().map(r => (r.getString(0), r.getString(1))).toSeq == Seq(
      ("Elon", "has"), ("Dr. Emmett L. „Doc“ Brown", "has"), ("Marty McFly", "none")))
    // UNKNOWN from a null-bearing NOT IN takes the ELSE branch, never THEN
    val nin = db.select("SELECT id, CASE WHEN age NOT IN (SELECT owner_id FROM cars) " +
      "THEN 1 ELSE 0 END AS f FROM people ORDER BY id").toOption.get
    assert(nin.collect().map(_.getLong(1)).toSeq == Seq(0L, 0L, 0L))
    // a CASE carrying a subquery inside a WHERE comparison
    val w = db.select("SELECT name FROM people p WHERE CASE WHEN id IN " +
      "(SELECT owner_id FROM cars) THEN 1 ELSE 0 END = 1 ORDER BY id").toOption.get
    assert(w.collect().map(_.getString(0)).toSeq ==
      Seq("Elon", "Dr. Emmett L. „Doc“ Brown"))
    // aggregate scope still rejects CASE-condition subqueries (projection
    // and aggregate-argument positions)
    assert(db.select("SELECT age, CASE WHEN EXISTS (SELECT c.id FROM cars c " +
      "WHERE c.owner_id = p.id) THEN 1 ELSE 0 END AS f FROM people p " +
      "GROUP BY age").isLeft)
    assert(db.select("SELECT max(CASE WHEN id IN (SELECT owner_id FROM cars) " +
      "THEN 1 ELSE 0 END) AS m FROM people").isLeft)
  }

  test("recursive CTEs reject multiple or subquery-nested self-references") {
    val db = demoDb()
    // two FROM-position self-references: semi-naive frontier binding
    // would lose acc×delta combinations
    assert(db.select("WITH RECURSIVE r AS (SELECT 1 AS n UNION " +
      "SELECT a.n + b.n AS n FROM r a, r b WHERE a.n < 4) " +
      "SELECT n FROM r").isLeft)
    // self-reference inside a subquery expression: non-monotone
    assert(db.select("WITH RECURSIVE r AS (SELECT id AS n FROM people WHERE id = 1 " +
      "UNION SELECT p.id AS n FROM people p WHERE p.id NOT IN (SELECT n FROM r)) " +
      "SELECT n FROM r").isLeft)
    // exactly one self-reference still works
    val ok = db.select("WITH RECURSIVE r AS (SELECT 1 AS n UNION " +
      "SELECT n + 1 AS n FROM r WHERE n < 3) SELECT n FROM r ORDER BY n")
      .toOption.get
    assert(ok.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
  }

  test("materialized views: CTAS + stale reads + REFRESH + persistence") {
    val wh = Files.createTempDirectory("graft-mv-wh").toString
    val db = new GraftDatabase(spark, wh)
    db.query("CREATE TABLE src (k INT, v INT)")
    db.query("INSERT INTO src VALUES (1, 10), (1, 20), (2, 30)")
    val c = db.query("CREATE MATERIALIZED VIEW mv AS " +
      "SELECT k, sum(v) AS s FROM src GROUP BY k")
    assert(c.isRight, c)
    def readMv(g: GraftDatabase): Seq[(Int, Long)] =
      g.select("SELECT k, s FROM mv ORDER BY k").toOption.get
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(readMv(db) == Seq((1, 30L), (2, 30L)))
    // stale until refreshed
    db.query("INSERT INTO src VALUES (2, 5)")
    assert(readMv(db) == Seq((1, 30L), (2, 30L)))
    assert(db.query("REFRESH MATERIALIZED VIEW mv").isRight)
    assert(readMv(db) == Seq((1, 30L), (2, 35L)))
    // writes are rejected; DROP TABLE points at DROP MATERIALIZED VIEW
    assert(db.query("INSERT INTO mv VALUES (9, 9)").isLeft)
    assert(db.query("DELETE FROM mv").isLeft)
    assert(db.query("DROP TABLE mv").isLeft)
    // definition + data survive a catalog reload
    val db2 = new GraftDatabase(spark, wh)
    assert(readMv(db2) == Seq((1, 30L), (2, 35L)))
    db2.query("INSERT INTO src VALUES (3, 7)")
    assert(db2.query("REFRESH MATERIALIZED VIEW mv").isRight)
    assert(readMv(db2) == Seq((1, 30L), (2, 35L), (3, 7L)))
    // drop removes table + definition
    assert(db2.query("DROP MATERIALIZED VIEW mv").isRight)
    assert(db2.select("SELECT k FROM mv").isLeft)
    assert(db2.query("REFRESH MATERIALIZED VIEW mv").isLeft)
  }

  test("materialized views keep their bucket layout across REFRESH") {
    val db = demoDb()
    db.query("CREATE MATERIALIZED VIEW mvb CLUSTERED BY (owner_id) INTO 4 BUCKETS " +
      "AS SELECT owner_id, count(*) AS n FROM cars GROUP BY owner_id")
    db.query("INSERT INTO cars VALUES (3, 'Batmobile', 1)")
    assert(db.query("REFRESH MATERIALIZED VIEW mvb").isRight)
    val r = db.select("SELECT owner_id, n FROM mvb ORDER BY owner_id").toOption.get
    assert(r.collect().map(x => (x.getInt(0), x.getLong(1))).toSeq ==
      Seq((1, 2L), (2, 1L)))
    // the bucketed join over the refreshed image still avoids a shuffle
    // of the bucketed side (bucket spec survived the rewrite)
    val j = db.select("SELECT p.name, m.n FROM people p, mvb m " +
      "WHERE m.owner_id = p.id ORDER BY p.id").toOption.get
    assert(j.collect().map(x => (x.getString(0), x.getLong(1))).toSeq ==
      Seq(("Elon", 2L), ("Dr. Emmett L. „Doc“ Brown", 1L)))
  }

  test("set-op and WITH bodies inside LATERAL") {
    val db = demoDb()
    // uncorrelated set-op body: plain derived-table semantics
    val u = db.select("SELECT p.id, t.m FROM people p, " +
      "LATERAL (SELECT model AS m FROM cars WHERE id = 1 " +
      "UNION SELECT name AS m FROM people WHERE id = 3) t " +
      "WHERE p.id = 1 ORDER BY t.m").toOption.get
    assert(u.collect().map(_.getString(1)).toSeq == Seq("Marty McFly", "Tesla Model 3"))
    // correlated WITH body: the CTE desugars into the lateral SELECT
    val w = db.select("SELECT p.name, t.m FROM people p, " +
      "LATERAL (WITH pc AS (SELECT model, owner_id FROM cars) " +
      "SELECT model AS m FROM pc WHERE pc.owner_id = p.id) t " +
      "ORDER BY p.id").toOption.get
    assert(w.collect().map(_.getString(1)).toSeq ==
      Seq("Tesla Model 3", "DeLorean DMC-12"))
    // CORRELATED set-op body: per-key UNION — the correlated branch's
    // rows for the key, plus the uncorrelated branch completed over
    // every outer key (including keys with no cars)
    val cu = db.select("SELECT p.id, t.m FROM people p, " +
      "LATERAL (SELECT model AS m FROM cars c WHERE c.owner_id = p.id " +
      "UNION SELECT name AS m FROM people WHERE id = 3) t " +
      "ORDER BY p.id, t.m").toOption.get
    assert(cu.collect().map(x => (x.getInt(0), x.getString(1))).toSeq == Seq(
      (1, "Marty McFly"), (1, "Tesla Model 3"),
      (2, "DeLorean DMC-12"), (2, "Marty McFly"),
      (3, "Marty McFly")))
    // per-key EXCEPT: a key whose correlated set minus the uncorrelated
    // set is empty DROPS (CROSS JOIN LATERAL semantics)
    val ce = db.select("SELECT p.id, t.m FROM people p, " +
      "LATERAL (SELECT model AS m FROM cars c WHERE c.owner_id = p.id " +
      "EXCEPT SELECT model AS m FROM cars WHERE id = 1) t " +
      "ORDER BY p.id").toOption.get
    assert(ce.collect().map(x => (x.getInt(0), x.getString(1))).toSeq ==
      Seq((2, "DeLorean DMC-12")))
    // an aggregate branch is one completed row per key: the per-key
    // count UNION ALL a constant row, as written out by hand
    val ca = db.select("SELECT p.id, t.m FROM people p, " +
      "LATERAL (SELECT count(*) AS m FROM cars c WHERE c.owner_id = p.id " +
      "UNION ALL SELECT 0 AS m) t").toOption.get
    val byHand = db.select("SELECT p.id, (SELECT count(*) FROM cars c " +
      "WHERE c.owner_id = p.id) AS m FROM people p " +
      "UNION ALL SELECT p.id, 0 AS m FROM people p").toOption.get
    def sortedPairs(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(x => (x.getInt(0), x.getLong(1))).toSeq.sorted
    assert(sortedPairs(ca) == sortedPairs(byHand))
    assert(sortedPairs(ca) == Seq((1, 0L), (1, 1L), (2, 0L), (2, 1L), (3, 0L), (3, 0L)))
    // rejection surface: chain-level LIMIT and branches correlating on
    // DIFFERENT outer columns error loudly
    assert(db.select("SELECT p.id, t.m FROM people p, " +
      "LATERAL (SELECT model AS m FROM cars c WHERE c.owner_id = p.id " +
      "UNION SELECT name AS m FROM people LIMIT 1) t").isLeft)
    assert(db.select("SELECT p.id, t.m FROM people p, " +
      "LATERAL (SELECT model AS m FROM cars c WHERE c.owner_id = p.id " +
      "UNION ALL SELECT model AS m FROM cars c2 WHERE c2.owner_id = p.age) t")
      .isLeft)
  }

  test("expression GROUP BY keys as HAVING correlation keys") {
    val db = demoDb()
    // group by mod(id, 2); the HAVING EXISTS correlates an inner column
    // against the grouped EXPRESSION (joined on its post-agg alias)
    val r = db.select("SELECT mod(p.id, 2) AS par, count(*) AS n FROM people p " +
      "GROUP BY mod(p.id, 2) HAVING EXISTS (SELECT c.id FROM cars c " +
      "WHERE c.owner_id = mod(p.id, 2)) ORDER BY par").toOption.get
    assert(r.collect().map(x => (x.getLong(0), x.getLong(1))).toSeq == Seq((1L, 2L)))
    // correlated scalar form over the same expression key
    val sc = db.select("SELECT mod(p.id, 2) AS par, count(*) AS n FROM people p " +
      "GROUP BY mod(p.id, 2) HAVING count(*) > (SELECT count(*) FROM cars c " +
      "WHERE c.owner_id = mod(p.id, 2)) ORDER BY par").toOption.get
    assert(sc.collect().map(x => (x.getLong(0), x.getLong(1))).toSeq ==
      Seq((0L, 1L), (1L, 2L)))
    // a correlation against a NON-grouped expression still rejects
    assert(db.select("SELECT mod(p.id, 2) AS par, count(*) AS n FROM people p " +
      "GROUP BY mod(p.id, 2) HAVING EXISTS (SELECT c.id FROM cars c " +
      "WHERE c.owner_id = mod(p.id, 3))").isLeft)
  }

  test("a recursive CTE referenced twice runs its fixpoint once") {
    val db = demoDb()
    val before = Lowering.fixpointRuns
    val r = db.select("WITH RECURSIVE r AS (SELECT 1 AS n UNION " +
      "SELECT n + 1 AS n FROM r WHERE n < 4) " +
      "SELECT a.n AS an, b.n AS bn FROM r a, r b WHERE a.n = b.n ORDER BY an")
      .toOption.get
    assert(r.collect().map(x => (x.getLong(0), x.getLong(1))).toSeq ==
      (1L to 4L).map(i => (i, i)))
    assert(Lowering.fixpointRuns - before == 1L)
  }

  test("views substitute inside WITH RECURSIVE bodies") {
    val db = demoDb()
    db.query("CREATE VIEW pv AS SELECT id FROM people")
    val r = db.select("WITH RECURSIVE r AS (SELECT id AS n FROM pv WHERE id = 1 " +
      "UNION SELECT n + 1 AS n FROM r WHERE n < 3) SELECT n FROM r ORDER BY n")
      .toOption.get
    assert(r.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
  }

  test("UPDATE rejects duplicate SET targets") {
    val db = demoDb()
    assert(db.query("UPDATE people SET age = 1, age = 2").isLeft)
    assert(db.query("UPDATE people SET age = 1, AGE = 2 WHERE id = 1").isLeft)
  }

  test("LATERAL: correlated derived tables with per-key top-N") {
    val db = demoDb()
    db.query("INSERT INTO cars VALUES (3, 'Cybertruck', 1)")
    // top-1 car by id per person; carless people drop (CROSS JOIN LATERAL)
    val top1 = db.select("SELECT p.name, t.model FROM people p, " +
      "LATERAL (SELECT c.model FROM cars c WHERE c.owner_id = p.id " +
      "ORDER BY c.id DESC LIMIT 1) t ORDER BY p.id").toOption.get
    assert(top1.collect().toSeq == Seq(
      Row("Elon", "Cybertruck"),
      Row("Dr. Emmett L. „Doc“ Brown", "DeLorean DMC-12")))
    // without LIMIT: every matching row, with a computed item
    val all = db.select("SELECT p.name, t.m FROM people p, " +
      "LATERAL (SELECT upper(c.model) AS m FROM cars c WHERE c.owner_id = p.id) t " +
      "ORDER BY p.id, t.m").toOption.get
    assert(all.collect().map(_.getString(1)).toSeq ==
      Seq("CYBERTRUCK", "TESLA MODEL 3", "DELOREAN DMC-12"))
    // hidden key columns never leak through stars
    val star = db.select("SELECT t.* FROM people p, " +
      "LATERAL (SELECT c.model FROM cars c WHERE c.owner_id = p.id) t").toOption.get
    assert(star.columns.toSeq == Seq("model"))
    // correlated LIMIT without ORDER BY is rejected (top-N needs an order)
    assert(db.select("SELECT p.name FROM people p, " +
      "LATERAL (SELECT c.model FROM cars c WHERE c.owner_id = p.id LIMIT 1) t").isLeft)
    // grouped aggregate bodies stay rejected (group-less only)
    assert(db.select("SELECT p.name, t.n FROM people p, " +
      "LATERAL (SELECT model, count(*) AS n FROM cars c WHERE c.owner_id = p.id " +
      "GROUP BY model) t").isLeft)
    // LEFT JOIN LATERAL preserves outer rows with empty lateral sets
    val lj = db.select("SELECT p.name, t.model FROM people p LEFT JOIN " +
      "LATERAL (SELECT c.model FROM cars c WHERE c.owner_id = p.id " +
      "ORDER BY c.id DESC LIMIT 1) t ON 1 = 1 ORDER BY p.id").toOption.get
    assert(lj.collect().toSeq == Seq(
      Row("Elon", "Cybertruck"),
      Row("Dr. Emmett L. „Doc“ Brown", "DeLorean DMC-12"),
      Row("Marty McFly", null)))
    // RIGHT/FULL lateral steps are rejected
    assert(db.select("SELECT p.name FROM people p RIGHT JOIN " +
      "LATERAL (SELECT c.model FROM cars c WHERE c.owner_id = p.id) t " +
      "ON 1 = 1").isLeft)
  }

  test("subqueries under OR lower as boolean-marker joins") {
    val db = demoDb()
    // EXISTS disjunct: car owners, plus Elon by the age test
    val orEx = db.select("SELECT name FROM people p WHERE age = 20 OR EXISTS " +
      "(SELECT c.id FROM cars c WHERE c.owner_id = p.id) ORDER BY p.id").toOption.get
    assert(orEx.collect().map(_.getString(0)).toSeq ==
      Seq("Elon", "Dr. Emmett L. „Doc“ Brown"))
    // IN disjunct + NOT EXISTS disjunct mixed with a plain predicate
    val orIn = db.select("SELECT name FROM people p WHERE " +
      "p.id IN (SELECT owner_id FROM cars WHERE model LIKE 'D%') OR age < 25 " +
      "ORDER BY p.id").toOption.get
    assert(orIn.collect().map(_.getString(0)).toSeq ==
      Seq("Elon", "Dr. Emmett L. „Doc“ Brown"))
    // carless people OR under-21s: NOT EXISTS as a disjunct
    val orNex = db.select("SELECT name FROM people p WHERE age = 20 OR NOT EXISTS " +
      "(SELECT c.id FROM cars c WHERE c.owner_id = p.id) ORDER BY p.id").toOption.get
    assert(orNex.collect().map(_.getString(0)).toSeq ==
      Seq("Elon", "Marty McFly"))
    // a correlated scalar disjunct
    val orSc = db.select("SELECT name FROM people p WHERE age = 30 OR 2 <= " +
      "(SELECT count(*) FROM cars c WHERE c.owner_id = p.id) ORDER BY p.id").toOption.get
    assert(orSc.collect().map(_.getString(0)).toSeq ==
      Seq("Dr. Emmett L. „Doc“ Brown"))
    db.query("INSERT INTO cars VALUES (3, 'Cybertruck', 1)")
    val orSc2 = db.select("SELECT name FROM people p WHERE age = 30 OR 2 <= " +
      "(SELECT count(*) FROM cars c WHERE c.owner_id = p.id) ORDER BY p.id").toOption.get
    assert(orSc2.collect().map(_.getString(0)).toSeq ==
      Seq("Elon", "Dr. Emmett L. „Doc“ Brown"))
  }

  test("outer joins: LEFT/RIGHT/FULL with ON attached, WHERE after the join") {
    val db = demoDb()
    val l = db.select("SELECT name, model FROM people p LEFT JOIN cars c " +
      "ON p.id = c.owner_id ORDER BY p.id").toOption.get
    assert(l.collect().toSeq == Seq(
      Row("Elon", "Tesla Model 3"),
      Row("Dr. Emmett L. „Doc“ Brown", "DeLorean DMC-12"),
      Row("Marty McFly", null)))
    // compound ON condition: non-matching rows null out, not filter out
    val lc = db.select("SELECT name, model FROM people p LEFT JOIN cars c " +
      "ON p.id = c.owner_id AND c.model LIKE 'T%' ORDER BY p.id").toOption.get
    assert(lc.collect().toSeq == Seq(
      Row("Elon", "Tesla Model 3"),
      Row("Dr. Emmett L. „Doc“ Brown", null),
      Row("Marty McFly", null)))
    // WHERE on the outer-joined table evaluates AFTER the join (IS NULL
    // probes the unmatched rows)
    val wn = db.select("SELECT name FROM people p LEFT JOIN cars c " +
      "ON p.id = c.owner_id WHERE model IS NULL").toOption.get
    assert(wn.collect().map(_.getString(0)).toSeq == Seq("Marty McFly"))
    // RIGHT JOIN: unowned car survives with null owner name
    db.query("INSERT INTO cars VALUES (9, 'KITT', 7)")
    val r = db.select("SELECT name, model FROM people p RIGHT JOIN cars c " +
      "ON p.id = c.owner_id ORDER BY model").toOption.get
    assert(r.collect().toSeq == Seq(
      Row("Dr. Emmett L. „Doc“ Brown", "DeLorean DMC-12"),
      Row(null, "KITT"),
      Row("Elon", "Tesla Model 3")))
    // FULL OUTER: both dangling sides survive
    val fo = db.select("SELECT name, model FROM people p FULL OUTER JOIN cars c " +
      "ON p.id = c.owner_id ORDER BY model").toOption.get
    assert(fo.count() == 4)
    assert(fo.collect().exists(x => x.isNullAt(0) && x.getString(1) == "KITT"))
    assert(fo.collect().exists(x => x.getString(0) == "Marty McFly" && x.isNullAt(1)))
    // an inner join AFTER an outer join applies to the outer join's
    // RESULT: an ON over the null-extended side drops unmatched rows
    // (Marty's c.id is NULL, so the c2 inner step eliminates him) …
    val mixed = db.select("SELECT name, c.model FROM people p LEFT JOIN cars c " +
      "ON p.id = c.owner_id JOIN cars c2 ON c2.id = c.id ORDER BY name").toOption.get
    assert(mixed.collect().toSeq == Seq(
      Row("Dr. Emmett L. „Doc“ Brown", "DeLorean DMC-12"),
      Row("Elon", "Tesla Model 3")))
    // … while an ON over the preserved side keeps the null-extended rows
    val keep = db.select("SELECT p.name, model FROM people p LEFT JOIN cars c " +
      "ON p.id = c.owner_id JOIN people p2 ON p2.id = p.id ORDER BY p.id").toOption.get
    assert(keep.count() == 3)
    assert(keep.collect().exists(x => x.getString(0) == "Marty McFly" && x.isNullAt(1)))
    // ON may not reference a LATER step's table
    assert(db.query("SELECT name FROM people p LEFT JOIN cars c ON p.id = c2.owner_id " +
      "LEFT JOIN cars c2 ON c2.id = p.id").isLeft)
    // a WHERE on the LEFT side of a RIGHT JOIN evaluates AFTER the join
    // (pushing it below would change which right rows null-extend):
    // Elon (20) fails age > 21 post-join, so Tesla must NOT reappear
    // null-extended, and KITT's null age fails too
    val rw = db.select("SELECT name, model FROM people p RIGHT JOIN cars c " +
      "ON p.id = c.owner_id WHERE p.age > 21 ORDER BY model").toOption.get
    assert(rw.collect().toSeq == Seq(Row("Dr. Emmett L. „Doc“ Brown", "DeLorean DMC-12")))
  }

  test("derived tables in outer-join steps") {
    val db = demoDb()
    db.query("INSERT INTO cars VALUES (3, 'Cybertruck', 1)")
    // aggregate-then-outer-join: people with no cars null-extend the count
    val l = db.select("SELECT name, t.n FROM people p LEFT JOIN " +
      "(SELECT owner_id, count(*) AS n FROM cars GROUP BY owner_id) t " +
      "ON p.id = t.owner_id ORDER BY p.id").toOption.get
    assert(l.collect().toSeq == Seq(
      Row("Elon", 2L),
      Row("Dr. Emmett L. „Doc“ Brown", 1L),
      Row("Marty McFly", null)))
    // a derived table in an INNER step after an outer join: evaluates
    // against the outer join's result, dropping the null-extended row
    val mixed = db.select("SELECT name, model, t.n FROM people p LEFT JOIN cars c " +
      "ON p.id = c.owner_id JOIN " +
      "(SELECT owner_id, count(*) AS n FROM cars GROUP BY owner_id) t " +
      "ON t.owner_id = c.owner_id ORDER BY p.id, model").toOption.get
    assert(mixed.collect().toSeq == Seq(
      Row("Elon", "Cybertruck", 2L),
      Row("Elon", "Tesla Model 3", 2L),
      Row("Dr. Emmett L. „Doc“ Brown", "DeLorean DMC-12", 1L)))
    // an alias-less derived step side reads the synthetic name
    // (round 11 — DuckDB accepts bare `(SELECT …)` join sides)
    val bare = db.select("SELECT name FROM people p LEFT JOIN " +
      "(SELECT owner_id FROM cars) ON p.id = owner_id " +
      "WHERE owner_id IS NOT NULL ORDER BY p.id").toOption.get
    assert(bare.collect().length == 3) // Elon has two cars here
  }

  test("CREATE VIEW / DROP VIEW: stored queries substitute like CTEs") {
    val wh = Files.createTempDirectory("graft-view-wh").toString
    val db = new GraftDatabase(spark, wh)
    db.query("CREATE TABLE cars (id INT, model VARCHAR(50), owner_id INT)")
    db.query("INSERT INTO cars VALUES (1, 'Tesla', 1), (2, 'DeLorean', 2), (3, 'Cyber', 1)")
    assert(db.query("CREATE VIEW owner_counts AS SELECT owner_id, count(*) AS n " +
      "FROM cars GROUP BY owner_id").isRight)
    // views read like tables (including with aliases and further clauses)
    val v = db.select("SELECT o.owner_id, o.n FROM owner_counts o " +
      "WHERE o.n >= 2 ORDER BY o.owner_id").toOption.get
    assert(v.collect().toSeq == Seq(Row(1, 2L)))
    // a view over a view; CREATE validates the body eagerly
    assert(db.query("CREATE VIEW big_owners AS SELECT owner_id FROM owner_counts " +
      "WHERE n >= 2").isRight)
    assert(db.select("SELECT owner_id FROM big_owners").toOption.get.count() == 1)
    assert(db.query("CREATE VIEW bad AS SELECT nosuch FROM cars").isLeft)
    // name collisions in both directions
    assert(db.query("CREATE VIEW cars AS SELECT id FROM cars").isLeft)
    assert(db.query("CREATE TABLE owner_counts (x INT)").isLeft)
    assert(db.query("DROP TABLE owner_counts").isLeft) // it's a view
    // views persist across reopen (replayed in creation order)
    val db2 = new GraftDatabase(spark, wh)
    assert(db2.select("SELECT owner_id FROM big_owners").toOption.get.count() == 1)
    // drop; dependents were substituted at CREATE so they keep working
    assert(db2.query("DROP VIEW owner_counts").isRight)
    assert(db2.select("SELECT owner_id FROM owner_counts").isLeft)
    assert(db2.select("SELECT owner_id FROM big_owners").toOption.get.count() == 1)
    assert(db2.query("DROP VIEW IF EXISTS nosuch").isRight)
    assert(db2.query("DROP VIEW nosuch").isLeft)
  }

  test("WITH: CTEs desugar to derived tables at any reference depth") {
    val db = demoDb()
    db.query("INSERT INTO cars VALUES (3, 'Cybertruck', 1)")
    // basic CTE + alias, and the CTE name used bare
    val basic = db.select("WITH owners AS (SELECT owner_id, count(*) AS n " +
      "FROM cars GROUP BY owner_id) " +
      "SELECT name, o.n FROM people p JOIN owners o ON p.id = o.owner_id " +
      "ORDER BY p.id").toOption.get
    assert(basic.collect().toSeq == Seq(
      Row("Elon", 2L), Row("Dr. Emmett L. „Doc“ Brown", 1L)))
    // a CTE referencing an earlier CTE, joined in an outer step
    val chained = db.select("WITH owners AS (SELECT owner_id, count(*) AS n " +
      "FROM cars GROUP BY owner_id), " +
      "multi AS (SELECT owner_id, n FROM owners WHERE n >= 2) " +
      "SELECT name, m.n FROM people p LEFT JOIN multi m ON p.id = m.owner_id " +
      "ORDER BY p.id").toOption.get
    assert(chained.collect().toSeq == Seq(
      Row("Elon", 2L),
      Row("Dr. Emmett L. „Doc“ Brown", null),
      Row("Marty McFly", null)))
    // CTE visible inside a WHERE subquery
    val inSub = db.select("WITH rich AS (SELECT id FROM people WHERE age >= 30) " +
      "SELECT model FROM cars WHERE owner_id IN (SELECT id FROM rich) " +
      "ORDER BY model").toOption.get
    assert(inSub.collect().map(_.getString(0)).toSeq == Seq("DeLorean DMC-12"))
    // CTE under a set operation in the main query
    val unioned = db.select("WITH a AS (SELECT name FROM people WHERE age = 20) " +
      "SELECT name FROM a UNION ALL SELECT name FROM a ORDER BY name").toOption.get
    assert(unioned.count() == 2)
    // duplicate CTE names are parse errors
    assert(db.query("WITH a AS (SELECT id FROM people), a AS (SELECT id FROM people) " +
      "SELECT id FROM a").isLeft)
    // a set-op CTE body: union-all inside the CTE, aggregated outside
    val setCte = db.select("WITH ids AS (SELECT id AS k FROM people " +
      "UNION ALL SELECT owner_id AS k FROM cars) " +
      "SELECT k, count(*) AS n FROM ids GROUP BY k ORDER BY k").toOption.get
    assert(setCte.collect().toSeq == Seq(Row(1, 3L), Row(2, 2L), Row(3, 1L)))
    // a set-op derived table inline in FROM
    val setDer = db.select("SELECT t.k, count(*) AS n FROM " +
      "(SELECT id AS k FROM people UNION ALL SELECT owner_id AS k FROM cars) t " +
      "GROUP BY t.k ORDER BY t.k").toOption.get
    assert(setDer.collect().toSeq == Seq(Row(1, 3L), Row(2, 2L), Row(3, 1L)))
  }

  test("WITH RECURSIVE: fixpoint over the derived-table machinery") {
    val db = demoDb()
    // integer series — the base is a FROM-less SELECT
    val series = db.select("WITH RECURSIVE t AS (SELECT 1 AS n " +
      "UNION ALL SELECT n + 1 AS n FROM t WHERE n < 5) " +
      "SELECT n FROM t ORDER BY n").toOption.get
    assert(series.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    // graph closure with UNION semantics: the 1→2→3→1 cycle terminates
    // because only never-seen nodes re-enter the frontier
    db.query("CREATE TABLE edges (src INT, dst INT)")
    db.query("INSERT INTO edges VALUES (1, 2), (2, 3), (3, 1), (3, 4), (9, 10)")
    val reach = db.select("WITH RECURSIVE r AS (SELECT 1 AS node " +
      "UNION SELECT e.dst AS node FROM r JOIN edges e ON e.src = r.node) " +
      "SELECT node FROM r ORDER BY node").toOption.get
    assert(reach.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    // a recursive CTE feeding a later CTE and an aggregate
    val agg = db.select("WITH RECURSIVE t AS (SELECT 1 AS n " +
      "UNION ALL SELECT n + 1 AS n FROM t WHERE n < 10), " +
      "ev AS (SELECT n FROM t WHERE n % 2 = 0) " +
      "SELECT count(*) AS c, sum(n) AS s FROM ev").toOption.get
    assert(agg.collect().toSeq == Seq(Row(5L, 30L)))
    // self-reference without RECURSIVE is an error; so is a recursive
    // base referencing the CTE, or a non-UNION combiner
    assert(db.query("WITH t AS (SELECT n + 1 AS n FROM t) SELECT n FROM t").isLeft)
    assert(db.query("WITH RECURSIVE t AS (SELECT n AS n FROM t " +
      "UNION ALL SELECT 1 AS n) SELECT n FROM t").isLeft)
    assert(db.query("WITH RECURSIVE t AS (SELECT 1 AS n " +
      "INTERSECT SELECT n FROM t) SELECT n FROM t").isLeft)
  }

  test("UNION / UNION ALL chains with trailing ORDER BY and LIMIT") {
    val db = demoDb()
    val u = db.select("SELECT name FROM people WHERE id = 1 " +
      "UNION SELECT name FROM people WHERE id = 1").toOption.get
    assert(u.count() == 1)
    val ua = db.select("SELECT name FROM people WHERE id = 1 " +
      "UNION ALL SELECT name FROM people WHERE id = 1").toOption.get
    assert(ua.count() == 2)
    // left-assoc mixed chain: (a UNION ALL a) UNION b dedups at the end
    val mix = db.select("SELECT name FROM people WHERE id = 1 " +
      "UNION ALL SELECT name FROM people WHERE id = 1 " +
      "UNION SELECT name FROM people WHERE id = 2 ORDER BY name LIMIT 5").toOption.get
    assert(mix.collect().map(_.getString(0)).toSeq ==
      Seq("Dr. Emmett L. „Doc“ Brown", "Elon"))
    // column names come from the first branch
    val named = db.select("SELECT name AS who FROM people WHERE id = 1 " +
      "UNION SELECT model FROM cars WHERE id = 1").toOption.get
    assert(named.columns.toSeq == Seq("who"))
    // arity mismatch is an analyze error
    assert(db.query("SELECT name FROM people UNION SELECT id, model FROM cars").isLeft)
    // ORDER BY before the last branch is a parse error
    assert(db.query("SELECT name FROM people ORDER BY name UNION SELECT model FROM cars").isLeft)
  }

  test("INTERSECT and EXCEPT with standard precedence") {
    val db = demoDb()
    // owners 1,2 intersect people ids 1,2,3 -> 1,2
    val i = db.select("SELECT id FROM people INTERSECT SELECT owner_id FROM cars " +
      "ORDER BY id").toOption.get
    assert(i.collect().map(_.getInt(0)).toSeq == Seq(1, 2))
    // people ids minus owners -> 3
    val e = db.select("SELECT id FROM people EXCEPT SELECT owner_id FROM cars").toOption.get
    assert(e.collect().map(_.getInt(0)).toSeq == Seq(3))
    // precedence: a UNION b INTERSECT c = a UNION (b ∩ c); left-assoc
    // would instead give (a ∪ b) ∩ c = {1}
    val p = db.select("SELECT id FROM people WHERE id = 3 " +
      "UNION SELECT id FROM people INTERSECT SELECT owner_id FROM cars " +
      "ORDER BY id").toOption.get
    assert(p.collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    // bag semantics: ALL variants keep/remove per-occurrence
    db.query("INSERT INTO cars VALUES (3, 'Cybertruck', 1)")
    // owner bag {1,1,2} INTERSECT ALL people ids {1,2,3} -> {1,2}
    val ia = db.select("SELECT owner_id FROM cars INTERSECT ALL SELECT id FROM people " +
      "ORDER BY owner_id").toOption.get
    assert(ia.collect().map(_.getInt(0)).toSeq == Seq(1, 2))
    // owner bag {1,1,2} EXCEPT ALL {1} -> {1,2} (removes ONE occurrence)
    val ea = db.select("SELECT owner_id FROM cars EXCEPT ALL SELECT id FROM people WHERE id = 1 " +
      "ORDER BY owner_id").toOption.get
    assert(ea.collect().map(_.getInt(0)).toSeq == Seq(1, 2))
  }

  test("double literals flow through INSERT, WHERE, SET and comparisons") {
    val db = freshDb()
    assert(db.query("CREATE TABLE m (id INT, price DOUBLE)").isRight)
    assert(db.query("INSERT INTO m VALUES (1, 1.5), (2, 2.25), (3, -0.75), (4, 10)").isRight)
    val over = db.select("SELECT id FROM m WHERE price > 1.6 ORDER BY id").toOption.get
    assert(over.collect().map(_.getInt(0)).toSeq == Seq(2, 4))
    assert(db.query("UPDATE m SET price = 99.5 WHERE id = 3").isRight)
    val upd = db.select("SELECT price FROM m WHERE id = 3").toOption.get
    assert(upd.collect().map(_.getDouble(0)).toSeq == Seq(99.5))
    // BETWEEN with double bounds
    val mid = db.select("SELECT id FROM m WHERE price BETWEEN 1.0 AND 3.0 ORDER BY id").toOption.get
    assert(mid.collect().map(_.getInt(0)).toSeq == Seq(1, 2))
    // a double literal does not convert into an INT column
    assert(db.query("INSERT INTO m VALUES (5.5, 1.0)").isLeft)
  }

  test("join ORDER follows the statistics (DPccp parity) — flipping stats flips the plan") {
    // three-table comma-join; orders is the fact, customer/nation dims.
    // With equal edge selectivities the DP joins the CHEAPER dimension
    // first, so swapping the dims' injected cardinalities must flip the
    // leaf order AND the physical plan's scan order.
    def run(custRows: Long, natRows: Long): (Seq[String], String) = {
      val db = freshDb()
      db.registerParquet("orders", s"${SparkTestSession.sf0001}/orders.parquet")
      db.registerParquet("customer", s"${SparkTestSession.sf0001}/customer.parquet")
      db.registerParquet("nation", s"${SparkTestSession.sf0001}/nation.parquet")
      db.statistics.injectStats("orders", 1000000L,
        Map("o_custkey" -> 100000L))
      db.statistics.injectStats("customer", custRows,
        Map("c_custkey" -> custRows, "c_nationkey" -> math.min(custRows, 25L)))
      db.statistics.injectStats("nation", natRows, Map("n_nationkey" -> natRows))
      val df = db.select(
        "SELECT o_orderkey, c_name, n_name FROM orders o, customer c, nation n " +
          "WHERE o.o_custkey = c.c_custkey AND c.c_nationkey = n.n_nationkey").toOption.get
      (db.lastJoinOrder.get, df.queryExecution.executedPlan.toString)
    }
    // customer tiny, nation huge → join customer before nation
    val (orderA, planA) = run(custRows = 10L, natRows = 500000L)
    // customer huge, nation tiny → join nation (via customer's FK chain)
    val (orderB, planB) = run(custRows = 500000L, natRows = 10L)
    assert(orderA != orderB, s"stats flip did not change join order: $orderA")
    // the emitted order survives to the physical plan: scan order flips too
    def scanOrder(plan: String): Seq[String] =
      Seq("orders.parquet", "customer.parquet", "nation.parquet")
        .sortBy(t => plan.indexOf(t))
    assert(scanOrder(planA) != scanOrder(planB),
      s"physical scan order did not flip:\n$planA\n$planB")
    // no cartesian ever
    assert(!planA.contains("CartesianProduct") && !planB.contains("CartesianProduct"))
  }

  test("join selectivity from joined samples beats NDV on disjoint-domain keys") {
    val db = freshDb()
    // fact joins dima on k1 (overlapping domains) and dimb on k2 (DISJOINT
    // domains — the fact⋈dimb result is empty). The 1/max(NDV) formula
    // sees sel(k1) = sel(k2) = 1/20 and would join the SMALLER dima first
    // (card 60·10·0.05 = 30 < 60·20·0.05 = 60); the sample⋈sample
    // estimate sees the empty overlap and joins dimb first.
    assert(db.query("CREATE TABLE fact (k1 INT, k2 INT)").isRight)
    assert(db.query("CREATE TABLE dima (k1 INT, aname VARCHAR(10))").isRight)
    assert(db.query("CREATE TABLE dimb (k2 INT, bname VARCHAR(10))").isRight)
    val factRows = (0 until 60).map(i => s"(${i % 20}, ${1000 + i % 20})").mkString(", ")
    assert(db.query(s"INSERT INTO fact VALUES $factRows").isRight)
    assert(db.query("INSERT INTO dima VALUES " +
      (0 until 10).map(i => s"($i, 'a$i')").mkString(", ")).isRight)
    assert(db.query("INSERT INTO dimb VALUES " +
      (0 until 20).map(i => s"($i, 'b$i')").mkString(", ")).isRight)
    // estimator view: overlap ≈ 0.05, disjoint floors at half a sample hit
    def desc(n: String, cols: String*): Analyzer.TableDesc =
      Analyzer.TableDesc(n, cols.map(c => Analyzer.AttributeDesc(c, SqlType.SqlInt)))
    val selOverlap = db.statistics.estimateJoinSel(
      desc("fact", "k1", "k2"), "k1", desc("dima", "k1"), "k1").get
    val selDisjoint = db.statistics.estimateJoinSel(
      desc("fact", "k1", "k2"), "k2", desc("dimb", "k2"), "k2").get
    assert(selOverlap > 0.04, s"overlap sel $selOverlap")
    assert(selDisjoint < selOverlap / 10, s"disjoint sel $selDisjoint vs $selOverlap")
    // end-to-end: the DP joins fact with dimb FIRST (adjacent leaves)
    val df = db.select("SELECT f.k1 FROM fact f, dima a, dimb b " +
      "WHERE f.k1 = a.k1 AND f.k2 = b.k2").toOption.get
    assert(df.count() == 0)
    val order = db.lastJoinOrder.get
    assert(math.abs(order.indexOf("f") - order.indexOf("b")) == 1,
      s"expected f⋈b joined first, got $order")
  }

  test("bucketed tables: joins on the bucket key run without a shuffle exchange") {
    // suppress Spark's own size-based broadcast (the test tables are tiny)
    // AND our stats-driven hints (huge injected cardinalities below) so the
    // plan shows the co-located join path a 100 TB fact-fact join would use
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val db = freshDb()
      assert(db.query("CREATE TABLE fact (k INT, v INT) CLUSTERED BY (k) INTO 4 BUCKETS").isRight)
      assert(db.query("CREATE TABLE dim (k INT, name VARCHAR(10)) CLUSTERED BY (k) INTO 4 BUCKETS").isRight)
      assert(db.query("INSERT INTO fact VALUES (1, 10), (2, 20), (3, 30), (1, 11)").isRight)
      assert(db.query("INSERT INTO dim VALUES (1, 'a'), (2, 'b'), (4, 'd')").isRight)
      db.statistics.injectStats("fact", 10000000L, Map("k" -> 1000L))
      db.statistics.injectStats("dim", 10000000L, Map("k" -> 1000L))
      val df = db.select("SELECT v, name FROM fact f, dim d WHERE f.k = d.k").toOption.get
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed-key join should not shuffle:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scan should be bucketed:\n$plan")
      assert(df.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
        Set((10, "a"), (11, "a"), (20, "b")))
      // control: the same data unbucketed DOES shuffle
      val db2 = freshDb()
      assert(db2.query("CREATE TABLE fact (k INT, v INT)").isRight)
      assert(db2.query("CREATE TABLE dim (k INT, name VARCHAR(10))").isRight)
      assert(db2.query("INSERT INTO fact VALUES (1, 10), (2, 20)").isRight)
      assert(db2.query("INSERT INTO dim VALUES (1, 'a'), (2, 'b')").isRight)
      db2.statistics.injectStats("fact", 10000000L, Map("k" -> 1000L))
      db2.statistics.injectStats("dim", 10000000L, Map("k" -> 1000L))
      val plan2 = db2.select("SELECT v, name FROM fact f, dim d WHERE f.k = d.k")
        .toOption.get.queryExecution.executedPlan.toString
      assert(plan2.contains("Exchange hashpartitioning"),
        s"unbucketed control should shuffle:\n$plan2")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed tables survive DELETE/UPDATE rewrites and catalog reload") {
    val wh = Files.createTempDirectory("graft-wh").toString
    val db = new GraftDatabase(spark, wh)
    assert(db.query("CREATE TABLE b (k INT, v INT) CLUSTERED BY (k) INTO 2 BUCKETS").isRight)
    assert(db.query("INSERT INTO b VALUES (1, 1), (2, 2), (3, 3)").isRight)
    assert(db.query("DELETE FROM b WHERE k = 2").isRight)
    assert(db.query("UPDATE b SET v = 9 WHERE k = 3").isRight)
    val rows = db.select("SELECT k, v FROM b").toOption.get.orderBy("k").collect()
    assert(rows.toSeq == Seq(Row(1, 1), Row(3, 9)))
    // reload from the persisted catalog: bucket spec must come back
    val db2 = new GraftDatabase(spark, wh)
    val again = db2.select("SELECT k, v FROM b").toOption.get.orderBy("k").collect()
    assert(again.toSeq == Seq(Row(1, 1), Row(3, 9)))
  }

  test("external parquet fixtures register and join with dialect queries") {
    val db = freshDb()
    db.registerParquet("nation", s"${SparkTestSession.sf0001}/nation.parquet")
    db.registerParquet("region", s"${SparkTestSession.sf0001}/region.parquet")
    val df = db.select(
      "SELECT n_name, r_name FROM nation n, region r WHERE n.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'").toOption.get
    assert(df.count() == 5)
  }

  test("order by / limit execute; sort keys need not be projected") {
    val db = demoDb()
    val df = db.select("SELECT name FROM people ORDER BY age DESC LIMIT 2").toOption.get
    // NULL age sorts last under DESC in Spark (nulls last for desc)
    assert(df.collect().map(_.getString(0)).toSeq ==
      Seq("Dr. Emmett L. „Doc“ Brown", "Elon"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("group by with aggregates executes end-to-end") {
    val db = demoDb()
    db.query("INSERT INTO cars VALUES (3, 'Cybertruck', 1)")
    val df = db.select(
      "SELECT owner_id, count(*), min(model) FROM cars GROUP BY owner_id ORDER BY owner_id").toOption.get
    assert(df.columns.toSeq == Seq("owner_id", "count_star", "min_model"))
    assert(df.collect().toSeq == Seq(
      Row(1, 2L, "Cybertruck"), Row(2, 1L, "DeLorean DMC-12")))
    // join + group + aggregate
    val j = db.select(
      "SELECT name, count(*), avg(age) FROM people p, cars c WHERE p.id = c.owner_id GROUP BY name ORDER BY name").toOption.get
    assert(j.collect().toSeq == Seq(
      Row("Dr. Emmett L. „Doc“ Brown", 1L, 30.0), Row("Elon", 2L, 20.0)))
  }

  test("having filters groups, including aggregates not in the projection") {
    val db = demoDb()
    db.query("INSERT INTO cars VALUES (3, 'Cybertruck', 1)")
    val df = db.select(
      "SELECT owner_id, count(*) FROM cars GROUP BY owner_id HAVING count(*) >= 2 AND min(id) = 1").toOption.get
    assert(df.collect().toSeq == Seq(Row(1, 2L)))
    assert(!df.columns.exists(_.startsWith("__h_")), df.columns.mkString(","))
    // HAVING without aggregates/group is rejected
    assert(db.query("SELECT name FROM people HAVING count(*) > 1").isLeft)
    // aggregates are invalid in WHERE
    assert(db.query("SELECT name FROM people WHERE count(*) > 1").isLeft)
  }

  test("INSERT with an explicit column list") {
    val db = demoDb()
    // reordered columns; unlisted age inserts NULL
    assert(db.query("INSERT INTO people (name, id) VALUES ('Biff', 4)").isRight)
    val r = db.select("SELECT id, name, age FROM people WHERE id = 4").toOption.get
    assert(r.collect().toSeq == Seq(Row(4, "Biff", null)))
    // arity mismatches and unknown/duplicate columns error
    assert(db.query("INSERT INTO people (name, id) VALUES ('x')").isLeft)
    assert(db.query("INSERT INTO people (name, id) VALUES ('x', 5, 6)").isLeft)
    assert(db.query("INSERT INTO people (nosuch) VALUES (1)").isLeft)
    assert(db.query("INSERT INTO people (id, id) VALUES (1, 2)").isLeft)
    // column lists apply to INSERT ... SELECT too: reorder + NULL fill
    assert(db.query("INSERT INTO people (name, id) " +
      "SELECT name, id + 100 AS nid FROM people WHERE id = 4").isRight)
    val r2 = db.select("SELECT id, name, age FROM people WHERE id = 104").toOption.get
    assert(r2.collect().toSeq == Seq(Row(104, "Biff", null)))
  }

  test("JOIN USING and NATURAL JOIN semantics") {
    val db = freshDb()
    def run(sql: String): Unit = db.query(sql) match {
      case Left(e) => fail(s"$sql -> ${e.msg}")
      case Right(_) => ()
    }
    run("CREATE TABLE a (k INT, x INT)")
    run("CREATE TABLE b (k INT, y INT)")
    run("CREATE TABLE c (k INT, y INT, z INT)")
    run("INSERT INTO a VALUES (1, 10), (2, 20)")
    run("INSERT INTO b VALUES (1, 100), (3, 300)")
    run("INSERT INTO c VALUES (1, 100, 7), (2, 999, 8)")
    // * shows the merged column once; bare k resolves to the left side
    val u = db.select("SELECT * FROM a JOIN b USING (k)").toOption.get
    assert(u.columns.toSeq == Seq("k", "x", "y"))
    assert(u.collect().toSeq == Seq(Row(1, 10, 100)))
    // LEFT JOIN USING null-extends the right side, left k survives
    val l = db.select("SELECT k, y FROM a LEFT JOIN b USING (k) ORDER BY k").toOption.get
    assert(l.collect().toSeq == Seq(Row(1, 100), Row(2, null)))
    // NATURAL JOIN = USING over all common columns (here k AND y)
    val n = db.select("SELECT * FROM b NATURAL JOIN c").toOption.get
    assert(n.columns.toSeq == Seq("k", "y", "z"))
    assert(n.collect().toSeq == Seq(Row(1, 100, 7)))
    // chained USING over the same name stays unambiguous
    val ch = db.select("SELECT * FROM a JOIN b USING (k) JOIN c USING (k, y)").toOption.get
    assert(ch.columns.toSeq == Seq("k", "x", "y", "z"))
    assert(ch.collect().toSeq == Seq(Row(1, 10, 100, 7)))
    // RIGHT/FULL USING: the merged column is COALESCE(left, right) —
    // bare name and * read it; qualified refs still see each side
    val fr = db.select(
      "SELECT * FROM a FULL JOIN b USING (k) ORDER BY k").toOption.get
    assert(fr.columns.toSeq == Seq("k", "x", "y"))
    assert(fr.collect().toSeq == Seq(
      Row(1, 10, 100), Row(2, 20, null), Row(3, null, 300)))
    val rr = db.select(
      "SELECT k, a.k AS ak, y FROM a RIGHT JOIN b USING (k) ORDER BY k").toOption.get
    assert(rr.collect().toSeq == Seq(Row(1, 1, 100), Row(3, null, 300)))
    // merged bare name works in WHERE and GROUP BY
    val fw = db.select(
      "SELECT k FROM a FULL JOIN b USING (k) WHERE k > 1 ORDER BY k").toOption.get
    assert(fw.collect().toSeq == Seq(Row(2), Row(3)))
    val fg = db.select(
      "SELECT k, count(*) AS n FROM a FULL JOIN b USING (k) GROUP BY k ORDER BY k").toOption.get
    assert(fg.collect().toSeq == Seq(Row(1, 1L), Row(2, 1L), Row(3, 1L)))
    // NATURAL FULL JOIN rides the same machinery
    val nf = db.select("SELECT * FROM a NATURAL FULL JOIN b ORDER BY k").toOption.get
    assert(nf.columns.toSeq == Seq("k", "x", "y"))
    assert(nf.collect().toSeq == Seq(
      Row(1, 10, 100), Row(2, 20, null), Row(3, null, 300)))
    // unknown / duplicate USING columns reject
    assert(db.query("SELECT * FROM a JOIN b USING (nosuch)").isLeft)
    assert(db.query("SELECT * FROM a JOIN b USING (k, k)").isLeft)
  }

  private def asofRejection(on: String): String = {
    val db = freshDb()
    for (sql <- Seq("CREATE TABLE l (k INT, v INT)", "CREATE TABLE q (k INT, t INT, x INT)"))
      db.query(sql).fold(e => fail(s"$sql -> ${e.msg}"), _ => ())
    db.query(s"SELECT l.k FROM l ASOF JOIN q ON $on")
      .fold(_.msg, _ => fail(s"ASOF ON $on was accepted"))
  }

  test("ASOF JOIN without an inequality in its ON names the missing inequality") {
    assert(asofRejection("l.k = q.k") == "bad function call: ASOF JOIN requires one " +
      "inequality (<, <=, >, >=) between an outer operand and a joined-table operand in its ON")
  }

  test("ASOF JOIN with two inequalities in its ON asks for exactly one") {
    assert(asofRejection("l.k = q.k AND l.v >= q.t AND l.v <= q.x") ==
      "bad function call: ASOF JOIN takes exactly one inequality in its ON")
  }

  test("SEMI/ANTI JOIN scope and ASOF JOIN semantics") {
    val db = freshDb()
    def run(sql: String): Unit = db.query(sql) match {
      case Left(e) => fail(s"$sql -> ${e.msg}")
      case Right(_) => ()
    }
    run("CREATE TABLE l (k INT, v INT)")
    run("CREATE TABLE r (k INT, w INT)")
    run("INSERT INTO l VALUES (1, 10), (2, 20), (3, 30)")
    run("INSERT INTO r VALUES (1, 5), (1, 7), (3, 100)")
    // SEMI keeps matching left rows once (no duplication by two matches)
    val s = db.select("SELECT k, v FROM l SEMI JOIN r ON l.k = r.k ORDER BY k").toOption.get
    assert(s.collect().toSeq == Seq(Row(1, 10), Row(3, 30)))
    // ANTI keeps the complement; ON can filter the right side
    val a = db.select("SELECT k FROM l ANTI JOIN r ON l.k = r.k AND r.w < 50 ORDER BY k").toOption.get
    assert(a.collect().toSeq == Seq(Row(2), Row(3)))
    // the right side's columns are invisible outside the ON: SELECT,
    // WHERE, star expansion, and later steps all reject/skip them
    assert(db.query("SELECT r.w FROM l SEMI JOIN r ON l.k = r.k").isLeft)
    assert(db.query("SELECT w FROM l SEMI JOIN r ON l.k = r.k").isLeft)
    assert(db.query("SELECT k FROM l SEMI JOIN r ON l.k = r.k WHERE r.w > 0").isLeft)
    val st = db.select("SELECT * FROM l SEMI JOIN r ON l.k = r.k").toOption.get
    assert(st.columns.toSeq == Seq("k", "v"))
    // ASOF JOIN: nearest r.w <= l.v per key... here: largest w <= v
    run("CREATE TABLE q (k INT, t INT, x INT)")
    run("INSERT INTO q VALUES (1, 4, 100), (1, 9, 200), (2, 50, 300)")
    // for each l row: the q row with the same k and largest t <= v
    val asof = db.select(
      "SELECT l.k, l.v, q.x FROM l ASOF JOIN q ON l.k = q.k AND l.v >= q.t ORDER BY l.k").toOption.get
    assert(asof.collect().toSeq == Seq(Row(1, 10, 200)))
    // ASOF LEFT keeps unmatched left rows null-extended
    val asofL = db.select(
      "SELECT l.k, q.x FROM l ASOF LEFT JOIN q ON l.k = q.k AND l.v >= q.t ORDER BY l.k").toOption.get
    assert(asofL.collect().toSeq == Seq(Row(1, 200), Row(2, null), Row(3, null)))
    // reversed direction: smallest t STRICTLY greater than v
    run("INSERT INTO q VALUES (1, 40, 900)")
    val fwd = db.select(
      "SELECT l.k, q.t FROM l ASOF JOIN q ON l.k = q.k AND q.t > l.v ORDER BY l.k").toOption.get
    assert(fwd.collect().toSeq == Seq(Row(1, 40), Row(2, 50)))
    // ASOF requires exactly one usable inequality in the ON
    assert(db.query("SELECT l.k FROM l ASOF JOIN q ON l.k = q.k").isLeft)
    assert(db.query(
      "SELECT l.k FROM l ASOF JOIN q ON l.v >= q.t AND l.v <= q.x").isLeft)
    // a step-only residual conjunct prefilters inside the union-merge
    // path; a left-local one takes the candidate-join fallback — same
    // semantics either way
    val pre = db.select("SELECT l.k, q.x FROM l ASOF LEFT JOIN q " +
      "ON l.k = q.k AND l.v >= q.t AND q.x < 150 ORDER BY l.k").toOption.get
    assert(pre.collect().toSeq == Seq(Row(1, 100), Row(2, null), Row(3, null)))
    val fb = db.select("SELECT l.k, q.x FROM l ASOF LEFT JOIN q " +
      "ON l.k = q.k AND l.v >= q.t AND l.v < 15 ORDER BY l.k").toOption.get
    assert(fb.collect().toSeq == Seq(Row(1, 200), Row(2, null), Row(3, null)))
  }

  test("scalar batch 8: lengths, sha256, unicode, similarity, date_diff") {
    val db = freshDb()
    def one(sql: String): Row = db.select(sql) match {
      case Right(df) => df.collect().head
      case Left(e)   => fail(s"$sql -> ${e.msg}")
    }
    val r = one("SELECT octet_length('abc') AS ol, bit_length('ab') AS bl, " +
      "unicode('A') AS u, unicode('') AS ue, ifnull(NULL, 7) AS if1, " +
      "hamming('karolin', 'kathrin') AS hm, " +
      "round(jaccard('abc', 'bcd'), 6) AS jc, " +
      "date_diff('day', DATE '1995-01-01', DATE '1995-03-01') AS dd, " +
      "date_diff('month', DATE '1995-01-31', DATE '1995-02-01') AS dm, " +
      "date_diff('year', DATE '1994-12-31', DATE '1995-01-01') AS dy")
    assert(r.getInt(0) == 3 && r.getInt(1) == 16)
    assert(r.getInt(2) == 65 && r.getInt(3) == -1)
    assert(r.getLong(4) == 7L)
    assert(r.getLong(5) == 3L)                      // kar/kat + o/h + l/i
    assert(math.abs(r.getDouble(6) - 0.5) < 1e-9)   // {b,c} / {a,b,c,d}
    assert(r.getLong(7) == 59L && r.getLong(8) == 1L && r.getLong(9) == 1L)
    // hamming on unequal lengths errors like DuckDB
    val boom =
      try { db.select("SELECT hamming('ab', 'abc') AS x").toOption
        .foreach(_.collect()); false }
      catch { case _: Throwable => true }
    assert(boom)
    // sha256 round-trips through the hex form
    assert(one("SELECT length(sha256('x')) AS n").getInt(0) == 64)
  }

  test("INTERVAL RANGE frames: time-windowed running aggregates") {
    val db = freshDb()
    db.query("CREATE TABLE ev (u INT, ts TIMESTAMP, v INT)").toOption.get
    db.query("INSERT INTO ev VALUES " +
      "(1, TIMESTAMP '2024-01-01 10:00:00', 1), " +
      "(1, TIMESTAMP '2024-01-01 10:30:00', 2), " +
      "(1, TIMESTAMP '2024-01-01 11:15:00', 4), " +
      "(2, TIMESTAMP '2024-01-01 09:00:00', 8)").toOption.get
    val r = db.select("SELECT u, v, sum(v) OVER (PARTITION BY u ORDER BY ts " +
      "RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS s " +
      "FROM ev ORDER BY u, ts").toOption.get
    // 10:00→1; 10:30→1+2; 11:15→2+4 (10:00 is 75 min back, outside)
    assert(r.collect().map(_.getLong(2)).toSeq == Seq(1L, 3L, 6L, 8L))
    // rejections: ROWS + INTERVAL, non-temporal key, mixed bounds
    assert(db.query("SELECT sum(v) OVER (ORDER BY ts ROWS BETWEEN " +
      "INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS s FROM ev").isLeft)
    assert(db.query("SELECT sum(v) OVER (ORDER BY v RANGE BETWEEN " +
      "INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS s FROM ev").isLeft)
    assert(db.query("SELECT sum(v) OVER (ORDER BY ts RANGE BETWEEN " +
      "INTERVAL 1 HOUR PRECEDING AND 3 FOLLOWING) AS s FROM ev").isLeft)
  }

  test("string subscript and slice via the bracket postfix") {
    val db = freshDb()
    def one(sql: String): Row = db.select(sql) match {
      case Right(df) => df.collect().head
      case Left(e)   => fail(s"$sql -> ${e.msg}")
    }
    val r = one("SELECT 'abcdef'[2] AS c, 'abcdef'[2:4] AS s, " +
      "'abcdef'[-1] AS last, 'abcdef'[0] AS zero, 'abcdef'[9] AS oob")
    assert(r.getString(0) == "b" && r.getString(1) == "bcd")
    assert(r.getString(2) == "f" && r.getString(3) == "" && r.getString(4) == "")
    // negative bounds count from the end: n → len + n + 1, clamped,
    // hi < lo reads '' (DuckDB-probed values)
    val n = one("SELECT 'hello'[2:-1] AS a, 'hello'[-3:-1] AS b, " +
      "'hello'[-100:2] AS c, 'hello'[2:0] AS d, 'hello'[4:2] AS e, " +
      "'hello'[-3:5] AS f, 'hello'[2:100] AS g")
    assert(n.getString(0) == "ello" && n.getString(1) == "llo")
    assert(n.getString(2) == "he" && n.getString(3) == "" && n.getString(4) == "")
    assert(n.getString(5) == "llo" && n.getString(6) == "ello")
    // column base + computed bounds
    db.query("CREATE TABLE ss (t VARCHAR(12), i INT)").toOption.get
    db.query("INSERT INTO ss VALUES ('hello', 2)").toOption.get
    val c = one("SELECT t[i] AS a, t[i:i+2] AS b FROM ss")
    assert(c.getString(0) == "e" && c.getString(1) == "ell")
  }

  test("DECIMAL(p,s): exact cents without the round(x*100) workaround") {
    val db = freshDb()
    def run(sql: String): Unit = db.query(sql) match {
      case Left(e) => fail(s"$sql -> ${e.msg}")
      case Right(_) => ()
    }
    run("CREATE TABLE dc (id INT, amt DECIMAL(12, 2))")
    run("INSERT INTO dc VALUES (1, 10.05), (2, 0.10), (3, '3.333')")
    def bd(sql: String): String =
      db.select(sql).toOption.getOrElse(fail(s"rejected: $sql"))
        .collect().head.get(0).toString
    // string literal rounds to scale at insert; sum is EXACT
    assert(bd("SELECT sum(amt) AS s FROM dc") == "13.48")
    // 0.1 + 0.2-style float traps don't exist in decimal arithmetic
    run("INSERT INTO dc VALUES (4, 0.1), (5, 0.2)")
    assert(bd("SELECT sum(amt) AS s FROM dc WHERE id >= 4") == "0.30")
    // arithmetic keeps decimal typing; casts round-trip
    assert(bd("SELECT amt * 2 AS d FROM dc WHERE id = 1") == "20.10")
    assert(bd("SELECT CAST(amt AS DOUBLE) AS d FROM dc WHERE id = 1") == "10.05")
    assert(bd("SELECT CAST('7.125' AS DECIMAL(6, 2)) AS d") == "7.13")
    // precision overflow rejects at insert
    assert(db.query("INSERT INTO dc VALUES (9, 123456789012.34)").isLeft)
    // DIVISION on decimals returns DOUBLE (DuckDB parity — Spark's own
    // decimal division precision rules never engage): 10.05/2 = 5.025,
    // three decimals, impossible under Spark's dec(12,2)-preserving read
    val dv = db.select("SELECT amt / 2 AS h, amt / amt AS one FROM dc WHERE id = 1")
      .fold(e => fail(e.msg), identity).collect().head
    assert(dv.getDouble(0) == 5.025 && dv.getDouble(1) == 1.0)
    // division and modulo by ZERO read NULL on both engines (DuckDB
    // returns NULL; Spark 4's ANSI default would raise — try_divide)
    val dz = db.select("SELECT amt / 0 AS a, id % 0 AS b, mod(id, 0) AS c, " +
      "10 / 0 AS d FROM dc WHERE id = 1").fold(e => fail(e.msg), identity)
      .collect().head
    assert((0 to 3).forall(dz.isNullAt))
    // DECIMAL defaults to (18, 3); comparisons cross numeric widths
    assert(bd("SELECT CAST(1 AS DECIMAL) AS d") == "1.000")
    assert(db.select("SELECT id FROM dc WHERE amt > 10 ORDER BY id")
      .toOption.get.collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("window calls nested in projection expressions") {
    val db = freshDb()
    def run(sql: String): Unit = db.query(sql) match {
      case Right(_) => ()
      case Left(e)  => fail(s"$sql -> ${e.msg}")
    }
    run("CREATE TABLE nw (g INT, k INT, v INT)")
    run("INSERT INTO nw VALUES (1, 1, 10), (1, 2, 20), (2, 1, 5)")
    // arithmetic over a window result, single level
    val r = db.select("SELECT g, k, v - lag(v, 1, 0) OVER " +
      "(PARTITION BY g ORDER BY k) AS delta, " +
      "100 * v / sum(v) OVER (PARTITION BY g) AS share " +
      "FROM nw ORDER BY g, k")
      .fold(e => fail(e.msg), _.collect().toSeq
        .map(x => (x.get(2).toString.toLong, math.round(x.get(3).toString.toDouble))))
    assert(r == Seq((10L, 33L), (10L, 67L), (5L, 100L)))
    // function-wrapped window results (the array_to_string shape)
    val r2 = db.select("SELECT g, array_to_string(array_agg(v) OVER " +
      "(PARTITION BY g ORDER BY k), ',') AS keys FROM nw ORDER BY g, k")
      .fold(e => fail(e.msg), _.collect().toSeq.map(_.getString(1)))
    assert(r2 == Seq("10", "10,20", "5"))
    // plain top-level window items still work (unwrap path)
    val r3 = db.select("SELECT g, sum(v) OVER (PARTITION BY g) AS s " +
      "FROM nw ORDER BY g, k").fold(e => fail(e.msg),
        _.collect().toSeq.map(_.getLong(1)))
    assert(r3 == Seq(30L, 30L, 5L))
    // aggregate scope: the hidden window attaches post-aggregation and
    // the expression evaluates over it (was rejected before round 13)
    val r4 = db.select("SELECT g, count(*) + rank() OVER (ORDER BY g) AS x " +
      "FROM nw GROUP BY g ORDER BY g").fold(e => fail(e.msg),
        _.collect().toSeq.map(_.getLong(1)))
    assert(r4 == Seq(3L, 3L))
  }

  test("windowed string_agg/array_agg: running collects, NULL rules") {
    val db = freshDb()
    def run(sql: String): Unit = db.query(sql) match {
      case Right(_) => ()
      case Left(e)  => fail(s"$sql -> ${e.msg}")
    }
    run("CREATE TABLE wa (g INT, k INT, v VARCHAR(5))")
    run("INSERT INTO wa VALUES (1, 1, 'a'), (1, 2, NULL), (1, 3, 'c'), " +
      "(2, 1, 'z')")
    val r = db.select(
      "SELECT g, k, string_agg(v, '|') OVER (PARTITION BY g ORDER BY k) " +
        "AS s FROM wa ORDER BY g, k")
      .fold(e => fail(e.msg), _.collect().toSeq.map(_.getString(2)))
    // string_agg SKIPS NULLs: running collects a, a, a|c then z
    assert(r == Seq("a", "a", "a|c", "z"))
    // array_agg KEEPS NULLs (count them via the inner frame)
    val ra = db.select(
      "SELECT g, k, len(aa) AS n FROM (SELECT g, k, " +
        "array_agg(v) OVER (PARTITION BY g ORDER BY k) AS aa FROM wa) t " +
        "ORDER BY g, k")
      .fold(e => fail(e.msg), _.collect().toSeq.map(_.get(2).toString.toLong))
    assert(ra == Seq(1L, 2L, 3L, 1L))
    // OVER without ORDER BY rejects (nondeterministic collect)
    assert(db.query("SELECT string_agg(v, ',') OVER (PARTITION BY g) " +
      "AS s FROM wa").isLeft)
    // in-call ORDER BY + OVER rejects (ambiguous orders)
    assert(db.query("SELECT string_agg(v, ',' ORDER BY k) OVER " +
      "(PARTITION BY g ORDER BY k) AS s FROM wa").isLeft)
  }

  test("catalog type round-trip: every renderable type reopens") {
    val wh = java.nio.file.Files.createTempDirectory("graft-types").toString
    val db = new GraftDatabase(spark, wh)
    def run(sql: String): Unit = db.query(sql) match {
      case Right(_) => ()
      case Left(e)  => fail(s"$sql -> ${e.msg}")
    }
    run("CREATE TABLE alltypes (b BIGINT, i INT, s SMALLINT, d DOUBLE, " +
      "r REAL, t TIMESTAMP, dt DATE, bo BOOLEAN, de DECIMAL(10,2), " +
      "v VARCHAR(20), li INT[], ls VARCHAR(5)[])")
    run("INSERT INTO alltypes VALUES (1, 2, 3, 4.5, 5.5, " +
      "TIMESTAMP '2024-01-01 00:00:00', DATE '2024-01-02', TRUE, " +
      "12.34, 'x', [1, 2], ['a'])")
    // CTAS carrying struct/map columns persists those types too
    run("CREATE TABLE nested AS SELECT MAP {'k': 1} AS m, " +
      "{'a': 1, 'b': 'x'} AS st, [[1, 2], [3]] AS ll")
    // the nested types and VARBINARY are declarable in DDL as well
    run("CREATE TABLE bin (b VARBINARY(8), m MAP(VARCHAR(5), INT[]), " +
      "st STRUCT(a INT, 'my field' VARCHAR(3)), u UNION(n INT, s VARCHAR(4)))")
    run("INSERT INTO bin VALUES (NULL, NULL, NULL, NULL)")
    // a FRESH database over the same warehouse must load every type
    // (a miss here bricks the whole warehouse at open)
    val db2 = new GraftDatabase(spark, wh)
    assert(db2.select("SELECT i, de, li FROM alltypes")
      .fold(e => fail(e.msg), _.count()) == 1L)
    assert(db2.select("SELECT m['k'] AS v, struct_extract(st, 'a') AS a " +
      "FROM nested").fold(e => fail(e.msg), _.count()) == 1L)
    // EXPORT → IMPORT: the exported DDL spells every type in the grammar
    // IMPORT parses, so the imported tables carry the same columns
    val dir = Files.createTempDirectory("graft-types-export").toString
    db2.query(s"EXPORT DATABASE '$dir'").fold(e => fail(e.msg), identity)
    val db3 = freshDb()
    db3.query(s"IMPORT DATABASE '$dir'").fold(e => fail(e.msg), identity)
    for (t <- Seq("alltypes", "nested", "bin"))
      assert(db3.catalogTables(t).attributes == db.catalogTables(t).attributes, t)
    assert(db3.select("SELECT m['k'] AS v FROM nested")
      .fold(e => fail(e.msg), _.collect().toSeq.map(_.getSeq[Int](0))) ==
      Seq(Seq(1)))
  }

  test("ANALYZE rebuilds statistics; SET/RESET acknowledge as no-ops") {
    val db = demoDb()
    def done(sql: String): String = db.query(sql) match {
      case Right(db.Done(m)) => m
      case other             => fail(s"$sql -> $other")
    }
    assert(done("ANALYZE people").contains("analyzed 1 table(s)"))
    assert(done("ANALYZE").contains("table(s)"))
    assert(db.query("ANALYZE nope").isLeft)
    assert(done("SET threads = 4").contains("no-op"))
    assert(done("SET memory_limit TO '4GB'").contains("no-op"))
    assert(done("RESET threads").contains("no-op"))
    // stats actually refresh: insert bypassing... (normal inserts keep
    // stats online; ANALYZE must agree with the live rowcount)
    db.query("INSERT INTO people VALUES (99, 'Zed', 33)").toOption.get
    assert(done("ANALYZE people").contains("analyzed 1"))
  }

  test("generated columns: materialize on write, recompute on update") {
    val wh = java.nio.file.Files.createTempDirectory("graft-gen").toString
    val db = new GraftDatabase(spark, wh)
    def run(sql: String): Unit = db.query(sql) match {
      case Right(_) => ()
      case Left(e)  => fail(s"$sql -> ${e.msg}")
    }
    run("CREATE TABLE g (a INT, b INT GENERATED ALWAYS AS (a * 2), " +
      "c VARCHAR(20) GENERATED ALWAYS AS (upper(tag)) VIRTUAL, " +
      "tag VARCHAR(10))")
    // full-row VALUES arity excludes generated columns (DuckDB)
    run("INSERT INTO g VALUES (3, 'x'), (4, 'y')")
    def img(): Seq[(Int, Int, String, String)] =
      db.select("SELECT a, b, c, tag FROM g ORDER BY a")
        .fold(e => fail(e.msg), _.collect().toSeq
          .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getString(3))))
    assert(img() == Seq((3, 6, "X", "x"), (4, 8, "Y", "y")))
    // column lists skip generated too; explicit mention rejects
    run("INSERT INTO g (a) VALUES (5)")
    assert(db.query("INSERT INTO g (a, b) VALUES (6, 0)").isLeft)
    assert(db.query("INSERT INTO g SELECT 7, 0, 'x', 'z'").isLeft)
    // UPDATE of a source column RECOMPUTES dependents; direct SET rejects
    run("UPDATE g SET a = 10 WHERE a = 3")
    assert(img().take(1) == Seq((4, 8, "Y", "y")))
    assert(img().last == (10, 20, "X", "x"))
    assert(db.query("UPDATE g SET b = 1 WHERE a = 4").isLeft)
    // generators persist: a fresh database still materializes
    val db2 = new GraftDatabase(spark, wh)
    db2.query("INSERT INTO g VALUES (6, 'q')").fold(e => fail(e.msg), identity)
    assert(db2.select("SELECT b, c FROM g WHERE a = 6")
      .fold(e => fail(e.msg), _.collect().head) match {
        case r => r.getInt(0) == 12 && r.getString(1) == "Q"
      })
    // create-time validation: unknown source columns, generator chains,
    // DEFAULT+GENERATED combos all reject
    assert(db.query(
      "CREATE TABLE bad (x INT GENERATED ALWAYS AS (nope + 1))").isLeft)
    assert(db.query("CREATE TABLE bad2 (x INT GENERATED ALWAYS AS (y), " +
      "y INT GENERATED ALWAYS AS (1))").isLeft)
    assert(db.query(
      "CREATE TABLE bad3 (x INT GENERATED ALWAYS AS (1) DEFAULT 2)").isLeft)
    // a subquery in a generator rejects at CREATE, as in a CHECK
    val sub = db.query("CREATE TABLE bad4 (a INT, b INT GENERATED ALWAYS AS " +
      "(CASE WHEN a IN (SELECT a FROM bad4) THEN 1 ELSE 0 END))")
    assert(sub.left.exists(_.msg.contains("subqueries are not supported")), sub)
  }

  test("CHECK constraints: create-time binding, write enforcement, persistence") {
    val wh = java.nio.file.Files.createTempDirectory("graft-chk").toString
    val db = new GraftDatabase(spark, wh)
    def run(sql: String): Unit = db.query(sql) match {
      case Right(_) => ()
      case Left(e)  => fail(s"$sql -> ${e.msg}")
    }
    run("CREATE TABLE ck (a INT CHECK (a > 0), b INT, " +
      "CHECK (b IS NULL OR b >= a))")
    run("INSERT INTO ck VALUES (1, 2), (3, NULL)") // NULL check passes
    // violations raise mid-write: column-level and table-level
    val e1 = intercept[Exception] { db.query("INSERT INTO ck VALUES (0, 5)") }
    assert(e1.getMessage.contains("CHECK constraint failed"))
    val e2 = intercept[Exception] { db.query("INSERT INTO ck VALUES (5, 1)") }
    assert(e2.getMessage.contains("b >= a"))
    // UPDATE rewrites enforce too; the failed write leaves data intact
    val e3 = intercept[Exception] { db.query("UPDATE ck SET a = -1 WHERE a = 1") }
    assert(e3.getMessage.contains("CHECK constraint failed"))
    assert(db.select("SELECT count(*) AS n FROM ck")
      .fold(e => fail(e.msg), _.collect().head.getLong(0)) == 2L)
    // create-time validation: unknown columns and subqueries reject
    assert(db.query("CREATE TABLE ck2 (x INT CHECK (nope > 0))").isLeft)
    assert(db.query(
      "CREATE TABLE ck3 (x INT CHECK (x > (SELECT 1)))").isLeft)
    // constraints persist: a fresh database over the same warehouse
    // still enforces
    val db2 = new GraftDatabase(spark, wh)
    val e4 = intercept[Exception] { db2.query("INSERT INTO ck VALUES (0, 1)") }
    assert(e4.getMessage.contains("CHECK constraint failed"))
    assert(db2.select("SELECT sum(a) AS s FROM ck")
      .fold(e => fail(e.msg), _.collect().head.getLong(0)) == 4L)
  }

  test("NOT NULL constraints: DDL, insert checks, write enforcement") {
    val db = freshDb()
    def run(sql: String): Unit = db.query(sql) match {
      case Right(_) => ()
      case Left(e)  => fail(s"$sql -> ${e.msg}")
    }
    run("CREATE TABLE nn (id INT NOT NULL, v VARCHAR(10), " +
      "w INT NOT NULL DEFAULT 5)")
    run("INSERT INTO nn VALUES (1, 'a', 2), (2, NULL, 3)")
    // literal NULL into a NOT NULL column rejects at analysis
    assert(db.query("INSERT INTO nn VALUES (NULL, 'b', 1)").isLeft)
    // omitted NOT NULL column with a DEFAULT fills it; without one fails
    run("INSERT INTO nn (id, v) VALUES (3, 'c')")
    assert(db.query("INSERT INTO nn (v, w) VALUES ('d', 1)").isLeft)
    val r = db.select("SELECT id, w FROM nn ORDER BY id")
      .fold(e => fail(e.msg), _.collect().toSeq.map(x => (x.getInt(0), x.getInt(1))))
    assert(r == Seq((1, 2), (2, 3), (3, 5)))
    // frame writes enforce at runtime: UPDATE to NULL raises mid-write
    val thrown = intercept[Exception] {
      db.query("UPDATE nn SET id = NULL WHERE id = 1")
    }
    assert(thrown.getMessage.contains("NOT NULL constraint failed") ||
      Option(thrown.getCause).exists(
        _.getMessage.contains("NOT NULL constraint failed")))
    // table unchanged after the failed rewrite? re-read still has 3 rows
    assert(db.select("SELECT count(*) AS n FROM nn")
      .fold(e => fail(e.msg), _.collect().head.getLong(0)) == 3L)
    // NOT NULL + DEFAULT NULL rejects at CREATE; unknown column too
    assert(db.query(
      "CREATE TABLE bad1 (x INT NOT NULL DEFAULT NULL)").isLeft)
  }

  test("FROM unnest(list): derived-table desugar, aliases, joins") {
    val db = freshDb()
    def vals(sql: String): Seq[Long] = db.select(sql) match {
      case Right(df) => df.collect().toSeq.map(_.getLong(0))
      case Left(e)   => fail(s"$sql -> ${e.msg}")
    }
    assert(vals("SELECT x FROM unnest([3, 1, 2]) t(x) ORDER BY x") ==
      Seq(1L, 2L, 3L))
    // default binding and column name are `unnest`
    assert(vals("SELECT unnest FROM unnest([5, 4]) ORDER BY unnest") ==
      Seq(4L, 5L))
    // composes with joins and aggregation
    val r = db.select("SELECT sum(a.x * b.y) AS s " +
      "FROM unnest([1, 2]) a(x), unnest([10, 20]) b(y)")
      .fold(e => fail(e.msg), _.collect().head)
    assert(r.getLong(0) == 90L) // (1+2)*(10+20)
    // a correlated operand fails loudly (uncorrelated derived table)
    db.query("CREATE TABLE un (l INT)").toOption.get
    assert(db.query("SELECT x FROM un, unnest([l]) t(x)").isLeft)
  }

  test("temporal generate_series/range: inclusive ends, DATE bounds") {
    val db = freshDb()
    def ts(sql: String): Seq[String] = db.select(sql) match {
      case Right(df) => df.collect().toSeq.map(_.get(0).toString)
      case Left(e)   => fail(s"$sql -> ${e.msg}")
    }
    // generate_series is end-inclusive; range excludes the stop
    assert(ts("SELECT g FROM generate_series(TIMESTAMP '2024-01-01 00:00:00', " +
      "TIMESTAMP '2024-01-01 12:00:00', INTERVAL 6 HOUR) s(g) ORDER BY g") ==
      Seq("2024-01-01 00:00:00.0", "2024-01-01 06:00:00.0",
        "2024-01-01 12:00:00.0"))
    assert(ts("SELECT g FROM range(TIMESTAMP '2024-01-01 00:00:00', " +
      "TIMESTAMP '2024-01-01 12:00:00', INTERVAL 6 HOUR) s(g) ORDER BY g") ==
      Seq("2024-01-01 00:00:00.0", "2024-01-01 06:00:00.0"))
    // DATE bounds work; default column name is the function name
    assert(db.select("SELECT generate_series FROM generate_series(" +
      "DATE '2024-01-01', DATE '2024-01-03', INTERVAL 1 DAY)")
      .fold(e => fail(e.msg), _.count()) == 3L)
    // variable-length month steps and zero steps reject
    assert(db.query("SELECT g FROM generate_series(DATE '2024-01-01', " +
      "DATE '2024-06-01', INTERVAL 1 MONTH) s(g)").isLeft)
    assert(db.query("SELECT g FROM generate_series(DATE '2024-01-01', " +
      "DATE '2024-01-02', INTERVAL 0 DAY) s(g)").isLeft)
  }

  test("quantile lists and DISTINCT ordered aggregates") {
    val db = freshDb()
    def run(sql: String): Unit = db.query(sql) match {
      case Right(_) => ()
      case Left(e)  => fail(s"$sql -> ${e.msg}")
    }
    run("CREATE TABLE ql (v DOUBLE, s VARCHAR(5))")
    run("INSERT INTO ql VALUES (1.0, 'b'), (2.0, 'a'), (3.0, 'b'), (4.0, 'a')")
    val r = db.select(
      "SELECT array_to_string(quantile_cont(v, [0.25, 0.5, 0.75]), ',') AS qc, " +
        "array_to_string(quantile_disc(v, [0.0, 1.0]), ',') AS qd, " +
        "string_agg(DISTINCT s, ',' ORDER BY s) AS sa, " +
        "string_agg(DISTINCT s, ',' ORDER BY s DESC) AS sd, " +
        "array_to_string(array_agg(DISTINCT s ORDER BY s), ',') AS aa " +
        "FROM ql").fold(e => fail(e.msg), _.collect().head)
    assert(r.getString(0) == "1.75,2.5,3.25")
    assert(r.getString(1) == "1.0,4.0")
    assert(r.getString(2) == "a,b" && r.getString(3) == "b,a")
    assert(r.getString(4) == "a,b")
    // disc list result keeps the ARGUMENT type (int column → int list)
    run("CREATE TABLE qi (v INT)")
    run("INSERT INTO qi VALUES (1), (2), (3), (4)")
    val ri = db.select(
      "SELECT quantile_disc(v, [0.25, 0.75]) AS q FROM qi")
      .fold(e => fail(e.msg), _.collect().head)
    assert(ri.getSeq[Int](0) == Seq(1, 3))
    // DISTINCT with a non-value sort key rejects (ambiguous after dedup)
    assert(db.query(
      "SELECT string_agg(DISTINCT s, ',' ORDER BY v) AS x FROM ql").isLeft)
    // fractions outside [0,1] reject at parse
    assert(db.query("SELECT quantile_cont(v, [1.5]) AS x FROM ql").isLeft)
  }

  test("MAP type: literal, subscript, keys/values, histogram aggregate") {
    val db = freshDb()
    def run(sql: String): Unit = db.query(sql) match {
      case Right(_) => ()
      case Left(e)  => fail(s"$sql -> ${e.msg}")
    }
    def one(sql: String): Row = db.select(sql) match {
      case Right(df) => df.collect().head
      case Left(e)   => fail(s"$sql -> ${e.msg}")
    }
    // literal + subscript (returns a LIST; [] when absent), keys/values
    val r = one("SELECT MAP {'a': 1, 'b': 2}['a'] AS hit, " +
      "MAP {'a': 1}['z'] AS miss, " +
      "cardinality(MAP {'a': 1, 'b': 2}) AS n, " +
      "array_to_string(map_keys(MAP {'b': 1, 'a': 2}), ',') AS ks, " +
      "array_to_string(map_values(MAP {'b': 1, 'a': 2}), ',') AS vs, " +
      "to_json(MAP {'b': 1, 'a': 2}) AS j, " +
      "map(['x','y'], [10, 20])['y'] AS fn")
    assert(r.getSeq[Long](0) == Seq(1L))
    assert(r.getSeq[Long](1) == Seq())
    assert(r.getLong(2) == 2L)
    assert(r.getString(3) == "b,a" && r.getString(4) == "1,2")
    assert(r.getString(5) == "{\"b\":1,\"a\":2}")
    assert(r.getSeq[Long](6) == Seq(20L))
    // histogram: sorted keys, NULLs skipped, all-NULL group reads NULL
    run("CREATE TABLE hg (g INT, v VARCHAR(5))")
    run("INSERT INTO hg VALUES (1, 'b'), (1, 'a'), (1, 'a'), (2, NULL)")
    val h = db.select("SELECT g, to_json(histogram(v)) AS h FROM hg " +
      "GROUP BY g ORDER BY g").fold(e => fail(e.msg), _.collect().toSeq)
    assert(h(0).getString(1) == "{\"a\":2,\"b\":1}")
    assert(h(1).isNullAt(1))
    // rejections: mixed key types, subscript key type, non-map bases
    assert(db.query("SELECT MAP {'a': 1, 2: 3} AS m").isLeft)
    assert(db.query("SELECT MAP {'a': 1}[2] AS m").isLeft)
    assert(db.query("SELECT map_keys(1) AS m").isLeft)
    assert(db.query(
      "SELECT histogram(v) OVER (PARTITION BY g) AS m FROM hg").isLeft)
  }

  test("star RENAME: renamed expansion, composes with EXCLUDE/REPLACE") {
    val db = demoDb()
    def cols(sql: String): Seq[String] = db.select(sql) match {
      case Right(df) => df.columns.toSeq
      case Left(e)   => fail(s"$sql -> ${e.msg}")
    }
    assert(cols("SELECT * RENAME (name AS who) FROM people") ==
      Seq("id", "who", "age"))
    assert(cols("SELECT * EXCLUDE (id) RENAME (age AS years) FROM people") ==
      Seq("name", "years"))
    // RENAME applies AFTER REPLACE (renames the replaced item)
    val r = db.select("SELECT * REPLACE (age * 2 AS age) " +
      "RENAME (age AS dbl) FROM people WHERE id = 1")
      .fold(e => fail(e.msg), _.collect().head)
    assert(r.schema.fieldNames.toSeq == Seq("id", "name", "dbl"))
    // qualified star takes the same modifiers
    assert(cols("SELECT p.* RENAME (name AS who) FROM people p") ==
      Seq("id", "who", "age"))
    // unknown names reject
    assert(db.query("SELECT * RENAME (nope AS x) FROM people").isLeft)
  }

  test("lateral column aliases: substitution, precedence, cycles") {
    val db = freshDb()
    def run(sql: String): Unit = db.query(sql) match {
      case Right(_) => ()
      case Left(e)  => fail(s"$sql -> ${e.msg}")
    }
    run("CREATE TABLE la (a INT, g INT)")
    run("INSERT INTO la VALUES (1, 1), (2, 1), (3, 2)")
    // chained aliases + WHERE over an alias
    val r = db.select("SELECT a + 1 AS b, b * 2 AS c FROM la " +
      "WHERE b >= 3 ORDER BY b").fold(e => fail(e.msg), _.collect().toSeq)
    assert(r.map(x => (x.getLong(0), x.getLong(1))) == Seq((3L, 6L), (4L, 8L)))
    // a REAL column shadows the alias (DuckDB precedence probed:
    // `a+10 AS a, a+1 AS c` reads the ORIGINAL a in c)
    val p = db.select("SELECT a + 10 AS a, a + 1 AS c FROM la " +
      "WHERE g = 2").fold(e => fail(e.msg), _.collect().head)
    assert((p.getLong(0), p.getLong(1)) == (13L, 4L))
    // aggregate-valued aliases: projection and HAVING
    val ra = db.select("SELECT g, count(*) AS n, n * 10 AS n10 FROM la " +
      "GROUP BY g HAVING n >= 2 ORDER BY g")
      .fold(e => fail(e.msg), _.collect().toSeq)
    assert(ra.map(x => (x.getInt(0), x.getLong(1), x.getLong(2))) ==
      Seq((1, 2L, 20L)))
    // self-reference and mutual cycles reject; unknown names still error
    assert(db.query("SELECT b + 1 AS b FROM la").isLeft)
    assert(db.query("SELECT c + 1 AS b, b + 1 AS c FROM la").isLeft)
    assert(db.query("SELECT nope + 1 AS b FROM la").isLeft)
    // an aggregate alias referenced from WHERE still rejects (scope)
    assert(db.query("SELECT count(*) AS n FROM la WHERE n > 1").isLeft)
  }

  test("entropy and mad aggregates: DuckDB distribution semantics") {
    val db = freshDb()
    def run(sql: String): Unit = db.query(sql) match {
      case Right(_) => ()
      case Left(e)  => fail(s"$sql -> ${e.msg}")
    }
    run("CREATE TABLE em (g INT, v DOUBLE, s VARCHAR(10))")
    run("INSERT INTO em VALUES (1, 1.0, 'a'), (1, 2.0, 'a'), " +
      "(1, 4.0, 'b'), (1, 9.0, 'c'), (2, 5.0, NULL), (2, NULL, 'x')")
    val r = db.select(
      "SELECT g, entropy(s) AS ent, mad(v) AS m FROM em " +
        "GROUP BY g ORDER BY g").fold(e => fail(e.msg), _.collect().toSeq)
    // g=1: s counts {a:2,b:1,c:1} → 1.5 bits; v {1,2,4,9}: med 3,
    // devs {2,1,1,6} → mad 1.5. g=2: one non-null s → 0 bits; one v → 0
    assert(r.map(_.getInt(0)) == Seq(1, 2))
    assert(math.abs(r(0).getDouble(1) - 1.5) < 1e-12)
    assert(r(0).getDouble(2) == 1.5)
    assert(r(1).getDouble(1) == 0.0)
    assert(r(1).getDouble(2) == 0.0)
    // all-NULL: entropy 0.0, mad NULL (DuckDB probed)
    run("CREATE TABLE em2 (v DOUBLE)")
    run("INSERT INTO em2 VALUES (NULL)")
    val r2 = db.select("SELECT entropy(v) AS e, mad(v) AS m FROM em2")
      .fold(e => fail(e.msg), _.collect().head)
    assert(r2.getDouble(0) == 0.0 && r2.isNullAt(1))
    // HAVING position rides the hidden-aggregate machinery
    val r3 = db.select("SELECT g FROM em GROUP BY g " +
      "HAVING mad(v) > 1.0 ORDER BY g").fold(e => fail(e.msg), _.collect())
    assert(r3.map(_.getInt(0)).toSeq == Seq(1))
    // product: multiply, NULLs skipped, all-NULL NULL, negatives keep sign
    val rp = db.select("SELECT product(v) AS p FROM em WHERE g = 1")
      .fold(e => fail(e.msg), _.collect().head)
    assert(rp.getDouble(0) == 72.0) // 1*2*4*9
    val rp2 = db.select("SELECT product(v) AS p FROM em2")
      .fold(e => fail(e.msg), _.collect().head)
    assert(rp2.isNullAt(0))
    // mad over strings and window position reject
    assert(db.query("SELECT mad(s) AS x FROM em").isLeft)
    assert(db.query(
      "SELECT entropy(s) OVER (PARTITION BY g) AS x FROM em").isLeft)
  }

  test("GROUPS window frames: peer-group distance, ties span whole groups") {
    val db = freshDb()
    def run(sql: String): Unit = db.query(sql) match {
      case Right(_) => ()
      case Left(e)  => fail(s"$sql -> ${e.msg}")
    }
    run("CREATE TABLE gw (g INT, v INT)")
    run("INSERT INTO gw VALUES (1, 10), (1, 20), (2, 5), (3, 7), (3, 3)")
    val r = db.select(
      "SELECT g, v, sum(v) OVER (ORDER BY g " +
        "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s, " +
        "count(*) OVER (ORDER BY g " +
        "GROUPS BETWEEN CURRENT ROW AND 1 FOLLOWING) AS c " +
        "FROM gw ORDER BY g, v")
      .fold(e => fail(e.msg), _.collect().toSeq)
      .map(x => (x.getInt(0), x.getInt(1), x.getLong(2), x.getLong(3)))
    // peer groups: g=1 {10,20}, g=2 {5}, g=3 {7,3}
    // 1-PRECEDING..CURRENT sums: g=1→30, g=2→35, g=3→15
    // CURRENT..1-FOLLOWING counts: g=1→3, g=2→3, g=3→2
    assert(r == Seq((1, 10, 30L, 3L), (1, 20, 30L, 3L), (2, 5, 35L, 3L),
      (3, 3, 15L, 2L), (3, 7, 15L, 2L)))
    // aggregated scope: GROUPS frame over the grouped output
    val ra = db.select(
      "SELECT g, sum(sum(v)) OVER (ORDER BY count(*) " +
        "GROUPS BETWEEN CURRENT ROW AND CURRENT ROW) AS peers " +
        "FROM gw GROUP BY g ORDER BY g")
      .fold(e => fail(e.msg), _.collect().toSeq)
      .map(x => (x.getInt(0), x.getLong(1)))
    // count(*) per g: {1:2, 2:1, 3:2}; CURRENT ROW spans the whole peer
    // group of the count — g=1 and g=3 (both count 2) sum 30+10=40
    assert(ra == Seq((1, 40L), (2, 5L), (3, 40L)))
    // rejections: EXCLUDE, missing ORDER BY, INTERVAL bounds
    assert(db.query("SELECT sum(v) OVER (ORDER BY g GROUPS BETWEEN 1 " +
      "PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW) AS x FROM gw").isLeft)
    assert(db.query("SELECT sum(v) OVER (GROUPS BETWEEN 1 PRECEDING AND " +
      "CURRENT ROW) AS x FROM gw").isLeft)
    assert(db.query("SELECT sum(v) OVER (ORDER BY g GROUPS BETWEEN " +
      "INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS x FROM gw").isLeft)
  }

  test("FROM-position file scans: 'path', read_parquet/read_csv/read_json") {
    val db = demoDb()
    val dir = java.nio.file.Files.createTempDirectory("graft-files").toString
    db.spark.sql("SELECT 1 AS id, 'a' AS tag UNION ALL SELECT 2, 'b'")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/pq.parquet")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/t.csv"), "id,tag\n1,a\n2,b\n3,c\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/t.json"),
      "{\"id\": 4, \"tag\": \"d\"}\n{\"id\": 5, \"tag\": \"e\"}\n")
    def rows(sql: String): Seq[(Long, String)] = db.select(sql) match {
      case Right(df) => df.collect().toSeq.map(r =>
        (r.getAs[Any]("id").toString.toLong, r.getAs[String]("tag")))
      case Left(e) => fail(s"$sql -> ${e.msg}")
    }
    // bare-path form; default alias = basename sans extension
    assert(rows(s"SELECT pq.id, tag FROM '$dir/pq.parquet' ORDER BY id") ==
      Seq((1L, "a"), (2L, "b")))
    // read_* forms with explicit aliases
    assert(rows(s"SELECT t.id, t.tag FROM read_csv('$dir/t.csv') t " +
      "WHERE id >= 2 ORDER BY id") == Seq((2L, "b"), (3L, "c")))
    assert(rows(s"SELECT j.id, j.tag FROM read_json('$dir/t.json') j " +
      "ORDER BY id") == Seq((4L, "d"), (5L, "e")))
    // file scans join catalog tables and each other
    val joined = db.select(
      s"SELECT p.id, c.tag FROM read_parquet('$dir/pq.parquet') p " +
        s"JOIN '$dir/t.csv' c ON p.id = c.id ORDER BY p.id")
      .fold(e => fail(e.msg), _.collect().toSeq)
    assert(joined.map(_.get(1).toString) == Seq("a", "b"))
    // missing file and unknown extension reject loudly
    assert(db.query(s"SELECT * FROM '$dir/nope.parquet'").isLeft)
    assert(db.query(s"SELECT * FROM '$dir/pq.xlsx'").isLeft)
    // filters REACH the parquet scan (pushdown survives the dialect)
    val plan = db.select(
      s"SELECT id FROM '$dir/pq.parquet' WHERE id = 2")
      .toOption.get.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), EqualTo(id,2)]"),
      plan)
  }

  test("regexp_replace: DuckDB first-match default, g/i flags, \\1 backrefs") {
    val db = freshDb()
    def one(sql: String): Row = db.select(sql) match {
      case Right(df) => df.collect().head
      case Left(e)   => fail(s"$sql -> ${e.msg}")
    }
    val r = one("SELECT regexp_replace('aXbXc', 'X', '-') AS first_only, " +
      "regexp_replace('aXbXc', 'X', '-', 'g') AS all_m, " +
      "regexp_replace('aXbXc', 'x', '-', 'i') AS ci_first, " +
      "regexp_replace('aXbXc', 'x', '-', 'gi') AS ci_all, " +
      "regexp_replace('ab', '(a)(b)', '\\2\\1') AS backref, " +
      "regexp_replace('cost: 5', '([0-9])', '$\\1', 'g') AS dollar")
    assert(r.getString(0) == "a-bXc")
    assert(r.getString(1) == "a-b-c")
    assert(r.getString(2) == "a-bXc")
    assert(r.getString(3) == "a-b-c")
    assert(r.getString(4) == "ba")     // \1-style group refs (RE2/DuckDB)
    assert(r.getString(5) == "cost: $5") // bare $ is LITERAL (not Java group)
    // unknown option letters reject loudly (Java's newline defaults
    // differ from RE2's — running them silently would diverge)
    assert(db.query("SELECT regexp_replace('a', 'a', 'b', 's') AS x").isLeft)
    // the options argument must be a literal
    assert(db.query(
      "SELECT regexp_replace(name, 'a', 'b', name) AS x FROM people").isLeft)
  }

  test("regexp_extract_all and CREATE INDEX no-op parity") {
    val db = freshDb()
    def one(sql: String): Row = db.select(sql) match {
      case Right(df) => df.collect().head
      case Left(e)   => fail(s"$sql -> ${e.msg}")
    }
    // DuckDB default group 0 = whole matches; explicit group 1
    val r = one("SELECT array_to_string(regexp_extract_all('a1b22c333', " +
      "'[0-9]+'), ',') AS m, " +
      "array_to_string(regexp_extract_all('x=1;y=22', '([a-z])=([0-9]+)', 1), ',') AS g1, " +
      "array_to_string(regexp_extract_all('x=1;y=22', '([a-z])=([0-9]+)', 2), ',') AS g2")
    assert(r.getString(0) == "1,22,333")
    assert(r.getString(1) == "x,y" && r.getString(2) == "1,22")
    // the pattern must be a literal (compiled into the plan)
    assert(db.query("SELECT regexp_extract_all('a', name) AS m FROM people")
      .isLeft)
    // CREATE INDEX parses, validates, and no-ops with a notice
    db.query("CREATE TABLE it (id INT, v INT)").toOption.get
    val note = db.query("CREATE INDEX idx_v ON it (v, id)")
    assert(note.exists {
      case db.Done(m) => m.contains("no-op")
      case _          => false
    })
    assert(db.query("CREATE UNIQUE INDEX u_ix ON it (id)").isRight)
    assert(db.query("CREATE INDEX bad ON nosuch (v)").isLeft)
    assert(db.query("CREATE INDEX bad2 ON it (nocol)").isLeft)
  }

  test("USING SAMPLE: deterministic md5-threshold sampling") {
    val db = freshDb()
    db.query("CREATE TABLE st (id INT, v INT)").toOption.get
    db.query("INSERT INTO st VALUES " +
      (1 to 40).map(i => s"($i, ${i * 10})").mkString(", ")).toOption.get
    def ids(sql: String): Seq[Int] =
      db.select(sql).toOption.getOrElse(fail(s"rejected: $sql"))
        .collect().map(_.getInt(0)).toSeq
    val s50a = ids("SELECT id FROM st USING SAMPLE 50 PERCENT (KEY id) ORDER BY id")
    val s50b = ids("SELECT id FROM st USING SAMPLE 50 PERCENT (KEY id) ORDER BY id")
    // rerun-stable, a real subset, roughly half
    assert(s50a == s50b && s50a.nonEmpty && s50a.length < 40)
    // monotone in the rate: the 25% sample is a subset of the 50% one
    val s25 = ids("SELECT id FROM st USING SAMPLE 25 % (KEY id) ORDER BY id")
    assert(s25.forall(s50a.contains))
    // boundary rates
    assert(ids("SELECT id FROM st USING SAMPLE 100 PERCENT (KEY id) " +
      "ORDER BY id").length == 40)
    assert(ids("SELECT id FROM st USING SAMPLE 0 PERCENT (KEY id) " +
      "ORDER BY id").isEmpty)
    // multi-column keys compose; WHERE conjuncts AND with the sample
    assert(ids("SELECT id FROM st USING SAMPLE 50 PERCENT (KEY id, v) " +
      "WHERE id <= 20 ORDER BY id").forall(_ <= 20))
    // a sampled table composes with a comma join (the predicate stays
    // scoped to the sampled side via its alias)
    val cj = ids("SELECT a.id FROM st a USING SAMPLE 50 PERCENT (KEY id), " +
      "st b WHERE a.id = b.id ORDER BY a.id")
    assert(cj == s50a)
    // derived tables sample too
    val dv = ids("SELECT id FROM (SELECT id FROM st WHERE id <= 20) d " +
      "USING SAMPLE 50 PERCENT (KEY id) ORDER BY id")
    assert(dv == s50a.filter(_ <= 20))
    // a join step's table may not carry a sample (it would filter the
    // null-extended result); the KEY list is required
    assert(db.query("SELECT a.id FROM st a LEFT JOIN st b " +
      "USING SAMPLE 50 PERCENT (KEY id) ON a.id = b.id").isLeft)
    assert(db.query("SELECT id FROM st USING SAMPLE 50 PERCENT").isLeft)
    // a rate above 100 is a typo — loud reject, not a silent full table
    assert(db.query("SELECT id FROM st USING SAMPLE 250 PERCENT (KEY id)").isLeft)
    assert(db.query("SELECT id FROM st USING SAMPLE -5 PERCENT (KEY id)").isLeft)
  }

  test("stats-driven ASOF lowering: dense keys union-merge, sparse candidate") {
    val db = freshDb()
    def run(sql: String): Unit = db.query(sql) match {
      case Left(e) => fail(s"$sql -> ${e.msg}")
      case Right(_) => ()
    }
    run("CREATE TABLE evq (uid INT, ts INT)")
    run("INSERT INTO evq VALUES (1, 5), (1, 9), (2, 4)")
    run("CREATE TABLE stp (uid INT, ts INT, p INT)")
    run("INSERT INTO stp VALUES (1, 1, 100), (1, 6, 200), (2, 10, 300)")
    def asof(): Seq[Row] = db.select("SELECT a.uid, a.ts, b.p FROM evq a " +
      "ASOF JOIN stp b ON a.uid = b.uid AND a.ts >= b.ts " +
      "ORDER BY a.uid, a.ts").toOption.get.collect().toSeq
    // dense step groups (avg rows/key = 10k) → union-merge
    db.statistics.injectStats("stp", 100000L, Map("uid" -> 10L))
    val dense = asof()
    assert(Lowering.lastAsofChoice.contains("union_merge"))
    // sparse step groups (avg rows/key = 2) → candidate join
    db.statistics.injectStats("stp", 1000L, Map("uid" -> 500L))
    val sparse = asof()
    assert(Lowering.lastAsofChoice.contains("candidate"))
    // same rows either way
    assert(dense == sparse && dense == Seq(Row(1, 5, 100), Row(1, 9, 200)))
    // the derived filtered-scan shape feeds the filter into the estimate
    // and still flips on the base table's stats
    val dv = db.select("SELECT a.uid, b.p FROM evq a ASOF JOIN " +
      "(SELECT * FROM stp WHERE p < 250) b " +
      "ON a.uid = b.uid AND a.ts >= b.ts ORDER BY a.uid, a.ts")
      .toOption.get.collect().toSeq
    assert(Lowering.lastAsofChoice.contains("candidate"))
    assert(dv == Seq(Row(1, 100), Row(1, 200)))
    db.statistics.injectStats("stp", 100000L, Map("uid" -> 10L))
    val dv2 = db.select("SELECT a.uid, b.p FROM evq a ASOF JOIN " +
      "(SELECT * FROM stp WHERE p < 250) b " +
      "ON a.uid = b.uid AND a.ts >= b.ts ORDER BY a.uid, a.ts")
      .toOption.get.collect().toSeq
    assert(Lowering.lastAsofChoice.contains("union_merge"))
    assert(dv2 == dv)
  }

  test("list/array surface: literals, subscript, functions, unnest, array_agg") {
    val db = demoDb()
    def one(sql: String): Row = db.select(sql) match {
      case Right(df) => df.collect().head
      case Left(e)   => fail(s"$sql -> ${e.msg}")
    }
    // literals, subscript (1-based; 0 → NULL; negative from the end; OOB
    // → NULL), slice (inclusive both ends)
    val r = one("SELECT [10, 20, 30][2] AS a, [10][0] AS b, [10, 20][-1] AS c, " +
      "[10][5] AS d, [1, 2, 3, 4][2:3] AS e FROM people WHERE id = 1")
    assert(r.getLong(0) == 20L && r.isNullAt(1) && r.getLong(2) == 20L && r.isNullAt(3))
    assert(r.getSeq[Long](4) == Seq(2L, 3L))
    // list functions
    val f = one("SELECT len([1, 2, 3]) AS l, list_contains([1, 2], 2) AS c, " +
      "list_position([5, 6], 9) AS p, array_to_string([1, 2], '-') AS s, " +
      "list_sort([3, 1, 2])[1] AS mn, list_concat([1], [2])[2] AS cc, " +
      "len(string_split('a b c', ' ')) AS ns FROM people WHERE id = 1")
    assert(f.getInt(0) == 3 && f.getBoolean(1) && f.getLong(2) == 0L &&
      f.getString(3) == "1-2" && f.getLong(4) == 1L && f.getLong(5) == 2L &&
      f.getInt(6) == 3)
    // boolean operands: bare predicate use (3VL) and TRUE/FALSE literals
    val b = db.select("SELECT id FROM people WHERE list_contains([1, 3], id) " +
      "ORDER BY id").toOption.get
    assert(b.collect().map(_.getInt(0)).toSeq == Seq(1, 3))
    val nb = db.select("SELECT id FROM people WHERE NOT list_contains([1], id) " +
      "ORDER BY id").toOption.get
    assert(nb.collect().map(_.getInt(0)).toSeq == Seq(2, 3))
    assert(one("SELECT true AS t, false AS f FROM people WHERE id = 1")
      == Row(true, false))
    // unnest: one generator, other columns repeat, empty lists drop rows
    val u = db.select("SELECT id, unnest(string_split(name, ' ')) AS w " +
      "FROM people WHERE id = 3 ORDER BY w").toOption.get
    assert(u.collect().map(r0 => (r0.getInt(0), r0.getString(1))).toSeq ==
      Seq((3, "Marty"), (3, "McFly")))
    // array_agg requires ORDER BY; collects in key order keeping values
    val ag = one("SELECT array_agg(id ORDER BY id DESC) AS ids FROM people")
    assert(ag.getSeq[Int](0) == Seq(3, 2, 1))
    // rejections: nested unnest, unnest outside the SELECT list, two
    // unnests, unordered array_agg
    assert(db.query("SELECT len(unnest([[1]])) AS x FROM people").isLeft)
    assert(db.query("SELECT id FROM people WHERE unnest([1]) = 1").isLeft)
    assert(db.query("SELECT unnest([1]) AS a, unnest([2]) AS b FROM people").isLeft)
    assert(db.query("SELECT array_agg(id) AS x FROM people").isLeft)
  }

  test("SUMMARIZE: per-column profile in one aggregate pass") {
    val db = freshDb()
    db.query("CREATE TABLE s (id INT, name VARCHAR(10), x DOUBLE)").toOption.get
    db.query("INSERT INTO s VALUES (1, 'a', 1.5), (2, 'b', 2.5), " +
      "(3, NULL, NULL), (4, 'a', 4.0)").toOption.get
    val r = db.select("SUMMARIZE s").toOption.get.collect()
      .map(x => (x.getString(0), x.getLong(2), x.getLong(3), x.getLong(4),
        x.getString(5), x.getString(6))).toSeq
    assert(r == Seq(
      ("id", 4L, 0L, 4L, "1", "4"),
      ("name", 4L, 1L, 2L, "a", "b"),
      ("x", 4L, 1L, 3L, "1.5", "4.0")))
    // numerics carry rounded avg/std; strings read NULL there
    val row0 = db.select("SUMMARIZE s").toOption.get.collect()(0)
    assert(row0.getDouble(7) == 2.5 && row0.getDouble(8) == 1.291)
    assert(db.select("SUMMARIZE s").toOption.get.collect()(1).isNullAt(7))
    assert(db.query("SUMMARIZE nosuch").isLeft)
  }

  test("CREATE OR REPLACE and IF NOT EXISTS modes") {
    val wh = Files.createTempDirectory("graft-corm-wh").toString
    val db = new GraftDatabase(spark, wh)
    db.query("CREATE TABLE t (id INT, v INT)").toOption.get
    db.query("INSERT INTO t VALUES (1, 10)").toOption.get
    // IF NOT EXISTS: no-op on an existing relation, data untouched
    assert(db.query("CREATE TABLE IF NOT EXISTS t (id INT, v INT)")
      .toOption.get.toString.contains("skipped"))
    assert(db.select("SELECT count(*) AS n FROM t").toOption.get
      .collect().head.getLong(0) == 1L)
    // OR REPLACE: drops the old relation first (kind may change)
    db.query("CREATE OR REPLACE TABLE t AS SELECT 2 AS id, 20 AS v").toOption.get
    assert(db.select("SELECT id FROM t").toOption.get.collect().head.getLong(0) == 2L)
    db.query("CREATE VIEW v1 AS SELECT id FROM t").toOption.get
    db.query("CREATE OR REPLACE VIEW v1 AS SELECT v FROM t").toOption.get
    assert(db.select("SELECT * FROM v1").toOption.get.columns.toSeq == Seq("v"))
    db.query("CREATE OR REPLACE TABLE v1 AS SELECT 9 AS x").toOption.get
    assert(db.select("SELECT x FROM v1").toOption.get
      .collect().head.getLong(0) == 9L)
    // both modes together reject at parse
    assert(db.query(
      "CREATE OR REPLACE TABLE IF NOT EXISTS z (a INT)").isLeft)
    // a replaced view's stored statement replays across reopen
    db.query("CREATE OR REPLACE VIEW v2 AS SELECT id FROM t").toOption.get
    val db2 = new GraftDatabase(spark, wh)
    assert(db2.select("SELECT * FROM v2").toOption.get.columns.toSeq == Seq("id"))
  }

  test("subqueries inside HAVING CASE conditions via the marker machinery") {
    val db = freshDb()
    def run(sql: String): Unit = db.query(sql) match {
      case Left(e) => fail(s"$sql -> ${e.msg}")
      case Right(_) => ()
    }
    run("CREATE TABLE h (g INT, v INT)")
    run("INSERT INTO h VALUES (1, 10), (1, 20), (2, 5), (2, 6), (3, 100)")
    // uncorrelated scalar comparison inside the condition
    val sc = db.select("SELECT g, count(*) AS n FROM h GROUP BY g " +
      "HAVING CASE WHEN count(*) > (SELECT avg(v) AS a FROM h) / 20 " +
      "THEN TRUE ELSE FALSE END ORDER BY g").toOption.get
    assert(sc.collect().map(_.getInt(0)).toSeq == Seq(1, 2))
    // correlated EXISTS keyed on the GROUP BY column; IN + aggregate
    // branches in a nested CASE
    val ex = db.select("SELECT g, sum(v) AS s FROM h GROUP BY g " +
      "HAVING CASE WHEN EXISTS (SELECT 1 AS x FROM h h2 " +
      "WHERE h2.g = h.g AND h2.v < 8) THEN TRUE ELSE FALSE END").toOption.get
    assert(ex.collect().map(_.getInt(0)).toSeq == Seq(2))
    val nested = db.select("SELECT g, sum(v) AS s FROM h GROUP BY g " +
      "HAVING CASE WHEN g IN (SELECT g FROM h WHERE v > 50) THEN TRUE " +
      "ELSE CASE WHEN sum(v) > 25 THEN TRUE ELSE FALSE END END " +
      "ORDER BY g").toOption.get
    assert(nested.collect().map(_.getInt(0)).toSeq == Seq(1, 3))
    // a CASE-nested correlation on a NON-group-key still rejects
    assert(db.select("SELECT g, sum(v) AS s FROM h GROUP BY g " +
      "HAVING CASE WHEN EXISTS (SELECT 1 AS x FROM h h2 " +
      "WHERE h2.v = h.v) THEN TRUE ELSE FALSE END").isLeft)
    // projection CASE of an aggregated query: post-aggregation marker
    // frames keyed on the GROUP BY output columns
    val pc = db.select("SELECT g, CASE WHEN g IN (SELECT g FROM h WHERE v > 50) " +
      "THEN count(*) ELSE 0 END AS c FROM h GROUP BY g ORDER BY g").toOption.get
    assert(pc.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      Seq((1, 0L), (2, 0L), (3, 1L)))
    // correlated (on the group key) EXISTS in a projection CASE, with an
    // aggregate probe in the sibling branch
    val pe = db.select("SELECT g, CASE WHEN EXISTS (SELECT 1 AS x FROM h h2 " +
      "WHERE h2.g = h.g AND h2.v < 8) THEN sum(v) ELSE 0 - sum(v) END AS s " +
      "FROM h GROUP BY g ORDER BY g").toOption.get
    assert(pe.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      Seq((1, -30L), (2, 11L), (3, -100L)))
    // projection CASE correlation on a NON-group-key rejects
    assert(db.select("SELECT g, CASE WHEN EXISTS (SELECT 1 AS x FROM h h2 " +
      "WHERE h2.v = h.v) THEN count(*) ELSE 0 END AS c " +
      "FROM h GROUP BY g").isLeft)
  }

  test("inequality-correlated scalar subqueries: running-aggregate lowering") {
    onBothWindowPaths { (db, bucketed) =>
      def run(sql: String): Unit = db.query(sql) match {
        case Left(e) => fail(s"$sql -> ${e.msg}")
        case Right(_) => ()
      }
      run("CREATE TABLE rr (k INT, t INT, v INT)")
      run("INSERT INTO rr VALUES (1, 1, 10), (1, 2, 20), (1, 3, 30), " +
        "(2, 1, 5), (2, 2, 7)")
      pinBuckets(db, bucketed)
      def rows(sql: String): Seq[Seq[Any]] =
        db.select(sql).toOption.getOrElse(fail(s"rejected: $sql"))
          .collect().map(_.toSeq.toSeq).toSeq
      // inclusive running sum per key
      assert(rows("SELECT k, t, (SELECT sum(v) AS s FROM rr r2 " +
        "WHERE r2.k = rr.k AND r2.t <= rr.t) AS run FROM rr ORDER BY k, t") ==
        Seq(Seq(1, 1, 10L), Seq(1, 2, 30L), Seq(1, 3, 60L),
          Seq(2, 1, 5L), Seq(2, 2, 12L)))
      // strict suffix count (reads 0 over the empty set, not NULL)
      assert(rows("SELECT k, t, (SELECT count(*) AS c FROM rr r2 " +
        "WHERE r2.k = rr.k AND r2.t > rr.t) AS later FROM rr ORDER BY k, t") ==
        Seq(Seq(1, 1, 2L), Seq(1, 2, 1L), Seq(1, 3, 0L),
          Seq(2, 1, 1L), Seq(2, 2, 0L)))
      // no equality keys: global strict prefix min (empty set reads NULL),
      // on the bucketed prefix scan when the union is large
      val keyless = "SELECT k, t, (SELECT min(v) AS m FROM rr r2 " +
        "WHERE r2.t < rr.t) AS mn FROM rr ORDER BY k, t"
      assert(rows(keyless) ==
        Seq(Seq(1, 1, null), Seq(1, 2, 5), Seq(1, 3, 5),
          Seq(2, 1, null), Seq(2, 2, 5)))
      val plan = db.select(keyless).toOption.get.queryExecution.executedPlan.toString
      assert(plan.contains("ExistingRDD") == bucketed, plan)
      // keyless running sum, count and avg over the suffix
      assert(rows("SELECT k, t, (SELECT sum(v) + count(*) AS s FROM rr r2 " +
        "WHERE r2.t >= rr.t) AS s, (SELECT avg(v) AS a FROM rr r2 " +
        "WHERE r2.t > rr.t) AS a FROM rr ORDER BY k, t") ==
        Seq(Seq(1, 1, 77L, 19.0), Seq(1, 2, 60L, 30.0), Seq(1, 3, 31L, null),
          Seq(2, 1, 77L, 19.0), Seq(2, 2, 60L, 30.0)))
      // rejections: two inequalities, non-windowable aggregate, DISTINCT
      assert(db.select("SELECT k, (SELECT sum(v) AS s FROM rr r2 " +
        "WHERE r2.t <= rr.t AND r2.v < rr.v) AS x FROM rr").isLeft)
      assert(db.select("SELECT k, (SELECT median(v) AS s FROM rr r2 " +
        "WHERE r2.t <= rr.t) AS x FROM rr").isLeft)
      assert(db.select("SELECT k, (SELECT sum(DISTINCT v) AS s FROM rr r2 " +
        "WHERE r2.t <= rr.t) AS x FROM rr").isLeft)
    }
  }

  test("row-value IN inside HAVING via the post-aggregation markers") {
    val db = freshDb()
    def run(sql: String): Unit = db.query(sql) match {
      case Left(e) => fail(s"$sql -> ${e.msg}")
      case Right(_) => ()
    }
    run("CREATE TABLE hr (g INT, v INT)")
    run("INSERT INTO hr VALUES (1, 10), (1, 20), (2, 5), (2, 6), (3, 100)")
    // uncorrelated: probe pairs a group key with an aggregate
    val un = db.select("SELECT g, count(*) AS n FROM hr GROUP BY g " +
      "HAVING (g, count(*)) IN (SELECT 1 AS a, 2 AS b) ORDER BY g")
      .toOption.get
    assert(un.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      Seq((1, 2L)))
    // correlated on the group key: per-key set = {(g, 2)}
    val co = db.select("SELECT g, count(*) AS n FROM hr GROUP BY g " +
      "HAVING (g, count(*)) IN (SELECT h2.g, 2 AS b FROM hr h2 " +
      "WHERE h2.g = hr.g) ORDER BY g").toOption.get
    assert(co.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      Seq((1, 2L), (2, 2L)))
    // NOT-form stays three-valued post-aggregation
    val ni = db.select("SELECT g, count(*) AS n FROM hr GROUP BY g " +
      "HAVING (g, count(*)) NOT IN (SELECT 1 AS a, 2 AS b) ORDER BY g")
      .toOption.get
    assert(ni.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      Seq((2, 2L), (3, 1L)))
    // correlation on a non-group-key rejects
    assert(db.select("SELECT g, count(*) AS n FROM hr GROUP BY g " +
      "HAVING (g, count(*)) IN (SELECT h2.g, 2 AS b FROM hr h2 " +
      "WHERE h2.v = hr.v)").isLeft)
  }

  test("window frame EXCLUDE GROUP / TIES over RANGE frames") {
    val db = freshDb()
    def run(sql: String): Unit = db.query(sql) match {
      case Left(e) => fail(s"$sql -> ${e.msg}")
      case Right(_) => ()
    }
    run("CREATE TABLE w (g INT, k INT, v INT)")
    run("INSERT INTO w VALUES (1, 1, 10), (1, 1, 20), (1, 2, 30), " +
      "(1, 3, 40), (2, 5, 50)")
    def vals(sql: String): Seq[Option[Long]] =
      db.select(sql).toOption.getOrElse(fail(s"rejected: $sql"))
        .collect().map(r => if (r.isNullAt(3)) None else Some(r.getLong(3))).toSeq
    // GROUP: the whole peer group leaves (single-row partition → NULL)
    assert(vals("SELECT g, k, v, sum(v) OVER (PARTITION BY g ORDER BY k " +
      "RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING " +
      "EXCLUDE GROUP) AS s FROM w ORDER BY g, k, v") ==
      Seq(Some(70L), Some(70L), Some(70L), Some(60L), None))
    // TIES: peers leave, the current row stays
    assert(vals("SELECT g, k, v, sum(v) OVER (PARTITION BY g ORDER BY k " +
      "RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING " +
      "EXCLUDE TIES) AS s FROM w ORDER BY g, k, v") ==
      Seq(Some(80L), Some(90L), Some(100L), Some(100L), Some(50L)))
    // a running RANGE frame includes the full peer group at the edge
    assert(vals("SELECT g, k, v, count(*) OVER (PARTITION BY g ORDER BY k " +
      "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW " +
      "EXCLUDE GROUP) AS c FROM w ORDER BY g, k, v") ==
      Seq(Some(0L), Some(0L), Some(2L), Some(3L), Some(0L)))
    // rejection: ROWS + GROUP (peers can straddle the boundary)
    assert(db.select("SELECT sum(v) OVER (ORDER BY k ROWS BETWEEN " +
      "1 PRECEDING AND 1 FOLLOWING EXCLUDE GROUP) AS s FROM w").isLeft)
    // min/max exclusion — prefix/suffix sub-frame decomposition
    def valsN(sql: String): Seq[Option[Long]] =
      db.select(sql).toOption.getOrElse(fail(s"rejected: $sql"))
        .collect().map(r => Option(r.get(3))
          .map(_.asInstanceOf[Number].longValue)).toSeq
    assert(valsN("SELECT g, k, v, min(v) OVER (PARTITION BY g ORDER BY k " +
      "RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING " +
      "EXCLUDE CURRENT ROW) AS m FROM w ORDER BY g, k, v") ==
      Seq(Some(20L), Some(10L), Some(10L), Some(10L), None))
    assert(valsN("SELECT g, k, v, max(v) OVER (PARTITION BY g ORDER BY k " +
      "RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING " +
      "EXCLUDE GROUP) AS m FROM w ORDER BY g, k, v") ==
      Seq(Some(40L), Some(40L), Some(40L), Some(30L), None))
    assert(valsN("SELECT g, k, v, min(v) OVER (PARTITION BY g ORDER BY k " +
      "RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING " +
      "EXCLUDE TIES) AS m FROM w ORDER BY g, k, v") ==
      Seq(Some(10L), Some(20L), Some(10L), Some(10L), Some(50L)))
    assert(valsN("SELECT g, k, v, min(v) OVER (PARTITION BY g ORDER BY k " +
      "RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING " +
      "EXCLUDE GROUP) AS m FROM w ORDER BY g, k, v") ==
      Seq(Some(30L), Some(30L), Some(10L), Some(30L), None))
    assert(valsN("SELECT g, k, v, min(v) OVER (PARTITION BY g ORDER BY k, v " +
      "ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING " +
      "EXCLUDE CURRENT ROW) AS m FROM w ORDER BY g, k, v") ==
      Seq(Some(20L), Some(10L), Some(20L), Some(30L), None))
    // RANGE min/max exclusion needs an integral order key — the ±1
    // prefix/suffix boundary would silently drop (v-1, v) on a DOUBLE
    assert(db.select("SELECT min(v) OVER (ORDER BY v * 1.5 RANGE BETWEEN " +
      "UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS m " +
      "FROM w").isLeft)
  }

  test("scalar batch 5: trig, try_cast, strftime, printf, string predicates") {
    val db = demoDb()
    def one(sql: String): Row = db.select(sql) match {
      case Right(df) => df.collect().head
      case Left(e)   => fail(s"$sql -> ${e.msg}")
    }
    val m = one("SELECT round(sin(1.0), 8) AS s, round(pi(), 6) AS p, " +
      "round(log(2.0, 8.0), 6) AS lg, round(cot(1.0), 8) AS ct, " +
      "factorial(5) AS f, bit_count(12) AS bc FROM people WHERE id = 1")
    assert(m.getDouble(0) == 0.84147098 && m.getDouble(1) == 3.141593 &&
      m.getDouble(2) == 3.0 && m.getDouble(3) == 0.64209262 &&
      m.getLong(4) == 120L && m.getInt(5) == 2)
    // try_cast: NULL on failure, value on success; NULL propagates
    val tc = one("SELECT try_cast(name AS INT) AS a, " +
      "try_cast(cast(id AS VARCHAR) AS INT) AS b FROM people WHERE id = 2")
    assert(tc.isNullAt(0) && tc.getInt(1) == 2)
    // strftime on a literal format; unknown tokens and stray letters
    // reject at analysis
    assert(one("SELECT strftime(DATE '1992-03-02', '%Y/%m/%d') AS f " +
      "FROM people WHERE id = 1").getString(0) == "1992/03/02")
    assert(db.select(
      "SELECT strftime(DATE '1992-03-02', '%Q') AS f FROM people").isLeft)
    assert(db.select(
      "SELECT strftime(DATE '1992-03-02', '%Y T') AS f FROM people").isLeft)
    // printf requires a literal format; log base must be a literal
    assert(db.select("SELECT printf(name, id) AS f FROM people").isLeft)
    assert(db.select("SELECT log(id, 8.0) AS f FROM people").isLeft)
    // %f prints 6-digit zero-padded microseconds (DuckDB parity);
    // strptime parses it back; printf integer conversions match C
    assert(one("SELECT strftime(TIMESTAMP '2026-03-05 11:22:33.123456', " +
      "'%H:%M:%S.%f') AS f FROM people WHERE id = 1")
      .getString(0) == "11:22:33.123456")
    assert(one("SELECT strftime(TIMESTAMP '2026-03-05 11:22:33', " +
      "'%S.%f') AS f FROM people WHERE id = 1").getString(0) == "33.000000")
    assert(one("SELECT printf('%x|%X|%o|%05x', 255, 255, 8, 255) AS f " +
      "FROM people WHERE id = 1").getString(0) == "ff|FF|10|000ff")
    // SIMILAR TO: full-string regex (DuckDB), 3VL over NULLs
    val si = one("SELECT CASE WHEN 'abc' SIMILAR TO 'a.*' THEN 1 ELSE 0 END AS a, " +
      "CASE WHEN 'abc' SIMILAR TO 'a' THEN 1 ELSE 0 END AS b, " +
      "CASE WHEN 'a%c' SIMILAR TO 'a%c' THEN 1 ELSE 0 END AS c, " +
      "CASE WHEN CAST(NULL AS VARCHAR) NOT SIMILAR TO 'x' THEN 1 ELSE 0 END AS d " +
      "FROM people WHERE id = 1")
    assert((0 to 3).map(si.getLong) == Seq(1L, 0L, 1L, 0L))
    // string predicates are 3VL over NULLs
    val sp = one("SELECT starts_with(name, 'El') AS sw, " +
      "ends_with(name, 'on') AS ew, contains(name, 'xy') AS ct " +
      "FROM people WHERE id = 1")
    assert(sp.getBoolean(0) && sp.getBoolean(1) && !sp.getBoolean(2))
    // batch 6: strptime round trip, regexp_matches, list aggregates
    val b6 = one("SELECT epoch_ms(strptime('1992/03/02', '%Y/%m/%d')) AS e, " +
      "regexp_matches(name, '^E.*n$') AS rm, " +
      "list_min([3, 1, 2]) AS mn, list_max([3, 1, 2]) AS mx, " +
      "list_sum([1, NULL, 2]) AS sm FROM people WHERE id = 1")
    assert(b6.getLong(0) == 699494400000L && b6.getBoolean(1) &&
      b6.getLong(2) == 1L && b6.getLong(3) == 3L && b6.getLong(4) == 3L)
    // list_sum over an empty / all-NULL list reads NULL
    assert(one("SELECT list_sum(list_filter([1], x -> x > 9)) AS s " +
      "FROM people WHERE id = 1").isNullAt(0))
  }

  test("lambda list functions: transform, filter, reduce, capture, nesting") {
    val db = demoDb()
    def one(sql: String): Row = db.select(sql) match {
      case Right(df) => df.collect().head
      case Left(e)   => fail(s"$sql -> ${e.msg}")
    }
    // transform with a captured enclosing column (id)
    val t = one("SELECT list_transform([1, 2, 3], x -> x * 10 + id) AS l " +
      "FROM people WHERE id = 2")
    assert(t.getSeq[Int](0) == Seq(12, 22, 32))
    // filter with a predicate body; nested higher-order calls
    val f = one("SELECT list_filter([1, 2, 3, 4], x -> x % 2 = 0) AS l " +
      "FROM people WHERE id = 1")
    assert(f.getSeq[Int](0) == Seq(2, 4))
    val n = one("SELECT list_transform(list_filter([1, 2, 3], x -> x > 1), " +
      "y -> y * y) AS l FROM people WHERE id = 1")
    assert(n.getSeq[Int](0) == Seq(4, 9))
    // reduce folds left-to-right with the head as seed; empty reads NULL
    val r = one("SELECT list_reduce([5, 3, 2], (a, b) -> a * 10 + b) AS v " +
      "FROM people WHERE id = 1")
    assert(r.getLong(0) == 532L)
    assert(one("SELECT list_reduce(list_filter([1], x -> x > 9), " +
      "(a, b) -> a + b) AS v FROM people WHERE id = 1").isNullAt(0))
    // lambda parameters shadow same-named columns
    val sh = one("SELECT list_transform([7], id -> id + 1) AS l " +
      "FROM people WHERE id = 3")
    assert(sh.getSeq[Int](0) == Seq(8))
    // rejections: lambda outside a list function, aggregate bodies,
    // wrong parameter count, non-list first argument
    assert(db.query("SELECT (x -> x) AS f FROM people").isLeft)
    assert(db.query("SELECT list_transform([1], x -> count(*)) AS l " +
      "FROM people").isLeft)
    assert(db.query("SELECT list_reduce([1], x -> x + 1) AS l FROM people").isLeft)
    assert(db.query("SELECT list_transform(id, x -> x) AS l FROM people").isLeft)
  }

  test("a nested lambda body reads the enclosing lambda's parameter") {
    val db = freshDb()
    val r = db.select("SELECT list_transform([1, 2], " +
      "x -> list_transform([10, 20], y -> x + y)) AS z")
      .fold(e => fail(e.msg), identity).collect().head
    assert(r.getSeq[Seq[Int]](0) == Seq(Seq(11, 21), Seq(12, 22)))
  }

  test("row-value IN under OR, NOT and CASE — exact 3VL markers") {
    val db = freshDb()
    def run(sql: String): Unit = db.query(sql) match {
      case Left(e) => fail(s"$sql -> ${e.msg}")
      case Right(_) => ()
    }
    run("CREATE TABLE l (a INT, b INT)")
    run("CREATE TABLE s (x INT, y INT)")
    run("INSERT INTO l VALUES (1, 1), (1, 2), (2, 5), (NULL, 1), (NULL, 3), (9, 9)")
    run("INSERT INTO s VALUES (1, 1), (2, NULL)")
    def rows(sql: String): Seq[(Option[Int], Option[Int])] =
      db.select(sql).toOption.getOrElse(fail(s"rejected: $sql"))
        .collect().map(r => (
          if (r.isNullAt(0)) None else Some(r.getInt(0)),
          if (r.isNullAt(1)) None else Some(r.getInt(1)))).toSeq
    // positive IN under OR: TRUE rows + the other disjunct
    assert(rows("SELECT a, b FROM l WHERE (a, b) IN (SELECT x, y FROM s) OR a = 9 " +
      "ORDER BY a, b") == Seq((Some(1), Some(1)), (Some(9), Some(9))))
    // NOT IN under OR: (1,2) is definitely-absent (TRUE); (2,5) and the
    // NULL probes are UNKNOWN (a compatible row exists) and drop
    assert(rows("SELECT a, b FROM l WHERE (a, b) NOT IN (SELECT x, y FROM s) OR b = 7 " +
      "ORDER BY a, b") == Seq((Some(1), Some(2)), (Some(9), Some(9))))
    // NOT over a disjunction containing row-IN: UNKNOWN stays UNKNOWN
    assert(rows("SELECT a, b FROM l WHERE NOT ((a, b) IN (SELECT x, y FROM s) OR b = 9) " +
      "ORDER BY a, b") == Seq((Some(1), Some(2))))
    // CASE consumes TRUE-vs-rest: UNKNOWN takes the ELSE branch
    val cs = db.select("SELECT a, b, CASE WHEN (a, b) IN (SELECT x, y FROM s) " +
      "THEN 'in' ELSE 'out' END AS c FROM l ORDER BY a, b").toOption.get
    // NULL probes sort LAST (DuckDB default_null_order, round-13 fix):
    // order is (1,1) (1,2) (2,5) (9,9) (NULL,1) (NULL,3) — only (1,1) in
    assert(cs.collect().map(_.getString(2)).toSeq ==
      Seq("in", "out", "out", "out", "out", "out"))
    // empty set: NOT IN is TRUE for every probe (NULLs included)
    run("CREATE TABLE empty2 (x INT, y INT)")
    assert(rows("SELECT a, b FROM l WHERE (a, b) NOT IN (SELECT x, y FROM empty2) OR a = 0 " +
      "ORDER BY a, b").length == 6)
    // CORRELATED row-IN in marker positions: the frames group on the
    // decorrelated key too — per-outer-key sets, exact 3VL
    run("CREATE TABLE cl (id INT, a INT, b INT, k INT)")
    run("INSERT INTO cl VALUES (1, 1, 1, 10), (2, 1, NULL, 10), " +
      "(3, 5, 5, 10), (4, 1, 1, 20), (5, 9, 9, 30), (6, NULL, 2, 10)")
    run("CREATE TABLE cs (x INT, y INT, g INT)")
    run("INSERT INTO cs VALUES (1, 1, 10), (2, 2, 10), (NULL, 2, 10), (1, 1, 99)")
    def ids(sql: String): Seq[Int] =
      db.select(sql).toOption.getOrElse(fail(s"rejected: $sql"))
        .collect().map(_.getInt(0)).toSeq
    // NOT: TRUE only where no per-key row matches and none is
    // NULL-compatible; empty key groups (k=20, k=30) keep their rows
    assert(ids("SELECT id FROM cl WHERE NOT ((a, b) IN " +
      "(SELECT x, y FROM cs WHERE cs.g = cl.k)) ORDER BY id") == Seq(3, 4, 5))
    // OR: the marker disjunction composes with plain predicates
    assert(ids("SELECT id FROM cl WHERE (a, b) IN " +
      "(SELECT x, y FROM cs WHERE cs.g = cl.k) OR k = 30 ORDER BY id") ==
      Seq(1, 5))
    // projection CASE of a NON-aggregate query: markers apply (UNKNOWN
    // conditions fall to ELSE)
    val pc = db.select("SELECT id, CASE WHEN (a, b) IN " +
      "(SELECT x, y FROM cs WHERE cs.g = cl.k) THEN 1 ELSE 0 END AS c " +
      "FROM cl ORDER BY id").toOption.get
    assert(pc.collect().map(x => (x.getInt(0), x.getLong(1))).toSeq ==
      Seq((1, 1L), (2, 0L), (3, 0L), (4, 0L), (5, 0L), (6, 0L)))
    // aggregated projections and HAVING CASE: the post-aggregation
    // marker frames handle the correlated form too (keys are GROUP BY
    // columns; aggregate probes become hidden agg columns)
    val apc = db.select("SELECT k, CASE WHEN (min(a), min(b)) IN " +
      "(SELECT x, y FROM cs WHERE cs.g = cl.k) THEN 1 ELSE 0 END AS c " +
      "FROM cl GROUP BY k ORDER BY k").toOption.get
    assert(apc.collect().map(x => (x.getInt(0), x.getLong(1))).toSeq ==
      Seq((10, 1L), (20, 0L), (30, 0L)))
    val ahc = db.select("SELECT k, count(*) AS n FROM cl GROUP BY k " +
      "HAVING CASE WHEN (k, k) IN (SELECT g, g FROM cs WHERE cs.g = cl.k) " +
      "THEN TRUE ELSE FALSE END").toOption.get
    assert(ahc.collect().map(x => (x.getInt(0), x.getLong(1))).toSeq ==
      Seq((10, 4L)))
    // correlation on a NON-group-key still rejects
    assert(db.query("SELECT k, CASE WHEN (min(a), min(b)) IN " +
      "(SELECT x, y FROM cs WHERE cs.g = cl.id) THEN 1 ELSE 0 END AS c " +
      "FROM cl GROUP BY k").isLeft)
  }

  test("scalar subqueries as operands: arithmetic, WHERE, aggregate scope") {
    val db = freshDb()
    def run(sql: String): Unit = db.query(sql) match {
      case Left(e) => fail(s"$sql -> ${e.msg}")
      case Right(_) => ()
    }
    run("CREATE TABLE t (x INT, g VARCHAR(10))")
    run("INSERT INTO t VALUES (1, 'a'), (2, 'a'), (4, 'b')")
    // inside a projection expression
    val fr = db.select("SELECT x, x * 1.0 / (SELECT max(x) FROM t) AS frac " +
      "FROM t ORDER BY x").toOption.get
    assert(fr.collect().map(_.getDouble(1)).toSeq == Seq(0.25, 0.5, 1.0))
    // subquery-leading expression item; comparison rhs continues as operand
    val gap = db.select("SELECT (SELECT max(x) FROM t) - x AS gap FROM t " +
      "WHERE x = (SELECT max(x) FROM t) - 2").toOption.get
    assert(gap.collect().map(_.getInt(0)).toSeq == Seq(2))
    // aggregate scope: share-of-total
    val sh = db.select("SELECT g, sum(x) * 1.0 / (SELECT sum(x) FROM t) AS s " +
      "FROM t GROUP BY g ORDER BY g").toOption.get
    assert(sh.collect().map(r => (r.getString(0),
      math.rint(r.getDouble(1) * 7).toInt)).toSeq == Seq(("a", 3), ("b", 4)))
    // empty subquery = SQL NULL value
    val nv = db.select("SELECT x + (SELECT max(x) FROM t WHERE x > 99) AS n " +
      "FROM t WHERE x = 1").toOption.get
    assert(nv.collect().head.isNullAt(0))
    // a NON-aggregate multi-row subquery fails the one-row guard
    run("INSERT INTO t VALUES (8, 'c')")
    val guardRaised =
      try {
        db.select("SELECT x + (SELECT x FROM t) AS n FROM t")
          .toOption.foreach(_.collect())
        false
      } catch { case _: IllegalStateException => true }
    assert(guardRaised)
    // rejected positions: aggregate argument, GROUP BY, ORDER BY
    assert(db.query("SELECT sum(x + (SELECT max(x) FROM t)) AS s FROM t").isLeft)
    assert(db.query("SELECT count(*) AS n FROM t GROUP BY x + (SELECT max(x) FROM t)").isLeft)
    assert(db.query("SELECT x FROM t ORDER BY x + (SELECT max(x) FROM t)").isLeft)
    // CORRELATED operands: per-key group-less aggregates, one frame
    // left-joined per subquery (t now holds a:{1,2}, b:{4}, c:{8})
    val co = db.select("SELECT x, x - (SELECT max(t2.x) FROM t t2 " +
      "WHERE t2.g = t.g) AS gap FROM t ORDER BY x").toOption.get
    assert(co.collect().map(_.getInt(1)).toSeq == Seq(-1, 0, 0, 0))
    val cw = db.select("SELECT x FROM t WHERE x < (SELECT max(t2.x) FROM t t2 " +
      "WHERE t2.g = t.g) ORDER BY x").toOption.get
    assert(cw.collect().map(_.getInt(0)).toSeq == Seq(1))
    // a correlated NON-aggregate operand still rejects
    assert(db.query("SELECT x + (SELECT t2.x FROM t t2 WHERE t2.g = t.g) AS n FROM t").isLeft)
    // correlated operands in aggregate-scope projections: the per-key
    // frame joins the GROUPED result on the GROUP BY key
    val ca = db.select("SELECT g, sum(x) - (SELECT max(t2.x) FROM t t2 " +
      "WHERE t2.g = t.g) AS n FROM t GROUP BY g ORDER BY g").toOption.get
    assert(ca.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 1L), ("b", 0L), ("c", 0L)))
    // correlation on a NON-group-key still rejects
    assert(db.query("SELECT g, sum(x) - (SELECT max(t2.g) FROM t t2 " +
      "WHERE t2.x = t.x) AS n FROM t GROUP BY g").isLeft)
  }

  test("window IGNORE NULLS variants") {
    val db = demoDb()
    db.query("CREATE TABLE m (k INT, x INT)")
    db.query("INSERT INTO m VALUES (1, 10), (2, NULL), (3, 30), (4, NULL), (5, 50)")
    val r = db.select("SELECT k, lag(x IGNORE NULLS) OVER (ORDER BY k) AS p, " +
      "last_value(x IGNORE NULLS) OVER (ORDER BY k) AS locf " +
      "FROM m ORDER BY k").toOption.get
    assert(r.collect().map(row => (row.getInt(0),
      if (row.isNullAt(1)) null else row.getInt(1),
      if (row.isNullAt(2)) null else row.getInt(2))).toSeq ==
      Seq((1, null, 10), (2, 10, 10), (3, 10, 30), (4, 30, 30), (5, 30, 50)))
    // RESPECT NULLS is the default and parses as a no-op
    val rn = db.select("SELECT k, lag(x RESPECT NULLS) OVER (ORDER BY k) AS p " +
      "FROM m WHERE k <= 2 ORDER BY k").toOption.get
    assert(rn.collect().map(row =>
      if (row.isNullAt(1)) null else row.getInt(1)).toSeq == Seq(null, 10))
    // ranking functions take neither form
    assert(db.query("SELECT rank(x IGNORE NULLS) OVER (ORDER BY k) AS r FROM m").isLeft)
  }

  test("VALUES derived tables and UNION BY NAME") {
    val db = demoDb()
    // expression rows; the alias column list names the outputs
    val v = db.select("SELECT a + b AS s, tag FROM " +
      "(VALUES (1, 2, 'x'), (10, 20, 'y')) t(a, b, tag) ORDER BY s").toOption.get
    assert(v.collect().toSeq == Seq(Row(3L, "x"), Row(30L, "y")))
    // joinable like any derived table
    val j = db.select("SELECT p.name, f.flag FROM people p, " +
      "(VALUES (1, 'yes'), (3, 'no')) f(pid, flag) WHERE p.id = f.pid " +
      "ORDER BY p.id").toOption.get
    assert(j.collect().toSeq == Seq(Row("Elon", "yes"), Row("Marty McFly", "no")))
    // ragged rows reject; a missing column list defaults to DuckDB's
    // col0, col1, … names
    assert(db.query("SELECT * FROM (VALUES (1, 2), (3)) t(a, b)").isLeft)
    val dn = db.select("SELECT col0, col1 FROM (VALUES (7, 'z')) t").toOption.get
    assert(dn.collect().toSeq == Seq(Row(7L, "z")))
    // UNION BY NAME aligns columns by name, any order; dedup like UNION
    val u = db.select("SELECT id, name FROM people WHERE id = 1 " +
      "UNION BY NAME SELECT name, id FROM people WHERE id <= 2 " +
      "ORDER BY id").toOption.get
    assert(u.collect().map(_.getInt(0)).toSeq == Seq(1, 2))
    // name mismatch and non-UNION BY NAME reject
    assert(db.query("SELECT id, name FROM people UNION BY NAME " +
      "SELECT name FROM people").isLeft)
    assert(db.query("SELECT id FROM people EXCEPT BY NAME " +
      "SELECT id FROM people").isLeft)
  }

  test("row-value IN (SELECT ...): semi join on all components; strict rejections") {
    val db = demoDb()
    // group-wise max: the owner with each car count... use (owner_id, id)
    val r = db.select("SELECT id, model FROM cars WHERE (owner_id, id) IN " +
      "(SELECT owner_id, max(id) AS mi FROM cars GROUP BY owner_id) ORDER BY id").toOption.get
    assert(r.collect().map(_.getInt(0)).toSeq == Seq(1, 2))
    // correlated components work through decorrelation
    val c = db.select("SELECT name FROM people p WHERE (p.id, p.id) IN " +
      "(SELECT c.owner_id, c.owner_id FROM cars c WHERE c.owner_id = p.id) " +
      "ORDER BY name").toOption.get
    assert(c.collect().map(_.getString(0)).toSeq.sorted ==
      Seq("Dr. Emmett L. „Doc“ Brown", "Elon"))
    // arity mismatch rejects; NOT / OR / HAVING positions now lower via
    // the three-valued marker machinery (uncorrelated probes)
    assert(db.query("SELECT id FROM cars WHERE (owner_id, id) IN " +
      "(SELECT owner_id FROM cars)").isLeft)
    val nr = db.select("SELECT id FROM cars WHERE NOT ((owner_id, id) IN " +
      "(SELECT owner_id, id FROM cars))").toOption.get
    assert(nr.count() == 0)
    val orr = db.select("SELECT id FROM cars WHERE (owner_id, id) IN " +
      "(SELECT owner_id, id FROM cars) OR id = 1 ORDER BY id").toOption.get
    assert(orr.collect().map(_.getInt(0)).toSeq == Seq(1, 2))
    val hv = db.select("SELECT owner_id FROM cars GROUP BY owner_id " +
      "HAVING (owner_id, count(*)) IN (SELECT owner_id, id FROM cars) " +
      "ORDER BY owner_id").toOption.get
    // cars = (1,·,1), (2,·,2): owner 1's probe (1, count=1) matches the
    // set pair (owner_id=1, id=1); owner 2's (2, 1) matches nothing
    assert(hv.collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("row-value NOT IN: exact SQL 3VL over NULL components") {
    val db = freshDb()
    def run(sql: String): Unit = db.query(sql) match {
      case Left(e) => fail(s"$sql -> ${e.msg}")
      case Right(_) => ()
    }
    run("CREATE TABLE t (k INT, v INT)")
    run("INSERT INTO t VALUES (1, 10), (2, 20), (3, 30), (NULL, 10), (5, NULL), (NULL, NULL)")
    run("CREATE TABLE s (a INT, b INT)")
    run("INSERT INTO s VALUES (1, 10), (2, 99)")
    run("CREATE TABLE sn (a INT, b INT)")
    run("INSERT INTO sn VALUES (1, 10), (2, NULL)")
    run("CREATE TABLE se (a INT, b INT)")
    def q(sub: String): Set[(Option[Int], Option[Int])] =
      db.select(s"SELECT k, v FROM t WHERE (k, v) NOT IN (SELECT a, b FROM $sub)")
        .toOption.get.collect().map(r =>
          (if (r.isNullAt(0)) None else Some(r.getInt(0)),
           if (r.isNullAt(1)) None else Some(r.getInt(1)))).toSet
    // no NULLs in the set: exact anti join; NULL probes are UNKNOWN
    assert(q("s") == Set((Some(2), Some(20)), (Some(3), Some(30)), (Some(5), None)))
    // a NULL in one set component poisons probes matching the other
    // component: (2,20) vs (2,NULL) is UNKNOWN -> filtered
    assert(q("sn") == Set((Some(3), Some(30)), (Some(5), None)))
    // empty set: NOT IN is TRUE for every probe, NULLs included
    assert(q("se") == Set((Some(1), Some(10)), (Some(2), Some(20)),
      (Some(3), Some(30)), (None, Some(10)), (Some(5), None), (None, None)))
    // correlated row-value NOT IN: the masked joins gain the pair keys
    // and the facts frame groups per key (absent key = empty set = kept)
    run("CREATE TABLE tc (grp INT, k INT, v INT)")
    run("INSERT INTO tc VALUES (1, 1, 10), (1, 2, 20), (2, 1, 10), " +
      "(2, 3, 30), (1, NULL, 10), (3, 7, 70)")
    run("CREATE TABLE sc (grp INT, a INT, b INT)")
    run("INSERT INTO sc VALUES (1, 1, 10), (2, 3, 30), (2, 1, NULL)")
    val corr = db.select("SELECT grp, k FROM tc WHERE (k, v) NOT IN " +
      "(SELECT a, b FROM sc WHERE sc.grp = tc.grp) ORDER BY grp").toOption.get
    assert(corr.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq((1, 2), (3, 7)))
    // arity > 3 rejects toward NOT EXISTS
    run("CREATE TABLE w4 (a INT, b INT, c INT, d INT)")
    assert(db.query("SELECT a FROM w4 WHERE (a, b, c, d) NOT IN " +
      "(SELECT a, b, c, d FROM w4)").isLeft)
  }

  test("standard syntax sugar: :: casts, EXTRACT, SUBSTRING FROM, TRIM, POSITION") {
    val db = demoDb()
    // postfix :: binds tighter than arithmetic and chains
    val c = db.select("SELECT '5'::int + 1 AS six, 7::bigint::double AS d, " +
      "id::varchar AS s FROM people WHERE id = 1").toOption.get
    assert(c.collect().toSeq == Seq(Row(6L, 7.0, "1")))
    // TRIM variants: plain, chars, LEADING/TRAILING, two-arg call form
    val t = db.select("SELECT trim('  x  ') AS a, trim(LEADING 'M' FROM name) AS b, " +
      "trim(TRAILING 'y' FROM name) AS c2, trim(name, 'My') AS d2 " +
      "FROM people WHERE id = 3").toOption.get
    assert(t.collect().toSeq == Seq(Row("x", "arty McFly", "Marty McFl", "arty McFl")))
    // SUBSTRING standard + POSITION
    val s = db.select("SELECT substring(name FROM 7 FOR 2) AS m, " +
      "position('Fly' IN name) AS p FROM people WHERE id = 3").toOption.get
    assert(s.collect().toSeq == Seq(Row("Mc", 9)))
    // epoch extracts as fractional seconds (DOUBLE)
    val ep = db.select("SELECT extract(epoch FROM TIMESTAMP '1970-01-02 00:00:00') AS e " +
      "FROM people WHERE id = 1").toOption.get
    assert(ep.collect().toSeq == Seq(Row(86400.0)))
    // non-literal trim chars: expression-valued trim sets evaluate
    // per row (Catalyst StringTrim via the bridge)
    val nt = db.select("SELECT trim(name, name) AS a, " +
      "ltrim(name, substr(name, 1, 1)) AS b FROM people WHERE id = 3").toOption.get
    assert(nt.collect().toSeq == Seq(Row("", "arty McFly")))
    // rejections: unknown EXTRACT unit; TRIM mode without FROM;
    // '::' needs a valid type
    assert(db.query("SELECT extract(century FROM age) AS e FROM people").isLeft)
    assert(db.query("SELECT trim(LEADING name) AS x FROM people").isLeft)
    assert(db.query("SELECT id::nosuchtype AS x FROM people").isLeft)
  }

  test("aggregate FILTER clause and ILIKE") {
    val db = demoDb()
    db.query("INSERT INTO cars VALUES (3, 'Cybertruck', 1)")
    // FILTER desugars onto NULL-skipping aggregates
    val f = db.select("SELECT owner_id, count(*) FILTER (WHERE model LIKE 'T%') AS nt, " +
      "count(*) AS n FROM cars GROUP BY owner_id ORDER BY owner_id").toOption.get
    assert(f.collect().toSeq == Seq(Row(1, 1L, 2L), Row(2, 0L, 1L)))
    // FILTER over sum and avg (avg's denominator only counts kept rows)
    val fa = db.select("SELECT sum(id) FILTER (WHERE owner_id = 1) AS s1, " +
      "avg(id) FILTER (WHERE owner_id = 1) AS a1 FROM cars").toOption.get
    assert(fa.collect().toSeq == Seq(Row(4L, 2.0)))
    // ILIKE is case-insensitive; NOT ILIKE negates it
    val il = db.select("SELECT model FROM cars WHERE model ILIKE 'tesla%'").toOption.get
    assert(il.collect().map(_.getString(0)).toSeq == Seq("Tesla Model 3"))
    val nil = db.select("SELECT name FROM people WHERE name NOT ILIKE '%MC%' " +
      "ORDER BY id").toOption.get
    assert(nil.collect().map(_.getString(0)).toSeq ==
      Seq("Elon", "Dr. Emmett L. „Doc“ Brown"))
    // grouping() does not take FILTER
    assert(db.query("SELECT owner_id, grouping(owner_id) FILTER (WHERE 1 = 1) AS g " +
      "FROM cars GROUP BY ROLLUP(owner_id)").isLeft)
    // LIKE ESCAPE: a literal underscore matches only via the escape
    db.query("CREATE TABLE pats (s VARCHAR(20))")
    db.query("INSERT INTO pats VALUES ('a_b'), ('axb')")
    val esc = db.select("SELECT s FROM pats WHERE s LIKE 'a!_b' ESCAPE '!' " +
      "ORDER BY s").toOption.get
    assert(esc.collect().map(_.getString(0)).toSeq == Seq("a_b"))
    val noEsc = db.select("SELECT s FROM pats WHERE s LIKE 'a_b' ORDER BY s").toOption.get
    assert(noEsc.collect().map(_.getString(0)).toSeq == Seq("a_b", "axb"))
    assert(db.query("SELECT s FROM pats WHERE s LIKE 'a_b' ESCAPE '!!'").isLeft)
  }

  test("insert appends (second insert visible, first preserved)") {
    val db = demoDb()
    assert(db.query("INSERT INTO people VALUES (4, 'Biff', 40)").isRight)
    assert(db.select("SELECT id FROM people").toOption.get.count() == 4)
  }

  private def qualifyDb(): GraftDatabase = {
    val db = freshDb()
    db.query("CREATE TABLE sales (grp INT, item VARCHAR(10), v INT)")
    db.query("INSERT INTO sales VALUES (1, 'a', 10), (1, 'b', 30), (1, 'c', 20), " +
      "(2, 'd', 5), (2, 'e', 50), (3, 'f', 7)")
    db
  }

  test("QUALIFY over a window alias keeps top-N per group") {
    val db = qualifyDb()
    val df = db.select("SELECT grp, item, v, " +
      "row_number() OVER (PARTITION BY grp ORDER BY v DESC) AS rn " +
      "FROM sales QUALIFY rn <= 2 ORDER BY grp, rn").toOption.get
    assert(df.columns.toSeq == Seq("grp", "item", "v", "rn"))
    assert(df.collect().toSeq == Seq(
      Row(1, "b", 30, 1), Row(1, "c", 20, 2),
      Row(2, "e", 50, 1), Row(2, "d", 5, 2),
      Row(3, "f", 7, 1)))
  }

  test("QUALIFY with inline OVER calls: hidden windows never reach the output") {
    val db = qualifyDb()
    val df = db.select("SELECT grp, item FROM sales " +
      "QUALIFY row_number() OVER (PARTITION BY grp ORDER BY v DESC) = 1 " +
      "ORDER BY grp").toOption.get
    assert(df.columns.toSeq == Seq("grp", "item"))
    assert(df.collect().toSeq == Seq(Row(1, "b"), Row(2, "e"), Row(3, "f")))
    // a windowed aggregate conjunct, mixed with a plain column predicate
    val mixed = db.select("SELECT grp, item, v FROM sales " +
      "QUALIFY sum(v) OVER (PARTITION BY grp) > 50 AND v >= 20 " +
      "ORDER BY grp, item").toOption.get
    assert(mixed.collect().toSeq == Seq(
      Row(1, "b", 30), Row(1, "c", 20), Row(2, "e", 50)))
  }

  test("QUALIFY windows evaluate post-WHERE (SQL clause order)") {
    val db = qualifyDb()
    // WHERE removes the group-1 maximum first, so rn=1 is the runner-up
    val df = db.select("SELECT grp, item FROM sales WHERE v < 30 " +
      "QUALIFY row_number() OVER (PARTITION BY grp ORDER BY v DESC) = 1 " +
      "ORDER BY grp").toOption.get
    assert(df.collect().toSeq == Seq(Row(1, "c"), Row(2, "d"), Row(3, "f")))
  }

  test("DISTINCT ON keeps the first row per key under the ORDER BY") {
    val db = qualifyDb()
    val df = db.select("SELECT DISTINCT ON (grp) grp, item, v FROM sales " +
      "ORDER BY grp, v DESC").toOption.get
    assert(df.columns.toSeq == Seq("grp", "item", "v"))
    assert(df.collect().toSeq == Seq(
      Row(1, "b", 30), Row(2, "e", 50), Row(3, "f", 7)))
    // trailing sort keys beyond the ON prefix act as the tiebreak
    val asc = db.select("SELECT DISTINCT ON (grp) grp, item FROM sales " +
      "ORDER BY grp, v, item").toOption.get
    assert(asc.collect().toSeq == Seq(Row(1, "a"), Row(2, "d"), Row(3, "f")))
  }

  test("DISTINCT ON rejections: missing/mismatched ORDER BY prefix, aggregate scope") {
    val db = qualifyDb()
    // no ORDER BY at all → nondeterministic, rejected
    assert(db.select("SELECT DISTINCT ON (grp) grp, v FROM sales").isLeft)
    // ORDER BY does not lead with the ON expression
    assert(db.select("SELECT DISTINCT ON (grp) grp, v FROM sales ORDER BY v").isLeft)
    // aggregate scope works since round 13 (first row per ON key over
    // the grouped frame); grp IS the group key so every group survives
    val ag = db.select("SELECT DISTINCT ON (grp) grp, count(*) AS n " +
      "FROM sales GROUP BY grp ORDER BY grp").fold(e => fail(e.msg),
        _.collect().toSeq.map(_.getInt(0)))
    assert(ag == ag.sorted && ag.distinct == ag)
  }

  test("GROUP BY ALL groups by the non-aggregate items; ORDER BY ALL sorts by all items") {
    val db = qualifyDb()
    val df = db.select("SELECT grp, count(*) AS n, sum(v) AS total FROM sales " +
      "GROUP BY ALL ORDER BY ALL").toOption.get
    assert(df.columns.toSeq == Seq("grp", "n", "total"))
    assert(df.collect().toSeq == Seq(
      Row(1, 3L, 60L), Row(2, 2L, 55L), Row(3, 1L, 7L)))
    // aggregate-only SELECT list = global aggregation (empty key list)
    val global = db.select("SELECT count(*) AS n FROM sales GROUP BY ALL").toOption.get
    assert(global.collect().toSeq == Seq(Row(6L)))
    // ORDER BY ALL DESC applies to every key, non-aggregate query
    val desc = db.select("SELECT grp, item FROM sales WHERE v >= 20 " +
      "ORDER BY ALL DESC").toOption.get
    assert(desc.collect().toSeq == Seq(Row(2, "e"), Row(1, "c"), Row(1, "b")))
    // an expression item groups by the expression
    val expr = db.select("SELECT v % 2 AS parity, count(*) AS n FROM sales " +
      "GROUP BY ALL ORDER BY parity").toOption.get
    assert(expr.collect().toSeq == Seq(Row(0L, 4L), Row(1L, 2L)))
  }

  test("string_agg: intra-group ORDER BY, DESC, NULL skipping, HAVING position") {
    val db = freshDb()
    db.query("CREATE TABLE tags (grp INT, t VARCHAR(10))")
    db.query("INSERT INTO tags VALUES (1, 'b'), (1, 'a'), (1, NULL), (1, 'c'), " +
      "(2, 'z'), (2, 'y')")
    val asc = db.select("SELECT grp, string_agg(t, ',' ORDER BY t) AS ts FROM tags " +
      "GROUP BY grp ORDER BY grp").toOption.get
    assert(asc.collect().toSeq == Seq(Row(1, "a,b,c"), Row(2, "y,z")))
    val desc = db.select("SELECT grp, string_agg(t, '|' ORDER BY t DESC) AS ts FROM tags " +
      "GROUP BY grp ORDER BY grp").toOption.get
    assert(desc.collect().toSeq == Seq(Row(1, "c|b|a"), Row(2, "z|y")))
    // listagg is an accepted alias; HAVING may reference an ordered agg
    val hav = db.select("SELECT grp, listagg(t, '-' ORDER BY t) AS ts FROM tags " +
      "GROUP BY grp HAVING string_agg(t, ',' ORDER BY t) LIKE 'a%' " +
      "ORDER BY grp").toOption.get
    assert(hav.collect().toSeq == Seq(Row(1, "a-b-c")))
    // non-string argument and non-aggregate scope are rejected
    assert(db.select("SELECT grp, string_agg(grp, ',') AS ts FROM tags GROUP BY grp").isLeft)
    assert(db.select("SELECT string_agg(t, ',') AS ts FROM tags WHERE t = 'a' " +
      "ORDER BY ts LIMIT 1").isRight) // global aggregate is fine
    assert(db.select("SELECT t FROM tags WHERE string_agg(t, ',') = 'a'").isLeft)
  }

  test("arg_min / arg_max (min_by / max_by aliases)") {
    val db = qualifyDb()
    val df = db.select("SELECT grp, arg_max(item, v) AS best, arg_min(item, v) AS worst " +
      "FROM sales GROUP BY grp ORDER BY grp").toOption.get
    assert(df.collect().toSeq == Seq(
      Row(1, "b", "a"), Row(2, "e", "d"), Row(3, "f", "f")))
    val alias = db.select("SELECT max_by(item, v) AS best FROM sales").toOption.get
    assert(alias.collect().toSeq == Seq(Row("e")))
    // outside aggregate scope → rejected
    assert(db.select("SELECT item FROM sales WHERE arg_max(item, v) = 'e'").isLeft)
  }

  test("count_if and nth_value") {
    val db = qualifyDb()
    val cif = db.select("SELECT grp, count_if(v >= 20) AS big FROM sales " +
      "GROUP BY grp ORDER BY grp").toOption.get
    assert(cif.collect().toSeq == Seq(Row(1, 2L), Row(2, 1L), Row(3, 0L)))
    val nth = db.select("SELECT grp, item, nth_value(item, 2) OVER (PARTITION BY grp " +
      "ORDER BY v DESC ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS snd " +
      "FROM sales ORDER BY grp, item").toOption.get
    assert(nth.collect().toSeq == Seq(
      Row(1, "a", "c"), Row(1, "b", "c"), Row(1, "c", "c"),
      Row(2, "d", "d"), Row(2, "e", "d"), Row(3, "f", null)))
    // nth_value position must be a positive integer literal
    assert(db.select("SELECT nth_value(item, 0) OVER (ORDER BY v) AS x FROM sales").isLeft)
    assert(db.select("SELECT nth_value(item, v) OVER (ORDER BY v) AS x FROM sales").isLeft)
  }

  test("star modifiers: EXCLUDE, REPLACE, qualified t.*, unknown names rejected") {
    val db = demoDb()
    val ex = db.select("SELECT * EXCLUDE (name) FROM people ORDER BY id").toOption.get
    assert(ex.columns.toSeq == Seq("id", "age"))
    val rp = db.select("SELECT * REPLACE (upper(name) AS name) FROM people " +
      "ORDER BY id").toOption.get
    assert(rp.columns.toSeq == Seq("id", "name", "age"))
    assert(rp.collect().head.getString(1) == "ELON")
    // both modifiers, on a qualified star inside a longer list
    val both = db.select("SELECT p.* EXCLUDE (age) REPLACE (lower(name) AS name), model " +
      "FROM people p, cars c WHERE p.id = c.owner_id ORDER BY p.id").toOption.get
    assert(both.columns.toSeq == Seq("id", "name", "model"))
    assert(both.collect().head.getString(1) == "elon")
    // unknown names fail loudly; REPLACE of an EXCLUDEd column too
    assert(db.select("SELECT * EXCLUDE (nope) FROM people").isLeft)
    assert(db.select("SELECT * REPLACE (1 AS nope) FROM people").isLeft)
    assert(db.select("SELECT * EXCLUDE (age) REPLACE (age + 1 AS age) FROM people").isLeft)
  }

  test("DELETE with subquery predicates: EXISTS, IN, NOT IN, self-reference, duplicates") {
    def freshSales(): GraftDatabase = {
      val db = freshDb()
      db.query("CREATE TABLE s (grp INT, v INT)")
      db.query("CREATE TABLE keep (k INT)")
      db.query("INSERT INTO s VALUES (1, 10), (1, 10), (2, 20), (3, 30), (NULL, 40)")
      db.query("INSERT INTO keep VALUES (1), (3)")
      db
    }
    // correlated EXISTS: delete rows whose grp appears in keep —
    // duplicate (1,10) rows both go; the NULL-grp row stays
    val db1 = freshSales()
    assert(db1.query("DELETE FROM s WHERE EXISTS (SELECT k FROM keep WHERE k = s.grp)")
      .toOption.get.asInstanceOf[db1.Done].message.startsWith("deleted 3"))
    assert(db1.select("SELECT v FROM s ORDER BY v").toOption.get
      .collect().map(_.getInt(0)).toSeq == Seq(20, 40))
    // NOT IN over a NULL-free subquery; NULL probe drops (3VL: UNKNOWN)
    val db2 = freshSales()
    db2.query("DELETE FROM s WHERE grp NOT IN (SELECT k FROM keep)")
    assert(db2.select("SELECT v FROM s ORDER BY v").toOption.get
      .collect().map(_.getInt(0)).toSeq == Seq(10, 10, 30, 40))
    // self-referencing subquery sees the PRE-delete image
    val db3 = freshSales()
    db3.query("DELETE FROM s WHERE v < (SELECT max(v) FROM s)")
    assert(db3.select("SELECT v FROM s").toOption.get
      .collect().map(_.getInt(0)).toSeq == Seq(40))
  }

  test("UPDATE with a subquery WHERE updates exactly the matched rows") {
    val db = freshDb()
    db.query("CREATE TABLE s (grp INT, v INT)")
    db.query("CREATE TABLE keep (k INT)")
    db.query("INSERT INTO s VALUES (1, 10), (2, 20), (3, 30)")
    db.query("INSERT INTO keep VALUES (1), (3)")
    val r = db.query("UPDATE s SET v = v + 100 WHERE grp IN (SELECT k FROM keep)")
    assert(r.toOption.get.asInstanceOf[db.Done].message.startsWith("updated 2"))
    assert(db.select("SELECT grp, v FROM s ORDER BY grp").toOption.get
      .collect().toSeq == Seq(Row(1, 110), Row(2, 20), Row(3, 130)))
  }

  test("plan shape: QUALIFY rn<=k and DISTINCT ON plan as WindowGroupLimit") {
    val db = qualifyDb()
    val q = db.select("SELECT grp, item, row_number() OVER (PARTITION BY grp " +
      "ORDER BY v DESC) AS rn FROM sales QUALIFY rn <= 2").toOption.get
    val qPlan = q.queryExecution.executedPlan.toString
    assert(qPlan.contains("WindowGroupLimit"), qPlan)
    val d = db.select("SELECT DISTINCT ON (grp) grp, item FROM sales " +
      "ORDER BY grp, v DESC").toOption.get
    val dPlan = d.queryExecution.executedPlan.toString
    assert(dPlan.contains("WindowGroupLimit"), dPlan)
  }

  test("plan shape: running-aggregate decorrelation has no nested loop") {
    val db = freshDb()
    db.query("CREATE TABLE rp (k INT, t INT, v INT)").toOption.get
    db.query("INSERT INTO rp VALUES (1, 1, 10), (1, 2, 20), (2, 1, 5)").toOption.get
    val q = db.select("SELECT k, t, (SELECT sum(v) AS s FROM rp r2 " +
      "WHERE r2.k = rp.k AND r2.t <= rp.t) AS run FROM rp").toOption.get
    val plan = q.queryExecution.executedPlan.toString
    // ONE running window computes every per-tuple prefix sum; the tag
    // frame hash-joins back — never a cartesian/nested-loop of outer
    // rows against candidates
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // the deterministic sample is a map-only filter — no added exchange
    val sp = db.select("SELECT k FROM rp USING SAMPLE 50 PERCENT (KEY k)")
      .toOption.get
    val spPlan = sp.queryExecution.executedPlan.toString
    assert(!spPlan.contains("Exchange"), spPlan)
  }

  test("QUALIFY rejections: no window, alias shadowing, subqueries, ungrouped column") {
    val db = qualifyDb()
    // no window function anywhere in the predicate
    assert(db.select("SELECT grp, v FROM sales QUALIFY v > 10").isLeft)
    // a window alias shadowing an input column would collide at attach
    assert(db.select("SELECT grp, row_number() OVER (PARTITION BY grp ORDER BY grp) AS v " +
      "FROM sales QUALIFY v = 1").isLeft)
    // aggregate-scope QUALIFY correlation on a NON-group-key rejects
    assert(db.select("SELECT grp, count(*) AS n FROM sales GROUP BY grp " +
      "QUALIFY row_number() OVER (ORDER BY grp) = 1 " +
      "AND EXISTS (SELECT 1 AS x FROM sales s2 WHERE s2.v = sales.v)").isLeft)
    // aggregate scope: a bare non-grouped column in the predicate is
    // rejected like HAVING would
    assert(db.select("SELECT grp, count(*) FROM sales GROUP BY grp " +
      "QUALIFY row_number() OVER (ORDER BY grp) = 1 AND v > 0").isLeft)
  }

  test("QUALIFY subqueries over non-aggregated queries: markers on the windowed frame") {
    val db = qualifyDb()
    // top-1 per group, kept only for groups with some v > 25
    val r = db.select("SELECT grp, v, row_number() OVER (PARTITION BY grp " +
      "ORDER BY v DESC) AS rn FROM sales QUALIFY rn = 1 AND " +
      "EXISTS (SELECT 1 AS x FROM sales s2 WHERE s2.grp = sales.grp AND s2.v > 25) " +
      "ORDER BY grp").toOption.get
    assert(r.collect().map(x => (x.getInt(0), x.getInt(1))).toSeq ==
      Seq((1, 30), (2, 50)))
    // NOT over a scalar comparison stays three-valued
    val n = db.select("SELECT grp, v, rank() OVER (ORDER BY v) AS r FROM sales " +
      "QUALIFY r <= 3 AND NOT (v > (SELECT avg(v) AS a FROM sales)) " +
      "ORDER BY v").toOption.get
    assert(n.collect().map(_.getInt(1)).toSeq == Seq(5, 7, 10))
  }

  test("QUALIFY subqueries over AGGREGATED queries: post-agg markers") {
    val db = qualifyDb()
    // uncorrelated IN on the group key, windowed aggregated frame
    val un = db.select("SELECT grp, count(*) AS n FROM sales GROUP BY grp " +
      "QUALIFY row_number() OVER (ORDER BY grp) = 1 " +
      "AND grp IN (SELECT grp FROM sales)").toOption.get.collect().toSeq
    assert(un == Seq(Row(1, 3L)))
    // correlated EXISTS keyed on the GROUP BY column
    val ex = db.select("SELECT grp, sum(v) AS total FROM sales GROUP BY grp " +
      "QUALIFY rank() OVER (ORDER BY sum(v) DESC) <= 2 " +
      "AND EXISTS (SELECT 1 AS x FROM sales s2 WHERE s2.grp = sales.grp " +
      "AND s2.v > 25) ORDER BY grp").toOption.get.collect().toSeq
    assert(ex == Seq(Row(1, 60L), Row(2, 55L)))
    // scalar-subquery comparison with an aggregate probe
    val sc = db.select("SELECT grp, sum(v) AS total FROM sales GROUP BY grp " +
      "QUALIFY rank() OVER (ORDER BY sum(v) DESC) <= 3 " +
      "AND sum(v) > (SELECT avg(v) AS a FROM sales) ORDER BY grp")
      .toOption.get.collect().toSeq
    assert(sc == Seq(Row(1, 60L), Row(2, 55L)))
    // scalar subquery NESTED in arithmetic (a BSubVal operand)
    val nv = db.select("SELECT grp, sum(v) AS total FROM sales GROUP BY grp " +
      "QUALIFY rank() OVER (ORDER BY sum(v) DESC) <= 3 " +
      "AND sum(v) * 2 > (SELECT sum(v) AS s FROM sales) - 62 ORDER BY grp")
      .toOption.get.collect().toSeq
    assert(nv == Seq(Row(1, 60L), Row(2, 55L)))
  }

  test("QUALIFY over an aggregated query: windows and aggregates mix") {
    val db = qualifyDb()
    // rank over the aggregated frame; group sums: 1→60, 2→55, 3→7
    val top = db.select("SELECT grp, sum(v) AS total FROM sales GROUP BY grp " +
      "QUALIFY rank() OVER (ORDER BY sum(v) DESC) <= 2").toOption.get
      .orderBy("grp").collect().toSeq
    assert(top == Seq(Row(1, 60L), Row(2, 55L)))
    // window alias + a plain aggregate conjunct in the predicate
    val mixed = db.select("SELECT grp, count(*) AS n, " +
      "rank() OVER (ORDER BY sum(v) DESC) AS r FROM sales GROUP BY grp " +
      "QUALIFY r = 1 AND count(*) >= 2").toOption.get.collect().toSeq
    assert(mixed == Seq(Row(1, 3L, 1)))
  }

  test("FILTER clause composes with OVER (windowed filtered aggregates)") {
    val db = freshDb()
    db.query("CREATE TABLE fw (g INT, v INT)").toOption.get
    db.query("INSERT INTO fw VALUES (1, 1), (1, 5), (2, 3)").toOption.get
    val r = db.select("SELECT g, v, sum(v) FILTER (WHERE v > 1) " +
      "OVER (PARTITION BY g) AS s, count(*) FILTER (WHERE v > 1) " +
      "OVER (PARTITION BY g) AS n FROM fw ORDER BY g, v").toOption.get
    assert(r.collect().map(x => (x.getLong(2), x.getLong(3))).toSeq ==
      Seq((5L, 1L), (5L, 1L), (3L, 1L)))
  }

  test("len on strings, list contains, directional list_sort") {
    val db = freshDb()
    def one(sql: String): Row = db.select(sql) match {
      case Right(df) => df.collect().head
      case Left(e)   => fail(s"$sql -> ${e.msg}")
    }
    val r = one("SELECT len('hello') AS n, contains([1, 2, 3], 2) AS c1, " +
      "contains('haystack', 'hay') AS c2, " +
      "array_to_string(list_sort([3, 1, 2], 'DESC'), ',') AS d, " +
      "array_to_string(list_sort([3, 1, 2], 'ASC'), ',') AS a")
    assert(r.getInt(0) == 5)
    assert(r.getBoolean(1) && r.getBoolean(2))
    assert(r.getString(3) == "3,2,1" && r.getString(4) == "1,2,3")
    assert(db.query("SELECT list_sort([1], 'sideways') AS x").isLeft)
  }

  test("COLUMNS('regex') star expansion") {
    val db = freshDb()
    db.query("CREATE TABLE cx (id INT, name VARCHAR(8), n_a INT, n_b INT)")
      .toOption.get
    db.query("INSERT INTO cx VALUES (1, 'x', 2, 3)").toOption.get
    val r = db.select("SELECT COLUMNS('^n_') FROM cx").toOption.get
    assert(r.columns.toSeq == Seq("n_a", "n_b"))
    // composes in a longer list; aggregates over matches work per column
    val m = db.select("SELECT id, COLUMNS('^n_') FROM cx").toOption.get
    assert(m.columns.toSeq == Seq("id", "n_a", "n_b"))
    // no match / bad regex fail loudly
    assert(db.query("SELECT COLUMNS('zzz') FROM cx").isLeft)
    assert(db.query("SELECT COLUMNS('[') FROM cx").isLeft)
  }

  test("top-level VALUES statement") {
    val db = freshDb()
    val r = db.select("VALUES (1, 'a'), (2, 'b')").toOption.get
    assert(r.columns.toSeq == Seq("col0", "col1"))
    assert(r.orderBy("col0").collect().toSeq == Seq(Row(1L, "a"), Row(2L, "b")))
    // expressions evaluate; arity mismatch rejects
    assert(db.select("VALUES (1 + 1, upper('x'))").toOption.get
      .collect().head == Row(2L, "X"))
    assert(db.query("VALUES (1), (2, 3)").isLeft)
  }

  test("SUMMARIZE <query>: per-column profile of a query result") {
    val db = freshDb()
    db.query("CREATE TABLE sq (g INT, v INT)").toOption.get
    db.query("INSERT INTO sq VALUES (1, 10), (1, 20), (2, NULL)").toOption.get
    val r = db.select("SUMMARIZE SELECT g, v * 2 AS v2 FROM sq WHERE g = 1")
      .toOption.get.collect().toSeq
    assert(r.map(_.getString(0)) == Seq("g", "v2"))
    val v2 = r(1)
    assert(v2.getLong(2) == 2L && v2.getLong(3) == 0L && v2.getLong(4) == 2L)
    assert(v2.getString(5) == "20" && v2.getString(6) == "40")
  }

  test("DESCRIBE <query>: analyzed output schema without execution") {
    val db = freshDb()
    db.query("CREATE TABLE dq (id INT, name VARCHAR(10), v DOUBLE)").toOption.get
    val r = db.select("DESCRIBE SELECT id, upper(name) AS u, sum(v) AS s " +
      "FROM dq GROUP BY id, upper(name)").toOption.get.collect().toSeq
    assert(r.map(x => (x.getString(0), x.getString(1), x.getString(2))) ==
      Seq(("id", "INTEGER", "YES"), ("u", "VARCHAR", "YES"),
        ("s", "DOUBLE", "YES")))
    // set-op chains describe the first branch; bad queries fail loudly
    val u = db.select("DESCRIBE SELECT id FROM dq UNION SELECT id + 1 AS id FROM dq")
      .toOption.get.collect().toSeq
    assert(u.map(_.getString(0)) == Seq("id"))
    assert(db.query("DESCRIBE SELECT nocol FROM dq").isLeft)
  }

  test("SHOW TABLES / DESCRIBE / COPY TO: introspection and export") {
    val db = freshDb()
    db.query("CREATE TABLE t1 (id INT PRIMARY KEY, name VARCHAR(10))").toOption.get
    db.query("INSERT INTO t1 VALUES (1, 'a'), (2, 'b')").toOption.get
    db.query("CREATE VIEW v1 AS SELECT id FROM t1 WHERE id > 1").toOption.get
    val shown = db.select("SHOW TABLES").toOption.get.collect().toSeq
    assert(shown == Seq(Row("t1", "table"), Row("v1", "view")))
    val desc = db.select("DESCRIBE t1").toOption.get.collect().toSeq
    assert(desc == Seq(Row("id", "INTEGER", "YES", null, null, null),
      Row("name", "VARCHAR", "YES", null, null, null)))
    // views describe their analyzed output schema (DuckDB query shape)
    assert(db.select("DESCRIBE v1").toOption.get.collect().toSeq ==
      Seq(Row("id", "INTEGER", "YES", null, null, null)))
    assert(db.query("DESCRIBE nosuch").isLeft)
    // COPY: table → csv, query → parquet; both partition-parallel writes
    val out = Files.createTempDirectory("graft-copy").toString
    assert(db.query(s"COPY t1 TO '$out/t1_csv' (FORMAT csv)").isRight)
    assert(db.query(s"COPY (SELECT id, upper(name) AS uname FROM t1 WHERE id > 1) " +
      s"TO '$out/q'").isRight)
    val back = spark.read.parquet(s"$out/q").collect().toSeq
    assert(back == Seq(Row(2, "B")))
    val csv = spark.read.option("header", "true").csv(s"$out/t1_csv")
    assert(csv.count() == 2 && csv.columns.toSeq == Seq("id", "name"))
  }

  test("WINDOW clause: named specs shared across items; unknown name rejected") {
    val db = qualifyDb()
    val rows = db.select("SELECT grp, item, row_number() OVER w AS rn, " +
      "sum(v) OVER w AS rt FROM sales " +
      "WINDOW w AS (PARTITION BY grp ORDER BY v DESC) ORDER BY grp, rn")
      .fold(e => fail(e.msg), identity).collect().toSeq
    assert(rows.take(3) == Seq(Row(1, "b", 1, 30L), Row(1, "c", 2, 50L),
      Row(1, "a", 3, 60L)))
    // two named specs in one clause
    assert(db.select("SELECT grp, rank() OVER w1 AS r, sum(v) OVER w2 AS t " +
      "FROM sales WINDOW w1 AS (PARTITION BY grp ORDER BY v), " +
      "w2 AS (PARTITION BY grp) ORDER BY grp, r").isRight)
    // unknown and duplicate names are parse errors
    assert(db.select("SELECT grp, row_number() OVER nope AS rn FROM sales").isLeft)
    assert(db.select("SELECT grp, row_number() OVER w AS rn FROM sales " +
      "WINDOW w AS (ORDER BY v), w AS (ORDER BY grp)").isLeft)
  }

  test("DISTINCT ON ordered by a window alias") {
    val db = qualifyDb()
    // first row per grp under rn: rn=1 is the max-v item of each group
    val rows = db.select("SELECT DISTINCT ON (grp) grp, item, " +
      "row_number() OVER (PARTITION BY grp ORDER BY v DESC) AS rn " +
      "FROM sales ORDER BY grp, rn").toOption.get.collect().toSeq
    assert(rows == Seq(Row(1, "b", 1), Row(2, "e", 1), Row(3, "f", 1)))
  }

  private def quantDb(): GraftDatabase = {
    val db = freshDb()
    db.query("CREATE TABLE probe (id INT PRIMARY KEY, x INT)").toOption.get
    db.query("INSERT INTO probe VALUES (1, 5), (2, 50), (3, NULL)").toOption.get
    db.query("CREATE TABLE s (v INT)").toOption.get
    db.query("INSERT INTO s VALUES (10), (20), (NULL)").toOption.get
    db.query("CREATE TABLE empty_s (v INT)").toOption.get
    db
  }

  test("quantified ANY/ALL: extremum semantics and = ANY / <> ALL desugar") {
    val db = quantDb()
    def ids(sql: String): Seq[Int] =
      db.select(sql).fold(e => fail(e.msg), identity)
        .orderBy("id").collect().toSeq.map(_.getInt(0))
    // x < ANY {10,20,NULL}: 5 < 20 TRUE; 50 UNKNOWN (set has NULL); NULL probe UNKNOWN
    assert(ids("SELECT id FROM probe WHERE x < ANY (SELECT v FROM s)") == Seq(1))
    // x > ALL: 50 > 20 but the NULL in s degrades to UNKNOWN — no rows
    assert(ids("SELECT id FROM probe WHERE x > ALL (SELECT v FROM s)") == Seq())
    // without the NULL row, > ALL decides: 50 > 20 TRUE
    assert(ids("SELECT id FROM probe WHERE x > ALL (SELECT v FROM s WHERE v IS NOT NULL)") == Seq(2))
    // = ANY is IN; <> ALL is null-aware NOT IN (NULL in s → no rows)
    assert(ids("SELECT id FROM probe WHERE x = ANY (SELECT v + 40 AS w FROM s WHERE v = 10)") == Seq(2))
    assert(ids("SELECT id FROM probe WHERE x <> ALL (SELECT v FROM s)") == Seq())
    assert(ids("SELECT id FROM probe WHERE x <> ALL (SELECT v FROM s WHERE v IS NOT NULL)") == Seq(1, 2))
  }

  test("quantified ANY/ALL: empty set, NOT position, SOME synonym") {
    val db = quantDb()
    def ids(sql: String): Seq[Int] =
      db.select(sql).fold(e => fail(e.msg), identity)
        .orderBy("id").collect().toSeq.map(_.getInt(0))
    // empty set: ANY → FALSE for every probe, ALL → TRUE for every probe
    // (including the NULL probe — SQL's vacuous truth)
    assert(ids("SELECT id FROM probe WHERE x < ANY (SELECT v FROM empty_s)") == Seq())
    assert(ids("SELECT id FROM probe WHERE x < ALL (SELECT v FROM empty_s)") == Seq(1, 2, 3))
    // NOT(x < ANY s): TRUE only where the inner is definitely FALSE —
    // 50 < ANY {10,20,NULL} is UNKNOWN (not FALSE), so NOT keeps nothing
    assert(ids("SELECT id FROM probe WHERE NOT (x < ANY (SELECT v FROM s))") == Seq())
    // definite FALSE flips: NOT (x < ANY {10,20}) keeps x=50
    assert(ids("SELECT id FROM probe WHERE NOT (x < ANY (SELECT v FROM s WHERE v IS NOT NULL))") == Seq(2))
    // SOME is a synonym for ANY
    assert(ids("SELECT id FROM probe WHERE x <= SOME (SELECT v FROM s)") == Seq(1))
  }

  test("quantile_disc: discrete percentile picks input values (DuckDB pins)") {
    val db = freshDb()
    db.query("CREATE TABLE qd (g INT, x INT)").toOption.get
    db.query("INSERT INTO qd VALUES (1,1),(1,2),(1,3),(1,4),(1,NULL)").toOption.get
    def row(sql: String): Row =
      db.select(sql).fold(e => fail(s"$sql -> ${e.msg}"), identity).collect().head
    // DuckDB-probed pins over {1,2,3,4} (NULL skipped): 0.5→2, 0.25→1,
    // 0.75→3, 0→1, 1→4; DESC 0.5→3 (reverse flag, not 1-p)
    val r = row("SELECT quantile_disc(x, 0.5) AS a, quantile_disc(x, 0.25) AS b, " +
      "quantile_disc(x, 0.75) AS c, quantile_disc(x, 0.0) AS d, " +
      "quantile_disc(x, 1.0) AS e, " +
      "percentile_disc(0.5) WITHIN GROUP (ORDER BY x DESC) AS f, " +
      "quantile(x, 0.5) AS g FROM qd")
    assert(Seq(0, 1, 2, 3, 4, 5, 6).map(r.getInt) == Seq(2, 1, 3, 1, 4, 3, 2))
    // result type is the INPUT type (int stays int — no double widening)
    assert(r.schema("a").dataType.typeName == "integer")
    // empty group reads NULL
    val e = row("SELECT quantile_disc(x, 0.5) AS a FROM qd WHERE g = 99")
    assert(e.isNullAt(0))
    // non-numeric argument rejects loudly
    db.query("CREATE TABLE qs (s VARCHAR(5))").toOption.get
    assert(db.query("SELECT quantile_disc(s, 0.5) AS a FROM qs").isLeft)
    // fraction outside [0,1] rejects at parse
    assert(db.query("SELECT quantile_disc(x, 1.5) AS a FROM qd").isLeft)
  }

  test("list_zip: raw struct outputs, NULL padding, positional extract") {
    val db = freshDb()
    def one(sql: String): Row = db.select(sql) match {
      case Right(df) => df.collect().head
      case Left(e)   => fail(s"$sql -> ${e.msg}")
    }
    // raw zip output: array<struct>, padded to the LONGEST list with
    // NULLs (DuckDB list_zip([1,2,3],['a','b']) = [(1,a),(2,b),(3,NULL)])
    val r = one("SELECT list_zip([1,2,3], ['a','b']) AS z")
    val elems = r.getSeq[Row](0)
    assert(elems.length == 3)
    assert(elems(0).getLong(0) == 1L && elems(0).getString(1) == "a")
    assert(elems(2).getLong(0) == 3L && elems(2).isNullAt(1))
    // positional extract (1-based, DuckDB numeric struct_extract) inside
    // and outside lambdas; three-list zip
    val s = one("SELECT array_to_string(list_transform(" +
      "list_zip([10,20], ['x','y'], [1.5,2.5]), " +
      "p -> CAST(struct_extract(p, 1) AS VARCHAR) || ':' || " +
      "struct_extract(p, 2) || ':' || CAST(struct_extract(p, 3) AS VARCHAR)" +
      "), ',') AS s")
    assert(s.getString(0) == "10:x:1.5,20:y:2.5")
    // rejections: non-list zip arg, out-of-range index, string key,
    // non-struct base
    assert(db.query("SELECT list_zip([1], 'x') AS a").isLeft)
    assert(db.query("SELECT list_transform(list_zip([1],[2]), " +
      "p -> struct_extract(p, 3)) AS a").isLeft)
    assert(db.query("SELECT list_transform(list_zip([1],[2]), " +
      "p -> struct_extract(p, 'list_1')) AS a").isLeft)
    assert(db.query("SELECT struct_extract([1,2], 1) AS a").isLeft)
  }

  test("skewness/kurtosis: sample-corrected G1/G2, degenerate groups NULL") {
    val db = freshDb()
    db.query("CREATE TABLE sk (g INT, x DOUBLE)").toOption.get
    db.query("INSERT INTO sk VALUES (1,1),(1,2),(1,3),(1,4),(1,10), " +
      "(2,1),(2,2), (3,1),(3,2),(3,3), (4,5),(4,5),(4,5),(4,5)").toOption.get
    val rows = db.select("SELECT g, round(skewness(x), 6) AS s, " +
      "round(kurtosis(x), 6) AS k FROM sk GROUP BY g ORDER BY g")
      .fold(e => fail(e.msg), identity).collect()
    // DuckDB-probed pins: G1/G2 of {1,2,3,4,10} = 1.697056/3.152;
    // n=2 → NULL/NULL; n=3 → 0.0/NULL; constant → NULL/NULL
    assert(rows(0).getDouble(1) == 1.697056 && rows(0).getDouble(2) == 3.152)
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(2))
    assert(rows(2).getDouble(1) == 0.0 && rows(2).isNullAt(2))
    assert(rows(3).isNullAt(1) && rows(3).isNullAt(2))
    // not available in window position (composition needs group scope)
    assert(db.query("SELECT skewness(x) OVER () AS s FROM sk").isLeft)
  }

  test("date arithmetic: date +/- integer days, date - date") {
    val db = freshDb()
    def one(sql: String): Row = db.select(sql) match {
      case Right(df) => df.collect().head
      case Left(e)   => fail(s"$sql -> ${e.msg}")
    }
    val r = one("SELECT DATE '2020-01-01' + 5 AS a, DATE '2020-01-10' - 3 AS b, " +
      "DATE '2020-01-10' - DATE '2020-01-01' AS c, 2 + DATE '2020-01-01' AS d")
    assert(r.getDate(0).toString == "2020-01-06")
    assert(r.getDate(1).toString == "2020-01-07")
    assert(r.getInt(2) == 9)
    assert(r.getDate(3).toString == "2020-01-03")
    // timestamps reject plain-integer arithmetic like DuckDB's binder
    assert(db.query("SELECT TIMESTAMP '2020-01-01 10:00:00' + 1 AS a").isLeft)
  }

  test("named structs: literals, struct_pack, dot access, string-key extract") {
    val db = freshDb()
    def one(sql: String): Row = db.select(sql) match {
      case Right(df) => df.collect().head
      case Left(e)   => fail(s"$sql -> ${e.msg}")
    }
    // raw struct output: named fields, NULL values kept
    val r = one("SELECT {'a': 1 + 2, 'b': 'x', 'c': NULL} AS s")
    val st = r.getStruct(0)
    assert(st.schema.fieldNames.toSeq == Seq("a", "b", "c"))
    assert(st.getLong(0) == 3L && st.getString(1) == "x" && st.isNullAt(2))
    // struct_pack call form; string-key extract is case-insensitive
    val p = one("SELECT struct_extract(struct_pack(a := 7, b := 'y'), 'A') AS v")
    assert(p.getLong(0) == 7L)
    // dot access on a struct-typed column through a derived table;
    // lambda-parameter dot access
    db.query("CREATE TABLE so (k INT, st VARCHAR(4), tot DOUBLE)").toOption.get
    db.query("INSERT INTO so VALUES (1, 'O', 10.5)").toOption.get
    val d = one("SELECT k, s.stat AS a, struct_extract(s, 'tot') AS b " +
      "FROM (SELECT k, {'stat': st, 'tot': tot} AS s FROM so) t")
    assert(d.getInt(0) == 1 && d.getString(1) == "O" && d.getDouble(2) == 10.5)
    val l = one("SELECT array_to_string(list_transform(" +
      "[{'a': 1}, {'a': 2}], s -> CAST(s.a AS VARCHAR)), ',') AS z")
    assert(l.getString(0) == "1,2")
    // struct equality is element-wise (Spark native)
    val eq = one("SELECT CASE WHEN {'a': 1} = {'a': 1} THEN 1 ELSE 0 END AS e")
    assert(eq.getLong(0) == 1L)
    // to_json on containers (identical bytes with DuckDB when no field
    // is NULL); Spark OMITS null struct fields — posture pinned here
    val j = one("SELECT to_json({'a': 1, 'b': [1, 2]}) AS a, " +
      "to_json([{'x': 1}, {'x': 2}]) AS b, to_json({'a': 1, 'n': NULL}) AS c")
    assert(j.getString(0) == """{"a":1,"b":[1,2]}""")
    assert(j.getString(1) == """[{"x":1},{"x":2}]""")
    assert(j.getString(2) == """{"a":1}""") // DuckDB keeps "n":null — documented
    // rejections: duplicate keys, unknown field, dot on a non-struct,
    // scalar to_json
    assert(db.query("SELECT {'a': 1, 'A': 2} AS s").isLeft)
    assert(db.query("SELECT struct_extract({'a': 1}, 'zz') AS s").isLeft)
    assert(db.query("SELECT k.nope AS s FROM so").isLeft)
    assert(db.query("SELECT to_json('hi') AS s").isLeft)
  }

  test("lcm overflow raises (DuckDB parity), in-range values exact") {
    val db = freshDb()
    def one(sql: String): Row = db.select(sql) match {
      case Right(df) => df.collect().head
      case Left(e)   => fail(s"$sql -> ${e.msg}")
    }
    val r = one("SELECT lcm(4, 6) AS a, lcm(-4, 6) AS b, lcm(7, 0) AS c, " +
      "gcd(0, 0) AS d, lcm(1000000007, 998244353) AS e")
    assert(r.getLong(0) == 12L && r.getLong(1) == 12L && r.getLong(2) == 0L)
    assert(r.getLong(3) == 0L && r.getLong(4) == 1000000007L * 998244353L)
    // two large coprimes whose product exceeds BIGINT: error, not a wrap
    intercept[Exception] {
      db.select("SELECT lcm(3037000507, 3037000493) AS x")
        .toOption.get.collect()
    }
  }

  test("time_bucket: every width aligns to the 2000-01-03 origin") {
    val db = freshDb()
    def s(sql: String): String =
      db.select(sql).fold(e => fail(e.msg), identity)
        .collect().head.get(0).toString
    // DuckDB-probed pins: widths that do NOT divide the
    // 2000-01-01→2000-01-03 offset expose the origin choice
    assert(s("SELECT time_bucket(INTERVAL 3 DAY, TIMESTAMP '2000-01-01 00:00:00') AS b")
      .startsWith("1999-12-31 00:00"))
    assert(s("SELECT time_bucket(INTERVAL 7 HOUR, TIMESTAMP '2000-01-01 10:00:00') AS b")
      .startsWith("2000-01-01 06:00"))
    assert(s("SELECT time_bucket(INTERVAL 7 HOUR, TIMESTAMP '2026-03-05 11:22:33') AS b")
      .startsWith("2026-03-05 05:00"))
    // widths dividing 48 h are origin-insensitive and stay put
    assert(s("SELECT time_bucket(INTERVAL 15 MINUTE, TIMESTAMP '2026-03-05 11:22:33') AS b")
      .startsWith("2026-03-05 11:15"))
    assert(s("SELECT time_bucket(INTERVAL 1 WEEK, TIMESTAMP '2026-03-05 11:22:33') AS b")
      .startsWith("2026-03-02 00:00"))
  }

  test("approx_count_distinct: sketch estimate within ±5% of exact") {
    // sketch-specific values (Spark HLL++ vs DuckDB's own HLL) — no
    // cross-engine oracle exists, so the gate is a bounded-error spec
    // like the stats NDV one
    val db = freshDb()
    db.query("CREATE TABLE acd (k INT, v INT)")
    val rows = (1 to 2000).map(i => s"(${i % 4}, ${i % 500})").mkString(", ")
    db.query(s"INSERT INTO acd VALUES $rows")
    val r = db.select(
      "SELECT k, approx_count_distinct(v) AS est, count(DISTINCT v) AS exact " +
        "FROM acd GROUP BY k ORDER BY k").fold(e => fail(e.msg), identity)
      .collect()
    assert(r.length == 4)
    r.foreach { row =>
      val (est, exact) = (row.getLong(1), row.getLong(2))
      assert(math.abs(est - exact) <= math.max(1L, math.round(exact * 0.05)),
        s"k=${row.getInt(0)}: est $est vs exact $exact exceeds ±5%")
    }
  }

  test("top-n aggregate list variants: min/max(x, n), arg_min/arg_max(x, v, n)") {
    // spec-only: DuckDB 1.0 (the oracle) lacks the top-n forms, so the
    // expectations here are hand-computed (DuckDB ≥1.1 semantics: a LIST
    // of the n extreme values, ascending for min / descending for max,
    // NULLs skipped; groups smaller than n return what they have)
    val db = freshDb()
    def run(sql: String): Unit = db.query(sql) match {
      case Left(e) => fail(s"$sql -> ${e.msg}")
      case Right(_) => ()
    }
    run("CREATE TABLE s (g VARCHAR(2), w VARCHAR(8), v INT)")
    run("INSERT INTO s VALUES ('a', 'p', 5), ('a', 'q', 1), ('a', 'r', 3), " +
      "('a', 's', 9), ('b', 't', 7), ('b', 'u', NULL), ('b', 'v', 2)")
    val r = db.select(
      "SELECT g, min(v, 2) AS lo2, max(v, 3) AS hi3, " +
        "arg_min(w, v, 2) AS wlo, arg_max(w, v, 2) AS whi " +
        "FROM s GROUP BY g ORDER BY g").fold(e => fail(e.msg), identity)
      .collect().toSeq
    assert(r == Seq(
      Row("a", Seq(1, 3), Seq(9, 5, 3), Seq("q", "r"), Seq("s", "p")),
      // NULL v skipped everywhere; group b has only 2 non-null values
      Row("b", Seq(2, 7), Seq(7, 2), Seq("v", "t"), Seq("t", "v"))))
    // ungrouped form + strings as values; n larger than the input
    val r2 = db.select(
      "SELECT min(w, 3) AS w3, max(v, 99) AS vall FROM s")
      .fold(e => fail(e.msg), identity).collect().head
    assert(r2.getSeq[String](0) == Seq("p", "q", "r"))
    assert(r2.getSeq[Int](1) == Seq(9, 7, 5, 3, 2, 1))
    // error surface: n must be a positive integer literal
    assert(db.select("SELECT min(v, 0) AS x FROM s").isLeft)
    assert(db.select("SELECT arg_min(w, v, -1) AS x FROM s").isLeft)
  }
  test("approx_quantile: estimate within 5% of the exact median") {
    val db = freshDb()
    db.query("CREATE TABLE aq (v DOUBLE)")
    val vals = (1 to 400).map(i => s"(${i * 1.5})").mkString(", ")
    db.query(s"INSERT INTO aq VALUES $vals").fold(e => fail(e.msg), identity)
    val r = db.select(
      "SELECT approx_quantile(v, 0.5) AS a, median(v) AS m FROM aq")
      .fold(e => fail(e.msg), identity).collect().head
    val (a, m) = (r.getDouble(0), r.getDouble(1))
    assert(math.abs(a - m) / m < 0.05, s"approx $a vs exact $m")
    // reservoir_quantile aliases the same sketch (spec-only surface:
    // estimates are sketch-specific, no cross-engine oracle exists)
    val r2 = db.select("SELECT reservoir_quantile(v, 0.9) AS a FROM aq")
      .fold(e => fail(e.msg), identity).collect().head
    assert(math.abs(r2.getDouble(0) - 540.0) / 540.0 < 0.05)
  }

  test("from_json_strict raises on an uncastable leaf where lax reads NULL") {
    val db = freshDb()
    db.query("CREATE TABLE fj (j VARCHAR(100))")
    db.query("INSERT INTO fj VALUES ('{\"a\":\"xx\"}')")
    val lax = db.select(
      "SELECT struct_extract(from_json(j, '{\"a\":\"BIGINT\"}'), 'a') AS a FROM fj")
      .fold(e => fail(e.msg), identity).collect().head
    assert(lax.isNullAt(0))
    val strictDf = db.select(
      "SELECT struct_extract(from_json_strict(j, '{\"a\":\"BIGINT\"}'), 'a') AS a FROM fj")
      .fold(e => fail(e.msg), identity)
    val err = intercept[Exception](strictDf.collect())
    assert(err.getMessage.contains("failed to cast") ||
      Option(err.getCause).exists(_.getMessage.contains("failed to cast")))
    // a malformed structure literal rejects at analysis, loudly
    val Left(bad) = db.query(
      "SELECT from_json(j, '{\"a\":\"NOPE\"}') AS x FROM fj"): @unchecked
    assert(bad.msg.contains("unsupported structure type"))
  }

  test("TIME and TIMESTAMPTZ: literals, casts, AT TIME ZONE, persistence") {
    val db = freshDb()
    db.query("CREATE TABLE tt (id INT PRIMARY KEY, t TIME, z TIMESTAMPTZ)")
      .left.foreach(e => fail(e.msg))
    db.query("INSERT INTO tt VALUES (1, TIME '08:30:00', TIMESTAMPTZ '2024-06-01 10:00:00+02'), " +
      "(2, TIME '23:59:59.5', TIMESTAMPTZ '2024-06-01 08:00:00')")
      .left.foreach(e => fail(e.msg))
    val r = db.select("SELECT id, cast(t AS VARCHAR) AS ts, cast(z AS VARCHAR) AS zs " +
      "FROM tt ORDER BY t").fold(e => fail(e.msg), identity).collect()
    assert(r.map(_.getString(1)).toSeq == Seq("08:30:00", "23:59:59.5"))
    // the +02 literal normalized to the UTC instant; rendering carries +00
    assert(r(0).getString(2) == "2024-06-01 08:00:00+00")
    assert(r(1).getString(2) == "2024-06-01 08:00:00+00")
    // AT TIME ZONE direction: naive -> TIMESTAMPTZ (tz wall time read as
    // an instant); TIMESTAMPTZ -> naive tz wall time
    val atz = db.select("SELECT " +
      "cast(TIMESTAMP '2024-01-01 10:00:00' AT TIME ZONE 'Asia/Tokyo' AS VARCHAR) AS a, " +
      "cast(TIMESTAMPTZ '2024-01-01 10:00:00+00' AT TIME ZONE 'Asia/Tokyo' AS VARCHAR) AS b")
      .fold(e => fail(e.msg), identity).collect().head
    assert(atz.getString(0) == "2024-01-01 01:00:00+00")
    assert(atz.getString(1) == "2024-01-01 19:00:00")
    // TIME survives a catalog reopen (declared type round-trips)
    val db2 = new GraftDatabase(spark, db.warehouse)
    val r2 = db2.select("SELECT cast(max(t) AS VARCHAR) AS m FROM tt")
      .fold(e => fail(e.msg), identity).collect().head
    assert(r2.getString(0) == "23:59:59.5")
    // typeof reads the DuckDB names
    val tn = db2.select("SELECT typeof(t) AS a, typeof(z) AS b FROM tt")
      .fold(e => fail(e.msg), identity).collect().head
    assert(tn.getString(0) == "TIME")
    assert(tn.getString(1) == "TIMESTAMP WITH TIME ZONE")
    // a malformed TIME literal fails at parse, loudly
    assert(db.query("SELECT TIME '25:00:00' AS x FROM tt").isLeft)
  }

  test("ENUM: CREATE TYPE, positional order, validation, persistence") {
    val db = freshDb()
    db.query("CREATE TYPE mood AS ENUM ('sad', 'ok', 'happy')")
      .left.foreach(e => fail(e.msg))
    db.query("CREATE TABLE mt (id INT PRIMARY KEY, m mood)")
      .left.foreach(e => fail(e.msg))
    db.query("INSERT INTO mt VALUES (1, 'happy'), (2, 'sad'), (3, 'ok')")
      .left.foreach(e => fail(e.msg))
    // a non-member INSERT rejects at conversion (DuckDB's error surface)
    assert(db.query("INSERT INTO mt VALUES (4, 'angry')").isLeft)
    // ordering is POSITIONAL: sad < ok < happy (text order would differ)
    val r = db.select("SELECT id FROM mt ORDER BY m").fold(e => fail(e.msg), identity)
      .collect().map(_.getInt(0)).toSeq
    assert(r == Seq(2, 3, 1))
    val mm = db.select("SELECT cast(min(m) AS VARCHAR) AS lo, " +
      "cast(max(m) AS VARCHAR) AS hi, " +
      "cast(sum(CASE WHEN m > 'sad' THEN 1 ELSE 0 END) AS BIGINT) AS gt " +
      "FROM mt").fold(e => fail(e.msg), identity).collect().head
    assert(mm.getString(0) == "sad" && mm.getString(1) == "happy")
    assert(mm.getLong(2) == 2L)
    // a runtime non-member cast raises with DuckDB's message shape
    val bad = db.select("SELECT cast('angry' AS mood) AS x FROM mt")
      .fold(e => fail(e.msg), identity)
    assert(intercept[Exception](bad.collect())
      .getMessage.contains("Conversion Error"))
    // the named type persists; DROP TYPE blocks while a table uses it
    val db2 = new GraftDatabase(spark, db.warehouse)
    val r2 = db2.select("SELECT enum_code(max(m)) AS c FROM mt")
      .fold(e => fail(e.msg), identity).collect().head
    assert(r2.getInt(0) == 2)
    assert(db2.query("DROP TYPE mood").isLeft)
    db2.query("DROP TABLE mt")
    db2.query("DROP TYPE mood").left.foreach(e => fail(e.msg))
    assert(db2.query("CREATE TABLE m2 (m mood)").isLeft) // name gone
  }

  test("boolean expressions as select items: 3VL, unparenthesized forms") {
    val db = demoDb()
    val r = db.select("SELECT id, age >= 30 AS old, " +
      "name LIKE 'M%' AND age IS NULL AS m_noage, " +
      "cast(age < 25 AS VARCHAR) AS young_s, " +
      "(age BETWEEN 25 AND 35) AS mid " +
      "FROM people ORDER BY id").fold(e => fail(e.msg), identity).collect()
    // id 1: Elon age 20; id 2: Doc 30; id 3: Marty NULL age
    assert(!r(0).getBoolean(1) && r(1).getBoolean(1))
    assert(r(2).isNullAt(1)) // NULL age -> NULL, not false (3VL)
    assert(r(2).getBoolean(2)) // Marty LIKE 'M%' AND age IS NULL
    assert(r(0).getString(3) == "true" && r(2).isNullAt(3))
    assert(!r(0).getBoolean(4) && r(1).getBoolean(4) && r(2).isNullAt(4))
  }

  test("CREATE MACRO: textual expansion, defaults, persistence, recursion cap") {
    val db = demoDb()
    db.query("CREATE MACRO plus1(a) AS a + 1").left.foreach(e => fail(e.msg))
    db.query("CREATE MACRO clampv(x, hi := 25) AS CASE WHEN x > hi THEN hi ELSE x END")
      .left.foreach(e => fail(e.msg))
    val r = db.select("SELECT id, plus1(age) AS a1, " +
      "clampv(plus1(age)) AS c1, clampv(age, 21) AS c2 " +
      "FROM people WHERE age IS NOT NULL ORDER BY id")
      .fold(e => fail(e.msg), identity).collect()
    assert(r.map(_.getLong(1)).toSeq == Seq(21L, 31L)) // ages 20, 30
    assert(r.map(_.getLong(2)).toSeq == Seq(21L, 25L)) // default hi = 25
    assert(r.map(_.getLong(3)).toSeq == Seq(20L, 21L))
    // args parenthesize: precedence cannot leak across the splice
    val pr = db.select("SELECT plus1(age * 2) AS v FROM people WHERE id = 1")
      .fold(e => fail(e.msg), identity).collect().head
    assert(pr.getLong(0) == 41L)
    // redefinition requires OR REPLACE
    assert(db.query("CREATE MACRO plus1(a) AS a + 2").isLeft)
    db.query("CREATE OR REPLACE MACRO plus1(a) AS a + 10")
      .left.foreach(e => fail(e.msg))
    // macros persist with the warehouse
    val db2 = new GraftDatabase(spark, db.warehouse)
    val r2 = db2.select("SELECT plus1(age) AS v FROM people WHERE id = 1")
      .fold(e => fail(e.msg), identity).collect().head
    assert(r2.getLong(0) == 30L)
    // a missing argument without a default is a pointed error
    assert(db2.query("SELECT clampv() AS v FROM people").isLeft)
    // a self-recursive macro hits the expansion cap loudly
    db2.query("CREATE MACRO looper(x) AS looper(x) + 1")
      .left.foreach(e => fail(e.msg))
    assert(db2.query("SELECT looper(1) AS v FROM people").isLeft)
    db2.query("DROP MACRO looper").left.foreach(e => fail(e.msg))
    assert(db2.query("DROP MACRO looper").isLeft)
    // an invalid body rejects at CREATE
    assert(db2.query("CREATE MACRO bad(a) AS a +").isLeft)
  }

  test("FROM-first statements: bare FROM reads SELECT *, SELECT may follow") {
    val db = demoDb()
    val all = db.select("FROM people ORDER BY id")
      .fold(e => fail(e.msg), identity).collect()
    assert(all.length == 3 && all.head.schema.fieldNames.toSeq ==
      Seq("id", "name", "age"))
    val proj = db.select("FROM people SELECT name WHERE age >= 30 ORDER BY id")
      .fold(e => fail(e.msg), identity).collect()
    assert(proj.map(_.getString(0)).toSeq == Seq("Dr. Emmett L. „Doc“ Brown"))
    // a filter BEFORE the SELECT stays a syntax error (DuckDB probed)
    assert(db.query("FROM people WHERE age > 1 SELECT name").isLeft)
    // a derived source works FROM-first too
    val d = db.select("FROM (SELECT id FROM people WHERE age IS NOT NULL) " +
      "SELECT count(*) AS n").fold(e => fail(e.msg), identity).collect().head
    assert(d.getLong(0) == 2L)
  }

  test("table macros (AS TABLE) and alias-less derived tables") {
    val db = demoDb()
    db.query("CREATE MACRO adults(lo) AS TABLE " +
      "SELECT id, name FROM people WHERE age >= lo")
      .left.foreach(e => fail(e.msg))
    val n = db.select("SELECT count(*) AS n FROM adults(25)")
      .fold(e => fail(e.msg), identity).collect().head.getLong(0)
    assert(n == 1L) // only Doc (30); Marty's NULL age excludes
    // a table-macro source takes an alias and joins like any table
    val j = db.select("SELECT a.name, c.model FROM adults(18) a " +
      "JOIN cars c ON a.id = c.owner_id ORDER BY a.id")
      .fold(e => fail(e.msg), identity).collect()
    assert(j.length == 2 && j(0).getString(1) == "Tesla Model 3")
    // alias-less derived tables read DuckDB's synthetic name
    val d = db.select("SELECT id FROM (SELECT id FROM people " +
      "WHERE age IS NOT NULL) ORDER BY id")
      .fold(e => fail(e.msg), identity).collect().map(_.getInt(0)).toSeq
    assert(d == Seq(1, 2))
    // a table macro body must be a SELECT
    assert(db.query("CREATE MACRO badt(x) AS TABLE x + 1").isLeft)
  }

  test("UNION type: tagged values, extract NULL on inactive, bind errors") {
    val db = demoDb()
    val r = db.select("SELECT " +
      "union_tag(cast(union_value(num := id) AS UNION(num INT, str VARCHAR(50)))) AS t, " +
      "union_extract(cast(union_value(num := id) AS UNION(num INT, str VARCHAR(50))), 'str') AS s, " +
      "cast(cast(union_value(str := name) AS UNION(num INT, str VARCHAR(50))) AS VARCHAR) AS tx " +
      "FROM people WHERE id = 1").fold(e => fail(e.msg), identity).collect().head
    assert(r.getString(0) == "num")
    assert(r.isNullAt(1))
    assert(r.getString(2) == "Elon")
    // unknown member is a BIND error (DuckDB's message shape)
    val Left(e) = db.query("SELECT union_extract(" +
      "cast(union_value(num := id) AS UNION(num INT, str VARCHAR(50))), 'nope') AS x " +
      "FROM people"): @unchecked
    assert(e.msg.contains("Could not find key"))
    // narrowing (dropping a member) rejects
    assert(db.query("SELECT cast(cast(union_value(str := name) AS " +
      "UNION(num INT, str VARCHAR(50))) AS UNION(num INT)) AS x FROM people").isLeft)
  }

  test("round(DECIMAL) result type: DECIMAL(p, clamp(n,0,s)), values HALF_UP") {
    // The q_dialect_round_dec gate casts its outputs to DOUBLE (the
    // driver's pandas channel narrows DuckDB DECIMAL to float64 while
    // Spark DECIMAL arrives as Decimal objects) — so the static result
    // type is pinned HERE instead, per the round-10 verdict.
    import org.apache.spark.sql.types.DecimalType
    val db = freshDb()
    db.query("CREATE TABLE rd (x DECIMAL(10, 4))")
    db.query("INSERT INTO rd VALUES (1234.5678), (-2.5000)")
    val df = db.select(
      "SELECT round(x) AS r0, round(x, 2) AS r2, round(x, -1) AS rneg, " +
        "round(x, 9) AS rcap FROM rd ORDER BY x DESC")
      .fold(e => fail(e.msg), identity)
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("r0") == DecimalType(10, 0))
    assert(types("r2") == DecimalType(10, 2))
    assert(types("rneg") == DecimalType(10, 0))
    assert(types("rcap") == DecimalType(10, 4))
    val rows = df.collect()
    assert(rows(0).getDecimal(0).toPlainString == "1235") // .5678 rounds up
    assert(rows(0).getDecimal(1).toPlainString == "1234.57")
    assert(rows(0).getDecimal(2).toPlainString == "1230")
    assert(rows(1).getDecimal(0).toPlainString == "-3")   // half AWAY from zero
  }

  test("date-only TIMESTAMPTZ literal reads midnight UTC (advice r12)") {
    val db = freshDb()
    // the lazy-offset regex used to eat '-01' (the day) as a UTC offset
    val r = db.select("SELECT cast(TIMESTAMPTZ '2024-06-01' AS VARCHAR) AS a, " +
      "cast(TIMESTAMPTZ '2024-06-01T10:30:00' AS VARCHAR) AS b")
      .fold(e => fail(e.msg), identity).collect().head
    assert(r.getString(0) == "2024-06-01 00:00:00+00")
    assert(r.getString(1) == "2024-06-01 10:30:00+00")
  }

  test("try_cast routes through the typed cast plumbing (advice r12)") {
    val db = freshDb()
    db.query("CREATE TYPE mood2 AS ENUM ('sad', 'ok', 'happy')")
      .left.foreach(e => fail(e.msg))
    db.query("CREATE TABLE tm (id INT PRIMARY KEY, s VARCHAR(20))")
    db.query("INSERT INTO tm VALUES (1, 'happy'), (2, 'angry'), (3, NULL)")
    // ENUM membership: NULL on miss (cast would raise), value on hit
    val r = db.select("SELECT id, cast(try_cast(s AS mood2) AS VARCHAR) AS m " +
      "FROM tm ORDER BY id").fold(e => fail(e.msg), identity).collect()
    assert(r(0).getString(1) == "happy")
    assert(r(1).isNullAt(1))
    assert(r(2).isNullAt(1))
    // try_cast TIMESTAMPTZ -> VARCHAR renders the +00 offset like cast
    val z = db.select("SELECT try_cast(TIMESTAMPTZ '2024-06-01 10:00:00+02' " +
      "AS VARCHAR) AS z").fold(e => fail(e.msg), identity).collect().head
    assert(z.getString(0) == "2024-06-01 08:00:00+00")
    // try_cast TIMESTAMP -> TIME takes the time-of-day like cast
    val t = db.select("SELECT cast(try_cast(TIMESTAMP '2024-06-01 08:30:00' " +
      "AS TIME) AS VARCHAR) AS t").fold(e => fail(e.msg), identity).collect().head
    assert(t.getString(0) == "08:30:00")
    // UNION narrowing still rejects at bind under try_cast
    assert(db.query("SELECT try_cast(union_value(num := 7) AS " +
      "UNION(str VARCHAR(10))) AS x FROM tm").isLeft)
  }

  test("macro arguments with list/struct literals (advice r12)") {
    val db = freshDb()
    db.query("CREATE MACRO second_el(xs) AS xs[2]").left.foreach(e => fail(e.msg))
    val r = db.select("SELECT second_el([10, 20, 30]) AS a")
      .fold(e => fail(e.msg), identity).collect().head
    assert(r.getLong(0) == 20L)
    db.query("CREATE MACRO pick(st) AS struct_extract(st, 'b')").left.foreach(e => fail(e.msg))
    val s = db.select("SELECT pick({'a': 1, 'b': 42}) AS v")
      .fold(e => fail(e.msg), identity).collect().head
    assert(s.getLong(0) == 42L)
    // a list-literal default survives the parameter scanner too
    db.query("CREATE MACRO head_or(xs := [7, 8]) AS xs[1]")
      .left.foreach(e => fail(e.msg))
    val d = db.select("SELECT head_or() AS v")
      .fold(e => fail(e.msg), identity).collect().head
    assert(d.getLong(0) == 7L)
  }

  test("e-notation literals: DOUBLE typing, half-even integer casts (r12)") {
    val db = freshDb()
    db.query("CREATE TABLE se (id INT PRIMARY KEY)")
    db.query("INSERT INTO se VALUES (1)")
    val r = db.select("SELECT 1.5e2 AS a, typeof(2.5e0) AS t, " +
      "CAST(2.5e0 AS BIGINT) AS even, CAST(2.5 AS BIGINT) AS away, " +
      "CAST(1e3 AS BIGINT) AS ke, 2.5E-1 AS neg_exp FROM se")
      .fold(e => fail(e.msg), identity).collect().head
    assert(r.getDouble(0) == 150.0)
    assert(r.getString(1) == "DOUBLE")
    assert(r.getLong(2) == 2L)  // genuine DOUBLE: half to even
    assert(r.getLong(3) == 3L)  // decimal literal: half away
    assert(r.getLong(4) == 1000L)
    assert(r.getDouble(5) == 0.25)
  }

  test("postfix field access on computed operands (r12)") {
    val db = freshDb()
    db.query("CREATE TABLE pf (id INT PRIMARY KEY)")
    db.query("INSERT INTO pf VALUES (1)")
    val r = db.select("SELECT ({'a': 1, 'b': 42}).b AS v, " +
      "([{'f': 5}, {'f': 7}])[2].f AS w, " +
      "struct_pack(x := 9).x AS u FROM pf")
      .fold(e => fail(e.msg), identity).collect().head
    assert(r.getLong(0) == 42L)
    assert(r.getLong(1) == 7L)
    assert(r.getLong(2) == 9L)
  }

  test("view over a named ENUM type survives a catalog reopen (advice r12)") {
    val db = freshDb()
    db.query("CREATE TYPE lvl AS ENUM ('low', 'high')")
      .left.foreach(e => fail(e.msg))
    db.query("CREATE TABLE lt (id INT PRIMARY KEY, s VARCHAR(10))")
    db.query("INSERT INTO lt VALUES (1, 'low'), (2, 'high'), (3, 'mid')")
    db.query("CREATE VIEW lv AS SELECT id, try_cast(s AS lvl) AS l FROM lt")
      .left.foreach(e => fail(e.msg))
    // reopening parses the stored view body — it must resolve 'lvl'
    // through THIS database's named types, not a stale thread-local
    Parser.setNamedTypes(Map.empty) // poison the thread-local first
    val db2 = new GraftDatabase(spark, db.warehouse)
    val r = db2.select("SELECT id FROM lv WHERE l IS NOT NULL ORDER BY id")
      .fold(e => fail(e.msg), identity).collect().map(_.getInt(0)).toSeq
    assert(r == Seq(1, 2))
  }

  test("COLLATE: comparison propagation, ORDER BY, GROUP BY, errors") {
    val db = demoDb()
    // one-sided NOCASE collates the whole comparison (both sides lower)
    val eq = db.select("SELECT count(*) AS n FROM people " +
      "WHERE name COLLATE NOCASE = 'ELON'")
      .fold(e => fail(e.msg), identity).collect().head.getLong(0)
    assert(eq == 1L)
    // ORDER BY key under NOCASE, binary tiebreak
    db.query("CREATE TABLE cs (id INT PRIMARY KEY, s VARCHAR(10))")
    db.query("INSERT INTO cs VALUES (1, 'b'), (2, 'A'), (3, 'C'), (4, 'a')")
    val ord = db.select("SELECT s FROM cs ORDER BY s COLLATE NOCASE, s")
      .fold(e => fail(e.msg), identity).collect().map(_.getString(0)).toSeq
    assert(ord == Seq("A", "a", "b", "C")) // probed DuckDB order
    // GROUP BY a collated key groups case-insensitively
    val grp = db.select("SELECT count(*) AS n FROM cs " +
      "GROUP BY s COLLATE NOCASE ORDER BY n")
      .fold(e => fail(e.msg), identity).collect().map(_.getLong(0)).toSeq
    assert(grp == Seq(1, 1, 2))
    // NOACCENT strips accents; combo applies both
    val acc = db.select("SELECT count(*) AS n FROM people " +
      "WHERE 'Elön' COLLATE NOCASE.NOACCENT = 'ELON'")
      .fold(e => fail(e.msg), identity).collect().head.getLong(0)
    assert(acc == 3L)
    // unknown collation is a parse error; non-VARCHAR operand rejects
    assert(db.query("SELECT 'x' COLLATE BOGUS = 'x' FROM people").isLeft)
    assert(db.query("SELECT count(*) FROM people " +
      "WHERE age COLLATE NOCASE = '20'").isLeft)
  }

  test("PREPARE / EXECUTE / DEALLOCATE: placeholders, arity, errors") {
    val db = demoDb()
    def one(sql: String): Row =
      db.select(sql).fold(e => fail(s"$sql -> ${e.msg}"), identity)
        .collect().head
    // $1-positional
    assert(db.query("PREPARE psel AS SELECT name FROM people " +
      "WHERE age > $1 ORDER BY name").isRight)
    assert(one("EXECUTE psel(25)").getString(0)
      == "Dr. Emmett L. „Doc“ Brown")
    // named ($lo / $hi, := call syntax); re-prepare overwrites silently
    assert(db.query("PREPARE pn AS SELECT count(*) AS n FROM people " +
      "WHERE age > $lo AND age < $hi").isRight)
    assert(one("EXECUTE pn(lo := 10, hi := 25)").getLong(0) == 1L)
    // ?-auto placeholders number by occurrence; splices parenthesize
    assert(db.query("PREPARE pq AS SELECT ? * 10 + ? AS v").isRight)
    assert(one("EXECUTE pq(2, 3)").getLong(0) == 23L)
    // a placeholder INSIDE a string literal is text, not a parameter
    assert(db.query("PREPARE pl AS SELECT '$1' AS s, $1 AS v").isRight)
    val r = one("EXECUTE pl(9)")
    assert(r.getString(0) == "$1" && r.getLong(1) == 9L)
    // …and inside comments (line and block) it is not a parameter
    assert(db.query("PREPARE pc AS SELECT $1 /* not $2 */ AS v -- nor $3")
      .isRight)
    assert(one("EXECUTE pc(5)").getLong(0) == 5L)
    // error surfaces: unknown statement, arity, style mixing, unknown
    // named arg, dealloc of missing, body that is itself EXECUTE
    assert(db.query("EXECUTE nosuch(1)").isLeft)
    assert(db.query("EXECUTE psel()").isLeft)
    assert(db.query("EXECUTE psel(1, 2)").isLeft)
    assert(db.query("EXECUTE pn(lo := 1, bogus := 2)").isLeft)
    assert(db.query("PREPARE mixed AS SELECT $1 + $a").isLeft)
    assert(db.query("PREPARE loop1 AS EXECUTE loop1(1)").isLeft)
    assert(db.query("PREPARE bad AS SELECT FROM WHERE").isLeft)
    assert(db.query("DEALLOCATE psel").isRight)
    assert(db.query("EXECUTE psel(25)").isLeft)
    assert(db.query("DEALLOCATE psel").isLeft)
    assert(db.query("DEALLOCATE PREPARE pn").isRight) // long form
    // typed binding: the parameter VALUE binds, not its source text —
    // a quote-bearing string round-trips intact and cannot alter the
    // body's parse
    assert(db.query("PREPARE pstr AS SELECT $1 AS s, length($1) AS n")
      .isRight)
    val rs = one("EXECUTE pstr('O''Brien -- not; a '' comment')")
    assert(rs.getString(0) == "O'Brien -- not; a ' comment")
    assert(rs.getInt(1) == 27)
    // a constant-EXPRESSION argument evaluates once and binds its value
    assert(db.query("PREPARE pex AS SELECT $1 AS v").isRight)
    assert(one("EXECUTE pex(2 + 3 * 4)").getLong(0) == 14L)
    assert(one("EXECUTE pex(upper('ab') || '''')").getString(0) == "AB'")
  }

  test("CREATE SCHEMA: qualified names, main-spelling, drop semantics") {
    val db = demoDb()
    // creating into a missing schema rejects; CREATE SCHEMA fixes it
    assert(db.query("CREATE TABLE st.keep (id INT, v VARCHAR(8))").isLeft)
    assert(db.query("CREATE SCHEMA st").isRight)
    assert(db.query("CREATE SCHEMA st").isLeft) // duplicate
    assert(db.query("CREATE SCHEMA IF NOT EXISTS st").isRight)
    db.query("CREATE TABLE st.keep (id INT, v VARCHAR(8))")
      .fold(e => fail(e.msg), identity)
    db.query("INSERT INTO st.keep VALUES (1, 'x'), (2, 'y')")
      .fold(e => fail(e.msg), identity)
    // qualified scan binds by LAST segment; joins against main work
    val r = db.select("SELECT keep.v, p.name FROM st.keep, people p " +
      "WHERE keep.id = p.id ORDER BY keep.id")
      .fold(e => fail(e.msg), identity).collect()
    assert(r.map(_.getString(0)).toSeq == Seq("x", "y"))
    // main.t spells away to t (same table, both spellings)
    val m = db.select("SELECT count(*) AS n FROM main.people")
      .fold(e => fail(e.msg), identity).collect().head.getLong(0)
    assert(m == 3L)
    // same bare name in another schema is a DIFFERENT table
    db.query("CREATE TABLE st.people (id INT)")
      .fold(e => fail(e.msg), identity)
    db.query("INSERT INTO st.people VALUES (9)")
    val sp = db.select("SELECT id FROM st.people").toOption.get.collect()
    assert(sp.map(_.getInt(0)).toSeq == Seq(9))
    // UPDATE/DELETE/CTAS through qualified names
    db.query("UPDATE st.keep SET v = 'z' WHERE id = 2")
      .fold(e => fail(e.msg), identity)
    db.query("CREATE TABLE st.copy AS SELECT id FROM st.keep WHERE id > 1")
      .fold(e => fail(e.msg), identity)
    assert(db.select("SELECT v FROM st.keep WHERE id = 2").toOption.get
      .collect().head.getString(0) == "z")
    // schema-qualified tables survive a catalog reopen
    val db2 = new GraftDatabase(spark, db.warehouse)
    assert(db2.select("SELECT count(*) AS n FROM st.keep").toOption.get
      .collect().head.getLong(0) == 2L)
    assert(db2.query("CREATE TABLE st2.t (x INT)").isLeft) // still guarded
    // RESTRICT refuses a non-empty schema; CASCADE drops members
    assert(db2.query("DROP SCHEMA st").isLeft)
    assert(db2.query("DROP SCHEMA st CASCADE").isRight)
    assert(db2.select("SELECT * FROM st.keep").isLeft)
    assert(db2.query("DROP SCHEMA st").isLeft) // gone
    assert(db2.query("DROP SCHEMA IF EXISTS st").isRight)
    assert(db2.query("DROP SCHEMA main").isLeft)
  }

  test("INSERT DEFAULT VALUES and COMMENT ON") {
    val db = freshDb()
    db.query("CREATE TABLE dv (id INT DEFAULT 7, tag VARCHAR(8) " +
      "DEFAULT 'none', note VARCHAR(8))")
      .fold(e => fail(e.msg), identity)
    db.query("INSERT INTO dv DEFAULT VALUES").fold(e => fail(e.msg), identity)
    val r = db.select("SELECT id, tag, note FROM dv").toOption.get
      .collect().head
    assert(r == Row(7, "none", null))
    // NOT NULL without a default rejects DEFAULT VALUES
    db.query("CREATE TABLE dnn (id INT NOT NULL)")
    assert(db.query("INSERT INTO dnn DEFAULT VALUES").isLeft)
    // COMMENT ON: validated no-op — unknown relations reject
    assert(db.query("COMMENT ON TABLE dv IS 'fixture'").isRight)
    assert(db.query("COMMENT ON COLUMN dv.tag IS 'a tag'").isRight)
    assert(db.query("COMMENT ON TABLE ghost IS 'x'").isLeft)
    assert(db.query("COMMENT ON COLUMN dv.ghost IS 'x'").isLeft)
    assert(db.query("COMMENT ON TABLE dv IS NULL").isRight)
  }

  test("CREATE TEMP TABLE: session-scoped, gone on reopen, clean reuse") {
    val db = freshDb()
    db.query("CREATE TEMP TABLE scratch (id INT, v VARCHAR(8))")
      .fold(e => fail(e.msg), identity)
    db.query("INSERT INTO scratch VALUES (1, 'a'), (2, 'b')")
      .fold(e => fail(e.msg), identity)
    assert(db.select("SELECT count(*) AS n FROM scratch").toOption.get
      .collect().head.getLong(0) == 2L)
    // CTAS form, TEMPORARY spelling
    db.query("CREATE TEMPORARY TABLE scratch2 AS SELECT id FROM scratch " +
      "WHERE id > 1").fold(e => fail(e.msg), identity)
    // TEMPORARY is CREATE TABLE-only
    assert(db.query("CREATE TEMP VIEW tv AS SELECT 1 AS x").isLeft)
    // a reopen does not see temp tables; the orphaned data directory
    // does not leak into a new same-named permanent table
    val db2 = new GraftDatabase(spark, db.warehouse)
    assert(db2.select("SELECT * FROM scratch").isLeft)
    db2.query("CREATE TABLE scratch (id INT, v VARCHAR(8))")
      .fold(e => fail(e.msg), identity)
    assert(db2.select("SELECT count(*) AS n FROM scratch").toOption.get
      .collect().head.getLong(0) == 0L)
    // DROP of a live temp table works like any drop
    db.query("DROP TABLE scratch2").fold(e => fail(e.msg), identity)
  }

  test("views and matviews inside schemas") {
    val db = demoDb()
    assert(db.query("CREATE VIEW vx.v AS SELECT 1 AS x").isLeft) // no schema
    db.query("CREATE SCHEMA rpt").fold(e => fail(e.msg), identity)
    db.query("CREATE VIEW rpt.adults AS SELECT name FROM people " +
      "WHERE age >= 21").fold(e => fail(e.msg), identity)
    val r = db.select("SELECT name FROM rpt.adults ORDER BY name")
      .fold(e => fail(e.msg), identity).collect()
    assert(r.map(_.getString(0)).toSeq == Seq("Dr. Emmett L. „Doc“ Brown"))
    db.query("CREATE MATERIALIZED VIEW rpt.mv AS SELECT count(*) AS n " +
      "FROM people").fold(e => fail(e.msg), identity)
    assert(db.select("SELECT n FROM rpt.mv").toOption.get
      .collect().head.getLong(0) == 3L)
    // RESTRICT counts views; CASCADE drops them with the schema
    assert(db.query("DROP SCHEMA rpt").isLeft)
    db.query("DROP SCHEMA rpt CASCADE").fold(e => fail(e.msg), identity)
    assert(db.select("SELECT * FROM rpt.adults").isLeft)
  }

  test("DISTINCT window aggregates and window FILTER") {
    val db = freshDb()
    db.query("CREATE TABLE wv (g INT, v INT)")
    db.query("INSERT INTO wv VALUES (1, 10), (1, 10), (1, 20), " +
      "(2, 5), (2, NULL)")
    val r = db.select("SELECT g, v, " +
      "count(DISTINCT v) OVER (PARTITION BY g) AS cd, " +
      "CAST(sum(DISTINCT v) OVER (PARTITION BY g) AS DOUBLE) AS sd, " +
      "count(*) FILTER (WHERE v > 9) OVER (PARTITION BY g) AS nf " +
      "FROM wv ORDER BY g, v NULLS LAST")
      .fold(e => fail(e.msg), identity).collect()
    // g=1: {10,20} → cd 2, sd 30; g=2: {5} (NULL skipped) → cd 1, sd 5
    assert(r.map(x => (x.getInt(0), x.getLong(2), x.getDouble(3),
      x.getLong(4))).toSeq == Seq((1, 2L, 30.0, 3L), (1, 2L, 30.0, 3L),
      (1, 2L, 30.0, 3L), (2, 1L, 5.0, 0L), (2, 1L, 5.0, 0L)))
    // unsupported DISTINCT window function rejects loudly
    assert(db.query("SELECT median(DISTINCT v) OVER (PARTITION BY g) " +
      "AS m FROM wv").isLeft)
    // RUNNING distinct count: an ordered frame's collect_set grows
    // row by row (default frame = unbounded preceding .. current row)
    db.query("CREATE TABLE rw (i INT, v INT)")
    db.query("INSERT INTO rw VALUES (1, 10), (2, 20), (3, 10), (4, 30)")
    val run = db.select("SELECT i, count(DISTINCT v) " +
      "OVER (ORDER BY i) AS rc FROM rw ORDER BY i")
      .fold(e => fail(e.msg), identity).collect()
    assert(run.map(_.getLong(1)).toSeq == Seq(1L, 2L, 2L, 3L))
    // COLLATE on a window ORDER key sorts case-insensitively
    db.query("CREATE TABLE cw (s VARCHAR(4))")
    db.query("INSERT INTO cw VALUES ('b'), ('A'), ('C'), ('a')")
    val rn = db.select("SELECT s, row_number() " +
      "OVER (ORDER BY s COLLATE NOCASE, s) AS r FROM cw ORDER BY r")
      .fold(e => fail(e.msg), identity).collect()
    assert(rn.map(_.getString(0)).toSeq == Seq("A", "a", "b", "C"))
  }

  test("DISTINCT window prefix frames: mask path, no collect_set, typed") {
    val db = freshDb()
    db.query("CREATE TABLE dw (g INT, i INT, v BIGINT, d DECIMAL(10,2))")
    // sum(DISTINCT bigint) past 2^53: 2^53+1 is unrepresentable in
    // DOUBLE — a floating fold would silently round it
    db.query("INSERT INTO dw VALUES " +
      "(1, 1, 9007199254740993, 1.10), (1, 2, 9007199254740993, 1.10), " +
      "(1, 3, 1, 2.25), (2, 1, 7, 0.05)")
    val r = db.select("SELECT g, i, " +
      "sum(DISTINCT v) OVER (PARTITION BY g) AS sv, " +
      "sum(DISTINCT d) OVER (PARTITION BY g) AS sd, " +
      "count(DISTINCT v) OVER (PARTITION BY g ORDER BY i) AS rc " +
      "FROM dw ORDER BY g, i").fold(e => fail(e.msg), identity)
    // prefix frames (whole-partition and running) take the first-
    // occurrence-mask path: NO per-frame set materialization anywhere
    // in the plan — the 100×-scale guarantee
    val plan = r.queryExecution.executedPlan.toString
    assert(!plan.contains("collect_set"), plan)
    val rows = r.collect()
    assert(rows.map(_.getLong(2)).toSeq ==
      Seq(9007199254740994L, 9007199254740994L, 9007199254740994L, 7L))
    assert(rows.map(_.getDecimal(3).toPlainString).toSeq ==
      Seq("3.35", "3.35", "3.35", "0.05"))
    assert(rows.map(_.getLong(4)).toSeq == Seq(1L, 1L, 2L, 1L))
    // bounded-lo frames keep the (frame-bounded) collect_set fallback,
    // but its fold is typed too: bigint stays exact, decimal keeps scale
    val b = db.select("SELECT g, i, " +
      "sum(DISTINCT v) OVER (PARTITION BY g ORDER BY i " +
      "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS sv, " +
      "sum(DISTINCT d) OVER (PARTITION BY g ORDER BY i " +
      "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS sd " +
      "FROM dw ORDER BY g, i").fold(e => fail(e.msg), identity)
    assert(b.queryExecution.executedPlan.toString.contains("collect_set"))
    val brows = b.collect()
    assert(brows.map(_.getLong(2)).toSeq ==
      Seq(9007199254740993L, 9007199254740993L, 9007199254740994L, 7L))
    assert(brows.map(_.getDecimal(3).toPlainString.toDouble).toSeq ==
      Seq(1.10, 1.10, 3.35, 0.05))
  }

  test("default null ordering is NULLS LAST in both directions (DuckDB)") {
    // round-13 differential fuzz caught this: Spark's bare .asc is
    // nulls-FIRST; DuckDB's default_null_order is nulls_last for ASC
    // AND DESC — query-level ORDER BY and window ORDER BY both
    val db = freshDb()
    db.query("CREATE TABLE no1 (a INT, id INT)")
    db.query("INSERT INTO no1 VALUES (NULL, 1), (2, 2), (1, 3), (NULL, 4)")
    def ids(sql: String): Seq[Int] =
      db.select(sql).fold(e => fail(e.msg), _.collect().toSeq.map(_.getInt(0)))
    assert(ids("SELECT id FROM no1 ORDER BY a, id") == Seq(3, 2, 1, 4))
    assert(ids("SELECT id FROM no1 ORDER BY a DESC, id") == Seq(2, 3, 1, 4))
    // explicit overrides still win
    assert(ids("SELECT id FROM no1 ORDER BY a NULLS FIRST, id") == Seq(1, 4, 3, 2))
    val rn = db.select("SELECT id, row_number() OVER (ORDER BY a, id) AS r " +
      "FROM no1 ORDER BY id").fold(e => fail(e.msg),
        _.collect().toSeq.map(x => (x.getInt(0), x.get(1).toString.toInt)))
    assert(rn == Seq((1, 3), (2, 2), (3, 1), (4, 4)))
    // explicit NULLS FIRST inside a window ORDER BY (binds natively on
    // the sort expression — asc_nulls_first, no extra ORDER key)
    val nf = db.select("SELECT id, row_number() OVER " +
      "(ORDER BY a NULLS FIRST, id) AS r FROM no1 ORDER BY id")
      .fold(e => fail(e.msg),
        _.collect().toSeq.map(x => (x.getInt(0), x.get(1).toString.toInt)))
    assert(nf == Seq((1, 1), (2, 4), (3, 3), (4, 2)))
    // NULLS LAST is the default — a no-op
    val nl = db.select("SELECT id, row_number() OVER " +
      "(ORDER BY a DESC NULLS LAST, id) AS r FROM no1 ORDER BY id")
      .fold(e => fail(e.msg),
        _.collect().toSeq.map(x => (x.getInt(0), x.get(1).toString.toInt)))
    assert(nl == Seq((1, 3), (2, 1), (3, 2), (4, 4)))
    // native null order keeps RANGE's single ORDER key, so NULLS FIRST
    // composes with RANGE frames (round 13's marker desugar rejected
    // this): the null-key peer group anchors the partition, every
    // non-null row's running sum includes it
    val rr = db.select("SELECT id, sum(id) OVER (ORDER BY a NULLS FIRST " +
      "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rs " +
      "FROM no1 ORDER BY id").fold(e => fail(e.msg),
        _.collect().toSeq.map(x => (x.getInt(0), x.getLong(1))))
    // null peers {1,4} sum 5; a=1 (id 3) → 5+3=8; a=2 (id 2) → 10
    assert(rr == Seq((1, 5L), (2, 10L), (3, 8L), (4, 5L)))
  }

  test("expression PARTITION BY keys (row scope and aggregate scope)") {
    val db = freshDb()
    db.query("CREATE TABLE pe (g INT, v INT)")
    db.query("INSERT INTO pe VALUES (1, 10), (2, 20), (3, 30), (4, 40), (6, 60)")
    // row scope: partition on (g % 2) — evens {2,4,6}, odds {1,3}
    val r = db.select("SELECT g, sum(v) OVER (PARTITION BY (g % 2)) AS sv " +
      "FROM pe ORDER BY g").fold(e => fail(e.msg),
        _.collect().toSeq.map(x => (x.getInt(0), x.getLong(1))))
    assert(r == Seq((1, 40L), (2, 120L), (3, 40L), (4, 120L), (6, 120L)))
    // aggregate scope: partition the grouped frame on an expression of
    // a group key; the window ranks within each (k % 2) family
    val a = db.select("SELECT g, count(*) AS n, " +
      "rank() OVER (PARTITION BY (g % 2) ORDER BY g) AS rk " +
      "FROM pe GROUP BY g ORDER BY g").fold(e => fail(e.msg),
        _.collect().toSeq.map(x => (x.getInt(0), x.get(2).toString.toInt)))
    assert(a == Seq((1, 1), (2, 1), (3, 2), (4, 2), (6, 3)))
  }

  test("a computed operand against an incomparable literal fails at analysis") {
    val db = freshDb()
    db.query("CREATE TABLE cl (k INT, v INT, s VARCHAR(4))")
    db.query("INSERT INTO cl VALUES (1, 10, 'x'), (2, 20, 'y')")
    def msg(sql: String): String = db.select(sql).fold(_.msg, df =>
      fail(s"$sql analyzed; collect gives ${df.collect().toSeq}"))
    val column = msg("SELECT k, v FROM cl WHERE k = 'x'")
    assert(column.contains("not comparable"), column)
    for (op <- Seq("k + 1", "abs(k)", "CAST(k + 0 AS INTEGER)"))
      assert(msg(s"SELECT k, v FROM cl WHERE $op = 'x'").contains("not comparable"), op)
    def rows(sql: String) = db.select(sql).fold(e => fail(e.msg), _.collect())
      .map(_.getInt(0)).toSeq
    assert(rows("SELECT k FROM cl WHERE k + 1 = 2") == Seq(1))
    assert(rows("SELECT k FROM cl WHERE upper(s) = 'X'") == Seq(1))
  }

  test("global ordered windows: distributed prefix scan (ranks, running aggs)") {
    onBothWindowPaths { (db, bucketed) =>
      db.query("CREATE TABLE go (id INT, v INT)")
      db.query("INSERT INTO go VALUES (1, 10), (2, 10), (3, 5), (4, NULL), (5, 7)")
      pinBuckets(db, bucketed)
      // order by v (engine default: NULLS LAST): 5(id3), 7(id5), 10(id1),
      // 10(id2) — tied — then NULL(id4)
      val df = db.select("SELECT id, rank() OVER (ORDER BY v) AS rk, " +
        "dense_rank() OVER (ORDER BY v) AS dr, " +
        "row_number() OVER (ORDER BY v, id) AS rn, " +
        "sum(v) OVER (ORDER BY v, id) AS rs, " +
        "count(v) OVER (ORDER BY v, id) AS rc, " +
        "round(percent_rank() OVER (ORDER BY v), 3) AS pr, " +
        "round(cume_dist() OVER (ORDER BY v), 3) AS cd " +
        "FROM go ORDER BY id").fold(e => fail(e.msg), identity)
      // the bucketed frame reads back as one materialized RDD scan — the
      // unpartitioned windows never plan an all-rows single partition
      if (bucketed) assert(df.queryExecution.executedPlan.toString.contains("ExistingRDD"))
      val r = df.collect().map(x => (x.getInt(0),
        x.getLong(1), x.getLong(2), x.getLong(3),
        if (x.isNullAt(4)) -1L else x.getLong(4), x.getLong(5),
        x.getDouble(6), x.getDouble(7))).toSeq
      assert(r == Seq(
        (1, 3L, 3L, 3L, 22L, 3L, 0.5, 0.8),
        (2, 3L, 3L, 4L, 32L, 4L, 0.5, 0.8),
        (3, 1L, 1L, 1L, 5L, 1L, 0.0, 0.2),
        (4, 5L, 4L, 5L, 32L, 4L, 1.0, 1.0),
        (5, 2L, 2L, 2L, 12L, 2L, 0.25, 0.4)))
      // unpartitioned lag/lead take the ghost-row path: order (v, id)
      // NULLS LAST → 5(id3), 7(id5), 10(id1), 10(id2), NULL(id4).
      // lag2 with default -99 fires only at the true global start; a
      // neighbor whose VALUE is NULL stays NULL (id4's successor-less
      // lead keeps the default path apart from null values)
      val sh = db.select("SELECT id, lag(v, 2, -99) OVER (ORDER BY v, id) AS l2, " +
        "lead(v) OVER (ORDER BY v, id) AS ld FROM go ORDER BY id")
        .fold(e => fail(e.msg), _.collect())
        .map(x => (x.getInt(0),
          if (x.isNullAt(1)) null else x.get(1).toString.toInt,
          if (x.isNullAt(2)) null else x.get(2).toString.toInt)).toSeq
      assert(sh == Seq(
        (1, 5, 10), (2, 7, null), (3, -99, 7), (4, 10, null), (5, -99, 10)),
        sh.toString)
    }
  }

  test("global aggregate windows rewrite to a broadcast join (no single-partition window)") {
    onBothWindowPaths { (db, bucketed) =>
      db.query("CREATE TABLE gw (g INT, v INT)")
      db.query("INSERT INTO gw VALUES (1, 10), (1, 20), (2, 5), (2, NULL)")
      pinBuckets(db, bucketed)
      // row scope: sum(v) OVER () — every row sees the grand total
      val r = db.select("SELECT g, v, sum(v) OVER () AS total FROM gw " +
        "ORDER BY g, v NULLS FIRST").fold(e => fail(e.msg), identity)
      val plan = r.queryExecution.executedPlan.toString
      if (bucketed) assert(!plan.contains("Window"), plan)
      if (bucketed) assert(plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(r.collect().map(_.getLong(2)).toSeq == Seq(35L, 35L, 35L, 35L))
      // aggregate scope: the percent-of-total denominator takes the same
      // rewrite; the rank window (ordered) stays a real window
      val a = db.select("SELECT g, count(*) AS n, " +
        "(count(*) * 100 - sum(count(*)) OVER ()) AS rel, " +
        "rank() OVER (ORDER BY g) AS rk FROM gw GROUP BY g ORDER BY g")
        .fold(e => fail(e.msg), identity)
      val aplan = a.queryExecution.executedPlan.toString
      if (bucketed) assert(aplan.contains("BroadcastNestedLoopJoin"), aplan)
      assert(a.collect().map(_.getLong(2)).toSeq == Seq(196L, 196L))
      // empty input: the broadcast join preserves zero rows
      db.query("CREATE TABLE gw0 (v INT)")
      val e = db.select("SELECT v, count(v) OVER () AS c FROM gw0")
        .fold(e2 => fail(e2.msg), _.collect())
      assert(e.isEmpty)
    }
  }

  test("global DISTINCT running + bounded ROWS frames: distributed (mask/ghosts)") {
    onBothWindowPaths { (db, bucketed) =>
      db.query("CREATE TABLE gd (id INT, v INT)")
      db.query("INSERT INTO gd VALUES (1, 10), (2, 10), (3, 5), (4, NULL), " +
        "(5, 7), (6, 5)")
      pinBuckets(db, bucketed)
      // DISTINCT running: distinct-so-far sets by id are {10}, {10},
      // {10,5}, {10,5} (NULL never joins), {10,5,7}, {10,5,7}
      val df = db.select("SELECT id, " +
        "count(DISTINCT v) OVER (ORDER BY id) AS dc, " +
        "sum(DISTINCT v) OVER (ORDER BY id) AS ds, " +
        "round(CAST(avg(DISTINCT v) OVER (ORDER BY id) AS DOUBLE), 3) AS da, " +
        "sum(v) OVER (ORDER BY id ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS sw, " +
        "sum(v) OVER (ORDER BY id ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING " +
        "EXCLUDE CURRENT ROW) AS sx " +
        "FROM gd ORDER BY id").fold(e => fail(e.msg), identity)
      // scale pin: the DISTINCT runnings ride the first-occurrence mask +
      // prefix scan, the bounded frames ride ghost rows — the final stage
      // reads materialized bucketings (RDD scans with the bucket-id
      // column), never an all-rows single-partition window
      val plan = df.queryExecution.executedPlan.toString
      if (bucketed) {
        assert(plan.contains("ExistingRDD"), plan)
        assert(plan.contains("_pid"), plan)
      }
      val r = df.collect().map(x => (x.getInt(0), x.getLong(1),
        if (x.isNullAt(2)) -1L else x.getLong(2), x.getDouble(3),
        if (x.isNullAt(4)) -1L else x.getLong(4),
        if (x.isNullAt(5)) -1L else x.getLong(5))).toSeq
      assert(r == Seq(
        (1, 1L, 10L, 10.0, 10L, 10L),
        (2, 1L, 10L, 10.0, 20L, 15L),
        (3, 2L, 15L, 7.5, 15L, 10L),
        (4, 2L, 15L, 7.5, 5L, 12L),
        (5, 3L, 22L, 7.333, 7L, 5L),
        (6, 3L, 22L, 7.333, 12L, 7L)), r.toString)
    }
  }

  test("global value functions over bounded ROWS frames: ghost rows") {
    onBothWindowPaths { (db, bucketed) =>
      db.query("CREATE TABLE gv (id INT, v INT)")
      db.query("INSERT INTO gv VALUES (1, 10), (2, NULL), (3, 5), " +
        "(4, NULL), (5, 7), (6, 2)")
      pinBuckets(db, bucketed)
      // 6 rows across 4 shuffle partitions: nearly every frame crosses a
      // bucket boundary through the ghosts. fv's frame sits entirely in
      // the past (empty for id 1-2 → NULL); lvi IGNORE NULLS skips the
      // NULL rows INSIDE the frame only; nv needs the frame's 2nd row
      val df = db.select("SELECT id, " +
        "first_value(v) OVER (ORDER BY id " +
        "ROWS BETWEEN 3 PRECEDING AND 2 PRECEDING) AS fv, " +
        "last_value(v IGNORE NULLS) OVER (ORDER BY id " +
        "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS lvi, " +
        "nth_value(v, 2) OVER (ORDER BY id " +
        "ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS nv " +
        "FROM gv ORDER BY id").fold(e => fail(e.msg), identity)
      // scale pin: positional picks ride the materialized ghost bucketing
      // (RDD scan + bucket-id column), never an all-rows single-partition
      // window exchange
      val plan = df.queryExecution.executedPlan.toString
      if (bucketed) {
        assert(plan.contains("ExistingRDD"), plan)
        assert(plan.contains("_pid"), plan)
        assert(!plan.contains("Exchange SinglePartition"), plan)
      }
      val r = df.collect().map(x => (x.getInt(0),
        if (x.isNullAt(1)) null else x.get(1).toString.toInt,
        if (x.isNullAt(2)) null else x.get(2).toString.toInt,
        if (x.isNullAt(3)) null else x.get(3).toString.toInt)).toSeq
      // fv: frames {} {} {1} {1,2} {2,3} {3,4} → -,-,10,10,NULL(v2),5
      // lvi: last non-null of {1},{1,2},{1..3},{2..4},{3..5},{4..6}
      // nv (RESPECT NULLS): 2nd row of {1,2},{1..3},{2..4},{3..5},{4..6},{5,6}
      assert(r == Seq(
        (1, null, 10, null),
        (2, null, 10, null),
        (3, 10, 5, 5),
        (4, 10, 5, null),
        (5, null, 7, 7),
        (6, 5, 2, 2)), r.toString)
    }
  }

  test("global whole-input EXCLUDE frames: totals ± peer contribution") {
    onBothWindowPaths { (db, bucketed) =>
      db.query("CREATE TABLE gx (id INT, k INT, v INT)")
      db.query("INSERT INTO gx VALUES (1, 1, 10), (2, 1, NULL), (3, 2, 5), " +
        "(4, 2, 5), (5, 3, 7), (6, 3, 2)")
      pinBuckets(db, bucketed)
      // total sum(v) = 29 over 5 non-nulls; k-groups: 1→{10,NULL}, 2→{5,5},
      // 3→{7,2}
      val df = db.select("SELECT id, " +
        "sum(v) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING AND " +
        "UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS s, " +
        "min(v) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING AND " +
        "UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS m, " +
        "sum(v) OVER (ORDER BY k RANGE BETWEEN UNBOUNDED PRECEDING AND " +
        "UNBOUNDED FOLLOWING EXCLUDE GROUP) AS sg, " +
        "min(v) OVER (ORDER BY k RANGE BETWEEN UNBOUNDED PRECEDING AND " +
        "UNBOUNDED FOLLOWING EXCLUDE GROUP) AS mg, " +
        "count(v) OVER (ORDER BY k RANGE BETWEEN UNBOUNDED PRECEDING AND " +
        "UNBOUNDED FOLLOWING EXCLUDE TIES) AS ct, " +
        "min(v) OVER (ORDER BY k RANGE BETWEEN UNBOUNDED PRECEDING AND " +
        "UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS mc " +
        "FROM gx ORDER BY id").fold(e => fail(e.msg), identity)
      // scale pin: the windows ride the materialized range bucketings (RDD
      // scans with the bucket-id column); the only single-partition steps
      // are the prefix/suffix windows over the ≤P-row per-bucket totals
      val plan = df.queryExecution.executedPlan.toString
      if (bucketed) {
        assert(plan.contains("ExistingRDD"), plan)
        assert(plan.contains("_pid"), plan)
      }
      val r = df.collect().map(x => (x.getInt(0),
        if (x.isNullAt(1)) null else x.get(1).toString.toInt,
        if (x.isNullAt(2)) null else x.get(2).toString.toInt,
        if (x.isNullAt(3)) null else x.get(3).toString.toInt,
        if (x.isNullAt(4)) null else x.get(4).toString.toInt,
        x.getLong(5),
        if (x.isNullAt(6)) null else x.get(6).toString.toInt)).toSeq
      assert(r == Seq(
        (1, 19, 2, 19, 2, 5L, 2),
        (2, 29, 2, 19, 2, 4L, 2),
        (3, 24, 2, 19, 2, 4L, 2),
        (4, 24, 2, 19, 2, 4L, 2),
        (5, 22, 2, 20, 5, 4L, 2),
        (6, 27, 5, 20, 5, 4L, 5)), r.toString)
    }
  }

  test("global whole-input EXCLUDE over an aggregated frame") {
    onBothWindowPaths { (db, bucketed) =>
      db.query("CREATE TABLE gxa (g INT, v INT)")
      db.query("INSERT INTO gxa VALUES (1, 10), (1, 20), (2, 5), (2, 5), " +
        "(3, 7), (3, NULL)")
      pinBuckets(db, bucketed)
      // grouped frame: g→count: 1→2, 2→2, 3→2; sums 30, 10, 7.
      // each group's window: total count 6 minus own 2 = 4;
      // min(sum) except current row over {30,10,7}
      val r = db.select("SELECT g, count(*) AS n, " +
        "sum(count(*)) OVER (ORDER BY g ROWS BETWEEN UNBOUNDED PRECEDING " +
        "AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS oc, " +
        "min(sum(v)) OVER (ORDER BY g ROWS BETWEEN UNBOUNDED PRECEDING " +
        "AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS om " +
        "FROM gxa GROUP BY g ORDER BY g").fold(e => fail(e.msg), _.collect())
        .map(x => (x.getInt(0), x.getLong(1), x.getLong(2),
          x.getLong(3))).toSeq
      assert(r == Seq((1, 2L, 4L, 7L), (2, 2L, 4L, 7L), (3, 2L, 4L, 10L)),
        r.toString)
    }
  }

  test("global big-offset shifts: row-number equi-join, no single partition") {
    onBothWindowPaths { (db, bucketed) =>
      db.query("CREATE TABLE gb (id INT, v INT)")
      db.query("INSERT INTO gb SELECT i AS id, i * 10 AS v FROM range(1, 2001) r(i)")
      pinBuckets(db, bucketed)
      val df = db.select("SELECT id, lag(v, 1500, -1) OVER (ORDER BY id) AS lg, " +
        "lead(v, 1999) OVER (ORDER BY id) AS ld FROM gb ORDER BY id")
        .fold(e => fail(e.msg), identity)
      // scale pin: offsets past the ghost halo cap run as a hash join on
      // the materialized prefix-scan row number — the only
      // single-partition step is the ≤P-row totals window inside the scan
      val plan = df.queryExecution.executedPlan.toString
      if (bucketed) assert(plan.contains("ExistingRDD"), plan)
      val r = df.collect()
      assert(r.length == 2000)
      // row 1500 is the last default; 1501 sees row 1's value
      val lg = r.map(x => x.getInt(1))
      assert(lg(1499) == -1 && lg(1500) == 10 && lg(1999) == 5000, lg.take(5).toSeq)
      // lead 1999: only row 1 has a partner (row 2000)
      assert(r(0).getInt(2) == 20000 && r(1).isNullAt(2), r(0).toString)
      // IGNORE NULLS past the carry cap: the k-th non-null is an
      // equi-join on the non-null rank (ids divisible by 3 are NULL →
      // 1334 non-nulls; lag 1100 IGNORE NULLS first lands at the row
      // whose prefix holds 1100 non-nulls)
      db.query("CREATE TABLE gbn (id INT, v INT)")
      db.query("INSERT INTO gbn SELECT i AS id, CASE WHEN i % 3 = 0 " +
        "THEN NULL ELSE i * 10 END AS v FROM range(1, 2001) r(i)")
      pinBuckets(db, bucketed)
      val rn = db.select("SELECT sum(CASE WHEN lg IS NULL THEN 0 ELSE lg " +
        "END) AS s1, count(lg) AS c1 FROM (SELECT lag(v, 1100 IGNORE NULLS) " +
        "OVER (ORDER BY id) AS lg FROM gbn) t")
        .fold(e => fail(e.msg), _.collect()).head
      assert((rn.getLong(0), rn.getLong(1)) == (615420L, 351L), rn.toString)
    }
  }

  test("global DISTINCT: look-ahead frames, OVER (), whole-input") {
    onBothWindowPaths { (db, bucketed) =>
      db.query("CREATE TABLE gm (id INT, v INT)")
      db.query("INSERT INTO gm VALUES (1, 10), (2, 10), (3, 5), (4, NULL), " +
        "(5, 5), (6, 7), (7, 10), (8, NULL)")
      pinBuckets(db, bucketed)
      // distinct-so-far-plus-2-ahead by id: {10}∪ahead{10,5}→2, … the
      // mask's first occurrences sit at ids 1,3,6; dct/dsw are the
      // broadcast global distinct aggregate (3 values: 10,5,7 → 22)
      val df = db.select("SELECT id, " +
        "count(DISTINCT v) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND 2 FOLLOWING) AS dc, " +
        "sum(DISTINCT v) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND 1 FOLLOWING) AS ds, " +
        "count(DISTINCT v) OVER () AS dct, " +
        "sum(DISTINCT v) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND UNBOUNDED FOLLOWING) AS dsw " +
        "FROM gm ORDER BY id").fold(e => fail(e.msg), identity)
      val plan = df.queryExecution.executedPlan.toString
      if (bucketed) {
        assert(plan.contains("ExistingRDD"), plan)
        assert(plan.contains("BroadcastNestedLoopJoin"), plan) // OVER () rewrite
      }
      val r = df.collect().map(x => (x.getInt(0), x.getLong(1), x.getLong(2),
        x.getLong(3), x.getLong(4))).toSeq
      assert(r == Seq(
        (1, 2L, 10L, 3L, 22L), (2, 2L, 15L, 3L, 22L), (3, 2L, 15L, 3L, 22L),
        (4, 3L, 15L, 3L, 22L), (5, 3L, 22L, 3L, 22L), (6, 3L, 22L, 3L, 22L),
        (7, 3L, 22L, 3L, 22L), (8, 3L, 22L, 3L, 22L)), r.toString)
    }
  }

  test("CASE with a NULL first branch types from the value branch") {
    // regression: BCase typed from branches.head — a bare NULL literal
    // carries the VARCHAR(1) fallback, so `CASE WHEN c THEN NULL ELSE
    // round(x) END` mis-typed VARCHAR and a sum over the derived
    // column rejected with "bad aggregate: sum over non-numeric"
    val db = freshDb()
    db.query("CREATE TABLE ct (id INT, v DOUBLE)")
    db.query("INSERT INTO ct VALUES (1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)")
    val r = db.select("SELECT sum(k) AS s, count(k) AS c FROM " +
      "(SELECT CASE WHEN id % 4 = 0 THEN NULL ELSE round(v) END AS k " +
      "FROM ct) t").fold(e => fail(e.msg), _.collect()).head
    assert((r.getDouble(0), r.getLong(1)) == (60.0, 3L), r.toString)
    // all-NULL branches keep the fallback (still a valid query shape)
    assert(db.select("SELECT CASE WHEN id > 0 THEN NULL END AS k FROM ct")
      .isRight)
  }

  test("global IGNORE NULLS shifts: per-bucket carry arrays") {
    onBothWindowPaths { (db, bucketed) =>
      db.query("CREATE TABLE gi (id INT, v INT)")
      db.query("INSERT INTO gi VALUES (1, NULL), (2, 3), (3, NULL), " +
        "(4, NULL), (5, 8), (6, NULL)")
      pinBuckets(db, bucketed)
      // 6 rows across 4 shuffle partitions: most buckets hold 1-2 rows,
      // so nearly every shift crosses buckets through the carry
      val r = db.select("SELECT id, " +
        "lag(v IGNORE NULLS) OVER (ORDER BY id) AS l1, " +
        "lag(v, 2, -1 IGNORE NULLS) OVER (ORDER BY id) AS l2, " +
        "lead(v IGNORE NULLS) OVER (ORDER BY id) AS d1 " +
        "FROM gi ORDER BY id").fold(e => fail(e.msg), _.collect())
        .map(x => (x.getInt(0),
          if (x.isNullAt(1)) null else x.get(1).toString.toInt,
          if (x.isNullAt(2)) null else x.get(2).toString.toInt,
          if (x.isNullAt(3)) null else x.get(3).toString.toInt)).toSeq
      // non-null values in id order: 3 (id2), 8 (id5)
      assert(r == Seq(
        (1, null, -1, 3), (2, null, -1, 8), (3, 3, -1, 8),
        (4, 3, -1, 8), (5, 3, -1, null), (6, 8, 3, null)), r.toString)
    }
  }

  test("global ntile: broadcast total + global row number, distributed") {
    onBothWindowPaths { (db, bucketed) =>
      db.query("CREATE TABLE gn (id INT)")
      db.query("INSERT INTO gn VALUES (1), (2), (3), (4), (5), (6), (7), (8)")
      pinBuckets(db, bucketed)
      // N=8, n=3: r = 2 oversized tiles of 3, then one tile of 2
      val df = db.select("SELECT id, ntile(3) OVER (ORDER BY id) AS t3, " +
        "ntile(5) OVER (ORDER BY id) AS t5, " +
        "ntile(20) OVER (ORDER BY id) AS tb FROM gn ORDER BY id")
        .fold(e => fail(e.msg), identity)
      if (bucketed) assert(df.queryExecution.executedPlan.toString.contains("ExistingRDD"))
      val r = df.collect().map(x => (x.getInt(0), x.getInt(1), x.getInt(2),
        x.getInt(3))).toSeq
      assert(r == Seq((1, 1, 1, 1), (2, 1, 1, 2), (3, 1, 2, 3), (4, 2, 2, 4),
        (5, 2, 3, 5), (6, 2, 3, 6), (7, 3, 4, 7), (8, 3, 5, 8)), r.toString)
    }
  }

  test("global windows: a NULL-ordered second key reverses exactly across buckets") {
    onBothWindowPaths { (db, bucketed) =>
      // (a, b) with b ∈ {0, NULL}: unspecified NULL placement is LAST in
      // both directions, so the reversed order a bucket's halo and
      // IGNORE NULLS candidates are cut from must flip it to FIRST. 16
      // rows over 4 shuffle partitions put bucket edges between (a, NULL)
      // and (a+1, 0), where a NULL-blind reversal picks (a, 0) instead.
      db.query("CREATE TABLE gno (a INT, b INT, v INT)")
      db.query("INSERT INTO gno VALUES " + (1 to 8).map(a =>
        s"($a, 0, ${10 * a}), ($a, NULL, ${10 * a + 5})").mkString(", "))
      pinBuckets(db, bucketed)
      for ((ord, as) <- Seq("a, b" -> (1 to 8), "a DESC, b" -> (8 to 1 by -1))) {
        val r = db.select(s"SELECT a, b, lag(v) OVER (ORDER BY $ord) AS l, " +
          s"lag(v IGNORE NULLS) OVER (ORDER BY $ord) AS li, " +
          s"sum(v) OVER (ORDER BY $ord ROWS BETWEEN 1 PRECEDING AND " +
          "CURRENT ROW) AS s FROM gno").fold(e => fail(e.msg), _.collect())
          .map(x => ((x.getInt(0), if (x.isNullAt(1)) None else Some(x.getInt(1))),
            Seq(2, 3, 4).map(i => if (x.isNullAt(i)) None
              else Some(x.get(i).toString.toLong)))).toMap
        // the rows in window order and the value each one sees before it
        val seq = as.flatMap(a => Seq((a, Some(0)) -> 10L * a,
          (a, None) -> (10L * a + 5)))
        val expected = seq.zipWithIndex.map { case ((key, v), i) =>
          val prev = if (i == 0) None else Some(seq(i - 1)._2)
          key -> Seq(prev, prev, Some(v + prev.getOrElse(0L)))
        }.toMap
        assert(r == expected, ord)
      }
    }
  }

  test("reliable checkpoint: identical results with graft.reliableCheckpoint=true") {
    onBothWindowPaths { (db, bucketed) =>
      // the prefix-scan / ghost / carry / fixpoint paths materialize their
      // shared frames through materializeOnce; with the session switch on
      // they go to the fault-tolerant checkpoint dir (survives executor
      // loss on a real cluster) — values must be IDENTICAL either way
      db.query("CREATE TABLE rc (id INT, v INT)")
      db.query("INSERT INTO rc VALUES (1, 10), (2, 10), (3, 5), (4, NULL), " +
        "(5, 7), (6, 2), (7, 9), (8, NULL)")
      pinBuckets(db, bucketed)
      val sql = "SELECT id, rank() OVER (ORDER BY v) AS rk, " +
        "sum(v) OVER (ORDER BY v, id) AS rs, " +
        "lag(v, 2, -9) OVER (ORDER BY v, id) AS lg, " +
        "lag(v IGNORE NULLS) OVER (ORDER BY id) AS lin, " +
        "sum(DISTINCT v) OVER (ORDER BY id) AS ds " +
        "FROM rc ORDER BY id"
      val rec = "WITH RECURSIVE t AS (SELECT 1 AS n UNION ALL " +
        "SELECT n + 1 AS n FROM t WHERE n < 12) SELECT sum(n) AS s FROM t"
      def rows(q: String) = db.select(q).fold(e => fail(e.msg), _.collect()).toSeq
      val base = rows(sql)
      val baseRec = rows(rec)
      spark.conf.set("graft.reliableCheckpoint", "true")
      try {
        assert(rows(sql) == base)
        assert(rows(rec) == baseRec)
        // determinism across recomputation: reliable blocks re-read the
        // SAME materialized bucketing, so a second evaluation of the same
        // query agrees row-for-row
        assert(rows(sql) == base)
      } finally spark.conf.unset("graft.reliableCheckpoint")
    }
  }

  test("ROLLUP/CUBE over empty input still emit the grand-total row") {
    // SQL: the () grouping set is a GLOBAL aggregate — one row with
    // count 0 / markers 1 / NULL aggregates even when the input is
    // empty (DuckDB probed; Spark's Expand emits nothing — round-13
    // fuzz caught the divergence)
    val db = freshDb()
    db.query("CREATE TABLE re (s VARCHAR(4), b INT, v INT)")
    db.query("INSERT INTO re VALUES ('x', 1, 10), ('y', 2, 20)")
    val r = db.select("SELECT s, b, count(*) AS n, sum(v) AS sv, " +
      "grouping(s) AS gs FROM re WHERE b > 99 GROUP BY ROLLUP (s, b)")
      .fold(e => fail(e.msg), _.collect())
    assert(r.length == 1)
    assert(r.head.isNullAt(0) && r.head.isNullAt(1) &&
      r.head.getLong(2) == 0L && r.head.isNullAt(3) && r.head.getInt(4) == 1)
    // non-empty input is unchanged: Expand's own grand row, no duplicate
    val full = db.select("SELECT s, b, count(*) AS n, grouping(s) AS gs " +
      "FROM re GROUP BY ROLLUP (s, b) ORDER BY gs, s, b")
      .fold(e => fail(e.msg), _.collect())
    assert(full.count(x => x.getInt(3) == 1) == 1)
    assert(full.length == 5) // 2 leaves + 2 s-subtotals + 1 grand
  }

  test("DISTINCT ON over an aggregated query") {
    val db = freshDb()
    db.query("CREATE TABLE da (g INT, h INT, v INT)")
    db.query("INSERT INTO da VALUES (1,1,10), (1,2,20), (2,1,5), (2,2,50), (1,1,30)")
    // one row per h: the (g,h) group with the top sum (DuckDB probed)
    val r = db.select("SELECT DISTINCT ON (h) g, h, sum(v) AS sv FROM da " +
      "GROUP BY g, h ORDER BY h, sv DESC").fold(e => fail(e.msg),
        _.collect().toSeq.map(x => (x.getInt(0), x.getInt(1), x.getLong(2))))
    assert(r == Seq((1, 1, 40L), (2, 2, 50L)))
    // an ON key that is not grouped rejects
    assert(db.select("SELECT DISTINCT ON (v) g, count(*) FROM da " +
      "GROUP BY g ORDER BY v").isLeft)
  }

  test("windows nested in expressions over an aggregated query") {
    val db = freshDb()
    db.query("CREATE TABLE wx (g VARCHAR(2), v INT)")
    db.query("INSERT INTO wx VALUES ('a', 1), ('a', 2), ('b', 3), ('b', 4), ('b', 5), ('c', 1)")
    // percent-of-total: the hidden inline-OVER windows attach between
    // aggregation and the final projection; the expression evaluates
    // over the attached columns
    val r = db.select("SELECT g, count(*) AS n, " +
      "round(100.0 * count(*) / sum(count(*)) OVER (), 2) AS pct, " +
      "rank() OVER (ORDER BY count(*) DESC, g) - 1 AS rk0 " +
      "FROM wx GROUP BY g ORDER BY g").fold(e => fail(e.msg), identity).collect()
    assert(r.map(x => (x.getString(0), x.getLong(1), x.getDouble(2), x.getLong(3))).toSeq ==
      Seq(("a", 2L, 33.33, 1L), ("b", 3L, 50.0, 0L), ("c", 1L, 16.67, 2L)))
    // a group aggregate inside the window argument AND outside it
    val r2 = db.select("SELECT g, sum(v) - min(sum(v)) OVER () AS rel " +
      "FROM wx GROUP BY g ORDER BY g").fold(e => fail(e.msg), identity).collect()
    assert(r2.map(x => (x.getString(0), x.getLong(1))).toSeq ==
      Seq(("a", 2L), ("b", 11L), ("c", 0L)))
    // row scope: a hidden window whose argument aggregates still rejects
    assert(db.select("SELECT 1 + rank() OVER (ORDER BY count(*)) FROM wx").isLeft)
  }

  test("uncorrelated scalar-subquery items over an aggregated query") {
    val db = freshDb()
    db.query("CREATE TABLE sa (g VARCHAR(2), v INT)")
    db.query("CREATE TABLE sb (w INT)")
    db.query("INSERT INTO sa VALUES ('a', 1), ('a', 2), ('b', 5)")
    db.query("INSERT INTO sb VALUES (10), (20)")
    // the subquery lowers ONCE as a broadcast 1-row frame joined after
    // aggregation — not once per group
    val r = db.select("SELECT g, sum(v) AS sv, (SELECT max(w) FROM sb) AS mx " +
      "FROM sa GROUP BY g ORDER BY g").fold(e => fail(e.msg), identity).collect()
    assert(r.map(x => (x.getString(0), x.getLong(1), x.getInt(2))).toSeq ==
      Seq(("a", 3L, 20), ("b", 5L, 20)))
    // a correlated item over an aggregated query joins post-aggregation
    // when it correlates on a GROUP BY key...
    db.query("CREATE TABLE sc (t VARCHAR(2), z INT)")
    db.query("INSERT INTO sc VALUES ('a', 7), ('a', 9), ('c', 1)")
    val c = db.select("SELECT g, sum(v) AS sv, " +
      "(SELECT max(z) FROM sc WHERE sc.t = sa.g) AS mz " +
      "FROM sa GROUP BY g ORDER BY g").fold(e => fail(e.msg), _.collect())
    assert(c.map(x => (x.getString(0), x.getLong(1),
      if (x.isNullAt(2)) -1 else x.getInt(2))).toSeq ==
      Seq(("a", 3L, 9), ("b", 5L, -1)))
    // ...and still rejects when the correlation key is not grouped
    assert(db.select("SELECT g, sum(v), (SELECT max(w) FROM sb WHERE w = v) " +
      "FROM sa GROUP BY g").isLeft)
  }

  test("inequality-correlated scalar-subquery items over an aggregated query") {
    onBothWindowPaths { (db, bucketed) =>
      db.query("CREATE TABLE ia (g INT, v INT)")
      db.query("INSERT INTO ia VALUES (1, 10), (1, 20), (3, 5), (NULL, 9)")
      db.query("CREATE TABLE ib (w INT)")
      db.query("INSERT INTO ib VALUES (1), (2), (3), (4)")
      pinBuckets(db, bucketed)
      // post-aggregation running count: per group key g, how many ib.w < g*2
      // (g=1 → w<2 → 1; g=3 → w<6 → 4; g NULL → UNKNOWN → 0)
      val r = db.select("SELECT g, count(*) AS n, " +
        "(SELECT count(*) FROM ib WHERE w < g * 2) AS c " +
        "FROM ia GROUP BY g ORDER BY g NULLS LAST")
        .fold(e => fail(e.msg), _.collect())
      assert(r.map(x => (if (x.isNullAt(0)) -99 else x.getInt(0),
        x.getLong(1), x.getLong(2))).toSeq ==
        Seq((1, 2L, 1L), (3, 1L, 4L), (-99, 1L, 0L)))
      // mixed: equality on the group key + inequality on a group-key expr
      db.query("CREATE TABLE ic (k INT, z INT)")
      db.query("INSERT INTO ic VALUES (1, 100), (1, 5), (3, 7), (3, 1)")
      pinBuckets(db, bucketed)
      val m = db.select("SELECT g, sum(v) AS sv, " +
        "(SELECT sum(z) FROM ic WHERE ic.k = ia.g AND ic.z > g) AS sz " +
        "FROM ia GROUP BY g ORDER BY g NULLS LAST")
        .fold(e => fail(e.msg), _.collect())
      // g=1: z in {100,5} with z>1 → 105; g=3: z in {7,1} with z>3 → 7
      assert(m.map(x => (if (x.isNullAt(0)) -99 else x.getInt(0),
        if (x.isNullAt(2)) -1L else x.getLong(2))).toSeq ==
        Seq((1, 105L), (3, 7L), (-99, -1L)))
      // scale pin: with NO equality keys the running aggregate lowers as
      // a distributed prefix scan (range buckets + per-bucket windows +
      // broadcast offsets) — never an Exchange SinglePartition carrying
      // the inner rows
      val plan = db.select("SELECT g, count(*) AS n, " +
        "(SELECT count(*) FROM ib WHERE w < g * 2) AS c " +
        "FROM ia GROUP BY g").fold(e => fail(e.msg), identity)
        .queryExecution.executedPlan.toString
      // the bucketed (range-partitioned + pid-stamped) frame materializes
      // once behind a lazy local checkpoint — the plan reads it as an RDD
      // scan carrying the bucket-id column, and the in-bucket window
      // partitions on it
      if (bucketed) {
        assert(plan.contains("ExistingRDD"), plan)
        assert(plan.contains("_pid"), plan)
        // at most ONE single-partition exchange survives: the exclusive
        // prefix over the per-bucket TOTALS (≤ shuffle-partition-count rows
        // — scale-free); the inner rows themselves ride the range buckets
        assert(plan.sliding("Exchange SinglePartition".length)
          .count(_ == "Exchange SinglePartition") <= 1, plan)
      }
      // the ineq outer side must be group-key-only…
      assert(db.select("SELECT g, count(*), " +
        "(SELECT count(*) FROM ib WHERE w < v) AS c FROM ia GROUP BY g").isLeft)
      // …and ORDER BY may sort by the running item's alias (g=1 and
      // g NULL count 0, g=3 counts 2)
      val o = db.select("SELECT g, count(*) AS n, " +
        "(SELECT count(*) FROM ib WHERE w < g) AS c " +
        "FROM ia GROUP BY g ORDER BY c, g NULLS LAST")
        .fold(e => fail(e.msg), _.collect())
      assert(o.map(x => (if (x.isNullAt(0)) -99 else x.getInt(0), x.getLong(2))).toSeq ==
        Seq((1, 0L), (-99, 0L), (3, 2L)))
    }
  }

  test("USE schema: search path, create landing, shadowing") {
    val db = demoDb()
    assert(db.query("USE nope").isLeft)
    db.query("CREATE SCHEMA work").fold(e => fail(e.msg), identity)
    db.query("USE work").fold(e => fail(e.msg), identity)
    // creates land in the current schema
    db.query("CREATE TABLE notes (id INT, s VARCHAR(8))")
      .fold(e => fail(e.msg), identity)
    db.query("INSERT INTO notes VALUES (1, 'n1')")
      .fold(e => fail(e.msg), identity)
    // unqualified resolution: current schema first, then main
    assert(db.select("SELECT count(*) AS n FROM notes").toOption.get
      .collect().head.getLong(0) == 1L)
    assert(db.select("SELECT count(*) AS n FROM people").toOption.get
      .collect().head.getLong(0) == 3L) // falls through to main
    // same-named table in the schema SHADOWS main under USE
    db.query("CREATE TABLE people (id INT)")
      .fold(e => fail(e.msg), identity)
    assert(db.select("SELECT count(*) AS n FROM people").toOption.get
      .collect().head.getLong(0) == 0L)
    assert(db.select("SELECT count(*) AS n FROM main.people").toOption.get
      .collect().head.getLong(0) == 3L) // explicit main still reachable
    // views created under USE land in the schema and resolve bare
    db.query("CREATE VIEW vnotes AS SELECT s FROM notes")
      .fold(e => fail(e.msg), identity)
    assert(db.select("SELECT * FROM vnotes").toOption.get
      .collect().length == 1)
    assert(db.select("SELECT * FROM work.vnotes").isRight)
    // UPDATE/DELETE follow the search path; USE main restores
    db.query("UPDATE notes SET s = 'x' WHERE id = 1")
      .fold(e => fail(e.msg), identity)
    db.query("USE main").fold(e => fail(e.msg), identity)
    assert(db.select("SELECT * FROM notes").isLeft)
    assert(db.select("SELECT count(*) AS n FROM people").toOption.get
      .collect().head.getLong(0) == 3L)
    // DROP VIEW under USE resolves into the schema
    db.query("USE work").fold(e => fail(e.msg), identity)
    db.query("DROP VIEW vnotes").fold(e => fail(e.msg), identity)
    assert(db.select("SELECT * FROM work.vnotes").isLeft)
    // a current-schema TABLE beats a same-named MAIN VIEW (DuckDB's
    // search path is current-schema-first for every relation kind —
    // the view substitution must not capture the bare name first)
    db.query("USE main").fold(e => fail(e.msg), identity)
    db.query("CREATE VIEW dual AS SELECT 1 AS z")
      .fold(e => fail(e.msg), identity)
    db.query("USE work").fold(e => fail(e.msg), identity)
    db.query("CREATE TABLE dual (z INT)").fold(e => fail(e.msg), identity)
    db.query("INSERT INTO dual VALUES (7), (8)")
      .fold(e => fail(e.msg), identity)
    assert(db.select("SELECT count(*) AS n FROM dual").toOption.get
      .collect().head.getLong(0) == 2L) // the table, not main's 1-row view
    db.query("USE main").fold(e => fail(e.msg), identity)
    assert(db.select("SELECT z FROM dual").toOption.get
      .collect().head.getLong(0) == 1L) // back in main, the view binds
  }

  test("schema views: pinned bodies and qualified-key reopen") {
    val db = demoDb()
    db.query("CREATE SCHEMA w2").fold(e => fail(e.msg), identity)
    db.query("USE w2").fold(e => fail(e.msg), identity)
    db.query("CREATE TABLE items (id INT)").fold(e => fail(e.msg), identity)
    db.query("INSERT INTO items VALUES (1), (2)")
    // the view body references 'items' BARE — it must pin to w2.items
    db.query("CREATE VIEW icount AS SELECT count(*) AS n FROM items")
      .fold(e => fail(e.msg), identity)
    // a main view over a MAIN table, read later under USE w2 where a
    // same-named table exists, must keep reading MAIN (pinned)
    db.query("USE main").fold(e => fail(e.msg), identity)
    db.query("CREATE VIEW pcount AS SELECT count(*) AS n FROM people")
      .fold(e => fail(e.msg), identity)
    db.query("USE w2").fold(e => fail(e.msg), identity)
    db.query("CREATE TABLE people (id INT)").fold(e => fail(e.msg), identity)
    assert(db.select("SELECT n FROM main.pcount").toOption.get
      .collect().head.getLong(0) == 3L) // NOT w2.people's 0
    // reading the schema view from main resolves its pinned body
    db.query("USE main").fold(e => fail(e.msg), identity)
    assert(db.select("SELECT n FROM w2.icount").toOption.get
      .collect().head.getLong(0) == 2L)
    // a REOPEN rebuilds the view under its qualified key with the
    // pinned body (the stored statement carries the catalog key)
    val db2 = new GraftDatabase(spark, db.warehouse)
    assert(db2.select("SELECT n FROM w2.icount").toOption.get
      .collect().head.getLong(0) == 2L)
    assert(db2.select("SELECT n FROM icount").isLeft) // not bare in main
    assert(db2.select("SELECT n FROM pcount").toOption.get
      .collect().head.getLong(0) == 3L)
  }

  test("catalog introspection: duckdb_tables()/columns(), information_schema") {
    val db = demoDb()
    db.query("CREATE SCHEMA intr").fold(e => fail(e.msg), identity)
    db.query("CREATE TABLE intr.extra (x DOUBLE, y VARCHAR(4))")
    db.query("CREATE VIEW vv AS SELECT 1 AS one")
    val t = db.select("SELECT schema_name, table_name, column_count " +
      "FROM duckdb_tables() ORDER BY schema_name, table_name")
      .fold(e => fail(e.msg), identity).collect()
    assert(t.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      == Seq(("intr", "extra", 2L), ("main", "cars", 3L),
        ("main", "people", 3L)))
    // columns carry 1-based ordinals and DuckDB type spellings
    val c = db.select("SELECT column_name, column_index, data_type " +
      "FROM duckdb_columns() WHERE table_name = 'extra' ORDER BY column_index")
      .fold(e => fail(e.msg), identity).collect()
    assert(c.map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
      == Seq(("x", 1L, "DOUBLE"), ("y", 2L, "VARCHAR")))
    // schemas list main + created; views list; information_schema union
    assert(db.select("SELECT schema_name FROM duckdb_schemas() ORDER BY 1")
      .toOption.get.collect().map(_.getString(0)).toSeq ==
      Seq("intr", "main"))
    assert(db.select("SELECT view_name FROM duckdb_views()").toOption.get
      .collect().map(_.getString(0)).toSeq == Seq("vv"))
    val ist = db.select("SELECT table_name, table_type FROM " +
      "information_schema.tables ORDER BY table_type, table_name")
      .fold(e => fail(e.msg), identity).collect()
    assert(ist.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("cars", "BASE TABLE"), ("extra", "BASE TABLE"),
        ("people", "BASE TABLE"), ("vv", "VIEW")))
    // joins/aggregates over introspection work like any relation
    val n = db.select("SELECT count(*) AS n FROM information_schema.columns " +
      "WHERE table_schema = 'main'").toOption.get.collect().head.getLong(0)
    assert(n == 6L)
  }

  test("ATTACH: attached tables are optimizer first-class (stats + broadcast)") {
    val dbB = freshDb()
    dbB.query("CREATE TABLE dim (id INT, tag VARCHAR(8))")
      .fold(e => fail(e.msg), identity)
    dbB.query("INSERT INTO dim VALUES (1, 'a'), (2, 'b'), (4, 'c')")
      .fold(e => fail(e.msg), identity)
    val dbA = freshDb()
    dbA.registerParquet("fact", s"${SparkTestSession.sf0001}/orders.parquet")
    assert(dbA.query(s"ATTACH '${dbB.warehouse}' AS other").isRight)
    val df = dbA.select("SELECT f.o_orderkey, d.tag FROM fact f, other.dim d " +
      "WHERE f.o_custkey = d.id ORDER BY f.o_orderkey")
      .fold(e => fail(e.msg), identity)
    // the attached external got a lazy sampled-stats build like a native
    val st = dbA.statistics.get("other.dim")
    assert(st.exists(_.rowCount == 3L), s"no stats for attached table: $st")
    // it entered the join-order DP …
    assert(dbA.lastJoinOrder.exists(_.toSet == Set("f", "d")),
      dbA.lastJoinOrder.toString)
    // … and the stats-driven build-side choice broadcast the small
    // attached side (fact is the largest binding — never broadcast)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    df.collect() // executes cleanly end-to-end
  }

  test("ATTACH / DETACH: read-only cross-warehouse tables") {
    val dbA = demoDb()
    val dbB = freshDb()
    dbB.query("CREATE TABLE ext (id INT, tag VARCHAR(8))")
    dbB.query("INSERT INTO ext VALUES (1, 'b1'), (2, 'b2'), (3, 'b3')")
    assert(dbA.query(s"ATTACH '${dbB.warehouse}' AS other").isRight)
    // cross-warehouse join against a local table
    val j = dbA.select("SELECT p.name, e.tag FROM people p, other.ext e " +
      "WHERE p.id = e.id ORDER BY p.id")
      .fold(e => fail(e.msg), identity).collect()
    assert(j.length == 3 && j.head.getString(1) == "b1")
    // attached tables are READ-ONLY; writes and drops reject
    assert(dbA.query("INSERT INTO other.ext VALUES (4, 'x')").isLeft)
    assert(dbA.query("DROP TABLE other.ext").isLeft)
    assert(dbA.query("UPDATE other.ext SET tag = 'z'").isLeft)
    // alias collisions and bad paths reject; DETACH removes
    assert(dbA.query(s"ATTACH '${dbB.warehouse}' AS other").isLeft)
    assert(dbA.query("ATTACH '/no/such/dir' AS ghost").isLeft)
    assert(dbA.query("DETACH other").isRight)
    assert(dbA.select("SELECT * FROM other.ext").isLeft)
    assert(dbA.query("DETACH other").isLeft)
    // the source warehouse was never touched
    assert(dbB.select("SELECT count(*) AS n FROM ext").toOption.get
      .collect().head.getLong(0) == 3L)
  }

  test("EXPORT DATABASE / IMPORT DATABASE round-trip") {
    val db = demoDb()
    db.query("CREATE SCHEMA exs").fold(e => fail(e.msg), identity)
    db.query("CREATE TABLE exs.t2 (id INT NOT NULL, v VARCHAR(8) " +
      "DEFAULT 'd')").fold(e => fail(e.msg), identity)
    db.query("INSERT INTO exs.t2 (id) VALUES (10), (11)")
    // a multi-line definition with a line comment must survive the
    // one-statement-per-line flattening in schema.sql
    db.query("CREATE VIEW adult2 AS SELECT name -- grown-ups\n" +
      "FROM people WHERE age > 21")
      .fold(e => fail(e.msg), identity)
    db.query("CREATE SEQUENCE exseq START 5")
    db.query("SELECT nextval('exseq') AS n").fold(e => fail(e.msg), identity)
    db.query("CREATE MACRO exm(x) AS x * 2")
    // a matview: its CTAS replays over still-empty tables at import, so
    // load.sql must end with a REFRESH that rebuilds it from loaded data
    db.query("CREATE MATERIALIZED VIEW exmv AS SELECT count(*) AS n " +
      "FROM people WHERE age > 21").fold(e => fail(e.msg), identity)
    val dir = Files.createTempDirectory("graft-export").toString
    val Right(db.Done(msg)) = db.query(s"EXPORT DATABASE '$dir'"): @unchecked
    assert(msg.contains("exported"))
    // import into a FRESH warehouse reproduces relations and data
    val db2 = freshDb()
    db2.query(s"IMPORT DATABASE '$dir'").fold(e => fail(e.msg), identity)
    assert(db2.select("SELECT count(*) AS n FROM people").toOption.get
      .collect().head.getLong(0) == 3L)
    val t2 = db2.select("SELECT id, v FROM exs.t2 ORDER BY id")
      .fold(e => fail(e.msg), identity).collect()
    assert(t2.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((10, "d"), (11, "d"))) // DEFAULT survived the round-trip
    assert(db2.select("SELECT * FROM adult2").toOption.get
      .collect().length == 1)
    // the sequence continues PAST the exported current value
    assert(db2.select("SELECT nextval('exseq') AS n").toOption.get
      .collect().head.getLong(0) == 6L)
    // the macro works
    assert(db2.select("SELECT exm(21) AS v").toOption.get
      .collect().head.getLong(0) == 42L)
    // the matview rebuilt AFTER the loads — contents, not an empty shell
    assert(db2.select("SELECT n FROM exmv").toOption.get
      .collect().head.getLong(0) == 1L)
    // NOT NULL survived: inserting NULL id rejects
    assert(db2.query("INSERT INTO exs.t2 VALUES (NULL, 'x')").isLeft)
    assert(db2.query("IMPORT DATABASE '/no/such/dir'").isLeft)
  }

  test("multi-statement scripts and transaction notices") {
    val db = freshDb()
    // a script runs in order; the LAST statement's result returns
    val r = db.select("CREATE TABLE ms (x INT); " +
      "INSERT INTO ms VALUES (1), (2); -- a comment; with a semicolon\n" +
      "SELECT sum(x) AS s FROM ms;")
      .fold(e => fail(e.msg), identity).collect()
    assert(r.head.getLong(0) == 3L)
    // a failing middle statement stops the script
    assert(db.query("INSERT INTO ms VALUES (3); BROKEN; " +
      "INSERT INTO ms VALUES (4)").isLeft)
    assert(db.select("SELECT count(*) AS n FROM ms").toOption.get
      .collect().head.getLong(0) == 3L) // 3 landed, 4 never ran
    // semicolons inside strings do not split
    val s = db.select("SELECT 'a;b' AS v").toOption.get.collect().head
    assert(s.getString(0) == "a;b")
    // BEGIN/COMMIT are loud no-ops; ROLLBACK is an honest error
    assert(db.query("BEGIN TRANSACTION").isRight)
    assert(db.query("COMMIT").isRight)
    assert(db.query("ROLLBACK").isLeft)
    assert(db.query("ABORT").isLeft)
    // maintenance statements: accepted, loudly no-op'd
    assert(db.query("CHECKPOINT").isRight)
    assert(db.query("VACUUM ANALYZE").isRight)
  }

  test("a `;` inside a nested block comment does not end the statement") {
    val db = freshDb()
    db.query("CREATE TABLE nb (k INT); INSERT INTO nb VALUES (1), (2)")
      .fold(e => fail(e.msg), identity)
    val r = db.select("SELECT k AS x /* a /* b */ ; */ FROM nb")
      .fold(e => fail(e.msg), identity).collect()
    assert(r.map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
  }

  test("SET VARIABLE / getvariable: literals, expressions, scoping") {
    val db = demoDb()
    assert(db.query("SET VARIABLE lim = 21").isRight)
    val r = db.select("SELECT name FROM people WHERE age > getvariable('lim')")
      .fold(e => fail(e.msg), identity).collect()
    assert(r.map(_.getString(0)).toSeq == Seq("Dr. Emmett L. „Doc“ Brown"))
    // constant expressions and references to other variables evaluate
    assert(db.query("SET VARIABLE lim2 = getvariable('lim') * 2").isRight)
    assert(db.select("SELECT getvariable('lim2') AS v").toOption.get
      .collect().head.getLong(0) == 42L)
    // scalar-subquery values over catalog tables work
    assert(db.query(
      "SET VARIABLE topage = (SELECT max(age) FROM people)").isRight)
    assert(db.select("SELECT getvariable('topage') AS v").toOption.get
      .collect().head.getLong(0) == 30L)
    // strings splice quoted; unset variables read NULL; RESET unsets
    db.query("SET VARIABLE who = 'Elon'")
    assert(db.select("SELECT count(*) AS n FROM people " +
      "WHERE name = getvariable('who')").toOption.get
      .collect().head.getLong(0) == 1L)
    assert(db.select("SELECT getvariable('missing') IS NULL AS m")
      .toOption.get.collect().head.getBoolean(0))
    db.query("RESET VARIABLE who")
    assert(db.select("SELECT getvariable('who') IS NULL AS m").toOption.get
      .collect().head.getBoolean(0))
    // inside a string literal, getvariable is TEXT, not a call
    assert(db.select("SELECT 'getvariable(''x'')' AS s").toOption.get
      .collect().head.getString(0) == "getvariable('x')")
    // non-scalar values reject loudly
    assert(db.query("SET VARIABLE bad = [1, 2, 3]").isLeft)
    // non-finite doubles round-trip
    for ((text, want) <- Seq("NaN" -> Double.NaN, "Infinity" -> Double.PositiveInfinity,
        "-Infinity" -> Double.NegativeInfinity)) {
      db.query(s"SET VARIABLE nf = CAST('$text' AS DOUBLE)").fold(e => fail(e.msg), identity)
      val got = db.select("SELECT getvariable('nf') AS v")
        .fold(e => fail(s"$text: ${e.msg}"), _.collect().head.getDouble(0))
      assert(java.lang.Double.compare(got, want) == 0, s"$text read back as $got")
    }
  }

  test("PRAGMA table_info / version / database_size / show_tables") {
    val db = freshDb()
    db.query("CREATE TABLE pt (a INT NOT NULL, b VARCHAR(8) DEFAULT 'x', " +
      "c DOUBLE)").fold(e => fail(e.msg), identity)
    val ti = db.select("PRAGMA table_info('pt')").toOption.get.collect()
    assert(ti.map(r => (r.getLong(0), r.getString(1), r.getString(2),
      r.getBoolean(3), r.getString(4))).toSeq == Seq(
      (0L, "a", "INTEGER", true, null),
      (1L, "b", "VARCHAR", false, "x"),
      (2L, "c", "DOUBLE", false, null)))
    assert(db.select("PRAGMA table_info(pt)").isRight) // bare-name form
    assert(db.query("PRAGMA table_info('ghost')").isLeft)
    assert(db.select("PRAGMA version").toOption.get.collect().length == 1)
    val sz = db.select("PRAGMA database_size").toOption.get.collect().head
    assert(sz.getLong(2) == 1L) // one table
    assert(db.select("PRAGMA show_tables").toOption.get
      .collect().map(_.getString(0)).toSeq == Seq("pt"))
    assert(db.query("PRAGMA bogus").isLeft)
  }

  test("SET schema / search_path change the session schema (not no-ops)") {
    val db = demoDb()
    db.query("CREATE SCHEMA sp").fold(e => fail(e.msg), identity)
    db.query("SET schema = 'sp'").fold(e => fail(e.msg), identity)
    db.query("CREATE TABLE spt (x INT)").fold(e => fail(e.msg), identity)
    assert(db.select("SELECT * FROM sp.spt").isRight) // landed in sp
    db.query("SET search_path = 'main, sp'").fold(e => fail(e.msg), identity)
    assert(db.select("SELECT * FROM spt").isLeft)  // back in main
    assert(db.query("SET schema = 'ghost'").isLeft) // unknown rejects
    db.query("RESET search_path").fold(e => fail(e.msg), identity)
    // other options still no-op politely
    assert(db.query("SET threads = 8").isRight)
  }

}
