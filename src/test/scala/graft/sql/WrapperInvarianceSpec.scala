package graft.sql

import java.nio.file.Files

import scala.util.{Failure, Success, Try}

import org.apache.spark.JobCounter
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Analyzer checks and operand lowerings see through every wrapper: for
  * each check, the bare operand and its CAST, TRY_CAST, CASE, function
  * call and arithmetic wrappings give the same outcome — the same
  * rejection message, or the same rows (Spark's own answer over the same
  * data where Spark has the syntax). A subquery gets the same outcome in
  * every position: a top-level WHERE conjunct and the same predicate
  * under OR, HAVING and WHERE over the grouped rows. No statement throws.
  */
class WrapperInvarianceSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def database(ddl: String*): GraftDatabase = {
    val d = new GraftDatabase(spark,
      Files.createTempDirectory("graft-wrap").toString)
    for (sql <- ddl) d.query(sql).fold(e => fail(s"$sql -> ${e.msg}"), _ => ())
    d
  }

  private lazy val db: GraftDatabase = database(
    "CREATE TABLE t (k INT, g INT, v INT)",
    "INSERT INTO t VALUES (1, 1, 10), (1, 1, 20), (2, 2, 5), (3, 2, 7)",
    "CREATE TABLE u (k INT, v INT)",
    "INSERT INTO u VALUES (1, 1), (1, 2), (1, 3), (2, 1)")

  // the scalar-subquery position checks' tables: a NULL outer value and
  // a duplicated inner key
  private lazy val scalarDb: GraftDatabase = database(
    "CREATE TABLE t (k INT, v INT)",
    "INSERT INTO t VALUES (1, 10), (2, 20), (3, 30), (4, NULL)",
    "CREATE TABLE u (k INT, v INT)",
    "INSERT INTO u VALUES (1, 5), (2, 25), (2, 7), (3, 40)")

  // Spark twins of t and u, for the checks whose rows Spark can answer
  private lazy val twins: Unit = {
    import spark.implicits._
    Seq((1, 1, 10), (1, 1, 20), (2, 2, 5), (3, 2, 7)).toDF("k", "g", "v")
      .createOrReplaceTempView("wrap_t")
    Seq((1, 1), (1, 2), (1, 3), (2, 1)).toDF("k", "v")
      .createOrReplaceTempView("wrap_u")
  }

  private val wrappings = Seq(
    "CAST(%s AS INTEGER)", "TRY_CAST(%s AS INTEGER)",
    "CASE WHEN 1 = 1 THEN %s END", "abs(%s)", "%s + 0")

  /** A rejection message, or the sorted rows. */
  private def outcome(sql: String, d: => GraftDatabase = db): Either[String, Seq[String]] =
    Try(d.select(sql).map(_.collect().map(_.toString).toSeq.sorted)) match {
      case Success(r) => r.left.map(_.msg)
      case Failure(e) => fail(s"$sql threw $e")
    }

  /** `template` with its `@` hole filled by the bare operand and by each
    * wrapping of it; every form must give `expected`.
    */
  private def invariant(template: String, operand: String,
      expected: Either[String, Seq[String]], d: => GraftDatabase = db): Unit =
    for (form <- operand +: wrappings.map(_.format(operand))) {
      val sql = template.replace("@", form)
      assert(outcome(sql, d) == expected, sql)
    }

  private def rejected(sql: String, d: => GraftDatabase = db): String =
    outcome(sql, d).swap.getOrElse(fail(s"$sql was accepted"))

  private def sparkRows(sql: String): Seq[String] = {
    twins
    spark.sql(sql).collect().map(_.toString).toSeq.sorted
  }

  test("HAVING grouped-column check") {
    val t = "SELECT g FROM t GROUP BY g HAVING @ > 0"
    invariant(t, "v", Left(rejected(t.replace("@", "v"))))
    invariant("SELECT g FROM t GROUP BY g HAVING @ = 1",
      "CASE WHEN v > 6 THEN 1 ELSE 0 END", Left(rejected(t.replace("@", "v"))))
  }

  test("HAVING TRY_CAST(v AS INTEGER) > 0 rejects like HAVING v > 0") {
    assert(rejected("SELECT g FROM t GROUP BY g HAVING TRY_CAST(v AS INTEGER) > 0") ==
      rejected("SELECT g FROM t GROUP BY g HAVING v > 0"))
  }

  test("HAVING CASE WHEN v > 6 THEN 1 ELSE 0 END = 1 rejects like HAVING v > 6") {
    assert(rejected("SELECT g FROM t GROUP BY g " +
      "HAVING CASE WHEN v > 6 THEN 1 ELSE 0 END = 1") ==
      rejected("SELECT g FROM t GROUP BY g HAVING v > 6"))
  }

  private val residualCase = "CASE WHEN EXISTS (SELECT u.k FROM u " +
    "WHERE u.k = t.k AND u.v <= t.v) THEN 1 ELSE 0 END"

  test("residual-EXISTS position check") {
    val t = "SELECT k FROM t WHERE @ = 1 OR k = 3"
    invariant(t, residualCase, Left(rejected(t.replace("@", residualCase))))
  }

  test("a residual EXISTS rejects alike in every position but a top-level WHERE conjunct") {
    val expected = rejected(s"SELECT k FROM t WHERE $residualCase = 1 OR k = 3")
    for (sql <- Seq(s"SELECT k, $residualCase AS x FROM t",
        s"SELECT k, $residualCase AS x FROM t GROUP BY k, v",
        s"SELECT k, v FROM t GROUP BY k, v HAVING $residualCase = 1",
        s"SELECT k FROM t QUALIFY row_number() OVER (ORDER BY k) = 1 AND $residualCase = 1",
        "SELECT k FROM t GROUP BY k, v HAVING EXISTS (SELECT u.k FROM u " +
          "WHERE u.k = t.k AND u.v <= t.v)"))
      assert(outcome(sql) == Left(expected), sql)
  }

  test("TRY_CAST over a residual EXISTS under OR rejects like CAST") {
    assert(rejected(s"SELECT k FROM t WHERE TRY_CAST($residualCase AS INTEGER) " +
      "= 1 OR k = 3") ==
      rejected(s"SELECT k FROM t WHERE CAST($residualCase AS INTEGER) = 1 OR k = 3"))
  }

  test("unnest placement check") {
    val top = outcome("SELECT unnest([1, 2]) AS x")
    assert(top == Right(Seq("[1]", "[2]")))
    for (w <- wrappings) {
      val sql = s"SELECT ${w.format("unnest([1, 2])")} AS x"
      assert(outcome(sql) ==
        Left("bad function call: unnest(...) is only valid as a top-level SELECT item"),
        sql)
    }
  }

  test("SELECT TRY_CAST(unnest([1, 2]) AS INTEGER) rejects like CAST") {
    assert(rejected("SELECT TRY_CAST(unnest([1, 2]) AS INTEGER) AS x") ==
      rejected("SELECT CAST(unnest([1, 2]) AS INTEGER) AS x"))
  }

  test("scalar subquery in an aggregate argument") {
    val t = "SELECT g, sum(@) AS s FROM t GROUP BY g"
    val sub = "(SELECT max(v) FROM u)"
    invariant(t, sub, Left(rejected(t.replace("@", sub))))
  }

  test("sum(TRY_CAST((SELECT max(v) FROM u) AS INTEGER)) rejects like sum((SELECT …))") {
    assert(rejected("SELECT g, sum(TRY_CAST((SELECT max(v) FROM u) AS INTEGER)) AS s " +
      "FROM t GROUP BY g") ==
      rejected("SELECT g, sum((SELECT max(v) FROM u)) AS s FROM t GROUP BY g"))
  }

  test("grouping() without ROLLUP") {
    val t = "SELECT g, @ AS x, count(*) AS c FROM t GROUP BY g"
    invariant(t, "grouping(k)", Left(rejected(t.replace("@", "grouping(k)"))))
  }

  test("TRY_CAST(grouping(k) AS INTEGER) without ROLLUP rejects like grouping(k)") {
    assert(rejected("SELECT g, TRY_CAST(grouping(k) AS INTEGER) AS x, " +
      "count(*) AS c FROM t GROUP BY g") ==
      rejected("SELECT g, grouping(k) AS x, count(*) AS c FROM t GROUP BY g"))
  }

  private def recursive(cond: String): String =
    "WITH RECURSIVE r AS (SELECT k AS n FROM t WHERE k = 1 UNION ALL " +
      s"SELECT n + 1 AS n FROM r WHERE n < 5 AND $cond) SELECT n FROM r"

  test("recursive self-reference inside a subquery") {
    val sub = "(SELECT count(*) AS c FROM r)"
    invariant(recursive("@ = 1"), sub, Left(rejected(recursive(s"$sub = 1"))))
  }

  test("recursive TRY_CAST((SELECT count(*) FROM r)) rejects like CAST") {
    val sub = "(SELECT count(*) AS c FROM r)"
    assert(rejected(recursive(s"TRY_CAST($sub AS INTEGER) = 1")) ==
      rejected(recursive(s"CAST($sub AS INTEGER) = 1")))
  }

  private def multi(t: String, u: String, pred: String): String =
    s"SELECT t.k, u.v FROM $t, $u WHERE t.k = u.k AND t.v > $pred"

  test("multi-table WHERE with a scalar-subquery operand") {
    val expected = sparkRows(multi("wrap_t t", "wrap_u u",
      "(SELECT max(v) FROM wrap_u) + 5"))
    assert(expected.length == 6)
    invariant(multi("t", "u", "@ + 5"), "(SELECT max(v) FROM u)", Right(expected))
  }

  test("t.v > (SELECT max(v) FROM u) + 5 over two tables returns Spark's rows") {
    assert(outcome(multi("t", "u", "(SELECT max(v) FROM u) + 5")) ==
      Right(sparkRows(multi("wrap_t t", "wrap_u u",
        "(SELECT max(v) FROM wrap_u) + 5"))))
  }

  // An inequality-correlated scalar subquery in each position gives the
  // rows of the same query reading it as a bare item of a derived table.
  private val running = "(SELECT sum(v) FROM u WHERE u.k <= t.k)"
  private val bareItem = s"(SELECT k, v, $running AS s FROM t) d"

  test("an inequality-correlated scalar subquery gives its bare item's rows in every position") {
    val positions = Seq(
      "SELECT k, @ AS s FROM t" -> s"SELECT k, s FROM $bareItem",
      "SELECT k, CASE WHEN @ > 40 THEN 1 ELSE 0 END AS s FROM t" ->
        s"SELECT k, CASE WHEN s > 40 THEN 1 ELSE 0 END AS s FROM $bareItem",
      "SELECT k FROM t WHERE v < @" -> s"SELECT k FROM $bareItem WHERE v < s",
      "SELECT k, sum(v) AS sv FROM t GROUP BY k HAVING sum(v) < @" ->
        s"SELECT k, sum(v) AS sv FROM $bareItem GROUP BY k, s HAVING sum(v) < s",
      "SELECT k, @ AS s, count(*) AS c FROM t GROUP BY k" ->
        s"SELECT k, s, count(*) AS c FROM $bareItem GROUP BY k, s")
    val answers = for ((template, equivalent) <- positions) yield {
      val expected = outcome(equivalent, scalarDb)
      assert(expected.isRight, equivalent)
      invariant(template, running, expected, scalarDb)
      expected
    }
    assert(answers.head == Right(Seq("[1,5]", "[2,37]", "[3,77]", "[4,77]")))
    assert(answers(2) == Right(Seq("[2]", "[3]")))
  }

  test("a scalar subquery over an ungrouped outer column rejects alike, bare and wrapped") {
    val t = "SELECT k, @ AS s, count(*) AS c FROM t GROUP BY k"
    val sub = "(SELECT sum(v) FROM u WHERE u.k = t.v)"
    invariant(t, sub, Left(rejected(t.replace("@", sub), scalarDb)), scalarDb)
  }

  // A window operand is checked alike in every window position: argument,
  // PARTITION BY key and ORDER BY key, of a SELECT-list window and of a
  // QUALIFY inline window.
  private val unnestOp = "unnest([1, 2])"
  private val subOp = "(SELECT max(v) FROM u)"

  private def rowWin(over: String): String = s"SELECT k, row_number() OVER ($over) AS r FROM t"
  private def rowQualify(over: String): String =
    s"SELECT k FROM t QUALIFY row_number() OVER ($over) = 1"
  private def groupWin(over: String): String =
    s"SELECT g, count(*) AS c, row_number() OVER ($over) AS r FROM t GROUP BY g"
  private def groupQualify(over: String): String =
    s"SELECT g, count(*) AS c FROM t GROUP BY g QUALIFY row_number() OVER ($over) = 1"

  test("PARTITION BY unnest([1, 2]) rejects like ORDER BY unnest([1, 2])") {
    assert(rejected(rowWin(s"PARTITION BY $unnestOp ORDER BY k")) ==
      rejected(rowWin(s"ORDER BY $unnestOp")))
  }

  test("QUALIFY row_number() OVER (ORDER BY unnest([1, 2])) rejects like the SELECT-list window") {
    assert(rejected(rowQualify(s"ORDER BY $unnestOp")) ==
      rejected(rowWin(s"ORDER BY $unnestOp")))
  }

  test("PARTITION BY (SELECT max(v) FROM u) rejects like ORDER BY (SELECT max(v) FROM u)") {
    assert(rejected(rowWin(s"PARTITION BY $subOp ORDER BY k")) ==
      rejected(rowWin(s"ORDER BY $subOp, k")))
  }

  test("QUALIFY window over (SELECT max(v) FROM u) rejects like the SELECT-list window") {
    val expected = rejected(rowWin(s"ORDER BY $subOp, k"))
    assert(rejected(rowQualify(s"ORDER BY $subOp, k")) == expected)
    assert(rejected(rowQualify(s"PARTITION BY $subOp ORDER BY k")) == expected)
  }

  test("PARTITION BY grouping(g) rejects like ORDER BY grouping(g)") {
    assert(rejected(groupWin("PARTITION BY grouping(g) ORDER BY g")) ==
      rejected(groupWin("ORDER BY grouping(g)")))
  }

  test("QUALIFY row_number() OVER (ORDER BY grouping(g)) rejects like the SELECT-list window") {
    assert(rejected(groupQualify("ORDER BY grouping(g)")) ==
      rejected(groupWin("ORDER BY grouping(g)")))
  }

  test("PARTITION BY sum(v) without GROUP BY rejects like ORDER BY sum(v)") {
    assert(rejected(rowWin("PARTITION BY sum(v) ORDER BY k")) ==
      rejected(rowWin("ORDER BY sum(v)")))
  }

  test("window operand checks: argument, PARTITION BY and ORDER BY, SELECT list and QUALIFY") {
    for ((op, scope, key) <- Seq((unnestOp, "row", "k"), (subOp, "row", "k"),
        ("sum(v)", "row", "k"), ("grouping(g)", "group", "g"))) {
      val (select, from) =
        if (scope == "row") ("SELECT k", "FROM t") else ("SELECT g, count(*) AS c", "FROM t GROUP BY g")
      val overs = Seq(s"first_value($op) OVER (ORDER BY $key)",
        s"first_value($key) OVER (PARTITION BY $op ORDER BY $key)",
        s"first_value($key) OVER (ORDER BY $op, $key)")
      val forms = overs.map(w => s"$select, $w AS r $from") ++
        overs.map(w => s"$select $from QUALIFY $w = 1")
      val expected = rejected(forms.head)
      for (sql <- forms.tail) assert(outcome(sql) == Left(expected), sql)
    }
  }

  private val rowScope =
    "SELECT k, v, row_number() OVER (ORDER BY v) AS rn FROM t QUALIFY "
  private val groupScope = "SELECT g, count(*) AS c, " +
    "row_number() OVER (ORDER BY g) AS rn FROM t GROUP BY g QUALIFY "

  for ((scope, name) <- Seq(rowScope -> "row", groupScope -> "GROUP BY")) {
    test(s"QUALIFY window alias, $name scope") {
      val expected = outcome(scope + "rn = 2")
      assert(expected.exists(_.length == 1), expected)
      invariant(scope + "@ = 2", "rn", expected)
      for (pred <- Seq("abs(rn - 2) = 0",
          "CASE WHEN rn = 2 THEN true ELSE false END"))
        assert(outcome(scope + pred) == expected, pred)
      // an incomparable window comparison rejects at analysis
      assert(outcome(scope + "rn = 'x'").isLeft)
    }

    test(s"QUALIFY abs(rn - 2) = 0 and TRY_CAST(rn AS INTEGER) = 2, $name scope") {
      val cast = outcome(scope + "CAST(rn AS INTEGER) = 2")
      assert(cast.isRight, cast)
      assert(outcome(scope + "abs(rn - 2) = 0") == cast)
      assert(outcome(scope + "TRY_CAST(rn AS INTEGER) = 2") == cast)
    }
  }

  // Every subquery form, as a top-level WHERE conjunct (its semi/anti or
  // inner join) and forced onto the marker path by a disjunct that is
  // never true.
  private val subqueryForms = Seq(
    "k IN (SELECT k FROM u)",
    "k IN (SELECT u.k FROM u WHERE u.v = t.g)",
    "k NOT IN (SELECT v FROM u)",
    "k NOT IN (SELECT CASE WHEN v = 3 THEN NULL ELSE v END AS x FROM u)",
    "v NOT IN (SELECT u.v FROM u WHERE u.k = t.k)",
    "(k, g) IN (SELECT k, v FROM u)",
    "(k, g) NOT IN (SELECT k, v FROM u)",
    "EXISTS (SELECT 1 AS x FROM u WHERE u.k = t.k)",
    "NOT EXISTS (SELECT 1 AS x FROM u WHERE u.k = t.k)",
    "v > (SELECT v FROM u WHERE k = 2) + 5",
    "v > (SELECT v FROM u WHERE k = 2)",
    "v > (SELECT max(v) FROM u) + 5",
    "v < (SELECT sum(u.v) FROM u WHERE u.k = t.k) * 3",
    "v > ANY (SELECT v * 5 AS x FROM u)",
    "v > ALL (SELECT u.v * 5 AS x FROM u WHERE u.k = t.k)")

  test("a subquery conjunct gives the same rows on the join and on the marker path") {
    val outcomes = for (p <- subqueryForms) yield {
      val top = outcome(s"SELECT k, g, v FROM t WHERE $p")
      assert(outcome(s"SELECT k, g, v FROM t WHERE ($p) OR " +
        "(k IS NULL AND k IS NOT NULL)") == top, p)
      top
    }
    // the forms answer, and not all alike
    assert(outcomes.forall(_.isRight), outcomes)
    assert(outcomes.distinct.length > 5)
  }

  test("a subquery in an aggregate argument or an ORDER BY key rejects with one message") {
    val message = "a subquery is not supported in this position " +
      "(aggregate arguments, GROUP/ORDER BY, window arguments)"
    for (p <- subqueryForms; sql <- Seq(
        s"SELECT sum(CASE WHEN $p THEN 1 ELSE 0 END) AS c FROM t",
        s"SELECT k FROM t ORDER BY CASE WHEN $p THEN 1 ELSE 0 END, k")) {
      val r = Try(db.query(sql)).getOrElse(fail(s"$sql threw"))
      assert(r.swap.exists(_.msg.contains(message)), sql)
    }
  }

  // a scalar IN twinned with its row-value form: a constant second
  // component that always matches
  private val scalarIn = """(\w+) (NOT )?IN \(SELECT (.*?) FROM (.*)\)""".r
  private val rowTwins = subqueryForms.collect {
    case p @ scalarIn(probe, not, v, rest) =>
      p -> s"($probe, 1) ${Option(not).getOrElse("")}IN (SELECT $v, 1 AS one FROM $rest)"
  }

  test("a row-value IN gives its scalar twin's rows in every position") {
    assert(rowTwins.length == 5)
    val positions = Seq(
      "SELECT k, g, v FROM t WHERE @",
      "SELECT k, g, v FROM t WHERE (@) OR (k IS NULL AND k IS NOT NULL)",
      "SELECT k, g, v FROM t WHERE NOT (@)",
      "SELECT k, g, v, CASE WHEN @ THEN 1 ELSE 0 END AS c FROM t",
      "SELECT k, g, v FROM t GROUP BY k, g, v HAVING @",
      "SELECT k, g, v, row_number() OVER (ORDER BY k, g, v) AS rn FROM t " +
        "QUALIFY rn > 0 AND (@)")
    for ((scalar, row) <- rowTwins; pos <- positions) {
      val expected = outcome(pos.replace("@", scalar))
      assert(expected.isRight, pos.replace("@", scalar))
      assert(outcome(pos.replace("@", row)) == expected, pos.replace("@", row))
    }
    // nested under a correlated EXISTS, the row form flattens like the
    // scalar one
    val nested = database(
      "CREATE TABLE t (a INT, b INT)",
      "INSERT INTO t VALUES (1, 1), (2, NULL), (NULL, 3), (4, 4)",
      "CREATE TABLE s (x INT, y INT)",
      "INSERT INTO s VALUES (1, 1), (NULL, 3), (5, 5)")
    def exists(in: String) = outcome("SELECT 1 AS one FROM t WHERE EXISTS " +
      s"(SELECT 1 AS z FROM s WHERE $in) AND a = 1", nested)
    assert(exists("s.x IN (SELECT t2.a FROM t t2 WHERE t2.a = t.a)") == Right(Seq("[1]")))
    assert(exists("(s.x, s.y) IN (SELECT t2.a, t2.b FROM t t2 WHERE t2.a = t.a)") ==
      Right(Seq("[1]")))
  }

  // `@` is the group's count and `#` its key: HAVING over the grouped
  // rows, and WHERE over the same grouping as a derived table
  private val groupedForms = Seq(
    "@ IN (SELECT v FROM u WHERE v > 1)",
    "@ NOT IN (SELECT v FROM u WHERE v > 1)",
    "@ NOT IN (SELECT CASE WHEN v = 3 THEN NULL ELSE v END AS x FROM u)",
    "(#, @) IN (SELECT k, v FROM u)",
    "EXISTS (SELECT 1 AS x FROM u WHERE u.k = #)",
    "NOT EXISTS (SELECT 1 AS x FROM u WHERE u.k = #)",
    "@ = (SELECT v FROM u WHERE k = 2)",
    "@ < (SELECT max(v) FROM u)",
    "@ >= (SELECT count(*) FROM u WHERE u.k = #)",
    "@ > ANY (SELECT v FROM u)",
    "@ < ALL (SELECT v FROM u WHERE v > 1)",
    "(@ IN (SELECT v FROM u WHERE v > 1)) OR # = 3")

  test("HAVING p(count(*)) gives the rows of WHERE p(c) over the grouped rows") {
    val outcomes = for (p <- groupedForms) yield {
      val having = outcome("SELECT k, count(*) AS c FROM t GROUP BY k HAVING " +
        p.replace("@", "count(*)").replace("#", "t.k"))
      assert(outcome("SELECT k, c FROM (SELECT k, count(*) AS c FROM t GROUP BY k) d " +
        "WHERE " + p.replace("@", "d.c").replace("#", "d.k")) == having, p)
      having
    }
    assert(outcomes.forall(_.isRight), outcomes)
    assert(outcomes.distinct.length > 3)
  }

  test("a guarded scalar subquery runs one Spark job while the statement is built") {
    val guarded = "(SELECT v FROM u WHERE k = 2)"
    for (sql <- Seq(s"SELECT k FROM t WHERE v > $guarded",
        s"SELECT g, count(*) AS c FROM t GROUP BY g HAVING count(*) > $guarded",
        s"SELECT k, $guarded AS s FROM t",
        s"SELECT k, CASE WHEN v > $guarded THEN 1 ELSE 0 END AS x FROM t")) {
      val (df, jobs) = JobCounter.jobsDuring(spark.sparkContext)(db.select(sql))
      assert(df.isRight, sql)
      assert(jobs == 1, s"$sql: $jobs jobs")
    }
  }

  test("a correlated IN / ANY body projecting a scalar subquery rejects alike, bare and wrapped") {
    val body = "(SELECT @ AS x FROM u u2 WHERE u2.k = t.k)"
    val sub = "(SELECT max(v) FROM u)"
    val expected = rejected(s"SELECT k FROM t WHERE v IN ${body.replace("@", sub)}")
    for (t <- Seq(s"SELECT k FROM t WHERE v IN $body",
        s"SELECT k FROM t WHERE v NOT IN $body",
        s"SELECT k FROM t WHERE v > ANY $body",
        s"SELECT k FROM t WHERE v < ALL $body",
        "SELECT k FROM t WHERE (k, v) IN (SELECT u2.k, @ AS x FROM u u2 WHERE u2.k = t.k)"))
      invariant(t, sub, Left(expected))
    // EXISTS never reads its body's items: the same body returns rows
    assert(outcome(s"SELECT k FROM t WHERE EXISTS ${body.replace("@", sub)}") ==
      Right(Seq("[1]", "[1]", "[2]")))
  }

  // LATERAL bodies correlate twice on one outer column (c.a = p.id AND
  // c.b = p.id); p has a NULL id, c a NULL key pair, a pair with a != b
  // and a key no outer row has
  private lazy val lateralDb: GraftDatabase = database(
    "CREATE TABLE p (id INT)",
    "INSERT INTO p VALUES (1), (2), (3), (NULL)",
    "CREATE TABLE c (a INT, b INT, v INT)",
    "INSERT INTO c VALUES (1, 1, 10), (1, 1, 20), (1, 2, 30), (2, 2, 20), " +
      "(NULL, NULL, 40), (4, 4, 50)")

  private val pairWhere = "WHERE c.a = p.id AND c.b = p.id"

  // body -> its FROM-list rows (p.id, l.v)
  private val lateralShapes = Seq(
    s"SELECT c.v FROM c $pairWhere" ->
      Seq("[1,10]", "[1,20]", "[2,20]"),
    s"SELECT c.v FROM c $pairWhere ORDER BY c.v DESC LIMIT 1" ->
      Seq("[1,20]", "[2,20]"),
    s"SELECT count(*) AS v FROM c $pairWhere" ->
      Seq("[1,2]", "[2,1]", "[3,0]", "[null,0]"),
    s"SELECT c.v FROM c $pairWhere UNION SELECT v FROM c WHERE a = 4" ->
      Seq("[1,10]", "[1,20]", "[1,50]", "[2,20]", "[2,50]", "[3,50]", "[null,50]"),
    s"SELECT c.v FROM c $pairWhere EXCEPT SELECT 20 AS v" ->
      Seq("[1,10]"))

  test("a LATERAL gives the same rows in the FROM list and as a join step") {
    val ids = Seq("1", "2", "3", "null")
    for ((body, rows) <- lateralShapes) {
      val from = outcome(s"SELECT p.id, l.v FROM p, LATERAL ($body) l", lateralDb)
      assert(from == Right(rows.sorted), body)
      assert(outcome(s"SELECT p.id, l.v FROM p INNER JOIN LATERAL ($body) l ON 1 = 1",
        lateralDb) == from, body)
      // LEFT keeps each outer row whose lateral set is empty, null-extended
      val kept = rows.map(_.drop(1).takeWhile(_ != ',')).toSet
      val extended = ids.filterNot(kept).map(id => s"[$id,null]")
      assert(outcome(s"SELECT p.id, l.v FROM p LEFT JOIN LATERAL ($body) l ON 1 = 1",
        lateralDb) == Right((rows ++ extended).sorted), body)
    }
  }

  test("a LATERAL correlating against an earlier aggregate LATERAL's column") {
    val chained = outcome("SELECT p.id, a.n, l.v FROM p, " +
      s"LATERAL (SELECT count(*) AS n FROM c $pairWhere) a, " +
      "LATERAL (SELECT c.v FROM c WHERE c.a = a.n) l", lateralDb)
    val twin = outcome("SELECT a.id, a.n, c.v FROM (SELECT p.id AS id, " +
      s"(SELECT count(*) FROM c $pairWhere) AS n FROM p) a, c WHERE c.a = a.n",
      lateralDb)
    assert(chained == twin)
    assert(chained == Right(Seq("[1,2,20]", "[2,1,10]", "[2,1,20]", "[2,1,30]")))
  }
}
