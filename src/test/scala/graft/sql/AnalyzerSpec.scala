package graft.sql

import org.scalatest.funsuite.AnyFunSuite

import Analyzer._
import graft.sql.{Lit => L}

/** Mirrors the reference's analyzer tests (reference analyzer/mod.rs:
  * 271-479; FIXTURES.md §2-3): binding, star expansion, ambiguity, insert
  * arity / conversion errors, create-table.
  */
class AnalyzerSpec extends AnyFunSuite {

  // The reference's analyzer fixture schema (analyzer/mod.rs:282-313).
  private val people = TableDesc("people", Seq(
    AttributeDesc("id", SqlType.SqlInt, nullable = false),
    AttributeDesc("name", SqlType.SqlVarChar(255), nullable = false),
    AttributeDesc("age", SqlType.SqlSmallInt)))
  private val cars = TableDesc("cars", Seq(
    AttributeDesc("id", SqlType.SqlInt, nullable = false),
    AttributeDesc("model", SqlType.SqlVarChar(255)),
    AttributeDesc("owner_id", SqlType.SqlInt)))

  private object cat extends Catalog {
    def resolve(t: String): Option[TableDesc] = t.toLowerCase match {
      case "people" => Some(people)
      case "cars"   => Some(cars)
      case _        => None
    }
  }

  private def analyzeSql(sql: String): Either[AnalyzerError, BoundQuery] =
    Analyzer.analyze(Parser.parse(sql).toOption.get, cat)

  private def err(sql: String): AnalyzerError =
    analyzeSql(sql).left.getOrElse(fail(s"expected analyzer error: $sql"))

  test("select binds columns and predicate") {
    val Right(b: BoundSelect) =
      analyzeSql("SELECT name FROM people WHERE age > 21"): @unchecked
    assert(b.projection.collect { case BoundItem.BICol(c, _) => c.render } == Seq("people.name"))
    assert(b.predicate.isDefined)
  }

  test("star expands to all attributes of all tables in order") {
    val Right(b: BoundSelect) =
      analyzeSql("SELECT * FROM people p, cars c"): @unchecked
    assert(b.projection.collect { case BoundItem.BICol(c, _) => c.render } ==
      Seq("p.id", "p.name", "p.age", "c.id", "c.model", "c.owner_id"))
  }

  test("unknown relation") {
    assert(err("SELECT a FROM nope").isInstanceOf[RelationNotFound])
  }

  test("unbound attribute and unbound binding") {
    assert(err("SELECT nope FROM people").isInstanceOf[UnboundAttribute])
    assert(err("SELECT x.name FROM people p").isInstanceOf[UnboundBinding])
  }

  test("ambiguous unqualified attribute across tables") {
    assert(err("SELECT id FROM people p, cars c").isInstanceOf[AmbiguousAttribute])
  }

  test("duplicate binding") {
    assert(err("SELECT name FROM people p, cars p").isInstanceOf[DuplicateBinding])
  }

  test("type check: varchar not comparable to int") {
    assert(err("SELECT name FROM people WHERE name = 5").isInstanceOf[NotComparable])
    assert(err("SELECT name FROM people p, cars c WHERE p.name = c.id").isInstanceOf[NotComparable])
  }

  test("type check: a computed operand against an incomparable literal") {
    for (op <- Seq("id + 1", "abs(id)", "CAST(id AS INTEGER)")) {
      assert(err(s"SELECT name FROM people WHERE $op = 'x'")
        .isInstanceOf[NotComparable], op)
      assert(err(s"SELECT name FROM people WHERE 'x' < $op")
        .isInstanceOf[NotComparable], op)
    }
    assert(analyzeSql("SELECT name FROM people WHERE id + 1 = 2").isRight)
    assert(analyzeSql("SELECT name FROM people WHERE upper(name) = 'X'").isRight)
  }

  test("mixed-width integer comparison allowed (types.rs:51-70)") {
    assert(analyzeSql("SELECT name FROM people p, cars c WHERE p.age = c.id").isRight)
  }

  test("insert ok incl. null and type narrowing") {
    val Right(b: BoundInsert) =
      analyzeSql("INSERT INTO people VALUES (1, 'Elon', NULL)"): @unchecked
    assert(b.rows == Seq(Seq(1, "Elon", null)))
    val Right(b2: BoundInsert) =
      analyzeSql("INSERT INTO people VALUES (2, 'Doc', 30)"): @unchecked
    assert(b2.rows.head(2) == 30.toShort)
  }

  test("insert arity errors name the gap (analyzer/mod.rs:379-442)") {
    assert(err("INSERT INTO people VALUES (1, 'x')") ==
      MissingValues(Seq("age")))
    assert(err("INSERT INTO people VALUES (1, 'x', 2, 3)") ==
      TooManyValues(3, 4))
  }

  test("insert type errors carry the value index") {
    val e = err("INSERT INTO people VALUES (1, 2, 3)")
    assert(e.isInstanceOf[TypeNotConvertible])
    assert(e.asInstanceOf[TypeNotConvertible].index == 1)
  }

  test("insert overflow: smallint range checked without the checked_abs bug") {
    // 32768 overflows SMALLINT; -32768 does NOT (the reference's
    // checked_abs() would wrongly reject i16::MIN — SURVEY.md §1.2)
    assert(err("INSERT INTO people VALUES (1, 'x', 32768)").isInstanceOf[TypeNotConvertible])
    val Right(b: BoundInsert) =
      analyzeSql("INSERT INTO people VALUES (1, 'x', -32768)"): @unchecked
    assert(b.rows.head(2) == Short.MinValue)
  }

  test("insert varchar max length enforced") {
    val longName = "x" * 256
    assert(err(s"INSERT INTO people VALUES (1, '$longName', 3)").isInstanceOf[TypeNotConvertible])
  }

  test("aggregate scoping: bare columns must be grouped; sum needs numerics") {
    assert(err("SELECT name, count(*) FROM people").isInstanceOf[NotInGroupBy])
    assert(err("SELECT sum(name) FROM people").isInstanceOf[BadAggregate])
    assert(analyzeSql("SELECT age, count(*), avg(id) FROM people GROUP BY age").isRight)
    assert(err("SELECT age, count(*) FROM people GROUP BY age ORDER BY id").isInstanceOf[NotInGroupBy])
  }

  test("create table binds lowercase, nullable attributes") {
    val Right(c: BoundCreate) =
      analyzeSql("CREATE TABLE Pets (Id INT PRIMARY KEY, Name VARCHAR(20))"): @unchecked
    assert(c.desc.name == "pets")
    assert(c.desc.attributes == Seq(
      AttributeDesc("id", SqlType.SqlInt),
      AttributeDesc("name", SqlType.SqlVarChar(20))))
  }

  test("create existing table fails") {
    assert(err("CREATE TABLE people (a INT)").isInstanceOf[TableExists])
  }

  test("decorrelation pulls equality pairs and keeps residual conjuncts") {
    val Right(b: BoundSelect) = analyzeSql(
      "SELECT name FROM people p WHERE EXISTS " +
        "(SELECT c.id FROM cars c WHERE c.owner_id = p.id AND c.model LIKE 'T%')"): @unchecked
    val Some(BoundExpr.BExists(sub, pairs, negated, _)) = b.predicate: @unchecked
    assert(!negated)
    assert(pairs.map { case (o, i) => (o.render, i.render) } ==
      Seq(("p.id", "c.owner_id")))
    // the LIKE conjunct stays inside the subquery's predicate
    assert(sub.predicate.exists {
      case BoundExpr.BLike(_, pat, _, _, _) => pat == "T%"
      case _ => false
    })
    // non-equality correlation becomes a RESIDUAL conjunct of the
    // semi/anti join (only as a top-level WHERE conjunct)
    val Right(br: BoundSelect) = analyzeSql(
      "SELECT name FROM people p WHERE EXISTS " +
        "(SELECT c.id FROM cars c WHERE c.owner_id > p.id)"): @unchecked
    val Some(BoundExpr.BExists(_, rpairs, _, res)) = br.predicate: @unchecked
    assert(rpairs.isEmpty && res.length == 1)
    // …anywhere else it is rejected with the subquery error surface
    assert(err("SELECT name FROM people p WHERE age > 0 OR EXISTS " +
      "(SELECT c.id FROM cars c WHERE c.owner_id > p.id)").isInstanceOf[BadSubquery])
  }

  test("outer joins bind step tables into scope; inner group stays separate") {
    val Right(b: BoundSelect) = analyzeSql(
      "SELECT name, model FROM people p LEFT JOIN cars c ON p.id = c.owner_id"): @unchecked
    assert(b.tables.map(_.binding) == Seq("p"))
    assert(b.joinSteps.map(js => (js.kind, js.table.binding)) == Seq(("left", "c")))
    // star expansion covers the outer-joined table too
    val Right(star: BoundSelect) = analyzeSql(
      "SELECT * FROM people p LEFT JOIN cars c ON p.id = c.owner_id"): @unchecked
    assert(star.projection.length == 6)
  }

  test("string operands reject in arithmetic (DuckDB binder parity)") {
    // '5' + 3 binder-errors on DuckDB; silent coercion to 8 masks typos
    assert(err("SELECT '5' + 3 AS x FROM people").isInstanceOf[BadFunction])
    assert(err("SELECT 3 - '5' AS x FROM people").isInstanceOf[BadFunction])
    assert(err("SELECT '5' * age AS x FROM people").isInstanceOf[BadFunction])
    assert(err("SELECT name || 'x' AS nx FROM people WHERE id < substr(name, 1, 1) + 1")
      .isInstanceOf[BadFunction])
    // NULL keeps its arithmetic legality (NULL + 1 → NULL on both engines)
    assert(analyzeSql("SELECT NULL + 1 AS x FROM people").isRight)
    // explicit casts restore the arithmetic
    assert(analyzeSql("SELECT CAST('5' AS INT) + 3 AS x FROM people").isRight)
  }

  test("empty pad literal: honest insufficient-padding error") {
    val e = err("SELECT rpad(name, 5, '') AS x FROM people")
    assert(e.isInstanceOf[BadFunction])
    assert(e.asInstanceOf[BadFunction].detail.toLowerCase.contains("insufficient padding"))
    val e2 = err("SELECT lpad(name, 5, '') AS x FROM people")
    assert(e2.asInstanceOf[BadFunction].detail.toLowerCase.contains("insufficient padding"))
  }

  test("scalar subquery guard flag: static one-row forms skip the guard") {
    def guardOf(sql: String): Boolean = {
      val Right(b: BoundSelect) = analyzeSql(sql): @unchecked
      val Some(BoundExpr.BCmp(_, _, BoundOperand.BSubVal(_, g, _, _))) = b.predicate: @unchecked
      g
    }
    assert(!guardOf("SELECT name FROM people WHERE age > (SELECT max(age) FROM people)"))
    assert(!guardOf("SELECT name FROM people WHERE age > (SELECT age FROM people LIMIT 1)"))
    assert(guardOf("SELECT name FROM people WHERE age > (SELECT age FROM people WHERE id = 1)"))
  }
}
