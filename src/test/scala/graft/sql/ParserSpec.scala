package graft.sql

import org.scalatest.funsuite.AnyFunSuite

import Ast._
import Ast.SelectItem.{SAgg, SCol}
import graft.sql.{Lit => L}

/** Mirrors the reference's parser test corpus (reference
  * parser/mod.rs:419-623; FIXTURES.md §3) — each query must parse (or fail)
  * the same way.
  */
class ParserSpec extends AnyFunSuite {

  private def parseOk(sql: String): ParseTree =
    Parser.parse(sql).fold(e => fail(s"$sql -> $e"), identity)
  private def parseErr(sql: String): Unit =
    assert(Parser.parse(sql).isLeft, s"expected parse error: $sql")

  test("comments: -- line, /* block */, nested blocks, strings untouched") {
    val ref = parseOk("SELECT a, b FROM test")
    assert(parseOk("SELECT a, -- first\n b FROM test -- tail") == ref)
    assert(parseOk("SELECT /* x */ a, /* y /* nested */ z */ b FROM test") == ref)
    // a '--' inside a string literal is content, not a comment
    assert(parseOk("SELECT '--' AS a FROM test") !=  null)
    parseErr("SELECT a FROM test /* open")
  }

  test("scripts split at the lexer's `;` tokens") {
    val nested = "SELECT k AS x /* a /* b */ ; */ FROM t"
    assert(Parser.splitStatements(nested) == Vector(nested))
    assert(Parser.splitStatements("SELECT 'a;b' AS v; SELECT 2 AS w -- c; d\n;") ==
      Vector("SELECT 'a;b' AS v", "SELECT 2 AS w -- c; d"))
    // text that does not lex stays whole, so the parser reports its error
    val open = "SELECT 1; SELECT /* open ;"
    assert(Parser.splitStatements(open) == Vector(open))
  }

  test("select columns from table") {
    assert(parseOk("SELECT a, b FROM test") ==
      SelectTree(Some(Seq(SCol(ColRef(None, "a")), SCol(ColRef(None, "b")))),
        Seq(FTable(TableRef("test", None))), None))
  }

  test("select star") {
    assert(parseOk("SELECT * FROM test") ==
      SelectTree(None, Seq(FTable(TableRef("test", None))), None))
  }

  test("select with alias and qualified where, all comparison ops") {
    for (op <- Seq("=" -> CmpOp.Eq, "<" -> CmpOp.Lt, ">" -> CmpOp.Gt,
        "<=" -> CmpOp.Le, ">=" -> CmpOp.Ge, "<>" -> CmpOp.Neq)) {
      val t = parseOk(s"SELECT a, b FROM test t where t.c ${op._1} 5")
      assert(t == SelectTree(
        Some(Seq(SCol(ColRef(None, "a")), SCol(ColRef(None, "b")))),
        Seq(FTable(TableRef("test", Some("t")))),
        Some(Expr.Cmp(op._2,
          Operand.Col(ColRef(Some("t"), "c")),
          Operand.Literal(L.LitLong(5))))))
    }
  }

  test("conjunction with string literal") {
    val t = parseOk("SELECT a, b FROM test t where t.c < 5 and t.a = 'abc'")
    assert(t.asInstanceOf[SelectTree].where ==
      Some(Expr.And(
        Expr.Cmp(CmpOp.Lt, Operand.Col(ColRef(Some("t"), "c")), Operand.Literal(L.LitLong(5))),
        Expr.Cmp(CmpOp.Eq, Operand.Col(ColRef(Some("t"), "a")), Operand.Literal(L.LitString("abc"))))))
  }

  test("keywords are case-insensitive") {
    assert(parseOk("SEleCT a, b frOm test wheRE c = 5") ==
      parseOk("SELECT a, b FROM test WHERE c = 5"))
  }

  test("multi-table from with aliases") {
    val t = parseOk("SELECT name, model FROM people p, cars c WHERE p.id = c.owner_id")
    assert(t.asInstanceOf[SelectTree].from ==
      Seq(FTable(TableRef("people", Some("p"))), FTable(TableRef("cars", Some("c")))))
  }

  test("or and parentheses") {
    val t = parseOk("SELECT a FROM t WHERE (a = 1 OR b = 2) AND c = 3")
    assert(t.asInstanceOf[SelectTree].where.get.isInstanceOf[Expr.And])
  }

  test("insert") {
    assert(parseOk("INSERT INTO test VALUES (1, 2)") ==
      InsertTree("test", Seq(Seq(L.LitLong(1), L.LitLong(2)))))
  }

  test("insert with strings, null and multiple rows") {
    assert(parseOk("INSERT INTO p VALUES (1, 'El''on', NULL), (2, 'Doc', 30)") ==
      InsertTree("p", Seq(
        Seq(L.LitLong(1), L.LitString("El'on"), L.LitNull),
        Seq(L.LitLong(2), L.LitString("Doc"), L.LitLong(30)))))
  }

  test("create table") {
    assert(parseOk("CREATE TABLE test (a int, b varchar(255))") ==
      CreateTree("test",
        Seq(("a", SqlType.SqlInt), ("b", SqlType.SqlVarChar(255))), Nil))
  }

  test("create table with primary key and all types") {
    assert(parseOk("CREATE TABLE t (a BIGINT PRIMARY KEY, b SMALLINT, c INT, d VARCHAR(10))") ==
      CreateTree("t", Seq(
        ("a", SqlType.SqlBigInt), ("b", SqlType.SqlSmallInt),
        ("c", SqlType.SqlInt), ("d", SqlType.SqlVarChar(10))),
        Seq("a")))
  }

  test("gibberish is a parse error") {
    parseErr("SELFROMWHERE a TO XYZ MAKES NO SENSE!")
    parseErr("SELECT")
    parseErr("INSERT INTO t VALUES (1,")
    parseErr("CREATE TABLE t (a unknowntype)")
  }

  test("trailing garbage rejected: query not parsed fully") {
    val e = Parser.parse("SELECT a FROM t WHERE a = 1 garbage here")
    assert(e.isLeft && e.left.exists(_.msg.contains("not parsed fully")))
  }

  test("trailing semicolon accepted") {
    parseOk("SELECT a FROM t;")
  }

  test("order by and limit (additive over reference grammar)") {
    assert(parseOk("SELECT a FROM t ORDER BY a DESC, b LIMIT 10") ==
      SelectTree(Some(Seq(SCol(ColRef(None, "a")))), Seq(FTable(TableRef("t", None))), None,
        Seq((Operand.Col(ColRef(None, "a")): Operand) -> SortDir(true),
          (Operand.Col(ColRef(None, "b")): Operand) -> SortDir(false)), Some(10)))
    // full operands: aggregates and arithmetic sort keys parse
    val agg = parseOk("SELECT a, count(*) FROM t GROUP BY a ORDER BY count(*) DESC, a")
      .asInstanceOf[SelectTree]
    assert(agg.orderBy.head == (Operand.AggCall("count", None), SortDir(true)))
    // explicit NULLS FIRST/LAST rides on the direction
    val nf = parseOk("SELECT a FROM t ORDER BY a DESC NULLS LAST, b NULLS FIRST")
      .asInstanceOf[SelectTree]
    assert(nf.orderBy.map(_._2) == Seq(SortDir(true, Some(false)), SortDir(false, Some(true))))
    parseErr("SELECT a FROM t ORDER a")
    parseErr("SELECT a FROM t LIMIT x")
  }

  test("count/sum DISTINCT parse") {
    val t = parseOk("SELECT count(DISTINCT a), sum(DISTINCT b) FROM t")
      .asInstanceOf[SelectTree]
    assert(t.columns.get == Seq(
      SAgg("count", Some(Operand.Col(ColRef(None, "a"))), None, distinct = true),
      SAgg("sum", Some(Operand.Col(ColRef(None, "b"))), None, distinct = true)))
    parseErr("SELECT count(DISTINCT *) FROM t")
  }

  test("group by and aggregates parse") {
    assert(parseOk("SELECT a, count(*), sum(b) FROM t GROUP BY a") ==
      SelectTree(Some(Seq(SCol(ColRef(None, "a")), SAgg("count", None),
        SAgg("sum", Some(Operand.Col(ColRef(None, "b")))))),
        Seq(FTable(TableRef("t", None))), None, Nil, None, None,
        Seq(Operand.Col(ColRef(None, "a")))))
    parseErr("SELECT sum(*) FROM t")
    parseErr("SELECT a FROM t GROUP a")
  }

  test("join steps: inner joins before AND after an outer join") {
    // leading inner JOIN ON desugars into the FROM group; the post-outer
    // inner join becomes an ordered step with its ON attached
    val t = parseOk("SELECT a FROM t1 JOIN t2 ON t1.x = t2.x " +
      "LEFT JOIN t3 ON t2.y = t3.y JOIN t4 ON t3.z = t4.z")
      .asInstanceOf[SelectTree]
    assert(t.from == Seq(FTable(TableRef("t1", None)), FTable(TableRef("t2", None))))
    assert(t.joinSteps.map(js =>
      (js.kind, js.item.asInstanceOf[FTable].ref.name)) ==
      Seq(("left", "t3"), ("inner", "t4")))
    // the leading inner ON landed in WHERE
    assert(t.where.contains(Expr.Cmp(CmpOp.Eq,
      Operand.Col(ColRef(Some("t1"), "x")), Operand.Col(ColRef(Some("t2"), "x")))))
    // comma-join after an outer join stays rejected
    parseErr("SELECT a FROM t1 LEFT JOIN t2 ON t1.x = t2.x, t3")
  }

  test("derived tables in FROM parse") {
    val t = parseOk("SELECT t.a FROM (SELECT a FROM x) t").asInstanceOf[SelectTree]
    assert(t.from == Seq(FDerived(
      SelectTree(Some(Seq(SCol(ColRef(None, "a")))),
        Seq(FTable(TableRef("x", None))), None), "t")))
    // alias-less derived tables get DuckDB's synthetic name (round 11 —
    // table-macro expansion splices bare `(SELECT …)` into FROM)
    val u = parseOk("SELECT a FROM (SELECT a FROM x)").asInstanceOf[SelectTree]
    assert(u.from == Seq(FDerived(
      SelectTree(Some(Seq(SCol(ColRef(None, "a")))),
        Seq(FTable(TableRef("x", None))), None), "unnamed_subquery")))
  }

  test("delete and update parse") {
    assert(parseOk("DELETE FROM t WHERE a = 1") ==
      DeleteTree("t", Some(Expr.Cmp(CmpOp.Eq,
        Operand.Col(ColRef(None, "a")), Operand.Literal(L.LitLong(1))))))
    assert(parseOk("UPDATE t SET a = 2, b = 'x' WHERE c > 0") ==
      UpdateTree("t", Seq(
        "a" -> Operand.Literal(L.LitLong(2)),
        "b" -> Operand.Literal(L.LitString("x"))),
        Some(Expr.Cmp(CmpOp.Gt,
          Operand.Col(ColRef(None, "c")), Operand.Literal(L.LitLong(0))))))
    // SET values are full row-level expressions
    assert(parseOk("UPDATE t SET a = a + 1") ==
      UpdateTree("t", Seq("a" -> Operand.Arith('+',
        Operand.Col(ColRef(None, "a")), Operand.Literal(L.LitLong(1)))), None))
    parseErr("DELETE t")
    parseErr("UPDATE t SET")
  }

  test("list_aggr parses and binds exactly like list_aggregate") {
    val lists = Analyzer.TableDesc("t", Seq(Analyzer.AttributeDesc("l",
      SqlType.SqlArray(SqlType.SqlBigInt))))
    object cat extends Analyzer.Catalog {
      def resolve(t: String): Option[Analyzer.TableDesc] =
        if (t.equalsIgnoreCase("t")) Some(lists) else None
    }
    def bound(fn: String) = Analyzer.analyze(
      parseOk(s"SELECT $fn(l, 'sum') AS s FROM t"), cat)
      .fold(e => fail(s"$fn: ${e.msg}"), identity)
    assert(bound("list_aggr") == bound("list_aggregate"))
    assert(bound("array_aggr") == bound("list_aggregate"))
  }
}
