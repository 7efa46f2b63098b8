package graft.sql

import scala.reflect.runtime.{universe => ru}

import org.scalatest.funsuite.AnyFunSuite

import Analyzer.{AttributeDesc, BoundCol, BoundExpr, BoundItem, BoundNode,
  BoundOperand, BoundSelect, CorrIneq}
import Ast.{CmpOp, ColRef, Expr, Operand, SelectTree, SortDir, WinFrame}

/** Completeness guard for the expression-tree traversal: one instance of
  * every case class of the four expression ADTs, each checked against
  * its own fields. `children` must return exactly the operand- and
  * predicate-typed fields, in field order, minus the documented
  * exclusions: an EXISTS's residual conjuncts and a scalar subquery's
  * inequality (both straddle the subquery scope). Subquery bodies and
  * decorrelation pairs are not expression nodes, so they never count.
  * A node type added without an instance here, or with a field its
  * `children` misses, fails this suite. The same holds for SELECT items
  * and their `operands`.
  */
class TreeNodeSpec extends AnyFunSuite {

  private val excluded: Map[String, Set[String]] = Map(
    "BExists" -> Set("residual"),
    "BSubVal" -> Set("ineq"))

  // ---- parse side ----
  private def c(n: String): Operand = Operand.Col(ColRef(None, n))
  private def p(n: String): Expr = Expr.Cmp(CmpOp.Eq, c(n), c(n))
  private val sel = SelectTree(None, Nil, None)

  private val operands: Seq[Operand] = Seq(
    c("a"),
    Operand.Literal(Lit.LitLong(1L)),
    Operand.DefaultVal,
    Operand.AggCall("sum", Some(c("a"))),
    Operand.Arith('+', c("a"), c("b")),
    Operand.FuncCall("f", Seq(c("a"), c("b"), c("c"))),
    Operand.CaseWhen(Seq((p("a"), c("b")), (p("c"), c("d"))), Some(c("e"))),
    Operand.Cast(c("a"), SqlType.SqlInt),
    Operand.TryCast(c("a"), SqlType.SqlInt),
    Operand.Interval(1L, "day"),
    Operand.ScalarSub(sel),
    Operand.Lambda(Seq("x"), c("a")),
    Operand.ColumnsAll(None, Nil),
    Operand.OrderedAgg("string_agg", c("a"), ",", Seq((c("b"), true),
      (c("c"), false)), distinct = false))

  private val exprs: Seq[Expr] = Seq(
    Expr.And(p("a"), p("b")),
    Expr.Or(p("a"), p("b")),
    Expr.Cmp(CmpOp.Lt, c("a"), c("b")),
    Expr.Not(p("a")),
    Expr.IsNull(c("a"), negated = false),
    Expr.Like(c("a"), "x%", negated = false),
    Expr.InSubquery(Seq(c("a"), c("b")), sel, negated = false),
    Expr.Exists(sel, negated = false),
    Expr.QuantSubquery(CmpOp.Gt, c("a"), sel, all = true))

  // ---- bound side ----
  private def bc(n: String): BoundCol =
    BoundCol("t", AttributeDesc(n, SqlType.SqlInt))
  private def b(n: String): BoundOperand = BoundOperand.BCol(bc(n))
  private def bp(n: String): BoundExpr = BoundExpr.BCmp(CmpOp.Eq, b(n), b(n))
  private val bsel = BoundSelect(Nil, Nil, None)
  private val pairs = Seq((bc("o"), bc("i")))

  private val boundOperands: Seq[BoundOperand] = Seq(
    b("a"),
    BoundOperand.BLit(Lit.LitLong(1L)),
    BoundOperand.BAgg("sum", Some(b("a"))),
    BoundOperand.BArith('+', b("a"), b("b")),
    BoundOperand.BFunc("f", Seq(b("a"), b("b"))),
    BoundOperand.BCase(Seq((bp("a"), b("b")), (bp("c"), b("d"))), Some(b("e"))),
    BoundOperand.BCast(b("a"), SqlType.SqlInt),
    BoundOperand.BTryCast(b("a"), SqlType.SqlInt),
    BoundOperand.BInterval(1L, "day"),
    BoundOperand.BOut("w", SqlType.SqlInt),
    BoundOperand.BOrderedAgg("string_agg", b("a"), ",", Seq((b("b"), true))),
    BoundOperand.BSubVal(bsel, guard = false, pairs,
      Some(CorrIneq(CmpOp.Lt, b("x"), b("y")))),
    BoundOperand.BLambda(Seq("x"), b("a")),
    BoundOperand.BLambdaVar("x", SqlType.SqlInt))

  private val boundExprs: Seq[BoundExpr] = Seq(
    BoundExpr.BAnd(bp("a"), bp("b")),
    BoundExpr.BOr(bp("a"), bp("b")),
    BoundExpr.BCmp(CmpOp.Lt, b("a"), b("b")),
    BoundExpr.BNot(bp("a")),
    BoundExpr.BIsNull(b("a"), negated = true),
    BoundExpr.BLike(b("a"), "x%", negated = false),
    BoundExpr.BInSub(Seq(b("a"), b("b")), bsel, pairs, negated = false),
    BoundExpr.BExists(bsel, pairs, negated = false, residual = Seq(bp("r"))),
    BoundExpr.BQuantSub(CmpOp.Gt, b("a"), bsel, all = true, pairs))

  private val items: Seq[BoundItem] = Seq(
    BoundItem.BICol(bc("a"), Some("x")),
    BoundItem.BIExpr(BoundOperand.BArith('+', b("a"), b("b")), "x"),
    BoundItem.BIAgg("sum", Some(b("a")), Some("x"), distinct = true),
    BoundItem.BIWin("lag", Seq(b("a"), b("b")), Seq(b("c"), b("d")),
      Seq((b("e"), SortDir(desc = false, None)), (b("f"), SortDir(desc = true, None))),
      "x", Some(WinFrame(range = false, -1L, 0L))))

  /** The node-typed values of a product's fields, in field order,
    * looking through Seq / Option / pair containers.
    */
  private def nodeFields(x: Product, isNode: Any => Boolean): Seq[Any] = {
    def flat(v: Any): Seq[Any] = v match {
      case n if isNode(n) => Seq(n)
      case s: Iterable[_] => s.toSeq.flatMap(flat)
      case o: Option[_]   => o.toSeq.flatMap(flat)
      case (l, r)         => flat(l) ++ flat(r)
      case _              => Nil
    }
    val skip = excluded.getOrElse(x.productPrefix, Set.empty)
    x.productElementNames.zip(x.productIterator).toSeq
      .filterNot { case (name, _) => skip(name) }
      .flatMap { case (_, v) => flat(v) }
  }

  /** Every concrete case class (or case object) below a sealed trait. */
  private def concrete(t: ru.Type): Set[String] = {
    def walk(s: ru.ClassSymbol): Set[String] =
      if (s.isTrait) s.knownDirectSubclasses.flatMap(k => walk(k.asClass))
      else Set(s.name.toString)
    walk(t.typeSymbol.asClass)
  }

  private def covers(t: ru.Type, instances: Seq[Any]): Unit = {
    val missing = concrete(t) --
      instances.map(_.asInstanceOf[Product].productPrefix).toSet
    assert(missing.isEmpty, s"no instance for $missing — add one here")
  }

  test("every expression node type has an instance here") {
    covers(ru.typeOf[Operand], operands)
    covers(ru.typeOf[Expr], exprs)
    covers(ru.typeOf[BoundOperand], boundOperands)
    covers(ru.typeOf[BoundExpr], boundExprs)
    covers(ru.typeOf[BoundItem], items)
  }

  test("parse-side children are exactly the operand and predicate fields") {
    for (n <- operands ++ exprs) {
      assert(n.children == nodeFields(n.asInstanceOf[Product],
        _.isInstanceOf[Ast.Node]), n)
      assert(n.mapChildren(identity, identity) == n, n)
    }
  }

  test("bound children are exactly the operand and predicate fields") {
    for (n <- boundOperands ++ boundExprs)
      assert(n.children == nodeFields(n.asInstanceOf[Product],
        _.isInstanceOf[BoundNode]), n)
  }

  test("item operands are exactly the operand and column fields") {
    // a column field is evaluated as its column operand; an aggregate
    // item's call wraps the item's own fields
    for (it <- items) {
      val fields = nodeFields(it.asInstanceOf[Product], x => x.isInstanceOf[BoundNode] ||
        x.isInstanceOf[BoundCol]).map {
        case c: BoundCol => BoundOperand.BCol(c)
        case n           => n
      }
      val got = it.operands.flatMap {
        case a: BoundOperand.BAgg if it.isInstanceOf[BoundItem.BIAgg] => a.children
        case o                                                        => Seq(o)
      }
      assert(got == fields, it)
    }
  }

  test("a rewrite reaches every child, and stops where the rule is defined") {
    val tree = Operand.CaseWhen(Seq((Expr.Not(p("a")),
      Operand.TryCast(Operand.AggCall("sum", Some(c("a"))), SqlType.SqlInt))),
      Some(Operand.Lambda(Seq("x"), c("a"))))
    val renamed = tree.transform {
      case Operand.Col(ColRef(None, "a")) => c("z")
      case keep: Operand.AggCall          => keep
    }
    def names(n: Ast.Node): Seq[String] =
      n.collect { case Operand.Col(r) => Seq(r.name) }
    assert(names(renamed) == Seq("z", "z", "a", "z"))
  }
}
