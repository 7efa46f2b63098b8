package graft.sql

import Ast._

/** Name/type binding against the catalog, mirroring the reference's
  * `Analyzer` and its error surface (reference analyzer/mod.rs:8-19,40-46):
  * table resolution, `*` expansion, attribute binding with ambiguity and
  * unbound-binding checks, INSERT arity + checked type conversion.
  *
  * Looser than the reference where the reference is artificially narrow
  * (SURVEY.md §2.2): OR, <>, non-equi attribute comparisons and
  * literal-literal comparisons all analyze fine here — Catalyst executes
  * them directly.
  */
object Analyzer {

  final case class TableDesc(name: String, attributes: Seq[AttributeDesc],
      bucket: Option[(String, Int)] = None,
      /** CHECK constraints (source text) — bound and enforced on every
        * write (NULL check results PASS, SQL standard).
        */
      checks: Seq[String] = Nil) {
    def attr(n: String): Option[AttributeDesc] = attributes.find(_.name.equalsIgnoreCase(n))
    def sparkSchema: org.apache.spark.sql.types.StructType =
      org.apache.spark.sql.types.StructType(attributes.map(a =>
        org.apache.spark.sql.types.StructField(a.name, a.sqlType.spark, a.nullable)))
  }
  final case class AttributeDesc(name: String, sqlType: SqlType,
      nullable: Boolean = true, default: Option[Lit] = None,
      /** Generated column: the generator's source text — values
        * materialize at write from the row's non-generated columns.
        */
      generated: Option[String] = None)

  trait Catalog {
    def resolve(table: String): Option[TableDesc]
    /** Schema of a FROM-position file scan (`FROM 'x.parquet'`,
      * read_parquet/read_csv/read_json). The default rejects — only
      * catalogs backed by a live session (GraftDatabase) can read file
      * schemas; internal synthetic catalogs never see file scans.
      */
    def resolveFile(format: String, path: String): Either[String, TableDesc] =
      Left("file scans are not available in this context")
  }

  // Error surface mirroring AnalyzerError (reference analyzer/mod.rs:8-19).
  sealed trait AnalyzerError { def msg: String }
  final case class RelationNotFound(name: String) extends AnalyzerError {
    def msg = s"relation '$name' does not exist"
  }
  final case class DuplicateBinding(b: String) extends AnalyzerError {
    def msg = s"duplicate table binding '$b'"
  }
  final case class UnboundBinding(b: String) extends AnalyzerError {
    def msg = s"unbound table binding '$b'"
  }
  final case class UnboundAttribute(ref: String) extends AnalyzerError {
    def msg = s"attribute '$ref' not found"
  }
  final case class AmbiguousAttribute(name: String) extends AnalyzerError {
    def msg = s"attribute '$name' is ambiguous"
  }
  final case class NotComparable(a: SqlType, b: SqlType) extends AnalyzerError {
    def msg = s"${a.render} is not comparable to ${b.render}"
  }
  final case class MissingValues(attrs: Seq[String]) extends AnalyzerError {
    def msg = s"missing values for attributes ${attrs.mkString(", ")}"
  }
  final case class TooManyValues(expected: Int, actual: Int) extends AnalyzerError {
    def msg = s"too many values: expected $expected, got $actual"
  }
  final case class TypeNotConvertible(index: Int, detail: String) extends AnalyzerError {
    def msg = s"value at index $index: $detail"
  }
  final case class TableExists(name: String) extends AnalyzerError {
    def msg = s"relation '$name' already exists"
  }
  final case class NotInGroupBy(ref: String) extends AnalyzerError {
    def msg = s"column '$ref' must appear in GROUP BY or inside an aggregate"
  }
  final case class DistinctOrderBy(ref: String) extends AnalyzerError {
    def msg = s"ORDER BY $ref: with SELECT DISTINCT the sort key must be projected"
  }
  final case class BadAggregate(detail: String) extends AnalyzerError {
    def msg = s"bad aggregate: $detail"
  }
  final case class BadSubquery(detail: String) extends AnalyzerError {
    def msg = s"bad subquery: $detail"
  }
  final case class BadFunction(detail: String) extends AnalyzerError {
    def msg = s"bad function call: $detail"
  }

  // ---- bound IR ----
  final case class BoundTable(desc: TableDesc, binding: String)
  final case class BoundCol(binding: String, attr: AttributeDesc) {
    def render: String = s"$binding.${attr.name}"
  }
  /** A bound expression node: an operand or a predicate. Each node type
    * defines its `children` once (see [[TreeNode]]); typing and binding
    * keep their per-node logic.
    */
  sealed trait BoundNode extends TreeNode[BoundNode]
  object BoundNode {
    /** Does the tree contain an aggregate call? A subquery's aggregates
      * are its own.
      */
    def containsAgg(n: BoundNode): Boolean = n.exists {
      case _: BoundOperand.BAgg | _: BoundOperand.BOrderedAgg => true
      case _: BoundOperand.BSubVal                            => false
    }

    /** Aggregate call nodes of a tree (CASE conditions included) — the
      * hidden-column units of an expression-over-aggregates projection.
      */
    def aggNodes(n: BoundNode): Seq[BoundOperand] = n.collect {
      case a: BoundOperand.BAgg        => Seq(a)
      case a: BoundOperand.BOrderedAgg => Seq(a)
    }

    /** Does the tree contain a subquery (scalar operand or predicate)? */
    def hasSubquery(n: BoundNode): Boolean = n.exists { case _: Subquery => true }
  }

  /** A node carrying a subquery body and its decorrelated equality pairs
    * (outer col, inner col) — neither is a child.
    */
  sealed trait Subquery extends BoundNode {
    def sub: BoundSelect
    def pairs: Seq[(BoundCol, BoundCol)]
    /** The outer columns the subquery correlates on: its pairs' outer
      * sides, and the outer side of a residual or inequality conjunct.
      */
    def outerCols: Seq[BoundCol] = pairs.map(_._1)
  }

  sealed trait BoundOperand extends BoundNode
  object BoundOperand {
    /** An operand without child nodes. */
    sealed trait Leaf extends BoundOperand { def children: Seq[BoundNode] = Nil }
    final case class BCol(c: BoundCol) extends Leaf
    final case class BLit(l: Lit) extends Leaf
    /** Aggregate operand — HAVING / ORDER BY / computed-projection scope.
      * `distinct` = COUNT/SUM(DISTINCT …).
      */
    final case class BAgg(func: String, arg: Option[BoundOperand],
        distinct: Boolean = false) extends BoundOperand {
      def children = arg.toSeq
    }
    final case class BArith(op: Char, l: BoundOperand, r: BoundOperand) extends BoundOperand {
      def children = Seq(l, r)
    }
    /** Scalar function call over bound arguments (arity pre-checked). */
    final case class BFunc(name: String, args: Seq[BoundOperand]) extends BoundOperand {
      def children = args
    }
    /** Searched CASE over bound branches. */
    final case class BCase(branches: Seq[(BoundExpr, BoundOperand)],
        elseOp: Option[BoundOperand]) extends BoundOperand {
      def children = branches.flatMap { case (c, v) => Seq(c, v) } ++ elseOp
    }
    /** CAST(operand AS type) — lowers to Spark's cast. */
    final case class BCast(op: BoundOperand, tpe: SqlType) extends BoundOperand {
      def children = Seq(op)
    }
    /** TRY_CAST — NULL on conversion failure (Spark's try_cast). */
    final case class BTryCast(op: BoundOperand, tpe: SqlType) extends BoundOperand {
      def children = Seq(op)
    }
    /** Calendar interval literal (valid only beside + / - against a
      * date/timestamp operand — enforced at binding).
      */
    final case class BInterval(n: Long, unit: String) extends Leaf
    /** A reference to a computed OUTPUT column by its projected name —
      * QUALIFY scope only (window aliases resolve to the precomputed
      * window column, which the lowering attaches before the filter).
      */
    final case class BOut(name: String, tpe: SqlType) extends Leaf
    /** Ordered aggregate: string_agg(v, sep ORDER BY keys) — the keys'
      * shared direction rides on each pair (analyzer enforces equality).
      * The carrier of every call form but the plain one (see
      * [[Aggregates.Syntax]]); `distinct` = string_agg/array_agg(DISTINCT …).
      */
    final case class BOrderedAgg(func: String, arg: BoundOperand, sep: String,
        order: Seq[(BoundOperand, Boolean)], distinct: Boolean = false)
      extends BoundOperand {
      def children = arg +: order.map(_._1)
    }

    /** A scalar subquery, in every position: a SELECT item, a
      * comparison side, or nested in a larger operand. `guard` = the
      * one-row contract needs a runtime check (uncorrelated, neither a
      * group-less aggregate nor LIMIT ≤ 1). Correlated (`pairs` or
      * `ineq`): a group-less aggregate per key, lowered as ONE per-key
      * or running aggregate frame joined on the correlation — never
      * per-row re-execution. Rejected inside aggregate arguments and in
      * GROUP/ORDER BY. The inequality's operands (`ineq`) are not
      * children: they straddle the outer and the subquery scope.
      */
    final case class BSubVal(sub: BoundSelect, guard: Boolean,
        pairs: Seq[(BoundCol, BoundCol)] = Nil,
        ineq: Option[CorrIneq] = None) extends Leaf with Subquery {
      override def outerCols: Seq[BoundCol] =
        pairs.map(_._1) ++ ineq.toSeq.flatMap(iq => columnsOf(iq.outerOp))
    }

    /** A bound lambda (list higher-order function argument): params
      * resolve to BLambdaVar references in the body; everything else in
      * the body binds against the enclosing scope (captured columns
      * lower as ordinary references inside Spark's lambda).
      */
    final case class BLambda(params: Seq[String],
        body: BoundOperand) extends BoundOperand {
      def children = Seq(body)
    }
    /** A lambda parameter reference, typed as the list's element type. */
    final case class BLambdaVar(name: String, tpe: SqlType) extends Leaf
  }
  /** One correlated NON-equality conjunct of a scalar-aggregate subquery
    * (running-total bodies: … WHERE o2.k = o.k AND o2.t <= o.t),
    * normalized so the comparison reads `innerOp op outerOp`. Lowered as
    * a union-merge running window aggregate — never a per-outer-row
    * re-execution (the reference's own unnesting ambition,
    * execution/plan.rs:41-46).
    */
  final case class CorrIneq(op: CmpOp, outerOp: BoundOperand,
      innerOp: BoundOperand)

  sealed trait BoundExpr extends BoundNode
  object BoundExpr {
    final case class BAnd(l: BoundExpr, r: BoundExpr) extends BoundExpr {
      def children = Seq(l, r)
    }
    final case class BOr(l: BoundExpr, r: BoundExpr) extends BoundExpr {
      def children = Seq(l, r)
    }
    final case class BCmp(op: CmpOp, l: BoundOperand, r: BoundOperand) extends BoundExpr {
      def children = Seq(l, r)
    }
    final case class BNot(e: BoundExpr) extends BoundExpr {
      def children = Seq(e)
    }
    final case class BIsNull(o: BoundOperand, negated: Boolean) extends BoundExpr {
      def children = Seq(o)
    }
    final case class BLike(o: BoundOperand, pattern: String, negated: Boolean,
        ci: Boolean = false, escape: Option[Char] = None) extends BoundExpr {
      def children = Seq(o)
    }
    /** (p1, …, pk) [NOT] IN (SELECT v1, …, vk): membership of a
      * k-component probe (k = 1 for a plain operand). `pairs` are the
      * decorrelated equality conjuncts (outer col, inner col) pulled out
      * of the subquery's WHERE; empty = uncorrelated. SQL 3VL: the
      * predicate is TRUE when a set row equals the probe on every
      * component, FALSE when no set row is compatible (every component
      * equal or NULL on either side), NULL otherwise. Lowered in
      * `Lowering.MarkerScope`.
      */
    final case class BInSub(probes: Seq[BoundOperand], sub: BoundSelect,
        pairs: Seq[(BoundCol, BoundCol)], negated: Boolean)
      extends BoundExpr with Subquery {
      def children = probes
    }
    /** [NOT] EXISTS (SELECT …): left-semi/anti join on the decorrelated
      * equality pairs (uncorrelated = constant-condition semi join against
      * a one-row frame). `residual` = correlated NON-equality conjuncts
      * (l2.k <> l1.k, inner > outer + 5, …) that ride the semi/anti
      * join's condition alongside the pair equalities — the TPC-H Q21
      * shape. Only accepted where that join exists: as a top-level WHERE
      * conjunct (under OR/NOT/CASE the marker left-join's one-match-per-
      * outer-row invariant breaks under a non-equi condition).
      */
    final case class BExists(sub: BoundSelect,
        pairs: Seq[(BoundCol, BoundCol)], negated: Boolean,
        residual: Seq[BoundExpr] = Nil) extends BoundExpr with Subquery {
      def children = Nil
      override def outerCols: Seq[BoundCol] =
        pairs.map(_._1) ++ residualOuterCols(sub, residual)
    }
    /** Quantified comparison — <probe> <cmp> ANY/ALL (SELECT …) for the
      * combinations that don't desugar to [NOT] IN. Lowers as a facts
      * frame (count, non-null count, min, max — grouped by the
      * decorrelated pair keys when correlated) left-joined to the outer
      * frame, with a three-valued predicate over the facts: the
      * comparison against the relevant extremum decides TRUE/FALSE, a
      * NULL probe or NULL-bearing set degrades the undecided cases to
      * NULL, and the empty set reads FALSE for ANY / TRUE for ALL.
      */
    final case class BQuantSub(op: CmpOp, o: BoundOperand, sub: BoundSelect,
        all: Boolean, pairs: Seq[(BoundCol, BoundCol)] = Nil)
      extends BoundExpr with Subquery {
      def children = Seq(o)
    }
    /** The AND-tree flattened into its conjuncts (OR subtrees stay whole). */
    def conjuncts(e: BoundExpr): Seq[BoundExpr] = e match {
      case BAnd(l, r) => conjuncts(l) ++ conjuncts(r)
      case other      => Seq(other)
    }
  }

  /** A bound SELECT-list entry: plain column, computed expression,
    * aggregate call, window call or scalar subquery, with the user's AS
    * alias. Each kind defines once what it evaluates (`operands`), what
    * it is called (`name`) and, where it is one, its row value; every
    * position check and correlated-body lowering reads these.
    */
  sealed trait BoundItem {
    /** Every operand the item evaluates in the SELECT's own scope: a
      * column, an expression, an aggregate call, a window's arguments,
      * partition keys and order keys. A scalar subquery item has none —
      * its body, pairs and inequality belong to the subquery scope, as
      * [[TreeNode]] leaves them out of `children`.
      */
    def operands: Seq[BoundOperand]
    /** The AS name: mandatory for computed items; a plain column or an
      * aggregate call may go without (the lowering then names it).
      */
    def name: Option[String]
    /** The name a derived table or LATERAL body exposes the item under
      * (None only for an unaliased aggregate call).
      */
    def columnName: Option[String] = name
    /** The item as one row-level operand: a plain column or an
      * expression (None for aggregate, window and subquery items).
      */
    def rowValue: Option[BoundOperand] = None
    /** A row value free of subqueries: what a correlated IN / ANY / ALL
      * or LATERAL body and a RETURNING list may project — those lower
      * item by item over plain rows.
      */
    def rowLevel: Boolean = rowValue.exists(v => !BoundNode.hasSubquery(v))
  }
  object BoundItem {
    final case class BICol(c: BoundCol, alias: Option[String] = None) extends BoundItem {
      def operands = Seq(BoundOperand.BCol(c))
      def name = alias
      override def columnName = Some(alias.getOrElse(c.attr.name))
      override def rowValue = Some(BoundOperand.BCol(c))
    }
    final case class BIAgg(func: String, arg: Option[BoundOperand],
        alias: Option[String] = None, distinct: Boolean = false) extends BoundItem {
      def call: BoundOperand = BoundOperand.BAgg(func, arg, distinct)
      def operands = Seq(call)
      def name = alias
    }
    /** Computed projection (arithmetic), named by its mandatory alias. */
    final case class BIExpr(op: BoundOperand, alias: String) extends BoundItem {
      def operands = Seq(op)
      def name = Some(alias)
      override def rowValue = Some(op)
    }
    /** Window item: ranking function, lag/lead, or windowed aggregate
      * over a partition/order spec, named by its mandatory alias.
      * Row-level — does NOT make the query aggregate-scoped.
      */
    final case class BIWin(func: String, args: Seq[BoundOperand],
        partitionBy: Seq[BoundOperand], orderBy: Seq[(BoundOperand, SortDir)],
        alias: String, frame: Option[WinFrame] = None) extends BoundItem {
      def operands = args ++ partitionBy ++ orderBy.map(_._1)
      def name = Some(alias)
    }
  }

  /** The columns a tree references in its own scope: column operands
    * plus each subquery's outer-facing correlation columns
    * ([[Subquery.outerCols]]). Aggregate arguments are not traversed —
    * they are exempt from group-scope checks.
    */
  def columnsOf(n: BoundNode): Seq[BoundCol] = n.collect {
    case BoundOperand.BCol(c) => Seq(c)
    case _: BoundOperand.BAgg | _: BoundOperand.BOrderedAgg => Nil
    case q: Subquery => q.children.flatMap(columnsOf) ++ q.outerCols
  }

  /** Whether `cols` holds `c` (names compare case-insensitively within
    * a binding).
    */
  private def containsCol(cols: Seq[BoundCol], c: BoundCol): Boolean =
    cols.exists(g => g.binding == c.binding && g.attr.name.equalsIgnoreCase(c.attr.name))

  /** Every column operand of a tree, aggregate arguments included (scope
    * leak detection in decorrelation).
    */
  private def columnsDeep(n: BoundNode): Seq[BoundCol] =
    n.collect { case BoundOperand.BCol(c) => Seq(c) }

  /** strftime C tokens → Java datetime patterns (shared with the
    * lowering); any other % token — or a bare letter, which Java would
    * read as a pattern letter — rejects at analysis.
    */
  val StrftimeMap: Map[String, String] = Map(
    "%Y" -> "yyyy", "%y" -> "yy", "%m" -> "MM", "%d" -> "dd",
    "%H" -> "HH", "%M" -> "mm", "%S" -> "ss", "%j" -> "DDD",
    // 12-hour clock + meridiem (Java's `a` prints AM/PM like %p)
    "%I" -> "hh", "%p" -> "a",
    // microseconds, 6 digits zero-padded on both engines (DuckDB %f ==
    // Spark's SSSSSS fraction — probed identical incl. .000000)
    "%f" -> "SSSSSS",
    // weekday/month names (both engines emit English at the default
    // locale — probed: Tue/Tuesday/Mar/March)
    "%a" -> "EEE", "%A" -> "EEEE", "%b" -> "MMM", "%B" -> "MMMM",
    // literal percent
    "%%" -> "'%'")
  val StrftimeTokens = "%.".r

  /** The ASOF inequality, fully decomposed: outer-side operand,
    * step-side operand, match direction (largest step value meeting the
    * bound vs smallest) and strictness (whether equal values match).
    */
  final case class AsofIneq(outerOp: BoundOperand, stepOp: BoundOperand,
      pickLargest: Boolean, strict: Boolean)

  /** An ASOF ON, decomposed: equality pairs (outer operand, step
    * operand), the single inequality, step-only residual conjuncts
    * (prefilter the step side), and whether any conjunct reads the outer
    * side outside an equality/the inequality (those need the
    * candidate-join fallback).
    */
  final case class AsofParts(eqPairs: Seq[(BoundOperand, BoundOperand)],
      ineq: AsofIneq, stepOnly: Seq[BoundExpr], fallback: Boolean)

  /** ASOF JOIN ON decomposition. The ON must contain exactly one
    * inequality conjunct whose sides split cleanly into a step-side
    * operand (columns of the joined table only) and an outer-side operand
    * (no step columns); remaining conjuncts join as-is (DuckDB requires
    * them to be equalities — we accept any step-local predicate, a
    * superset).
    */
  def asofDecompose(on: BoundExpr, stepB: String): Either[String, AsofParts] = {
    // Some(true) = operand reads the step table only; Some(false) = the
    // outer side only; None = mixed or constant (unusable as a side)
    def side(o: BoundOperand): Option[Boolean] = {
      val bs = columnsOf(o).map(_.binding).toSet
      if (bs.isEmpty) None
      else if (bs == Set(stepB)) Some(true)
      else if (!bs(stepB)) Some(false)
      else None
    }
    val eqs = Vector.newBuilder[(BoundOperand, BoundOperand)]
    val ineqs = Vector.newBuilder[AsofIneq]
    val stepOnly = Vector.newBuilder[BoundExpr]
    var fallback = false
    def residual(c: BoundExpr): Unit = {
      // step-only (or constant) conjuncts prefilter the step side;
      // anything reading the outer side needs the candidate-join fallback
      val bs = columnsOf(c).map(_.binding).toSet
      if (bs.subsetOf(Set(stepB))) stepOnly += c else fallback = true
    }
    for (c <- BoundExpr.conjuncts(on)) c match {
      case BoundExpr.BCmp(CmpOp.Eq, l, r) =>
        (side(l), side(r)) match {
          case (Some(false), Some(true)) => eqs += ((l, r))
          case (Some(true), Some(false)) => eqs += ((r, l))
          case _                         => residual(c)
        }
      case BoundExpr.BCmp(op, l, r) if op == CmpOp.Ge || op == CmpOp.Gt ||
          op == CmpOp.Le || op == CmpOp.Lt =>
        (side(l), side(r)) match {
          case (Some(false), Some(true)) =>
            ineqs += AsofIneq(l, r, pickLargest = op == CmpOp.Ge || op == CmpOp.Gt,
              strict = op == CmpOp.Gt || op == CmpOp.Lt)
          case (Some(true), Some(false)) =>
            ineqs += AsofIneq(r, l, pickLargest = op == CmpOp.Le || op == CmpOp.Lt,
              strict = op == CmpOp.Gt || op == CmpOp.Lt)
          case _ => residual(c)
        }
      case other => residual(other)
    }
    ineqs.result() match {
      case Seq(one) => Right(AsofParts(eqs.result(), one, stepOnly.result(), fallback))
      case Seq() => Left("ASOF JOIN requires one inequality (<, <=, >, >=) " +
        "between an outer operand and a joined-table operand in its ON")
      case _ => Left("ASOF JOIN takes exactly one inequality in its ON")
    }
  }

  /** The outer-scope columns of an EXISTS's residual conjuncts: every
    * column not bound by the subquery's own FROM (incl. join steps).
    */
  def residualOuterCols(sub: BoundSelect, res: Seq[BoundExpr]): Seq[BoundCol] = {
    if (res.isEmpty) Nil
    else {
      val inner = (sub.tables ++ sub.joinSteps.map(_.table)).map(_.binding).toSet
      res.flatMap(columnsOf).filterNot(c => inner(c.binding))
    }
  }

  /** Any residual-carrying EXISTS in the tree (operand CASE conditions
    * included; subquery BODIES excluded — they validate themselves).
    * Residual correlation is only lowerable as a semi/anti-join
    * condition, i.e. for a top-level WHERE conjunct; this lets the
    * analyzer reject it everywhere else (under OR/NOT, in CASE, in
    * projection, HAVING and QUALIFY scope) with one message instead of
    * risking marker-join row duplication.
    */
  private def hasResidualExists(n: BoundNode): Boolean =
    n.exists { case BoundExpr.BExists(_, _, _, res) => res.nonEmpty }

  private val residualPositionError = BadSubquery(
    "EXISTS with a correlated non-equality conjunct is only supported " +
      "as a top-level WHERE conjunct")

  /** WHERE form: direct [NOT] EXISTS conjuncts may carry residual;
    * anything nested deeper may not.
    */
  private def validateResidualWhere(e: BoundExpr)
      : Either[AnalyzerError, Unit] = {
    if (BoundExpr.conjuncts(e).exists(c =>
        !c.isInstanceOf[BoundExpr.BExists] && hasResidualExists(c)))
      Left(residualPositionError)
    else Right(())
  }

  /** The body contract of a correlated scalar subquery: a group-less
    * aggregate projecting one aggregate call, or an expression OVER
    * aggregate calls (0.2 * avg(x), the TPC-H Q17 shape) whose every
    * column ref sits inside an aggregate argument and whose every
    * aggregate is a plain call.
    */
  private def correlatedScalarBody(bsub: BoundSelect): Either[AnalyzerError, Unit] =
    if (!bsub.isAggregate || bsub.groupBy.nonEmpty)
      Left(BadSubquery("a correlated scalar subquery must be a group-less aggregate"))
    else bsub.projection.head match {
      case _: BoundItem.BIAgg => Right(())
      case BoundItem.BIExpr(op, _)
          if BoundNode.containsAgg(op) && columnsOf(op).isEmpty &&
            !BoundNode.hasSubquery(op) &&
            BoundNode.aggNodes(op).forall(_.isInstanceOf[BoundOperand.BAgg]) =>
        Right(())
      case _ => Left(BadSubquery(
        "a correlated scalar subquery must project a single aggregate call"))
    }

  /** A scalar subquery's one correlated NON-equality conjunct (inner_expr
    * REL outer_expr), normalized into the running-aggregate lowering's
    * CorrIneq; anything beyond one such conjunct, or an aggregate that
    * does not decompose over a prefix frame, rejects.
    */
  private def corrIneq(bsub: BoundSelect, residual: Seq[BoundExpr])
      : Either[AnalyzerError, Option[CorrIneq]] = residual match {
    case Seq() => Right(None)
    case Seq(BoundExpr.BCmp(op, l, r)) =>
      val innerB = (bsub.tables ++ bsub.joinSteps.map(_.table)).map(_.binding).toSet
      // Some(true) = all column refs inner; Some(false) = all outer
      def sideOf(o: BoundOperand): Option[Boolean] = {
        val cs = columnsDeep(o)
        if (cs.isEmpty) None
        else if (cs.forall(c => innerB(c.binding))) Some(true)
        else if (cs.forall(c => !innerB(c.binding))) Some(false)
        else None
      }
      def flip(o: CmpOp): CmpOp = o match {
        case CmpOp.Lt => CmpOp.Gt
        case CmpOp.Gt => CmpOp.Lt
        case CmpOp.Le => CmpOp.Ge
        case CmpOp.Ge => CmpOp.Le
        case other    => other
      }
      // the running-window lowering decomposes the aggregate over a
      // prefix frame — only the natively windowable, non-distinct
      // aggregates qualify
      val undecomposable = bsub.projection.head.operands.flatMap(BoundNode.aggNodes)
        .collectFirst { case BoundOperand.BAgg(f, _, dist)
          if dist || !Aggregates(f).decomposable => f }
      if (!Set[CmpOp](CmpOp.Lt, CmpOp.Le, CmpOp.Gt, CmpOp.Ge)(op)) Left(BadSubquery(
        "a correlated scalar subquery supports one non-equality " +
          "correlation conjunct only as <, <=, > or >="))
      else if (undecomposable.isDefined) Left(BadSubquery(
        "an inequality-correlated scalar subquery supports " +
          s"running sum/count/avg/min/max (got ${undecomposable.get})"))
      else (sideOf(l), sideOf(r)) match {
        case (Some(true), Some(false)) => Right(Some(CorrIneq(op, r, l)))
        case (Some(false), Some(true)) => Right(Some(CorrIneq(flip(op), l, r)))
        case _ => Left(BadSubquery(
          "the non-equality correlation of a scalar subquery must compare " +
            "an inner-only expression with an outer-only expression"))
      }
    case _ => Left(BadSubquery(
      "a correlated scalar subquery supports at most ONE " +
        "non-equality correlation conjunct"))
  }

  /** The columns a subquery reads outside its WHERE — projection,
    * grouping, ordering, HAVING and join-step ON — which decorrelation
    * requires to be its own. A scalar subquery in a projection item
    * contributes its correlation keys: one pointing past this subquery's
    * scope rejects (depth-2 correlation through a projection item is not
    * decorrelated).
    */
  private def nonPredicateCols(sub: BoundSelect): Seq[BoundCol] = {
    def scalarKeys(n: BoundNode): Seq[BoundCol] =
      n.collect { case v: BoundOperand.BSubVal => v.outerCols }
    sub.projection.flatMap(_.operands.flatMap(o => columnsDeep(o) ++ scalarKeys(o))) ++
    sub.groupBy.flatMap {
      case BoundGroupKey.GKCol(c)      => Seq(c)
      case BoundGroupKey.GKExpr(op, _) => columnsDeep(op)
    } ++ sub.orderBy.flatMap {
      case (BoundOrderKey.OKOperand(op), _) => columnsDeep(op)
      case (BoundOrderKey.OKOutput(_), _)   => Nil
    } ++ sub.having.toSeq.flatMap(columnsOf) ++
      sub.joinSteps.flatMap(js => columnsOf(js.on))
  }

  /** Split a correlated subquery into an uncorrelated core + the
    * equality join pairs (outer col, inner col) pulled from its WHERE —
    * the standard decorrelation for the semi/anti-join lowering. Only
    * top-level equality conjuncts may cross scopes; any other outer
    * reference (projection, grouping, ordering, non-equality predicate,
    * OR branch) is rejected. A correlated subquery must not aggregate or
    * LIMIT: both change meaning under global (per-join, not per-outer-row)
    * evaluation.
    *
    * Correlation depth > 1 — a NESTED positive EXISTS / IN whose pairs
    * reach past this subquery into an enclosing scope — is handled by
    * existential flattening: ∃o.(P(o) ∧ ∃l.Q(o, l)) ≡ ∃(o, l).(P ∧ Q)
    * (the step toward full unnesting the reference's plan.rs:44-46 cites
    * the Neumann unnesting paper for). The nested subquery's tables merge
    * into this one, its local pairs become plain equality conjuncts, and
    * its deep pairs hoist to this subquery's pair list — level by level,
    * so any depth flattens. Flattening preserves per-outer-row emptiness
    * (the only thing a semi/anti join consumes) but not multiplicity, so
    * it is rejected under an aggregating subquery, and a NEGATED nested
    * subquery never flattens (∃o.(P ∧ ¬∃l.Q) has no join-only form).
    */
  private def decorrelate(sub: BoundSelect, allowAggregate: Boolean = false,
      exprKeys: Map[BoundOperand, BoundCol] = Map.empty,
      allowResidual: Boolean = false)
      : Either[AnalyzerError,
        (BoundSelect, Seq[(BoundCol, BoundCol)], Seq[BoundExpr])] = {
    val inner = scala.collection.mutable.Set.empty[String]
    inner ++= sub.tables.map(_.binding)
    inner ++= sub.joinSteps.map(_.table.binding)
    def isOuter(c: BoundCol) = !inner(c.binding)
    nonPredicateCols(sub).find(isOuter) match {
      case Some(c) => Left(BadSubquery(
        s"correlated reference ${c.render} is only supported as an equality in the subquery's WHERE"))
      case None =>
        val pairs = Vector.newBuilder[(BoundCol, BoundCol)]
        val residual = Vector.newBuilder[BoundExpr]
        val kept = Vector.newBuilder[BoundExpr]
        val extraTables = Vector.newBuilder[BoundTable]
        val extraSteps = Vector.newBuilder[BoundJoinStep]
        val extraDerived = Map.newBuilder[String, BoundQuery]
        val queue = scala.collection.mutable.Queue.empty[BoundExpr]
        queue ++= sub.predicate.map(BoundExpr.conjuncts).getOrElse(Nil)
        // merge a nested subquery's body into this one (existential
        // flattening); its conjuncts re-enter the queue so deeper nesting
        // flattens level by level
        def flatten(isub: BoundSelect, ipairs: Seq[(BoundCol, BoundCol)],
            inEqs: Seq[BoundExpr]): Option[AnalyzerError] = {
          if (sub.isAggregate)
            return Some(BadSubquery(
              "correlation into a deeper scope is not supported under an aggregating subquery"))
          if (isub.isAggregate || isub.limit.isDefined || isub.offset.isDefined ||
              isub.distinct || isub.orderBy.nonEmpty)
            return Some(BadSubquery(
              "a nested subquery correlated to a deeper scope must be a plain SELECT"))
          val newBindings = (isub.tables ++ isub.joinSteps.map(_.table)).map(_.binding)
          newBindings.find(inner) match {
            case Some(b) => return Some(DuplicateBinding(b))
            case None    => inner ++= newBindings
          }
          extraTables ++= isub.tables
          extraSteps ++= isub.joinSteps
          extraDerived ++= isub.derived
          queue ++= isub.predicate.map(BoundExpr.conjuncts).getOrElse(Nil)
          kept ++= inEqs
          for ((oc, ic) <- ipairs) {
            if (isOuter(oc)) pairs += ((oc, ic))
            else kept += BoundExpr.BCmp(CmpOp.Eq, BoundOperand.BCol(oc), BoundOperand.BCol(ic))
          }
          None
        }
        while (queue.nonEmpty) {
          queue.dequeue() match {
            case BoundExpr.BCmp(CmpOp.Eq, BoundOperand.BCol(a), BoundOperand.BCol(b))
                if isOuter(a) != isOuter(b) =>
              if (isOuter(a)) pairs += ((a, b)) else pairs += ((b, a))
            // inner col = <enclosing GROUP BY expression> (HAVING scope):
            // the pair's outer side is the synthetic post-aggregation
            // column the grouped key lowers to
            case BoundExpr.BCmp(CmpOp.Eq, BoundOperand.BCol(ic), op)
                if !isOuter(ic) && exprKeys.contains(op) &&
                  columnsOf(op).forall(isOuter) =>
              pairs += ((exprKeys(op), ic))
            case BoundExpr.BCmp(CmpOp.Eq, op, BoundOperand.BCol(ic))
                if !isOuter(ic) && exprKeys.contains(op) &&
                  columnsOf(op).forall(isOuter) =>
              pairs += ((exprKeys(op), ic))
            case BoundExpr.BExists(isub, ipairs, false, ires)
                if ipairs.exists(p => isOuter(p._1)) =>
              flatten(isub, ipairs, Nil).foreach(e => return Left(e))
              // the nested sub's residual conjuncts re-classify in the
              // merged scope (its bindings are inner now): refs local to
              // the flattened body become plain predicates, deeper refs
              // become this sub's pairs/residual
              queue ++= ires
            case BoundExpr.BInSub(os, isub, ipairs, false)
                if ipairs.exists(p => isOuter(p._1)) &&
                  os.flatMap(columnsOf).forall(c => !isOuter(c)) =>
              // (x1, …, xk) IN (SELECT v1, …, vk …) under existence ≡
              // ∃ row with x1 = v1 AND … AND xk = vk
              val inVals = isub.projection.map(_.rowValue.getOrElse(
                return Left(BadSubquery(
                  "a nested IN subquery correlated to a deeper scope must not aggregate or window"))))
              flatten(isub, ipairs, os.zip(inVals).map { case (o, v) =>
                BoundExpr.BCmp(CmpOp.Eq, o, v) }).foreach(e => return Left(e))
            case other =>
              columnsOf(other).find(isOuter) match {
                case Some(cc) =>
                  // a correlated NON-equality conjunct (l2.k <> l1.k,
                  // inner > outer, …): where the consumer is a semi/anti
                  // join it simply rides the join condition as a residual
                  if (allowResidual && !BoundNode.hasSubquery(other))
                    residual += other
                  else return Left(BadSubquery(
                    s"correlated reference ${cc.render} is only supported as a " +
                      "top-level equality conjunct (col = outer_col)"))
                case None => kept += other
              }
          }
        }
        val ps = pairs.result()
        val res = residual.result()
        val flattened = sub.copy(
          tables = sub.tables ++ extraTables.result(),
          joinSteps = sub.joinSteps ++ extraSteps.result(),
          predicate = kept.result().reduceOption(BoundExpr.BAnd(_, _)),
          derived = sub.derived ++ extraDerived.result())
        if (ps.isEmpty && res.isEmpty) Right((sub, Nil, Nil))
        else if (sub.isAggregate && !allowAggregate)
          Left(BadSubquery("a correlated subquery must not aggregate"))
        else if (sub.limit.isDefined || sub.offset.isDefined)
          Left(BadSubquery("a correlated subquery must not use LIMIT/OFFSET"))
        else
          Right((flattened, ps, res))
    }
  }

  /** A join step (left/right/full outer, or inner-after-outer): applied
    * in declaration order after the inner-join group, with its ON
    * condition attached (never WHERE-desugared).
    */
  final case class BoundJoinStep(kind: String, table: BoundTable, on: BoundExpr)

  /** A bound GROUP BY key: a plain column, or a computed projection's
    * output alias (SELECT substr(c, 1, 2) AS p … GROUP BY p) carrying
    * the aliased expression.
    */
  sealed trait BoundGroupKey
  object BoundGroupKey {
    final case class GKCol(c: BoundCol) extends BoundGroupKey
    final case class GKExpr(op: BoundOperand, alias: String) extends BoundGroupKey
  }

  /** A bound ORDER BY key: a full operand (column / aggregate call /
    * arithmetic), or a reference to a projection output alias (SQL
    * resolves unqualified ORDER BY names against output aliases first).
    */
  sealed trait BoundOrderKey
  object BoundOrderKey {
    final case class OKOperand(op: BoundOperand) extends BoundOrderKey
    final case class OKOutput(name: String) extends BoundOrderKey
  }

  sealed trait BoundQuery
  final case class BoundSelect(
      tables: Seq[BoundTable],
      projection: Seq[BoundItem],
      predicate: Option[BoundExpr],
      orderBy: Seq[(BoundOrderKey, SortDir)] = Nil,
      limit: Option[Long] = None,
      offset: Option[Long] = None,
      groupBy: Seq[BoundGroupKey] = Nil,
      having: Option[BoundExpr] = None,
      distinct: Boolean = false,
      joinSteps: Seq[BoundJoinStep] = Nil,
      /** Derived tables by binding: the FROM-list subqueries backing the
        * synthetic TableDescs in `tables` — lowered in place of a scan.
        * A value is a BoundSelect or a BoundUnion (set-op derived table).
        */
      derived: Map[String, BoundQuery] = Map.empty,
      /** ROLLUP / CUBE / GROUPING SETS over the groupBy key list (sets
        * reference keys by index).
        */
      groupSpec: Option[GroupingSpec] = None,
      /** QUALIFY predicate over window results (BOut references resolve
        * to precomputed window columns; evaluated after windows, before
        * DISTINCT/ORDER BY/LIMIT), plus the hidden window items desugared
        * from inline OVER calls in the predicate.
        */
      qualify: Option[BoundExpr] = None,
      qualifyWins: Seq[BoundItem.BIWin] = Nil,
      /** DISTINCT ON keys (first row per key tuple under the ORDER BY,
        * whose leading keys the analyzer verified match these).
        */
      distinctOn: Seq[BoundOperand] = Nil) extends BoundQuery {
    def isAggregate: Boolean = BoundSelect.aggregating(groupBy, projection)
  }
  object BoundSelect {
    /** Whether a SELECT with these GROUP BY keys and items aggregates: a
      * key, an aggregate item or an expression over aggregate calls does
      * (window items stay row-level, whatever they order by).
      */
    def aggregating(groupBy: Seq[BoundGroupKey], projection: Seq[BoundItem]): Boolean =
      groupBy.nonEmpty || projection.exists {
        case _: BoundItem.BIAgg      => true
        case BoundItem.BIExpr(op, _) => BoundNode.containsAgg(op)
        case _                       => false
      }
  }
  /** Set-op chain (union/union_all/intersect/except per step; INTERSECT
    * binds tighter, UNION/EXCEPT associate left). ORDER BY keys are
    * output names of the first branch.
    */
  final case class BoundUnion(
      first: BoundSelect,
      rest: Seq[(String /* connector */, BoundSelect)],
      orderBy: Seq[(String, SortDir)],
      limit: Option[Long],
      offset: Option[Long]) extends BoundQuery

  /** EXPLAIN [ANALYZE]: the bound readable query whose plan to print;
    * `analyze` executes it first (AQE final plan).
    */
  final case class BoundExplain(query: BoundQuery,
      analyze: Boolean = false) extends BoundQuery

  /** DROP TABLE: desc = None when IF EXISTS matched nothing (a no-op). */
  final case class BoundDrop(table: String, desc: Option[TableDesc]) extends BoundQuery

  /** A range/generate_series table function (half-open, literal
    * bounds): lowers to spark.range — a parallelized lazy range, never
    * materialized rows.
    */
  final case class BoundRange(start: Long, stopExcl: Long, step: Long,
      colName: String,
      /** Bounds/step in epoch MICROS; the range lowers to a timestamp
        * column (still a lazy parallelized spark.range underneath).
        */
      temporal: Boolean = false) extends BoundQuery

  /** A FROM-position file scan, schema pinned at analysis. Lowers to a
    * real datasource scan (partition-parallel; parquet keeps native
    * footer types + pushdown, csv/json re-read UNDER the pinned schema
    * so inference runs once per query).
    */
  final case class BoundFileScan(format: String, path: String,
      desc: TableDesc) extends BoundQuery

  /** A correlated LATERAL: a set-operation chain of branches (a plain
    * SELECT is a one-branch chain), each its decorrelated core plus its
    * inner key columns aligned to `keyOuter`'s order. A branch's kind
    * reads from its core: uncorrelated (no inner keys), aggregate
    * (group-less, one row per outer key including empty groups) or rows
    * (top-N per key under ORDER BY + LIMIT). The frame carries the keys
    * as the hidden `hiddenKeys` columns; the lowering joins it fused into
    * the enclosing frame (Lowering.joinLateral).
    */
  final case class BoundLateral(
      branches: Seq[(String /* connector, "" for the first */, BoundSelect,
        Seq[BoundCol] /* inner keys, keyOuter order; empty = uncorrelated */)],
      keyOuter: Seq[BoundCol],
      hiddenKeys: Seq[String]) extends BoundQuery

  /** Decorrelation for one LATERAL branch: like `decorrelate`, but ORDER
    * BY + LIMIT are allowed (per-key top-N) and a group-less aggregate
    * computes per key, while DISTINCT/OFFSET/windows/scalar-subquery
    * items are rejected in the correlated form.
    */
  private def decorrelateLateral(sub: BoundSelect)
      : Either[AnalyzerError, (BoundSelect, Seq[(BoundCol, BoundCol)])] = {
    val inner = scala.collection.mutable.Set.empty[String]
    inner ++= sub.tables.map(_.binding)
    inner ++= sub.joinSteps.map(_.table.binding)
    def isOuter(c: BoundCol) = !inner(c.binding)
    nonPredicateCols(sub).find(isOuter) match {
      case Some(c) => Left(BadSubquery(
        s"a LATERAL reference (${c.render}) is only supported as an equality in the body's WHERE"))
      case None =>
        val pairs = Vector.newBuilder[(BoundCol, BoundCol)]
        val kept = Vector.newBuilder[BoundExpr]
        for (c <- sub.predicate.map(BoundExpr.conjuncts).getOrElse(Nil)) c match {
          case BoundExpr.BCmp(CmpOp.Eq, BoundOperand.BCol(a), BoundOperand.BCol(b))
              if isOuter(a) != isOuter(b) =>
            if (isOuter(a)) pairs += ((a, b)) else pairs += ((b, a))
          case other =>
            columnsOf(other).find(isOuter) match {
              case Some(cc) => return Left(BadSubquery(
                s"a LATERAL reference (${cc.render}) is only supported as a " +
                  "top-level equality conjunct"))
              case None => kept += other
            }
        }
        val ps = pairs.result()
        lazy val core = sub.copy(predicate = kept.result().reduceOption(BoundExpr.BAnd(_, _)))
        if (ps.isEmpty) Right((sub, Nil))
        else if (sub.isAggregate) {
          // correlated aggregate LATERAL: a group-less aggregate evaluated
          // per correlation key — one output row per outer row, INCLUDING
          // empty groups (SQL: count 0, other aggregates NULL)
          if (sub.groupBy.nonEmpty || sub.groupSpec.isDefined)
            Left(BadSubquery(
              "a correlated LATERAL aggregate must be group-less " +
                "(its grouping IS the correlation key)"))
          else if (sub.having.isDefined || sub.distinct || sub.offset.isDefined ||
              sub.limit.isDefined || sub.orderBy.nonEmpty)
            Left(BadSubquery(
              "a correlated LATERAL aggregate takes no HAVING/DISTINCT/ORDER BY/LIMIT/OFFSET"))
          else if (!sub.projection.forall {
            case BoundItem.BIAgg(f, _, Some(_), _) => f != "grouping"
            case _ => false
          })
            Left(BadSubquery(
              "a correlated LATERAL aggregate projects aliased aggregate calls only"))
          else Right((core, ps))
        }
        else if (sub.distinct || sub.offset.isDefined)
          Left(BadSubquery("a correlated LATERAL must not use DISTINCT or OFFSET"))
        else if (sub.limit.isDefined && sub.orderBy.isEmpty)
          Left(BadSubquery("a correlated LATERAL with LIMIT requires ORDER BY (top-N per key)"))
        else if (sub.orderBy.exists(!_._1.isInstanceOf[BoundOrderKey.OKOperand]))
          Left(BadSubquery("a correlated LATERAL's ORDER BY must use plain operands"))
        else if (!sub.projection.forall(_.rowLevel))
          Left(BadSubquery(
            "a correlated LATERAL projects plain columns and expressions only"))
        else Right((core, ps))
    }
  }

  /** WITH RECURSIVE body: base UNION [ALL] step, where the step reads
    * `desc.name` as the previous iteration's frontier. The schema is the
    * base branch's (names and all); lowered as a fixpoint loop.
    */
  final case class BoundRecursive(desc: TableDesc, base: BoundSelect,
      step: BoundSelect, unionAll: Boolean) extends BoundQuery

  final case class BoundInsert(desc: TableDesc, rows: Seq[Seq[Any]]) extends BoundQuery
  /** INSERT INTO t SELECT …: columns align by position, cast to the
    * target schema at execution.
    */
  final case class BoundInsertSelect(desc: TableDesc, query: BoundQuery,
      /** lower-cased explicit column list (None = positional over the
        * full schema); unlisted columns NULL-fill at write
        */
      columns: Option[Seq[String]] = None) extends BoundQuery
  final case class BoundCreate(desc: TableDesc) extends BoundQuery
  /** CREATE TABLE t [CLUSTERED BY …] AS SELECT …: the table's schema is
    * the query's output schema (derived at execution, where the lowered
    * frame is known).
    */
  final case class BoundCreateAs(table: String, query: BoundQuery,
      bucket: Option[(String, Int)]) extends BoundQuery

  /** Approximate output type of a bound operand / projection item — used
    * to derive a TableDesc for FROM-list subqueries. The runtime schema
    * always comes from the actually-lowered frame; these types only feed
    * the analyzer's comparability checks, which are permissive across
    * numerics, so int/bigint approximation is harmless.
    */
  /** DuckDB's spelling of a type (typeof parity): INTEGER not INT,
    * VARCHAR without a length, BLOB, FLOAT for REAL.
    */
  /** Static evaluator for COLUMNS(c -> pred) name lambdas: the predicate
    * runs over each candidate column NAME at expansion time (DuckDB's
    * semantics — the lambda sees names, not values). Supported surface:
    * the parameter, string literals, lower/upper/trim, LIKE/ILIKE,
    * comparisons, AND/OR/NOT.
    */
  private def evalNamePred(e: Expr, prm: String,
      name: String): Either[AnalyzerError, Boolean] = {
    def evalOp(o: Operand): Either[AnalyzerError, String] = o match {
      case Operand.Col(ColRef(None, n)) if n.equalsIgnoreCase(prm) =>
        Right(name)
      case Operand.Literal(Lit.LitString(v)) => Right(v)
      case Operand.FuncCall(fn, Seq(x))
          if Set("lower", "upper", "trim")(fn.toLowerCase) =>
        evalOp(x).map { v =>
          fn.toLowerCase match {
            case "lower" => v.toLowerCase
            case "upper" => v.toUpperCase
            case _       => v.trim
          }
        }
      case _ => Left(BadFunction(
        "a COLUMNS name lambda supports the parameter, string literals, " +
          "lower/upper/trim, LIKE and comparisons only"))
    }
    def likeRx(pat: String, esc: Option[Char]): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < pat.length) {
        val c = pat(i)
        if (esc.contains(c) && i + 1 < pat.length) {
          sb ++= java.util.regex.Pattern.quote(pat(i + 1).toString); i += 2
        } else {
          c match {
            case '%' => sb ++= ".*"
            case '_' => sb += '.'
            case x   => sb ++= java.util.regex.Pattern.quote(x.toString)
          }
          i += 1
        }
      }
      sb.toString
    }
    e match {
      case Expr.And(l, r) =>
        for { a <- evalNamePred(l, prm, name)
              b <- evalNamePred(r, prm, name) } yield a && b
      case Expr.Or(l, r) =>
        for { a <- evalNamePred(l, prm, name)
              b <- evalNamePred(r, prm, name) } yield a || b
      case Expr.Not(x) => evalNamePred(x, prm, name).map(!_)
      case Expr.Like(o, pat, neg, ci, esc) =>
        evalOp(o).map { v =>
          val rx = (if (ci) "(?i)" else "") + likeRx(pat, esc)
          val m = rx.r.pattern.matcher(v).matches()
          if (neg) !m else m
        }
      case Expr.Cmp(op, l, r) =>
        for { a <- evalOp(l); b <- evalOp(r) } yield {
          val c = a.compareTo(b)
          op match {
            case CmpOp.Eq | CmpOp.NotDist => c == 0
            case CmpOp.Neq | CmpOp.IsDist => c != 0
            case CmpOp.Lt => c < 0
            case CmpOp.Gt => c > 0
            case CmpOp.Le => c <= 0
            case CmpOp.Ge => c >= 0
          }
        }
      case _ => Left(BadFunction(
        "a COLUMNS name lambda supports LIKE, comparisons and AND/OR/NOT only"))
    }
  }

  private[sql] def duckTypeName(t: SqlType): String = t match {
    case SqlType.SqlBigInt        => "BIGINT"
    case SqlType.SqlInt           => "INTEGER"
    case SqlType.SqlSmallInt      => "SMALLINT"
    case SqlType.SqlVarChar(_)    => "VARCHAR"
    case SqlType.SqlVarBinary(_)  => "BLOB"
    case SqlType.SqlDouble        => "DOUBLE"
    case SqlType.SqlReal          => "FLOAT"
    case SqlType.SqlTimestamp     => "TIMESTAMP"
    case SqlType.SqlTimestampTz   => "TIMESTAMP WITH TIME ZONE"
    case SqlType.SqlTime          => "TIME"
    case SqlType.SqlDate          => "DATE"
    case SqlType.SqlBool          => "BOOLEAN"
    case SqlType.SqlDecimal(p, s) => s"DECIMAL($p,$s)"
    case SqlType.SqlEnum(vs) =>
      s"ENUM(${vs.map(v => s"'$v'").mkString(", ")})"
    case SqlType.SqlUnion(ms) =>
      s"UNION(${ms.map { case (n, t) => s"$n ${duckTypeName(t)}" }.mkString(", ")})"
    case SqlType.SqlArray(e)      => s"${duckTypeName(e)}[]"
    case SqlType.SqlMap(k, v)     => s"MAP(${duckTypeName(k)}, ${duckTypeName(v)})"
    case SqlType.SqlStruct(fs)    =>
      s"STRUCT(${fs.map { case (n, ft) => s"$n ${duckTypeName(ft)}" }.mkString(", ")})"
  }

  /** Parse a DuckDB from_json/json_transform STRUCTURE literal —
    * JSON text whose leaves are type-name strings ('{"a":"BIGINT"}',
    * '["DOUBLE"]', nested objects/1-element arrays) — into the engine
    * type. Shared by the analyzer (output typing) and the lowering
    * (schema + per-leaf cast construction).
    */
  private[sql] def parseJsonStructure(text: String): Either[String, SqlType] = {
    import com.fasterxml.jackson.databind.JsonNode
    def conv(n: JsonNode): Either[String, SqlType] =
      if (n.isTextual) n.asText().toUpperCase match {
        case "BIGINT" | "UBIGINT" | "HUGEINT" => Right(SqlType.SqlBigInt)
        case "INTEGER" | "INT" | "UINTEGER"   => Right(SqlType.SqlInt)
        case "SMALLINT" | "TINYINT"           => Right(SqlType.SqlSmallInt)
        case "DOUBLE"                         => Right(SqlType.SqlDouble)
        case "FLOAT" | "REAL"                 => Right(SqlType.SqlReal)
        case "VARCHAR" | "TEXT" | "JSON"      => Right(SqlType.SqlVarChar(65535))
        case "BOOLEAN" | "BOOL"               => Right(SqlType.SqlBool)
        case "DATE"                           => Right(SqlType.SqlDate)
        case "TIMESTAMP"                      => Right(SqlType.SqlTimestamp)
        case dec if dec.matches("DECIMAL\\(\\d+, ?\\d+\\)") =>
          val nums = "\\d+".r.findAllIn(dec).toSeq
          Right(SqlType.SqlDecimal(nums(0).toInt, nums(1).toInt))
        case other => Left(s"unsupported structure type '$other'")
      }
      else if (n.isArray) {
        if (n.size() != 1) Left("structure lists take exactly one element type")
        else conv(n.get(0)).map(SqlType.SqlArray(_))
      }
      else if (n.isObject) {
        val it = n.fields()
        val fields = scala.collection.mutable.ArrayBuffer.empty[(String, SqlType)]
        while (it.hasNext) {
          val e = it.next()
          conv(e.getValue) match {
            case Left(err) => return Left(err)
            case Right(t)  => fields += (e.getKey -> t)
          }
        }
        if (fields.isEmpty) Left("structure objects need at least one field")
        else Right(SqlType.SqlStruct(fields.toVector))
      }
      else Left("structure leaves must be type-name strings")
    try conv(new com.fasterxml.jackson.databind.ObjectMapper().readTree(text))
    catch { case e: Exception => Left(s"structure is not valid JSON") }
  }

  /** ENUM ordering plumbing: an enum value's sort key is its 1-based
    * DEFINITION position, not its text (DuckDB probed: </>/min/max
    * follow declared order). The value list rides to the lowering as a
    * \u0001-joined literal.
    */
  private def enumValsLit(vs: Vector[String]): BoundOperand =
    BoundOperand.BLit(Lit.LitString(vs.mkString("\u0001")))
  private def enumPos(b: BoundOperand, vs: Vector[String]): BoundOperand =
    BoundOperand.BFunc("__enum_pos", Seq(b, enumValsLit(vs)))
  private def enumOrderKey(b: BoundOperand): BoundOperand =
    operandType(b) match {
      case SqlType.SqlEnum(vs) => enumPos(b, vs)
      case _                   => b
    }

  private def operandType(o: BoundOperand): SqlType = o match {
    case BoundOperand.BCol(c) => c.attr.sqlType
    case BoundOperand.BLit(Lit.LitLong(_))   => SqlType.SqlBigInt
    case BoundOperand.BLit(Lit.LitDouble(_)) => SqlType.SqlDouble
    case BoundOperand.BLit(Lit.LitString(_)) => SqlType.SqlVarChar(65535)
    case BoundOperand.BLit(Lit.LitDate(_))      => SqlType.SqlDate
    case BoundOperand.BLit(Lit.LitTimestamp(_)) => SqlType.SqlTimestamp
    case BoundOperand.BLit(Lit.LitTime(_))      => SqlType.SqlTime
    case BoundOperand.BLit(Lit.LitTimestampTz(_)) => SqlType.SqlTimestampTz
    case BoundOperand.BLit(Lit.LitBool(_))   => SqlType.SqlBool
    case BoundOperand.BLit(Lit.LitNull)      => SqlType.SqlVarChar(1)
    case BoundOperand.BArith(_, l, BoundOperand.BInterval(_, _)) =>
      operandType(l) // temporal ± INTERVAL keeps the temporal type
    case BoundOperand.BArith(_, l, BoundOperand.BFunc(f, _))
        if Functions.isIntervalConstructor(f) =>
      operandType(l) // temporal ± to_days(n) keeps the temporal type
    case BoundOperand.BInterval(_, _) => SqlType.SqlTimestamp // placeholder
    case BoundOperand.BArith(op, l, r) =>
      // decimal arithmetic keeps Spark's DecimalPrecision result shapes
      // (approximated, capped at 38 — internal typing only; the lowering
      // is Spark-native either way); a double side always wins
      def decOf(t: SqlType): Option[(Int, Int)] = t match {
        case SqlType.SqlDecimal(p2, s2) => Some((p2, s2))
        case SqlType.SqlBigInt          => Some((20, 0))
        case SqlType.SqlInt             => Some((10, 0))
        case SqlType.SqlSmallInt        => Some((5, 0))
        case _                          => None
      }
      (operandType(l), operandType(r)) match {
        case (a, b) if (a.isInstanceOf[SqlType.SqlDecimal] ||
            b.isInstanceOf[SqlType.SqlDecimal]) &&
            decOf(a).isDefined && decOf(b).isDefined =>
          val (p1, s1) = decOf(a).get
          val (p2, s2) = decOf(b).get
          val (pr, sr) = op match {
            case '+' | '-' =>
              val sc = math.max(s1, s2)
              (math.max(p1 - s1, p2 - s2) + sc + 1, sc)
            case '*' => (p1 + p2 + 1, s1 + s2)
            case '/' =>
              val sc = math.max(6, s1 + p2 + 1)
              (p1 - s1 + s2 + sc, sc)
            case _ /* % */ =>
              val sc = math.max(s1, s2)
              (math.min(p1 - s1, p2 - s2) + sc, sc)
          }
          SqlType.SqlDecimal(math.min(pr, 38), math.min(sr, 38))
        case _ if op == '/' => SqlType.SqlDouble
        case (SqlType.SqlDouble, _) | (_, SqlType.SqlDouble) => SqlType.SqlDouble
        case _ => SqlType.SqlBigInt
      }
    case BoundOperand.BFunc(f, args) =>
      Functions.resultType(f, args, operandType)
    // CASE types from its first NON-NULL-literal branch (THEN values,
    // then ELSE): a bare NULL literal carries the VARCHAR(1) fallback
    // type, and `CASE WHEN c THEN NULL ELSE round(x) END` must type as
    // the value branch, not the fallback — the VARCHAR mis-type made
    // downstream numeric positions (sum over a derived column) reject
    case BoundOperand.BCase(bs, els) =>
      (bs.map(_._2) ++ els.toSeq).find {
        case BoundOperand.BLit(Lit.LitNull) => false
        case _                              => true
      }.map(operandType).getOrElse(SqlType.SqlVarChar(1))
    case BoundOperand.BSubVal(sub, _, _, _) => scalarOutputType(sub)
    case BoundOperand.BLambda(_, b)    => operandType(b)
    case BoundOperand.BLambdaVar(_, t) => t
    case BoundOperand.BTryCast(_, t)   => t
    case BoundOperand.BAgg(f, arg, _) => aggType(f, arg.toSeq)
    case BoundOperand.BCast(_, t) => t
    case BoundOperand.BOut(_, t)  => t
    // percentile_disc(_list) BCasts re-type to the argument's type
    case BoundOperand.BOrderedAgg(f, arg, _, _, _) => aggType(f, Seq(arg))
  }

  /** DuckDB parity: CAST(<float/decimal> AS <integer type>) ROUNDS
    * half-away-from-zero (probed: 1.5→2, 2.5→3, -1.5→-2) where Spark's
    * cast truncates toward zero — caught live by format_bytes(CAST
    * (o_totalprice AS BIGINT)) reading one KiB-decimal low. Wrap the
    * source in round() before any integral cast: Spark's round is
    * HALF_UP (half-away-from-zero in both signs), and round-on-decimal
    * stays an exact DECIMAL(p,0).
    */
  private def roundForIntCast(b: BoundOperand, t: SqlType): BoundOperand = {
    val integral = t match {
      case SqlType.SqlBigInt | SqlType.SqlInt | SqlType.SqlSmallInt => true
      case _ => false
    }
    // DuckDB probed (round 11): DECIMAL -> int rounds half AWAY from
    // zero (2.5 -> 3, -2.5 -> -3) but DOUBLE/FLOAT -> int rounds half
    // to EVEN (2.5 -> 2, 3.5 -> 4, 8416312.5 -> 8416312) — two
    // different rounding modes. Spark's round() is half-away on
    // decimals; rint() is half-even on doubles.
    operandType(b) match {
      case SqlType.SqlDecimal(_, _) if integral =>
        BoundOperand.BFunc("round", Seq(b))
      // a decimal-point LITERAL is a DECIMAL in DuckDB (carried here on
      // SqlDouble) — and so is +,-,*,% ARITHMETIC over decimal literals
      // and integer operands (probed: typeof(1.5+1) = DECIMAL(12,1),
      // typeof(x_int + 0.5) = DECIMAL, but typeof(1.5/2) and
      // typeof(2^2) = DOUBLE) — so those keep the half-away rule; only
      // genuinely DOUBLE-typed expressions take the half-even cast
      case SqlType.SqlDouble | SqlType.SqlReal if integral =>
        if (duckDecimalTyped(b)) BoundOperand.BFunc("round", Seq(b))
        else BoundOperand.BFunc("__rint", Seq(b))
      case _ => b
    }
  }

  /** Would DuckDB type this SqlDouble-carried expression DECIMAL?
    * DuckDB's numeric result-type rules keep +,-,*,% of DECIMAL and
    * integer operands DECIMAL (division and power go DOUBLE), and a
    * decimal-point literal IS a DECIMAL there. The only place the
    * distinction is observable through the double carrier is the
    * rounding mode of integer casts (half-away vs half-even), decided
    * by roundForIntCast above. e-notation literals (1.5e0 — DOUBLE in
    * DuckDB) share the LitDouble carrier and misclassify; same
    * documented tradeoff as the bare-literal rule this generalizes.
    */
  private def duckDecimalTyped(b: BoundOperand): Boolean = b match {
    case BoundOperand.BLit(_) => true
    case BoundOperand.BArith(op, l, r)
        if op == '+' || op == '-' || op == '*' || op == '%' =>
      duckDecimalTyped(l) && duckDecimalTyped(r)
    case other => operandType(other) match {
      case SqlType.SqlDecimal(_, _) | SqlType.SqlBigInt | SqlType.SqlInt |
           SqlType.SqlSmallInt => true
      case _ => false
    }
  }

  /** Type-directed cast dispatch shared by CAST and TRY_CAST. The
    * special-cased targets (TIMESTAMPTZ/TIME renderings, ENUM
    * membership, UNION carrier rebuilds) diverge from Spark's native
    * cast; try_cast takes the same routes with NULL-on-miss in place of
    * the raising ENUM check and BTryCast at the plain fallthrough.
    */
  private def bindCastDispatch(b: BoundOperand, t: SqlType,
      trying: Boolean): Either[AnalyzerError, BoundOperand] =
    (operandType(b), t) match {
      // UNION narrowing (dropping or retyping a member) rejects at
      // bind — the widen case below requires src within tgt; a type-
      // level error, so try_cast rejects too (DuckDB binds this)
      case (SqlType.SqlUnion(src), SqlType.SqlUnion(tgt))
          if !src.forall { case (n, st) =>
            tgt.exists(m => m._1 == n && m._2.spark == st.spark) } =>
        Left(BadFunction(
          s"cannot cast ${duckTypeName(SqlType.SqlUnion(src))} to " +
            s"${duckTypeName(t)}: every source member must exist in the target"))
      case _ => Right((operandType(b), t) match {
        // TIMESTAMPTZ renders with its +00 offset (sessions pin UTC)
        case (SqlType.SqlTimestampTz, SqlType.SqlVarChar(_)) =>
          BoundOperand.BFunc("__tstz_text", Seq(b))
        // TIMESTAMP -> TIME takes the time-of-day; Spark has no
        // native cast, so this routes through a dedicated lowering
        case (SqlType.SqlTimestamp | SqlType.SqlTimestampTz,
              SqlType.SqlTime) =>
          BoundOperand.BFunc("__ts_to_time", Seq(b))
        // text -> ENUM validates membership: CAST raises DuckDB's
        // conversion error, TRY_CAST reads NULL for a non-member
        case (SqlType.SqlVarChar(_), SqlType.SqlEnum(vs)) =>
          BoundOperand.BFunc(
            if (trying) "__enum_try_cast" else "__enum_cast",
            Seq(b, enumValsLit(vs)))
        // UNION -> wider UNION: rebuild the carrier struct — tag
        // keeps, present members copy, absent members read typed
        // NULL (the single-member union_value widens this way)
        case (SqlType.SqlUnion(src), SqlType.SqlUnion(tgt))
            if src.forall { case (n, st) =>
              tgt.exists(m => m._1 == n && m._2.spark == st.spark) } =>
          BoundOperand.BFunc("__union_make",
            BoundOperand.BLit(Lit.LitString(tgt.map(_._1).mkString("\u0001"))) +:
            BoundOperand.BFunc("union_tag", Seq(b)) +:
            tgt.map { case (n, mt) =>
              if (src.exists(_._1 == n))
                BoundOperand.BFunc("union_extract",
                  Seq(b, BoundOperand.BLit(Lit.LitString(n))))
              else BoundOperand.BCast(
                BoundOperand.BLit(Lit.LitNull), mt)
            })
        // UNION -> VARCHAR renders the ACTIVE member's value text
        // (DuckDB probed: '7', 'hi') — coalesce over the members
        case (SqlType.SqlUnion(ms), SqlType.SqlVarChar(_)) =>
          BoundOperand.BFunc("coalesce", ms.map { case (n, _) =>
            BoundOperand.BCast(BoundOperand.BFunc("union_extract",
              Seq(b, BoundOperand.BLit(Lit.LitString(n)))),
              SqlType.SqlVarChar(65535))
          })
        case _ =>
          if (trying) BoundOperand.BTryCast(roundForIntCast(b, t), t)
          else BoundOperand.BCast(roundForIntCast(b, t), t)
      })
    }

  /** The output type of an aggregate call or window item (window
    * arguments may carry trailing sentinels; entries type from the
    * leading ones).
    */
  private def aggType(f: String, args: Seq[BoundOperand]): SqlType =
    Aggregates(f).result(args, operandType)

  /** Window output types by lower-cased alias: the output references a
    * QUALIFY predicate or a projection expression may name.
    */
  private def winTypes(items: Seq[BoundItem]): Map[String, SqlType] =
    items.collect { case w: BoundItem.BIWin =>
      w.alias.toLowerCase -> aggType(w.func, w.args) }.toMap

  /** The output attributes of a bound subquery used as a derived table.
    * Names must be explicit and unique: a plain column keeps its name,
    * everything else needs its AS alias — the same names the lowering
    * emits, so the synthetic TableDesc matches the lowered frame.
    */
  /** The output attributes of any readable bound query (DESCRIBE
    * <query>): a select's derived attributes, a set-op chain's first
    * branch, a recursive CTE's base schema.
    */
  def outputAttributes(q: BoundQuery): Either[AnalyzerError, Seq[AttributeDesc]] =
    q match {
      case s: BoundSelect    => derivedAttributes(s)
      case u: BoundUnion     => derivedAttributes(u.first)
      case r: BoundRecursive => Right(r.desc.attributes)
      case _ => Left(BadFunction("DESCRIBE takes a readable query"))
    }

  private def derivedAttributes(b: BoundSelect): Either[AnalyzerError, Seq[AttributeDesc]] = {
    val attrs = Vector.newBuilder[AttributeDesc]
    val seen = scala.collection.mutable.Set.empty[String]
    for (it <- b.projection) it.columnName match {
      case Some(n) =>
        if (!seen.add(n.toLowerCase))
          return Left(BadSubquery(s"duplicate derived-table column name '$n'"))
        attrs += AttributeDesc(n, itemType(it))
      case None => // only an aggregate call goes unnamed
        val f = it.operands.collectFirst { case BoundOperand.BAgg(f, _, _) => f }
        return Left(BadSubquery(s"derived-table column ${f.mkString}(…) needs an AS name"))
    }
    Right(attrs.result())
  }

  /** The output type of a SELECT item. */
  private def itemType(it: BoundItem): SqlType = it match {
    case BoundItem.BICol(c, _)         => c.attr.sqlType
    case BoundItem.BIExpr(op, _)       => operandType(op)
    case BoundItem.BIAgg(f, arg, _, _) => aggType(f, arg.toSeq)
    case BoundItem.BIWin(f, args, _, _, _, _) => aggType(f, args)
  }

  /** The type of a one-column subquery's output (scalar subquery items
    * and derived typing).
    */
  private def scalarOutputType(sub: BoundSelect): SqlType = itemType(sub.projection.head)

  /** Every subquery in a tree, CASE conditions included — a miss here
    * would skip the pre-append materialization for a self-referencing
    * INSERT or under-count recursive self-references.
    */
  private def subqueriesOf(n: BoundNode): Seq[BoundSelect] =
    n.collect { case q: Subquery => q.children.flatMap(subqueriesOf) :+ q.sub }

  /** Every expression-position subquery of a SELECT (WHERE, HAVING and
    * projection items).
    */
  private[sql] def exprSubqueriesOf(s: BoundSelect): Seq[BoundSelect] =
    (s.predicate.toSeq ++ s.having.toSeq ++ s.projection.flatMap(_.rowValue))
      .flatMap(subqueriesOf)

  /** Self-references of a recursive CTE inside its step: (references in
    * FROM position, references at any depth inside expression-position
    * subqueries). Semi-naive evaluation binds EVERY reference to the
    * previous round's delta frontier, which is only correct for exactly
    * one FROM-position reference and none under subquery expressions
    * (two references lose acc×delta combinations; a reference under
    * NOT EXISTS / NOT IN is non-monotone) — Postgres rejects both forms
    * the same way.
    */
  private def selfRefs(q: BoundQuery, name: String): (Int, Int) = q match {
    case s: BoundSelect =>
      val direct = (s.tables ++ s.joinSteps.map(_.table)).count(bt =>
        bt.desc.name.equalsIgnoreCase(name) && !s.derived.contains(bt.binding))
      val derived = s.derived.values.map(selfRefs(_, name)).toSeq
      val inSubs = exprSubqueriesOf(s).map(selfRefs(_, name))
      (direct + derived.map(_._1).sum,
        derived.map(_._2).sum + inSubs.map(t => t._1 + t._2).sum)
    case u: BoundUnion =>
      val all = (u.first +: u.rest.map(_._2)).map(selfRefs(_, name))
      (all.map(_._1).sum, all.map(_._2).sum)
    case r: BoundRecursive =>
      if (r.desc.name.equalsIgnoreCase(name)) (0, 0) // shadowed by the inner CTE
      else {
        val (bf, be) = selfRefs(r.base, name)
        val (sf, se) = selfRefs(r.step, name)
        (bf + sf, be + se)
      }
    case l: BoundLateral =>
      val all = l.branches.map(b => selfRefs(b._2, name))
      (all.map(_._1).sum, all.map(_._2).sum)
    case _ => (0, 0)
  }

  /** Every table name a bound query reads (FROM groups, join steps,
    * subqueries, union branches) — the self-reference check for
    * INSERT INTO t SELECT … FROM t.
    */
  def referencedTables(q: BoundQuery): Set[String] = q match {
    case s: BoundSelect =>
      // derived tables (FROM-list subqueries) contribute the tables THEY
      // read, not their synthetic alias TableDesc — otherwise
      // INSERT INTO t SELECT * FROM (SELECT * FROM t) d misses the
      // self-reference and skips the pre-append materialization
      val derivedNames = s.derived.keysIterator.map(_.toLowerCase).toSet
      (s.tables ++ s.joinSteps.map(_.table)).map(_.desc.name)
        .filterNot(n => derivedNames.contains(n.toLowerCase)).toSet ++
        exprSubqueriesOf(s).flatMap(referencedTables) ++
        s.derived.values.flatMap(referencedTables)
    case u: BoundUnion =>
      referencedTables(u.first) ++ u.rest.flatMap(r => referencedTables(r._2))
    case r: BoundRecursive =>
      referencedTables(r.base) ++
        (referencedTables(r.step) - r.desc.name)
    case l: BoundLateral => l.branches.flatMap(b => referencedTables(b._2)).toSet
    case _ => Set.empty
  }
  /** DELETE: a plain row-level predicate lowers as a filter; a predicate
    * carrying subqueries instead ships as `matched` — a SELECT of the
    * hidden __lkrid row-id over the target table with the full WHERE,
    * executed through the complete subquery machinery (semi/anti joins,
    * decorrelation, markers) and anti-joined back on the row-id.
    */
  final case class BoundDelete(desc: TableDesc, predicate: Option[BoundExpr],
      matched: Option[BoundSelect] = None) extends BoundQuery
  /** UPDATE: each SET value is a bound row-level operand over the
    * table's own columns, cast to the target attribute at execution.
    * `matched` works like BoundDelete's (subquery WHERE → row-id set).
    */
  final case class BoundUpdate(
      desc: TableDesc,
      sets: Seq[(AttributeDesc, BoundOperand)],
      predicate: Option[BoundExpr],
      matched: Option[BoundSelect] = None,
      /** SET col = <operand with a subquery> values: each is a bound
        * select — `SELECT __lkrid, <op> AS __sv FROM target` — lowered over the
        * row-id'd pre-update image and joined back per row (correlated
        * aggregate forms decorrelate exactly like projection-scope
        * scalar subqueries).
        */
      subSets: Seq[(AttributeDesc, BoundSelect)] = Nil) extends BoundQuery

  /** MERGE: both sides of the statement pre-bound as synthetic selects —
    * `matchedSel` left-joins the source onto the row-id'd target and
    * computes every clause condition (`__mcnd_i`) and SET value
    * (`__mval_i_j`) next to the target's own columns; `insertSel`
    * left-joins the target onto the source (anti-join semantics via the
    * `__mtgt` presence marker) and computes insert conditions
    * (`__icnd_i`) and values (`__ival_i_k`). `plans` maps the helper
    * columns back to clauses; first matching clause wins per row.
    */
  sealed trait MergePlan { def idx: Int }
  object MergePlan {
    final case class MPUpdate(idx: Int, sets: Seq[AttributeDesc],
        bySource: Boolean = false) extends MergePlan
    final case class MPDelete(idx: Int,
        bySource: Boolean = false) extends MergePlan
    final case class MPInsert(idx: Int, cols: Seq[AttributeDesc]) extends MergePlan
  }
  final case class BoundMerge(
      desc: TableDesc,
      matchedSel: BoundSelect,
      insertSel: Option[BoundSelect],
      plans: Seq[MergePlan]) extends BoundQuery

  /** DELETE/UPDATE/INSERT … RETURNING: the inner statement executes
    * normally but the affected rows (materialized BEFORE the rewrite)
    * come back as the result frame. `proj` None = `*`; Some = a fully
    * analyzed projection over the target schema (a synthetic SELECT
    * items FROM target, validated row-level: no aggregates, windows or
    * subqueries), lowered over the affected frame.
    */
  final case class BoundReturning(inner: BoundQuery,
      proj: Option[BoundSelect] = None) extends BoundQuery

  /** INSERT … ON CONFLICT … RETURNING: the merge executes, then the
    * affected set = post-merge rows whose conflict-key tuple appears in
    * the VALUES source (`src`, the FROM-less excluded select) — for
    * DO UPDATE that is exactly the inserted+updated rows; for DO
    * NOTHING (`doNothing`) the pre-existing untouched conflicts are
    * anti-joined away, leaving the inserted rows only.
    */
  final case class BoundUpsertReturning(merge: BoundMerge, desc: TableDesc,
      conflictCols: Seq[String], src: BoundQuery, doNothing: Boolean,
      proj: Option[BoundSelect]) extends BoundQuery

  def analyze(tree: ParseTree, cat: Catalog): Either[AnalyzerError, BoundQuery] = tree match {
    case s: SelectTree => analyzeSelect(s, cat)
    case u: UnionTree  => analyzeUnion(u, cat)
    case mt: MergeTree => analyzeMerge(mt, cat)
    case e: ExplainTree => analyze(e.select, cat).flatMap {
      case q @ (_: BoundSelect | _: BoundUnion |
                _: BoundInsertSelect | _: BoundCreateAs) =>
        Right(BoundExplain(q, e.analyze))
      case _ => Left(BadFunction(
        "EXPLAIN supports SELECT, INSERT … SELECT and CREATE TABLE AS SELECT"))
    }
    case r: RecursiveTree =>
      for {
        base <- analyzeSelect(r.base, cat)
        attrs <- derivedAttributes(base)
        desc = TableDesc(r.name, attrs)
        // the step sees the CTE's own name as a table of the base schema
        cat2 = new Catalog {
          def resolve(t: String): Option[TableDesc] =
            if (t.equalsIgnoreCase(r.name)) Some(desc) else cat.resolve(t)
          override def resolveFile(f: String, pth: String) =
            cat.resolveFile(f, pth)
        }
        step <- analyzeSelect(r.step, cat2)
        _ <-
          if (step.projection.length == attrs.length) Right(())
          else Left(BadSubquery(
            s"recursive CTE '${r.name}': step projects ${step.projection.length} " +
              s"columns, base has ${attrs.length}"))
        // semi-naive frontier binding is only sound for exactly one
        // FROM-position self-reference, outside subquery expressions
        refs = selfRefs(step, r.name)
        _ <-
          if (refs._2 > 0) Left(BadSubquery(
            s"recursive CTE '${r.name}' must not reference itself inside a subquery"))
          else if (refs._1 > 1) Left(BadSubquery(
            s"recursive CTE '${r.name}' must not reference itself more than once"))
          else Right(())
      } yield BoundRecursive(desc, base, step, r.unionAll)
    case d: DropTree =>
      cat.resolve(d.table) match {
        case Some(desc)           => Right(BoundDrop(desc.name, Some(desc)))
        case None if d.ifExists   => Right(BoundDrop(d.table.toLowerCase, None))
        case None                 => Left(RelationNotFound(d.table))
      }
    case i: InsertTree => analyzeInsert(i, cat)
    case u: UpsertTree => analyzeUpsert(u, cat)
    case r: ReturningTree =>
      // a column list validates as a synthetic `SELECT items FROM target`
      // (row-level only) and lowers over the affected frame at execution
      def bindProj(tname: String): Either[AnalyzerError, Option[BoundSelect]] =
        r.items match {
          case None => Right(None)
          case Some(items) =>
            items.foldLeft[Either[AnalyzerError, Vector[SelectItem]]](
              Right(Vector.empty)) { (acc, it) => acc.flatMap { v => it match {
                case (Operand.Col(cr), a) => Right(v :+ SelectItem.SCol(cr, a))
                case (o, Some(a))         => Right(v :+ (SelectItem.SExpr(o, a): SelectItem))
                case (_, None)            => Left(BadFunction(
                  "a computed RETURNING item needs an AS name"))
              } } }
              .flatMap { sitems =>
                analyzeSelect(SelectTree(Some(sitems),
                  Seq(FTable(TableRef(tname, None))), None), cat).flatMap { bs =>
                  val bad = bs.isAggregate || !bs.projection.forall(_.rowLevel)
                  if (bad) Left(BadFunction(
                    "RETURNING items are row-level: no aggregates, " +
                      "windows or subqueries"))
                  else Right(Some(bs))
                }
              }
        }
      r.inner match {
        case u: UpsertTree =>
          for {
            merge <- analyzeUpsert(u, cat)
            desc  <- cat.resolve(u.table)
              .toRight(RelationNotFound(u.table): AnalyzerError)
            src   <- analyze(upsertSourceTree(u, desc), cat)
            proj  <- bindProj(u.table)
          } yield BoundUpsertReturning(merge, desc,
            u.conflictCols.map(c => desc.attr(c).map(_.name).getOrElse(c)),
            src, doNothing = u.sets.isEmpty, proj)
        case _ =>
          analyze(r.inner, cat).flatMap {
            case q @ (_: BoundDelete | _: BoundUpdate |
                      _: BoundInsert | _: BoundInsertSelect) =>
              val tname = q match {
                case BoundDelete(d, _, _)   => d.name
                case uq: BoundUpdate        => uq.desc.name
                case BoundInsert(d, _)      => d.name
                case bis: BoundInsertSelect => bis.desc.name
                case _ => sys.error("unreachable RETURNING inner")
              }
              bindProj(tname).map(p => BoundReturning(q, p))
            case _ => Left(BadFunction(
              "RETURNING supports INSERT (incl. ON CONFLICT), DELETE and UPDATE"))
          }
      }
    case i: InsertSelectTree =>
      cat.resolve(i.table) match {
        case None => Left(RelationNotFound(i.table))
        case Some(desc) =>
          // the DEFAULT keyword in (desugared) VALUES rows: positional
          // items of FROM-less selects substitute the target column's
          // default literal (NULL when none) — by position against the
          // explicit column list or the table order. Any DEFAULT that
          // survives to binding rejects there.
          def subD(s: SelectTree): SelectTree =
            if (s.from.nonEmpty || i.byName) s
            else s.copy(columns = s.columns.map(_.zipWithIndex.map {
              case (SelectItem.SExpr(Operand.DefaultVal, a), j) =>
                val colName = i.columns.flatMap(_.lift(j))
                  .orElse(desc.attributes.lift(j).map(_.name))
                val l = colName.flatMap(desc.attr(_)).flatMap(_.default)
                  .getOrElse(Lit.LitNull)
                SelectItem.SExpr(Operand.Literal(l), a): SelectItem
              case (it, _) => it
            }))
          val selSub: ParseTree = i.select match {
            case s: SelectTree => subD(s)
            case u: UnionTree =>
              u.copy(first = subD(u.first), rest = u.rest.map {
                case (conn, s) => (conn, subD(s))
              })
            case other => other
          }
          analyze(selSub, cat).flatMap { b =>
            val arity = b match {
              case s: BoundSelect => s.projection.length
              case u: BoundUnion  => u.first.projection.length
              case _              => -1
            }
            // BY NAME: the select's OUTPUT NAMES are the column list
            // (dup names / missing AS already reject in derivedAttributes)
            val colsE: Either[AnalyzerError, Option[Seq[String]]] =
              if (!i.byName) Right(i.columns)
              else (b match {
                case s: BoundSelect => derivedAttributes(s)
                case u: BoundUnion  => derivedAttributes(u.first)
                case _ => Left(BadFunction(
                  "INSERT … BY NAME takes a SELECT source"))
              }).map(as => Some(as.map(_.name)))
            colsE.flatMap {
              case None =>
                // generated columns take no position (materialized at
                // the write) — the implicit arity excludes them
                val plain = desc.attributes.filter(_.generated.isEmpty)
                if (arity < plain.length)
                  Left(MissingValues(plain.drop(math.max(arity, 0)).map(_.name)))
                else if (arity > plain.length)
                  Left(TooManyValues(plain.length, arity))
                else Right(BoundInsertSelect(desc, b))
              case Some(cols) =>
                // like the VALUES column list: every name must exist in
                // the target (and not be GENERATED), no duplicates,
                // arity matches the list
                val seen = scala.collection.mutable.Set.empty[String]
                cols.collectFirst {
                  case c if !desc.attributes.exists(_.name.equalsIgnoreCase(c)) =>
                    UnboundAttribute(c)
                  case c if desc.attr(c).exists(_.generated.isDefined) =>
                    BadFunction(
                      s"column '$c' is GENERATED — its value cannot be inserted")
                  case c if !seen.add(c.toLowerCase) => DuplicateBinding(c)
                } match {
                  case Some(e) => Left(e)
                  case None =>
                    if (arity < cols.length)
                      Left(MissingValues(cols.drop(math.max(arity, 0))))
                    else if (arity > cols.length)
                      Left(TooManyValues(cols.length, arity))
                    else Right(BoundInsertSelect(desc, b,
                      Some(cols.map(_.toLowerCase))))
                }
            }
          }
      }
    case c: CreateTree => analyzeCreate(c, cat)
    case c: CreateAsTree =>
      if (cat.resolve(c.table).isDefined) Left(TableExists(c.table))
      else analyze(c.select, cat).map(b =>
        BoundCreateAs(c.table.toLowerCase, b,
          c.bucket.map { case (col, n) => (col.toLowerCase, n) }))
    case d: DeleteTree => analyzeDelete(d, cat)
    case u: UpdateTree => analyzeUpdate(u, cat)
  }

  /** UNION [ALL] chain: every branch analyzes independently; arity must
    * match across branches (column NAMES come from the first branch, SQL
    * convention). ORDER BY keys resolve against the first branch's output
    * names at lowering time.
    */
  private def analyzeUnion(u: UnionTree, cat: Catalog): Either[AnalyzerError, BoundUnion] =
    for {
      first <- analyzeSelect(u.first, cat)
      rest <- u.rest.foldLeft[Either[AnalyzerError, Vector[(String, BoundSelect)]]](
        Right(Vector.empty)) { case (acc, (conn, s)) =>
        acc.flatMap(v => analyzeSelect(s, cat).flatMap { b =>
          if (conn.endsWith("_byname")) {
            // BY NAME: branches must expose the same column-name SET
            // (order-free); every item therefore needs a derivable name
            for {
              fa <- derivedAttributes(first)
              ba <- derivedAttributes(b)
              r <- {
                val fs = fa.map(_.name.toLowerCase).toSet
                val bs = ba.map(_.name.toLowerCase).toSet
                if (fs == bs) Right(v :+ (conn -> b))
                else Left(BadSubquery(
                  s"UNION BY NAME branches must project the same column names " +
                    s"(${fa.map(_.name).mkString(", ")} vs ${ba.map(_.name).mkString(", ")})"))
              }
            } yield r
          }
          else if (b.projection.length == first.projection.length) Right(v :+ (conn -> b))
          else Left(BadSubquery(
            s"set-operation branches must project the same number of columns " +
              s"(${first.projection.length} vs ${b.projection.length})"))
        })
      }
    } yield BoundUnion(first, rest,
      u.orderBy.map { case (c, desc) => (c.name, desc) }, u.limit, u.offset)

  /** Bind a WHERE expression against one table (DELETE/UPDATE scope). */
  /** Bind a stored CHECK constraint (catalog source text) against its
    * table's schema — the write-time enforcement entry.
    */
  def bindCheck(desc: TableDesc, text: String): Either[AnalyzerError, BoundExpr] =
    Parser.parseCheck(text) match {
      case Left(pe) => Left(BadFunction(s"CHECK ($text): ${pe.msg}"))
      case Right(e) => bindSingleTableExpr(desc, e)
    }

  /** Bind a stored generated-column expression (catalog source text)
    * against the table's NON-generated columns — the write-time
    * materialization entry.
    */
  def bindGenerator(desc: TableDesc, text: String): Either[AnalyzerError, BoundOperand] =
    Parser.parseGenerator(text) match {
      case Left(pe) => Left(BadFunction(s"GENERATED AS ($text): ${pe.msg}"))
      case Right(o) =>
        bindSingleTableOperand(desc.copy(attributes =
          desc.attributes.filter(_.generated.isEmpty)), o)
    }

  private def bindSingleTableExpr(desc: TableDesc, e: Expr): Either[AnalyzerError, BoundExpr] =
    analyzeSelect(
      SelectTree(Some(Seq(SelectItem.SCol(ColRef(None, desc.attributes.head.name)))),
        Seq(FTable(TableRef(desc.name, None))), Some(e)),
      new Catalog { def resolve(t: String) = if (t.equalsIgnoreCase(desc.name)) Some(desc) else None }
    ).map(_.predicate.get).flatMap { b =>
      if (BoundNode.hasSubquery(b))
        Left(BadSubquery("subqueries are not supported in DELETE/UPDATE predicates"))
      else Right(b)
    }

  /** Parse-level subquery detection on a DML WHERE — decides whether the
    * predicate can lower as a plain filter or needs the row-id rewrite.
    */
  private def parseHasSub(n: Ast.Node): Boolean = n.exists {
    case _: Operand.ScalarSub | _: Expr.InSubquery | _: Expr.Exists |
         _: Expr.QuantSubquery => true
  }

  /** The row-id match select for a subquery-bearing DML WHERE: the target
    * table grows a hidden __lkrid BIGINT attribute (the "__lk" prefix
    * keeps it out of star expansion, like LATERAL's hidden keys), the
    * full WHERE binds through the normal SELECT machinery — subqueries
    * resolve other tables via the real catalog — and the projection is
    * the row-id alone.
    */
  private def matchedSelect(desc: TableDesc, e: Expr,
      cat: Catalog): Either[AnalyzerError, BoundSelect] = {
    val desc2 = desc.copy(attributes =
      desc.attributes :+ AttributeDesc("__lkrid", SqlType.SqlBigInt))
    val chained = new Catalog {
      def resolve(t: String) =
        if (t.equalsIgnoreCase(desc.name)) Some(desc2) else cat.resolve(t)
      override def resolveFile(f: String, pth: String) =
        cat.resolveFile(f, pth)
    }
    analyzeSelect(
      SelectTree(Some(Seq(SelectItem.SCol(ColRef(None, "__lkrid")))),
        Seq(FTable(TableRef(desc.name, None))), Some(e)),
      chained)
  }

  private def analyzeDelete(d: DeleteTree, cat: Catalog): Either[AnalyzerError, BoundDelete] =
    cat.resolve(d.table) match {
      case None => Left(RelationNotFound(d.table))
      case Some(desc) =>
        d.where match {
          case None    => Right(BoundDelete(desc, None))
          case Some(e) if parseHasSub(e) =>
            matchedSelect(desc, e, cat).map(ms => BoundDelete(desc, None, Some(ms)))
          case Some(e) => bindSingleTableExpr(desc, e).map(b => BoundDelete(desc, Some(b)))
        }
    }

  /** Bind one operand against a single table with bare columns (UPDATE
    * SET value scope) — via the same machinery as the WHERE binder.
    */
  private def bindSingleTableOperand(desc: TableDesc,
      o: Operand): Either[AnalyzerError, BoundOperand] =
    analyzeSelect(
      SelectTree(Some(Seq(SelectItem.SExpr(o, "v"))),
        Seq(FTable(TableRef(desc.name, None))), None),
      new Catalog { def resolve(t: String) =
        if (t.equalsIgnoreCase(desc.name)) Some(desc) else None }
    ).flatMap(_.projection.head.rowValue match {
      case Some(b) if BoundNode.containsAgg(b) =>
        Left(BadAggregate("aggregates are not valid in UPDATE SET"))
      // UPDATE SET binds a subquery-bearing value on the row-id path, so
      // only a generated column's expression can hold one here
      case Some(b) if BoundNode.hasSubquery(b) =>
        Left(BadSubquery("subqueries are not supported in generated columns"))
      case Some(b) => Right(b)
      case None    => Left(BadFunction("unexpected SET value"))
    })

  /** INSERT … ON CONFLICT: desugars onto the MERGE machinery — the
    * VALUES rows union into a FROM-less source aliased `excluded`, the
    * conflict columns become the ON equalities, DO UPDATE becomes WHEN
    * MATCHED UPDATE (values may reference excluded.c and qualified
    * target columns), and the insert itself becomes WHEN NOT MATCHED
    * INSERT. MERGE's first-match-wins, pre-statement snapshot and
    * multi-match error all apply unchanged.
    */
  /** The upsert's VALUES rows as the FROM-less `excluded` source select
    * (one SELECT per row, union-all'd) — shared by the MERGE desugar and
    * the ON CONFLICT RETURNING affected-set computation.
    */
  private def upsertSourceTree(u: UpsertTree, desc: TableDesc): ParseTree = {
    val colNames: Seq[String] = u.columns.getOrElse(desc.attributes.map(_.name))
    def rowSelect(r: Seq[Operand]): SelectTree =
      SelectTree(
        Some(r.zip(colNames).map { case (o, n) =>
          SelectItem.SExpr(o, n): SelectItem }),
        from = Nil, where = None)
    if (u.rows.length == 1) rowSelect(u.rows.head)
    else UnionTree(rowSelect(u.rows.head),
      u.rows.tail.map(r => ("union_all", rowSelect(r))))
  }

  private def analyzeUpsert(u: UpsertTree, cat: Catalog): Either[AnalyzerError, BoundMerge] =
    cat.resolve(u.table) match {
      case None => Left(RelationNotFound(u.table))
      case Some(desc) =>
        val colNames: Seq[String] = u.columns.getOrElse(desc.attributes.map(_.name))
        if (u.rows.exists(_.length != colNames.length))
          return Left(BadFunction(
            s"INSERT row arity ${u.rows.map(_.length).distinct.mkString("/")} " +
              s"does not match the ${colNames.length}-column list"))
        u.conflictCols.find(cc => !colNames.exists(_.equalsIgnoreCase(cc))) match {
          case Some(cc) => Left(BadFunction(
            s"conflict column '$cc' is not among the inserted columns"))
          case None =>
            val src: ParseTree = upsertSourceTree(u, desc)
            val on = u.conflictCols.map(c => Expr.Cmp(CmpOp.Eq,
              Operand.Col(ColRef(Some(u.table), c)),
              Operand.Col(ColRef(Some("excluded"), c))): Expr)
              .reduce(Expr.And(_, _))
            val whens: Seq[MergeWhen] =
              u.sets.map(ss => MergeWhen.MUpdate(None, ss, bySource = false))
                .toSeq ++
              Seq(MergeWhen.MInsert(None, Some(colNames),
                colNames.map(c => Operand.Col(ColRef(Some("excluded"), c)))))
            analyzeMerge(MergeTree(TableRef(u.table, None),
              FDerived(src, "excluded"), on, whens), cat)
        }
    }

  private def analyzeMerge(m: MergeTree, cat: Catalog): Either[AnalyzerError, BoundMerge] =
    cat.resolve(m.target.name) match {
      case None => Left(RelationNotFound(m.target.name))
      case Some(desc) =>
        val tname = m.target.name
        val talias = m.target.alias.getOrElse(tname.split('.').last)
        val salias = m.source match {
          case FTable(TableRef(n, a)) => a.getOrElse(n.split('.').last)
          case FDerived(_, a)         => a
          case FLateral(_, a)         => a // unreachable: parser never builds
        }
        if (talias.equalsIgnoreCase(salias))
          return Left(DuplicateBinding(salias))
        // WHEN conditions lower as CASE helpers in the pre-bound
        // selects' projections, where the marker machinery handles
        // predicate subqueries (uncorrelated and correlated-on-visible-
        // columns alike), evaluated over the pre-merge snapshot like
        // every MERGE value — so they may carry subqueries. The ON
        // condition is a JOIN ON (matched-vs-unmatched is decided by the
        // join itself); subquery CONJUNCTS that reference only SOURCE
        // columns pre-evaluate as boolean helper columns INSIDE the
        // source body (the regular SELECT subquery machinery — markers,
        // correlation, one-row guards — runs there over the pre-merge
        // snapshot), and the join sees a plain __moncnd_i = 1 equality;
        // UNKNOWN reads 0, exactly join-ON semantics. Conjuncts whose
        // top level touches the TARGET under a subquery have no host
        // frame on either join side and still reject toward WHEN … AND.
        // SET / INSERT values ride the BSubVal machinery (uncorrelated =
        // one broadcast 1-row frame; correlated = per-key aggregate).
        def refsOf(n: Ast.Node): Seq[ColRef] =
          n.collect { case Operand.Col(r) => Seq(r) }
        val onConjs = Expr.conjuncts(m.on)
        val onSubConjs = onConjs.zipWithIndex.filter(c => parseHasSub(c._1))
        for ((c, _) <- onSubConjs) {
          val rs = refsOf(c)
          if (rs.exists(_.binding.exists(_.equalsIgnoreCase(talias))))
            return Left(BadSubquery(
              "a MERGE ON subquery conjunct may reference only SOURCE " +
                "columns (target-side predicates have no pre-join frame " +
                "to evaluate in — move them into a WHEN ... AND <cond>)"))
          if (rs.exists(_.binding.isEmpty))
            return Left(BadSubquery(
              "column references in a MERGE ON subquery conjunct must be " +
                s"qualified with the source alias '$salias'"))
        }
        val onRewritten: Expr =
          if (onSubConjs.isEmpty) m.on
          else {
            val plain = onConjs.filterNot(parseHasSub)
            val helperEqs = onSubConjs.map { case (_, i) =>
              Expr.Cmp(CmpOp.Eq,
                Operand.Col(ColRef(Some(salias), s"__moncnd_$i")),
                Operand.Literal(Lit.LitLong(1L))): Expr
            }
            (plain ++ helperEqs).reduce(Expr.And(_, _))
          }
        val onHelperItems: Seq[SelectItem] = onSubConjs.map { case (c, i) =>
          SelectItem.SExpr(Operand.CaseWhen(
            Seq((c, Operand.Literal(Lit.LitLong(1L)))),
            Some(Operand.Literal(Lit.LitLong(0L)))), s"__moncnd_$i")
        }
        // resolve each clause against the target schema
        val plansE: Either[AnalyzerError, Vector[MergePlan]] =
          m.whens.zipWithIndex.foldLeft[Either[AnalyzerError, Vector[MergePlan]]](
            Right(Vector.empty)) { case (acc, (w, i)) =>
            acc.flatMap { v =>
              w match {
                case MergeWhen.MUpdate(_, sets, bySrc) =>
                  sets.map(_._1.toLowerCase).groupBy(identity).collectFirst {
                    case (n, occ) if occ.length > 1 => n
                  } match {
                    case Some(n) => Left(DuplicateBinding(n))
                    case None =>
                      sets.foldLeft[Either[AnalyzerError, Vector[AttributeDesc]]](
                        Right(Vector.empty)) { case (sacc, (cn, _)) =>
                        sacc.flatMap(sv => desc.attr(cn)
                          .toRight(UnboundAttribute(cn)).map(sv :+ _))
                      }.map(attrs => v :+ MergePlan.MPUpdate(i, attrs, bySrc))
                  }
                case MergeWhen.MDelete(_, bySrc) =>
                  Right(v :+ MergePlan.MPDelete(i, bySrc))
                case MergeWhen.MInsert(_, cols, vals) =>
                  val colsE: Either[AnalyzerError, Seq[AttributeDesc]] = cols match {
                    case None =>
                      if (vals.length == desc.attributes.length) Right(desc.attributes)
                      else Left(BadFunction(
                        s"MERGE INSERT needs ${desc.attributes.length} values, got ${vals.length}"))
                    case Some(cs) =>
                      cs.map(_.toLowerCase).groupBy(identity).collectFirst {
                        case (n, occ) if occ.length > 1 => n
                      } match {
                        case Some(n) => Left(DuplicateBinding(n))
                        case None if cs.length != vals.length =>
                          Left(BadFunction(
                            s"MERGE INSERT column list has ${cs.length} names but ${vals.length} values"))
                        case None =>
                          cs.foldLeft[Either[AnalyzerError, Vector[AttributeDesc]]](
                            Right(Vector.empty)) { (cacc, cn) =>
                            cacc.flatMap(cv => desc.attr(cn)
                              .toRight(UnboundAttribute(cn)).map(cv :+ _))
                          }
                      }
                  }
                  colsE.map(attrs => v :+ MergePlan.MPInsert(i, attrs))
              }
            }
          }
        plansE.flatMap { plans =>
          def condItem(i: Int, cond: Option[Expr], alias: String): SelectItem =
            SelectItem.SExpr(cond match {
              case Some(c) => Operand.CaseWhen(
                Seq((c, Operand.Literal(Lit.LitLong(1L)))),
                Some(Operand.Literal(Lit.LitLong(0L))))
              case None => Operand.Literal(Lit.LitLong(1L))
            }, alias)
          // synthetic 1: target (row-id'd) LEFT JOIN source — target
          // columns + source-presence marker + matched-clause helpers
          // (+ pre-evaluated ON-subquery helper columns, if any)
          val srcBody = SelectTree(
            Some(Seq(SelectItem.SStar(None),
              SelectItem.SExpr(Operand.Literal(Lit.LitLong(1L)), "__msrc")) ++
              onHelperItems),
            Seq(m.source), None)
          val matchedItems: Seq[SelectItem] =
            (SelectItem.SCol(ColRef(Some(talias), "__lkrid")) +:
              desc.attributes.map(a =>
                SelectItem.SCol(ColRef(Some(talias), a.name)): SelectItem)) ++
            Seq(SelectItem.SCol(ColRef(Some(salias), "__msrc"))) ++
            m.whens.zipWithIndex.flatMap {
              case (MergeWhen.MUpdate(cond, sets, _), i) =>
                condItem(i, cond, s"__mcnd_$i") +: sets.zipWithIndex.map {
                  case ((_, vOp), j) => SelectItem.SExpr(vOp, s"__mval_${i}_$j")
                }
              case (MergeWhen.MDelete(cond, _), i) =>
                Seq(condItem(i, cond, s"__mcnd_$i"))
              case (_: MergeWhen.MInsert, _) => Nil
            }
          val desc2 = desc.copy(attributes =
            desc.attributes :+ AttributeDesc("__lkrid", SqlType.SqlBigInt))
          val chained = new Catalog {
            def resolve(t: String) =
              if (t.equalsIgnoreCase(tname)) Some(desc2) else cat.resolve(t)
            override def resolveFile(f: String, pth: String) =
              cat.resolveFile(f, pth)
          }
          val sel1 = SelectTree(Some(matchedItems),
            Seq(FTable(TableRef(tname, Some(talias)))), None,
            joinSteps = Seq(JoinStep("left", FDerived(srcBody, salias),
              onRewritten)))
          // synthetic 2: source LEFT JOIN target (presence marker) —
          // insert-clause helpers; rows with a NULL marker are unmatched
          val insertWhens = m.whens.zipWithIndex.collect {
            case (w: MergeWhen.MInsert, i) => (w, i)
          }
          val sel2E: Either[AnalyzerError, Option[BoundSelect]] =
            if (insertWhens.isEmpty) Right(None)
            else {
              val tgtBody = SelectTree(
                Some(Seq(SelectItem.SStar(None),
                  SelectItem.SExpr(Operand.Literal(Lit.LitLong(1L)), "__mtgt"))),
                Seq(FTable(TableRef(tname, None))), None)
              val items: Seq[SelectItem] =
                SelectItem.SCol(ColRef(Some(talias), "__mtgt")) +:
                insertWhens.flatMap { case (MergeWhen.MInsert(cond, _, vals), i) =>
                  condItem(i, cond, s"__icnd_$i") +: vals.zipWithIndex.map {
                    case (vOp, k) => SelectItem.SExpr(vOp, s"__ival_${i}_$k")
                  }
                }
              // the insert-side join needs the same pre-evaluated ON
              // helpers — wrap the source in the helper body (same
              // binding name, so insert values resolve unchanged)
              val srcItem: FromItem =
                if (onSubConjs.isEmpty) m.source
                else FDerived(srcBody, salias)
              analyzeSelect(SelectTree(Some(items), Seq(srcItem), None,
                joinSteps = Seq(JoinStep("left", FDerived(tgtBody, talias),
                  onRewritten))),
                cat).map(Some(_))
            }
          for {
            sel1b <- analyzeSelect(sel1, chained)
            sel2b <- sel2E
          } yield BoundMerge(desc, sel1b, sel2b, plans)
        }
    }

  private def analyzeUpdate(u: UpdateTree, cat: Catalog): Either[AnalyzerError, BoundUpdate] =
    cat.resolve(u.table) match {
      case None => Left(RelationNotFound(u.table))
      case Some(desc) =>
        // SQL rejects multiple assignments to the same column (SET a=1,
        // a=2) — mirror the INSERT column-list DuplicateBinding check
        u.sets.map(_._1.toLowerCase).groupBy(identity).collectFirst {
          case (n, occ) if occ.length > 1 => n
        } match {
          case Some(n) => return Left(DuplicateBinding(n))
          case None    => ()
        }
        val sets = Vector.newBuilder[(AttributeDesc, BoundOperand)]
        val subSets = Vector.newBuilder[(AttributeDesc, BoundSelect)]
        for (((cn, op), idx) <- u.sets.zipWithIndex) {
          desc.attr(cn) match {
            case None => return Left(UnboundAttribute(cn))
            case Some(attr) if attr.generated.isDefined =>
              return Left(BadFunction(
                s"column '${attr.name}' is GENERATED — it recomputes " +
                  "automatically; update its source columns instead"))
            case Some(attr) =>
              op match {
                // pure literals keep the INSERT-grade checked conversion
                // (overflow/type errors surface at analysis, not runtime)
                case Operand.Literal(l) =>
                  Convert(l, attr.sqlType) match {
                    case Left(err) => return Left(TypeNotConvertible(idx, err.msg))
                    case Right(_)  => sets += ((attr, BoundOperand.BLit(l)))
                  }
                // SET x = DEFAULT: the declared default (NULL when none);
                // already conversion-checked at CREATE
                case Operand.DefaultVal =>
                  sets += ((attr,
                    BoundOperand.BLit(attr.default.getOrElse(Lit.LitNull))))
                // SET x = <operand with a subquery>: bind as a one-item
                // select over the row-id'd target — `SELECT __lkrid, <op>
                // AS __sv` — so the projection-scope subquery machinery
                // (guards, correlated-aggregate decorrelation) applies
                case expr if parseHasSub(expr) =>
                  val desc2 = desc.copy(attributes =
                    desc.attributes :+ AttributeDesc("__lkrid", SqlType.SqlBigInt))
                  val chained = new Catalog {
                    def resolve(t: String) =
                      if (t.equalsIgnoreCase(desc.name)) Some(desc2) else cat.resolve(t)
                    override def resolveFile(f: String, pth: String) =
                      cat.resolveFile(f, pth)
                  }
                  analyzeSelect(
                    SelectTree(Some(Seq(
                      SelectItem.SCol(ColRef(None, "__lkrid")),
                      SelectItem.SExpr(expr, "__sv"))),
                      Seq(FTable(TableRef(desc.name, None))), None),
                    chained) match {
                    case Left(e)   => return Left(e)
                    case Right(vs) => subSets += ((attr, vs))
                  }
                case expr =>
                  bindSingleTableOperand(desc, expr) match {
                    case Left(e)  => return Left(e)
                    case Right(b) => sets += ((attr, b))
                  }
              }
          }
        }
        u.where match {
          case None    => Right(BoundUpdate(desc, sets.result(), None,
            subSets = subSets.result()))
          case Some(e) if parseHasSub(e) =>
            matchedSelect(desc, e, cat).map(ms =>
              BoundUpdate(desc, sets.result(), None, Some(ms), subSets.result()))
          case Some(e) => bindSingleTableExpr(desc, e).map(b =>
            BoundUpdate(desc, sets.result(), Some(b), subSets = subSets.result()))
        }
    }

  /** `outerScope`: the enclosing query's tables, visible to correlated
    * subqueries (one level — inner bindings shadow outer ones).
    */
  private def analyzeSelect(s: SelectTree, cat: Catalog,
      outerScope: Seq[BoundTable] = Nil): Either[AnalyzerError, BoundSelect] = {
    // resolve FROM with bindings (alias or table name, reference
    // analyzer/mod.rs:48-61); outer-join step tables enter the same
    // scope. A derived table analyzes its subquery first (against the
    // global catalog only — no lateral references) and binds a synthetic
    // TableDesc over the subquery's output.
    val bound = scala.collection.mutable.LinkedHashMap.empty[String, BoundTable]
    val derivedSubs = scala.collection.mutable.Map.empty[String, BoundQuery]
    def addTable(tr: TableRef): Option[AnalyzerError] =
      cat.resolve(tr.name) match {
        case None => Some(RelationNotFound(tr.name))
        case Some(desc) =>
          // a schema-qualified table binds by its LAST segment
          // (FROM s.t → t.col resolves), like DuckDB
          val b = tr.alias.getOrElse(tr.name.split('.').last).toLowerCase
          if (bound.contains(b)) Some(DuplicateBinding(b))
          else { bound(b) = BoundTable(desc, b); None }
      }
    def addFrom(fi: FromItem): Option[AnalyzerError] = fi match {
      case FTable(tr) => addTable(tr)
      case FFileScan(format, path, alias) =>
        cat.resolveFile(format, path) match {
          case Left(m) => Some(BadSubquery(
            s"cannot read $format file '$path': $m"))
          case Right(desc) =>
            val b = alias.toLowerCase
            if (bound.contains(b)) Some(DuplicateBinding(b))
            else {
              bound(b) = BoundTable(desc.copy(name = b), b)
              derivedSubs(b) = BoundFileScan(format, path, desc)
              None
            }
        }
      case FTableFunc(_, start, stopExcl, step, alias, colName, temporal) =>
        val b = alias.toLowerCase
        if (bound.contains(b)) Some(DuplicateBinding(b))
        else {
          val t = if (temporal) SqlType.SqlTimestamp else SqlType.SqlBigInt
          bound(b) = BoundTable(TableDesc(b,
            Seq(AttributeDesc(colName, t, nullable = false))), b)
          derivedSubs(b) = BoundRange(start, stopExcl, step, colName, temporal)
          None
        }
      case FLateral(body, alias) =>
        // branch-wise: each branch (a plain SELECT is a one-branch chain)
        // analyzes against the PRECEDING FROM entries and decorrelates on
        // its own. If no branch correlates — or the body is recursive —
        // this is an ordinary derived table.
        val branchTrees: Seq[(String, SelectTree)] = body match {
          case sel: SelectTree => Seq("" -> sel)
          case u: UnionTree    => ("" -> u.first) +: u.rest
          case _               => Nil
        }
        val analyzedE = branchTrees.foldLeft[Either[AnalyzerError,
            Vector[(String, (BoundSelect, Seq[(BoundCol, BoundCol)]))]]](
          Right(Vector.empty)) { case (acc, (conn, t)) =>
          acc.flatMap(v => analyzeSelect(t, cat, outerScope = bound.values.toSeq)
            .flatMap(decorrelateLateral)
            .map(r => v :+ (conn -> r)))
        }
        analyzedE match {
          case Left(e) => Some(e)
          case Right(brs) if brs.forall(_._2._2.isEmpty) =>
            addFrom(FDerived(body, alias))
          case Right(brs) =>
            val chainClauses = body match {
              case u: UnionTree =>
                u.orderBy.nonEmpty || u.limit.isDefined || u.offset.isDefined
              case _ => false
            }
            if (chainClauses)
              Some(BadSubquery(
                "a correlated set-operation LATERAL does not take ORDER BY/LIMIT/OFFSET"))
            else if (brs.exists(_._1.endsWith("_byname")))
              Some(BadSubquery(
                "BY NAME set operations are not supported in a correlated LATERAL"))
            else if (brs.exists(_._2._1.projection.length !=
                brs.head._2._1.projection.length))
              Some(BadSubquery(
                "set-operation branches must project the same number of columns"))
            else {
              // canonical key order = the first correlated branch's outer
              // columns (duplicates collapse to one hidden key; surplus
              // equalities re-enter the branch core as inner-inner
              // conjuncts); every correlated branch must use the same SET
              def okey(c: BoundCol) = (c.binding, c.attr.name)
              val keyOuter = brs.collectFirst {
                case (_, (_, ps)) if ps.nonEmpty => ps
              }.get.map(_._1)
                .foldLeft(Vector.empty[BoundCol])((v, c) =>
                  if (v.exists(x => okey(x) == okey(c))) v else v :+ c)
              val keySet = keyOuter.map(okey).toSet
              val alignedE = brs.foldLeft[Either[AnalyzerError,
                  Vector[(String, BoundSelect, Seq[BoundCol])]]](
                Right(Vector.empty)) {
                case (acc, (conn, (core, ps))) => acc.flatMap { v =>
                  if (ps.isEmpty) Right(v :+ ((conn, core, Nil)))
                  else if (ps.map(p => okey(p._1)).toSet != keySet)
                    Left(BadSubquery(
                      "every correlated branch of a set-operation LATERAL " +
                        "must correlate on the same outer columns"))
                  else {
                    val byKey = ps.groupBy(p => okey(p._1))
                    val inner = keyOuter.map(ko => byKey(okey(ko)).head._2)
                    val extra = byKey.values.flatMap(g =>
                      g.tail.map(p => BoundExpr.BCmp(CmpOp.Eq,
                        BoundOperand.BCol(g.head._2),
                        BoundOperand.BCol(p._2)))).toSeq
                    val core2 =
                      if (extra.isEmpty) core
                      else core.copy(predicate = (core.predicate.toSeq ++ extra)
                        .reduceOption(BoundExpr.BAnd(_, _)))
                    Right(v :+ ((conn, core2, inner)))
                  }
                }
              }
              alignedE.flatMap(branches =>
                derivedAttributes(branches.head._2).map((branches, _))) match {
                case Left(e) => Some(e)
                case Right((branches, visAttrs)) =>
                  val b = alias.toLowerCase
                  if (bound.contains(b)) Some(DuplicateBinding(b))
                  else {
                    val hidden = keyOuter.zipWithIndex.map { case (oc, i) =>
                      AttributeDesc(s"__lk$i", oc.attr.sqlType) }
                    bound(b) = BoundTable(TableDesc(b, visAttrs ++ hidden), b)
                    derivedSubs(b) = BoundLateral(branches, keyOuter,
                      hidden.map(_.name))
                    None
                  }
              }
            }
        }
      case FDerived(sel, alias) =>
        analyze(sel, cat) match {
          case Left(e) => Some(e)
          case Right(bq) =>
            // a set-op derived table's schema is its FIRST branch's (the
            // lowering keeps the first branch's column names, SQL rule)
            val attrsE = bq match {
              case bsub: BoundSelect => derivedAttributes(bsub)
              case u: BoundUnion     => derivedAttributes(u.first)
              case r: BoundRecursive => Right(r.desc.attributes)
              case _ => Left(BadSubquery(
                "a derived table must be a SELECT or a set-operation chain"))
            }
            attrsE match {
              case Left(e) => Some(e)
              case Right(attrs) =>
                val b = alias.toLowerCase
                if (bound.contains(b)) Some(DuplicateBinding(b))
                else {
                  bound(b) = BoundTable(TableDesc(b, attrs), b)
                  derivedSubs(b) = bq
                  None
                }
            }
        }
    }
    for (fi <- s.from) addFrom(fi).foreach(e => return Left(e))
    for (js <- s.joinSteps) js.item match {
      case _: FLateral if js.kind != "left" && js.kind != "inner" =>
        return Left(BadSubquery(
          "LATERAL join steps support LEFT and INNER JOIN only"))
      case fi => addFrom(fi).foreach(e => return Left(e))
    }
    // scope = inner FROM group + outer-join step tables, in declaration
    // order (LinkedHashMap); BoundSelect.tables carries only the inner
    // group (the join-order DP must not reorder across an outer join)
    val tables = bound.values.toSeq
    val innerTables = tables.take(s.from.length)
    val stepTables = tables.drop(s.from.length)

    // USING / NATURAL join resolution (schemas only, so it happens before
    // projection binding): per step, the (left, right) column pairs whose
    // equality becomes the ON, whose right side merges away under star
    // expansion, and whose bare name prefers the left side.
    val usingResolvedE: Either[AnalyzerError, Map[Int, Vector[(BoundCol, BoundCol)]]] = {
      val out = Map.newBuilder[Int, Vector[(BoundCol, BoundCol)]]
      // columns already merged away by EARLIER using joins don't count
      // as ambiguity for later ones (chained USING on the same name)
      val mergedSoFar = scala.collection.mutable.Set.empty[(String, String)]
      for (((js, rt), k) <- s.joinSteps.zip(stepTables).zipWithIndex
           if js.using.nonEmpty || js.natural) {
        val leftTabs = innerTables ++ stepTables.take(k)
        val names =
          if (!js.natural) js.using
          else rt.desc.attributes.map(_.name)
            .filter(n => leftTabs.exists(_.desc.attr(n).isDefined))
            .filterNot(_.startsWith("__lk"))
        if (js.natural && names.isEmpty)
          return Left(BadFunction("NATURAL JOIN found no common columns"))
        val pairs = Vector.newBuilder[(BoundCol, BoundCol)]
        for (n <- names) {
          val leftHits = leftTabs.flatMap(bt =>
            bt.desc.attr(n).map(a => BoundCol(bt.binding, a)))
            .filterNot(c => mergedSoFar((c.binding, n.toLowerCase)))
          leftHits match {
            case Seq(one) => rt.desc.attr(n) match {
              case Some(ra) => pairs += ((one, BoundCol(rt.binding, ra)))
              case None     => return Left(UnboundAttribute(n))
            }
            case Seq() => return Left(UnboundAttribute(n))
            case _     => return Left(AmbiguousAttribute(n))
          }
        }
        names.foreach(n => mergedSoFar += ((rt.binding, n.toLowerCase)))
        out += (k -> pairs.result())
      }
      Right(out.result())
    }
    val usingResolved = usingResolvedE.getOrElse(Map.empty)
    // (right binding, lower name) pairs merged away by some USING join
    val usingMergedRight: Set[(String, String)] = usingResolved.values.flatten
      .map { case (_, r) => (r.binding, r.attr.name.toLowerCase) }.toSet

    // RIGHT/FULL JOIN USING (and NATURAL RIGHT/FULL) merge each column
    // pair as COALESCE(left, right): the bare name and `*` read the
    // coalesced value (either side may be null-extended), while
    // qualified refs still address the individual sides.
    val coalMerged: Map[String, (BoundCol, BoundCol)] =
      s.joinSteps.zipWithIndex.flatMap { case (js, k) =>
        if ((js.kind == "right" || js.kind == "full") && usingResolved.contains(k))
          usingResolved(k).map(p => p._1.attr.name.toLowerCase -> p)
        else Nil
      }.toMap
    val coalLeft: Set[(String, String)] =
      coalMerged.values.map { case (l, _) => (l.binding, l.attr.name.toLowerCase) }.toSet
    def coalOperand(n: String): BoundOperand = {
      val (l, r) = coalMerged(n.toLowerCase)
      BoundOperand.BFunc("coalesce",
        Seq(BoundOperand.BCol(l), BoundOperand.BCol(r)))
    }
    // the bare name reads the coalesce ONLY when exactly the merged pair
    // binds it — a third table with the same name falls through (loud
    // ambiguity, never a silent pick)
    def coalApplies(ref: ColRef): Boolean =
      ref.binding.isEmpty && coalMerged.contains(ref.name.toLowerCase) &&
        tables.count(bt => bt.desc.attr(ref.name).isDefined) == 2

    // SEMI/ANTI JOIN steps consume their right side: its columns exist
    // only inside that step's own ON (DuckDB's binary SEMI/ANTI scope) —
    // never in the SELECT list, WHERE, later steps' ONs, or `*`.
    val semiAntiB: Set[String] = s.joinSteps.zip(stepTables)
      .collect { case (js, bt) if js.kind == "semi" || js.kind == "anti" =>
        bt.binding }.toSet
    // relaxed to the step's own binding while its ON binds
    var semiVisible: Set[String] = Set.empty
    def semiHidden(b: String): Boolean = semiAntiB(b) && !semiVisible(b)

    def bindCol(ref: ColRef): Either[AnalyzerError, BoundCol] = ref.binding match {
      case Some(b) =>
        bound.get(b.toLowerCase)
          .orElse(outerScope.find(_.binding == b.toLowerCase)) match {
          case None => Left(UnboundBinding(b))
          case Some(bt) if semiHidden(bt.binding) =>
            Left(BadFunction(s"'${bt.binding}' is a SEMI/ANTI JOIN side — " +
              "its columns are only visible in that join's ON"))
          case Some(bt) =>
            bt.desc.attr(ref.name) match {
              case None    => Left(UnboundAttribute(ref.render))
              case Some(a) => Right(BoundCol(bt.binding, a))
            }
        }
      case None =>
        // a RIGHT/FULL-USING-merged bare name is COALESCE(l, r) — not a
        // single column. Callers that can host an expression intercept
        // before calling bindCol; positions that require a plain column
        // (window PARTITION BY, …) fail loudly here.
        if (coalMerged.contains(ref.name.toLowerCase))
          return Left(BadFunction(s"'${ref.name}' is merged by a RIGHT/FULL " +
            "JOIN USING — qualify one side or alias the value in the SELECT list"))
        val hits0 = tables.filterNot(bt => semiHidden(bt.binding))
          .flatMap(bt => bt.desc.attr(ref.name).map(a => BoundCol(bt.binding, a)))
        // a USING-merged column is not ambiguous: the bare name reads
        // the LEFT side (the merged survivor)
        val hits =
          if (hits0.length > 1) {
            val f = hits0.filterNot(c =>
              usingMergedRight((c.binding, c.attr.name.toLowerCase)))
            if (f.length == 1) f else hits0
          } else hits0
        hits match {
          case Seq(one) => Right(one)
          case Seq() =>
            // fall back to the enclosing scope (correlated reference)
            val outerHits = outerScope.flatMap(bt =>
              bt.desc.attr(ref.name).map(a => BoundCol(bt.binding, a)))
            outerHits match {
              case Seq(one) => Right(one)
              case Seq()    => Left(UnboundAttribute(ref.name))
              case _        => Left(AmbiguousAttribute(ref.name))
            }
          case _        => Left(AmbiguousAttribute(ref.name))
        }
    }

    // star expansion (reference analyzer/mod.rs:68-73): whole-row `*`,
    // plus `*` / `t.*` items inside longer SELECT lists
    if (s.from.isEmpty && (s.columns.isEmpty ||
        s.columns.exists(_.exists(_.isInstanceOf[SelectItem.SStar]))))
      return Left(BadFunction("SELECT * requires a FROM clause"))
    // LATERAL hidden-key columns never surface through star expansion
    def visibleAttrs(bt: BoundTable): Seq[AttributeDesc] =
      bt.desc.attributes.filterNot(_.name.startsWith("__lk"))
    def expandAll: Seq[SelectItem] =
      tables.filterNot(bt => semiAntiB(bt.binding))
        .flatMap(bt => visibleAttrs(bt)
        .filterNot(a => usingMergedRight((bt.binding, a.name.toLowerCase)))
        .map { a =>
          // a RIGHT/FULL-USING-merged column surfaces ONCE, at the left
          // side's position, as a BARE ref — the projection binder turns
          // it into COALESCE(l, r) AS name
          if (coalLeft((bt.binding, a.name.toLowerCase)))
            SelectItem.SCol(ColRef(None, a.name))
          else SelectItem.SCol(ColRef(Some(bt.binding), a.name))
        })
    // EXCLUDE drops named columns from the expansion; REPLACE substitutes
    // an expression at the column's position, keeping its name as the
    // alias. Unknown names (and REPLACE of an EXCLUDEd name) fail loudly.
    def applyStarMods(cols: Seq[SelectItem], excl: Seq[String],
        repl: Seq[(Operand, String)],
        ren: Seq[(String, String)]): Either[AnalyzerError, Seq[SelectItem]] = {
      def nameOf(it: SelectItem): String = it match {
        case SelectItem.SCol(r, _) => r.name
        case _                     => ""
      }
      excl.find(e => !cols.exists(c => nameOf(c).equalsIgnoreCase(e))) match {
        case Some(e) => Left(UnboundAttribute(e))
        case None =>
          val kept = cols.filterNot(c =>
            excl.exists(_.equalsIgnoreCase(nameOf(c))))
          repl.find { case (_, n) =>
            !kept.exists(c => nameOf(c).equalsIgnoreCase(n)) } match {
            case Some((_, n)) => Left(UnboundAttribute(n))
            case None =>
              val replaced = kept.map { c =>
                repl.collectFirst {
                  case (e, n) if nameOf(c).equalsIgnoreCase(n) =>
                    SelectItem.SExpr(e, n): SelectItem
                }.getOrElse(c)
              }
              // RENAME keeps position and value, changes the output
              // name; applies AFTER replace (renames the final item)
              def outNameOf(it: SelectItem): String = it match {
                case SelectItem.SCol(r, a) => a.getOrElse(r.name)
                case SelectItem.SExpr(_, a) => a
                case _                      => ""
              }
              ren.find { case (o, _) =>
                !replaced.exists(c => outNameOf(c).equalsIgnoreCase(o)) } match {
                case Some((o, _)) => Left(UnboundAttribute(o))
                case None => Right(replaced.map { c =>
                  ren.collectFirst {
                    case (o, n) if outNameOf(c).equalsIgnoreCase(o) =>
                      c match {
                        case SelectItem.SCol(r, _)  => SelectItem.SCol(r, Some(n)): SelectItem
                        case SelectItem.SExpr(e, _) => SelectItem.SExpr(e, n): SelectItem
                        case other                  => other
                      }
                  }.getOrElse(c)
                })
              }
          }
      }
    }
    // WHERE COLUMNS(*) expansion (DuckDB): a top-level conjunct whose
    // operands contain one COLUMNS call expands into the AND of the
    // predicate instantiated per matched column (the same match rules
    // as the select-item forms: partial regex, EXCLUDE validated).
    def expandColumnsWhere(e0: Expr): Either[AnalyzerError, Expr] = {
      val parts = Expr.conjuncts(e0).map { c =>
        c.collect { case ca: Operand.ColumnsAll => Seq(ca) }.headOption match {
          case None => Right(c)
          case Some(Operand.ColumnsAll(pat, excl)) =>
            val base = expandAll.collect { case SelectItem.SCol(r, _) => r }
            val reOpt = pat.map { pt =>
              try pt.r catch {
                case _: Exception => return Left(BadFunction(
                  s"COLUMNS pattern '$pt' is not a valid regex"))
              }
            }
            excl.find(e => !base.exists(_.name.equalsIgnoreCase(e))) match {
              case Some(e) => return Left(UnboundAttribute(e))
              case None    =>
            }
            val kept = base.filter(r =>
              reOpt.forall(_.findFirstIn(r.name).isDefined) &&
                !excl.exists(_.equalsIgnoreCase(r.name)))
            if (kept.isEmpty)
              Left(BadFunction("WHERE COLUMNS(…) matched no columns"))
            else Right(kept.map(r => c.transform {
              case _: Operand.ColumnsAll => Operand.Col(r)
            }).reduce(Expr.And(_, _)))
        }
      }
      parts.collectFirst { case Left(e) => Left(e) }.getOrElse(
        Right(parts.map(_.toOption.get).reduce(Expr.And(_, _))))
    }

    val projItems: Seq[SelectItem] = s.columns.getOrElse(expandAll).flatMap {
      // COLUMNS('re'): the star expansion filtered by a regex over the
      // column NAME (partial match, DuckDB); no match fails loudly
      case SelectItem.SColumns(pat) =>
        val re = try pat.r catch {
          case _: Exception =>
            return Left(BadFunction(s"COLUMNS pattern '$pat' is not a valid regex"))
        }
        val kept = expandAll.filter {
          case SelectItem.SCol(r, _) => re.findFirstIn(r.name).isDefined
          case _                     => false
        }
        if (kept.isEmpty)
          return Left(BadFunction(s"COLUMNS('$pat') matched no columns"))
        kept
      // COLUMNS(c -> pred): lambda over the column NAME — a static
      // string predicate, evaluated here at expansion (DuckDB)
      case SelectItem.SColumnsLambda(prm, body) =>
        val kept = expandAll.filter {
          case SelectItem.SCol(r, _) =>
            evalNamePred(body, prm, r.name) match {
              case Right(keep) => keep
              case Left(err)   => return Left(err)
            }
          case _ => false
        }
        if (kept.isEmpty)
          return Left(BadFunction("COLUMNS(lambda) matched no columns"))
        kept
      // fn(COLUMNS(…)): the function applied per matched column; output
      // names are the BARE column names (DuckDB 1.0 probed). Aggregates
      // expand to per-column aggregate items (making the SELECT an
      // aggregation like any hand-written min(a), min(b), …); scalar
      // functions expand to computed items carrying the extra args.
      case SelectItem.SColumnsFn(f, pat, excl, extra) =>
        val reOpt = pat.map { pt =>
          try pt.r catch {
            case _: Exception =>
              return Left(BadFunction(s"COLUMNS pattern '$pt' is not a valid regex"))
          }
        }
        val base = expandAll.collect { case SelectItem.SCol(r, _) => r }
        excl.find(e => !base.exists(_.name.equalsIgnoreCase(e))) match {
          case Some(e) => return Left(UnboundAttribute(e))
          case None    =>
        }
        val kept = base.filter(r =>
          reOpt.forall(_.findFirstIn(r.name).isDefined) &&
            !excl.exists(_.equalsIgnoreCase(r.name)))
        if (kept.isEmpty)
          return Left(BadFunction(s"$f(COLUMNS(…)) matched no columns"))
        if (Aggregates.syntaxOf(f).contains(Aggregates.Syntax.Plain)) {
          if (extra.nonEmpty)
            return Left(BadFunction(
              s"$f(COLUMNS(…)) takes no extra arguments"))
          kept.map(r => SelectItem.SAgg(f, Some(Operand.Col(r)), Some(r.name)))
        } else
          kept.map(r =>
            SelectItem.SExpr(Operand.FuncCall(f, Operand.Col(r) +: extra), r.name))
      case SelectItem.SStar(None, Nil, Nil, Nil) => expandAll
      case SelectItem.SStar(None, excl, repl, ren) =>
        applyStarMods(expandAll, excl, repl, ren) match {
          case Right(items) => items
          case Left(e)      => return Left(e)
        }
      case SelectItem.SStar(Some(b), excl, repl, ren) =>
        bound.get(b.toLowerCase) match {
          case Some(bt) =>
            val cols = visibleAttrs(bt).map(a =>
              SelectItem.SCol(ColRef(Some(bt.binding), a.name)))
            applyStarMods(cols, excl, repl, ren) match {
              case Right(items) => items
              case Left(e)      => return Left(e)
            }
          case None => return Left(UnboundBinding(b))
        }
      case other => Seq(other)
    }

    // GROUP BY / ORDER BY ordinals (GROUP BY 1, ORDER BY 2 DESC — the
    // standard positional shorthand): a BARE integer literal key
    // resolves to the n-th SELECT item (stars already expanded above).
    // Aliased items substitute their output name (the output-alias
    // machinery then covers every item kind); unaliased columns
    // substitute their reference, unaliased aggregates the equivalent
    // call operand.
    def ordinalOperand(n: Long, forGroup: Boolean)
        : Either[AnalyzerError, Operand] =
      if (n < 1 || n > projItems.length)
        Left(BadFunction(s"ordinal $n is out of range for a " +
          s"${projItems.length}-item SELECT list"))
      else projItems((n - 1).toInt) match {
        case SelectItem.SCol(ref, _) => Right(Operand.Col(ref))
        case SelectItem.SExpr(op, a) =>
          Right(if (forGroup) op else Operand.Col(ColRef(None, a)))
        case SelectItem.SAgg(f, arg, alias, d) =>
          if (forGroup) Left(BadAggregate(
            s"GROUP BY ordinal $n references an aggregate"))
          else Right(alias.map(a => Operand.Col(ColRef(None, a)): Operand)
            .getOrElse(Operand.AggCall(f, arg, d)))
        case SelectItem.SWin(_, _, _, _, a, _, _) =>
          if (forGroup) Left(BadAggregate(
            s"GROUP BY ordinal $n references a window item"))
          else Right(Operand.Col(ColRef(None, a)))
        case _: SelectItem.SStar => sys.error("unreachable: stars expanded")
      }
    def deOrdinal(ops: Seq[Operand], forGroup: Boolean)
        : Either[AnalyzerError, Seq[Operand]] =
      ops.foldLeft[Either[AnalyzerError, Vector[Operand]]](Right(Vector.empty)) {
        case (acc, Operand.Literal(Lit.LitLong(n))) =>
          acc.flatMap(v => ordinalOperand(n, forGroup).map(v :+ _))
        case (acc, o) => acc.map(_ :+ o)
      }
    val (groupByKeys, orderByKeys) = (for {
      g <- deOrdinal(s.groupBy, forGroup = true)
      o <- deOrdinal(s.orderBy.map(_._1), forGroup = false)
    } yield (g, o.zip(s.orderBy.map(_._2)))) match {
      case Right(rw) => rw
      case Left(e)   => return Left(e)
    }

    val numericTypes: SqlType => Boolean = {
      case SqlType.SqlBigInt | SqlType.SqlInt | SqlType.SqlSmallInt |
           SqlType.SqlDouble | SqlType.SqlReal => true
      case SqlType.SqlDecimal(_, _) => true
      case _ => false
    }

    // set just before HAVING binds (groups are bound by then): the
    // enclosing GROUP BY expressions, usable as correlation keys of
    // HAVING subqueries via their post-aggregation alias column
    var havingGkExprKeys: Map[BoundOperand, BoundCol] = Map.empty

    // lambda parameters in scope while a lambda body binds (list
    // higher-order functions); a parameter shadows same-named columns
    var lambdaScope: Map[String, SqlType] = Map.empty

    // hidden window items' aliases (inline OVER calls desugared in
    // projection operands) — resolve as output references once bound
    var hiddenWinScope: Map[String, SqlType] = Map.empty


    // Lateral column aliases (DuckDB): a SELECT item may reference an
    // earlier (or any acyclic) item's alias — `a+1 AS b, b*2 AS c`.
    // Bound by SUBSTITUTING the alias's expression at the reference, and
    // only as a FALLBACK after normal resolution fails: a real column of
    // the same name wins (DuckDB's precedence). Window/subquery items
    // are not substitutable (no operand form) and keep erroring.
    val lateralAliasOps: Map[String, Operand] =
      s.columns.getOrElse(Nil).collect {
        case SelectItem.SExpr(op, a) => a.toLowerCase -> op
        case SelectItem.SCol(r, Some(a)) =>
          a.toLowerCase -> (Operand.Col(r): Operand)
        case SelectItem.SAgg(f, arg, Some(a), dist) =>
          a.toLowerCase -> (Operand.AggCall(f, arg, dist): Operand)
      }.toMap
    val aliasInProgress = scala.collection.mutable.Set.empty[String]

    def bindOp(o: Operand, allowAgg: Boolean): Either[AnalyzerError, BoundOperand] = {
    // the lateral-alias fallback inherits THIS reference's scope flags:
    // an aggregate-valued alias referenced from WHERE still rejects
    def lateralAliasFallback(c: ColRef,
        err: AnalyzerError): Either[AnalyzerError, BoundOperand] =
      if (c.binding.nonEmpty || !err.isInstanceOf[UnboundAttribute] ||
          !lateralAliasOps.contains(c.name.toLowerCase)) Left(err)
      else {
        val key = c.name.toLowerCase
        if (!aliasInProgress.add(key))
          Left(BadFunction(s"circular lateral column alias '$key'"))
        else
          try bindOp(lateralAliasOps(key), allowAgg)
          finally aliasInProgress -= key
      }
    o match {
      case Operand.Col(ColRef(None, n)) if lambdaScope.contains(n.toLowerCase) =>
        Right(BoundOperand.BLambdaVar(n.toLowerCase, lambdaScope(n.toLowerCase)))
      case Operand.Col(ColRef(None, n))
          if hiddenWinScope.contains(n.toLowerCase) =>
        Right(BoundOperand.BOut(n.toLowerCase, hiddenWinScope(n.toLowerCase)))
      // x.field where x is a struct-typed lambda parameter — DuckDB's
      // dot access, rebound onto by-name struct_extract
      case Operand.Col(ColRef(Some(q), n)) if lambdaScope.contains(q.toLowerCase) =>
        lambdaScope(q.toLowerCase) match {
          case t @ SqlType.SqlStruct(fs) if fs.exists(_._1.equalsIgnoreCase(n)) =>
            Right(BoundOperand.BFunc("struct_extract", Seq(
              BoundOperand.BLambdaVar(q.toLowerCase, t),
              BoundOperand.BLit(Lit.LitString(
                fs.find(_._1.equalsIgnoreCase(n)).get._1)))))
          case t => Left(BadFunction(
            s"'$q.$n': $q is a lambda parameter of type ${t.render}, " +
              "which has no such field"))
        }
      case Operand.Col(c) =>
        if (coalApplies(c)) Right(coalOperand(c.name))
        else bindCol(c) match {
          case Right(bc) => Right(BoundOperand.BCol(bc))
          // s.field where s is not a table binding but IS a
          // struct-typed column — DuckDB's dot access on columns
          case Left(err) => c match {
            case ColRef(Some(q), n) =>
              bindCol(ColRef(None, q)) match {
                case Right(bc) => bc.attr.sqlType match {
                  case SqlType.SqlStruct(fs)
                      if fs.exists(_._1.equalsIgnoreCase(n)) =>
                    Right(BoundOperand.BFunc("struct_extract", Seq(
                      BoundOperand.BCol(bc),
                      BoundOperand.BLit(Lit.LitString(
                        fs.find(_._1.equalsIgnoreCase(n)).get._1)))))
                  case _ => lateralAliasFallback(c, err)
                }
                case _ => lateralAliasFallback(c, err)
              }
            case _ => lateralAliasFallback(c, err)
          }
        }
      case Operand.Literal(v) => Right(BoundOperand.BLit(v))
      case Operand.DefaultVal => Left(BadFunction(
        "DEFAULT is only valid as a plain item of INSERT … VALUES"))
      case Operand.AggCall(f, arg, dist) if allowAgg =>
        if (dist && !Aggregates(f).distinct)
          Left(BadAggregate(s"$f(DISTINCT ...) is not supported"))
        else arg match {
          case None    => Right(BoundOperand.BAgg(f, None, dist))
          case Some(r) => bindOp(r, allowAgg = false).map { b =>
            operandType(b) match {
              // min/max over ENUM follow definition order: aggregate the
              // POSITION, map back to the value
              case SqlType.SqlEnum(vs) if f == "min" || f == "max" =>
                BoundOperand.BFunc("__enum_from_pos", Seq(
                  BoundOperand.BAgg(f, Some(enumPos(b, vs)), dist),
                  enumValsLit(vs)))
              case _ => BoundOperand.BAgg(f, Some(b), dist)
            }
          }
        }
      case Operand.AggCall(f, _, _) =>
        Left(BadAggregate(s"$f(...) is not valid in this context"))
      // every scalar subquery, in every position, binds here: one
      // column; a correlated body (equality pairs and at most one
      // inequality) must be a group-less aggregate, one row per key by
      // construction; otherwise one row is static for a group-less
      // aggregate or LIMIT ≤ 1 and runtime-guarded elsewhere
      case Operand.ScalarSub(sel) =>
        for {
          bsub0 <- analyzeSelect(sel, cat, outerScope = tables ++ outerScope)
          _ <-
            if (bsub0.projection.length == 1) Right(())
            else Left(BadSubquery(
              s"a scalar subquery must project exactly one column, got ${bsub0.projection.length}"))
          dp <- decorrelate(bsub0, allowAggregate = true,
            exprKeys = havingGkExprKeys, allowResidual = true)
          (bsub, pairs, residual) = dp
          ineq <- corrIneq(bsub, residual)
          _ <- if (pairs.isEmpty && ineq.isEmpty) Right(()) else correlatedScalarBody(bsub)
          staticOne = pairs.nonEmpty || ineq.isDefined ||
            (bsub.isAggregate && bsub.groupBy.isEmpty) || bsub.limit.exists(_ <= 1L)
        } yield BoundOperand.BSubVal(bsub, guard = !staticOne, pairs, ineq)
      case Operand.OrderedAgg(f, arg, sep, ord, dist) if allowAgg =>
        val d = Aggregates(f)
        for {
          barg <- bindOp(arg, allowAgg = false)
          _ <- (d.arg, operandType(barg)) match {
            case (Aggregates.ArgType.Text, t) if !t.isInstanceOf[SqlType.SqlVarChar] =>
              Left(BadAggregate(
                s"$f aggregates strings — CAST the argument (got ${t.render})"))
            case (Aggregates.ArgType.Numeric, t) if !numericTypes(t) =>
              Left(BadAggregate(s"$f takes a numeric argument (got ${t.render})"))
            case _ => Right(())
          }
          // DISTINCT dedups VALUES, so a collect's sort key must BE the
          // value — any other key is ambiguous (which key survives per
          // value?)
          _ <-
            if (!dist) Right(())
            else if (!d.distinct)
              Left(BadAggregate(s"$f(DISTINCT …) is not supported"))
            else if (d.syntax != Aggregates.Syntax.Collect ||
                (ord.length == 1 && ord.head._1 == arg)) Right(())
            else Left(BadAggregate(
              s"$f(DISTINCT x …) requires ORDER BY x (the value itself)"))
          bord <- ord.foldLeft[Either[AnalyzerError, Vector[(BoundOperand, Boolean)]]](
            Right(Vector.empty)) { case (acc, (k, d)) =>
            acc.flatMap(v => bindOp(k, allowAgg = false).map(b => v :+ (b -> d)))
          }
        } yield {
          val node = BoundOperand.BOrderedAgg(f, barg, sep, bord, dist)
          if (d.recast) BoundOperand.BCast(node, aggType(f, Seq(barg))) else node
        }
      case Operand.OrderedAgg(f, _, _, _, _) =>
        Left(BadAggregate(s"$f(...) is not valid in this context"))
      case Operand.Cast(o, t) =>
        bindOp(o, allowAgg).flatMap(b =>
          bindCastDispatch(b, t, trying = false))
      // try_cast shares the type-directed dispatch (bindCastDispatch) —
      // the only deltas are NULL-on-miss where the checked cast raises
      // (ENUM membership) and BTryCast at the plain fallthrough
      case Operand.TryCast(o, t) =>
        bindOp(o, allowAgg).flatMap(b =>
          bindCastDispatch(b, t, trying = true))
      // list higher-order functions: the second argument is a lambda
      // whose parameters bind to the list's ELEMENT type; the body may
      // capture enclosing columns (they lower as ordinary references
      // inside Spark's lambda) but not aggregates or subqueries
      // date_add(x, INTERVAL …) is sugar for x + INTERVAL — rebind onto
      // the arithmetic path (typing/validation identical to `+`)
      case Operand.FuncCall(f0, Seq(a, b))
          if f0.equalsIgnoreCase("date_add") =>
        bindOp(Operand.Arith('+', a, b), allowAgg)
      // COLLATE marker (parser postfix `expr COLLATE spec[.spec…]`):
      // binds as the collation's transform chain applied left-to-right
      // — NOCASE→lower, NOACCENT→strip_accents, NFC→nfc_normalize.
      // A comparison with one collated side already had the marker
      // propagated to BOTH sides at parse time (DuckDB semantics), so
      // binding each marker independently collates the comparison.
      // COLLATE applies to VARCHAR only, like DuckDB.
      case Operand.FuncCall(f0, Seq(x)) if f0.startsWith("__collate:") =>
        bindOp(x, allowAgg).flatMap { bx =>
          if (!operandType(bx).isInstanceOf[SqlType.SqlVarChar])
            Left(BadFunction("COLLATE can only be applied to VARCHAR " +
              s"operands, not ${operandType(bx).render}"))
          else Right(f0.stripPrefix("__collate:").split('.')
            .foldLeft(bx) { (acc, spec) =>
              BoundOperand.BFunc(spec match {
                case "nocase"   => "lower"
                case "noaccent" => "strip_accents"
                case _          => "nfc_normalize"
              }, Seq(acc))
            })
        }
      case Operand.Lambda(_, _) =>
        Left(BadFunction(
          "a lambda (x -> …) is only valid as a list-function argument"))
      case Operand.FuncCall(fname, args) =>
        // one catalog resolves the name or alias, checks the arity, the
        // literal arguments and (after binding) the argument types
        val fdef = Functions.lookup(fname.toLowerCase)
        val f = fdef.fold(fname.toLowerCase)(_.name)
        fdef match {
          // list higher-order functions: the second argument is a lambda
          // whose parameters bind to the list's ELEMENT type; the body may
          // capture enclosing columns (they lower as ordinary references
          // inside Spark's lambda) but not aggregates or subqueries
          case Some(d) if d.lambdaParams > 0 =>
            val listName =
              if (f.startsWith("array_")) "list_" + f.stripPrefix("array_") else f
            val nParams = d.lambdaParams
            args match {
              case Seq(listArg, Operand.Lambda(ps, body)) =>
                for {
                  bl <- bindOp(listArg, allowAgg)
                  elemT <- operandType(bl) match {
                    case SqlType.SqlArray(e) => Right(e)
                    case other => Left(BadFunction(
                      s"$f takes a list first argument (got ${other.render})"))
                  }
                  _ <-
                    if (ps.length == nParams) Right(())
                    else Left(BadFunction(
                      s"$f takes a $nParams-parameter lambda"))
                  _ <-
                    if (ps.map(_.toLowerCase).distinct.length == ps.length) Right(())
                    else Left(DuplicateBinding(ps.head))
                  bbody <- {
                    val saved = lambdaScope
                    lambdaScope = lambdaScope ++ ps.map(_.toLowerCase -> elemT)
                    val r = bindOp(body, allowAgg = false)
                    lambdaScope = saved
                    r
                  }
                  _ <-
                    if (!BoundNode.hasSubquery(bbody)) Right(())
                    else Left(BadSubquery(
                      "subqueries are not supported inside a lambda body"))
                  _ <-
                    if (!BoundNode.containsAgg(bbody)) Right(())
                    else Left(BadAggregate(
                      "aggregates are not valid inside a lambda body"))
                } yield BoundOperand.BFunc(listName,
                  Seq(bl, BoundOperand.BLambda(ps.map(_.toLowerCase), bbody)))
              case _ => Left(BadFunction(
                s"$f takes (list, lambda) — e.g. $f(l, x -> x + 1)"))
            }
          case Some(d) if d.arity(args.length) => for {
            _ <- d.literalCheck(args).map(BadFunction(_)).toLeft(())
            bound <- args.foldLeft[Either[AnalyzerError, Vector[BoundOperand]]](
                Right(Vector.empty)) { (acc, a) =>
              acc.flatMap(v => bindOp(a, allowAgg).map(v :+ _))
            }
            bargs <- d.boundCheck(bound, operandType).left.map(BadFunction(_))
          } yield {
            // the bracket postfix parses as list_extract/list_slice; on a
            // VARCHAR base it is DuckDB's STRING subscript/slice —
            // rebound here onto the substr lowering (1-based, inclusive)
            def strBase = operandType(bargs.head) match {
              case SqlType.SqlVarChar(_) => true
              case _                     => false
            }
            def arrBase = operandType(bargs.head) match {
              case SqlType.SqlArray(_) => true
              case _                   => false
            }
            def mapBase = bargs.nonEmpty &&
              operandType(bargs.head).isInstanceOf[SqlType.SqlMap]
            // date_part over age(): the interval never materializes —
            // the fused __age_part computes the symbolic field directly
            // from the two timestamps (age itself lowers to DuckDB's
            // rendered text, the CAST-to-VARCHAR-compatible form)
            if (f == "date_part" && bargs.length == 2 && (bargs(1) match {
              case BoundOperand.BFunc("age", _) => true
              case _ => false
            })) {
              val BoundOperand.BFunc("age", ageArgs) = bargs(1): @unchecked
              val unitOk = bargs.head match {
                case BoundOperand.BLit(Lit.LitString(u)) => Set("year",
                  "month", "day", "hour", "minute", "second")(u.toLowerCase)
                case _ => false
              }
              // other units read the rendered text
              if (!unitOk) BoundOperand.BFunc(f, bargs)
              else BoundOperand.BFunc("__age_part", bargs.head +: ageArgs)
            }
            // timezone(tz, x) / x AT TIME ZONE tz: the DIRECTION is
            // typed — a naive timestamp is interpreted as tz wall time
            // and becomes TIMESTAMPTZ; a TIMESTAMPTZ converts to the tz
            // wall time and becomes naive (DuckDB/Postgres probed)
            else if (f == "timezone" && bargs.length == 2)
              BoundOperand.BFunc(
                if (operandType(bargs(1)) == SqlType.SqlTimestampTz) "__tz_to_naive"
                else "__tz_to_tz", bargs)
            // enum introspection folds at analysis — the value domain is
            // static type information
            else if (f.startsWith("enum_")) {
              val SqlType.SqlEnum(vs) = operandType(bargs.head): @unchecked
              f match {
                case "enum_range" => BoundOperand.BFunc("list_value",
                  vs.map(v => BoundOperand.BLit(Lit.LitString(v))))
                case "enum_first" => BoundOperand.BLit(Lit.LitString(vs.head))
                case "enum_last"  => BoundOperand.BLit(Lit.LitString(vs.last))
                case _ => BoundOperand.BCast(BoundOperand.BArith('-',
                  enumPos(bargs.head, vs),
                  BoundOperand.BLit(Lit.LitLong(1L))), SqlType.SqlInt)
              }
            }
            // typeof folds to the analyzed DuckDB type name — a literal,
            // zero execution (integer literals read BIGINT here where
            // DuckDB narrows small ones to INTEGER; documented)
            else if (f == "typeof")
              BoundOperand.BLit(
                Lit.LitString(duckTypeName(operandType(bargs.head))))
            // m['k'] parses as list_extract; on a MAP base it is
            // DuckDB's map subscript → a LIST of the value
            else if (f == "list_extract" && bargs.length == 2 && mapBase)
              BoundOperand.BFunc("map_extract", bargs)
            else if (f == "list_extract" && bargs.length == 2 && strBase)
              BoundOperand.BFunc("str_extract", bargs)
            else if (f == "list_slice" && bargs.length == 3 && strBase)
              BoundOperand.BFunc("str_slice", bargs)
            // DuckDB's len() works on strings too
            else if ((f == "len" || f == "array_length") && strBase)
              BoundOperand.BFunc("length", bargs)
            // contains(list, x) is list membership when the base is a
            // list (string containment otherwise)
            else if (f == "contains" && bargs.length == 2 && arrBase)
              BoundOperand.BFunc("list_contains", bargs)
            // list_aggregate(l, 'name') → the dedicated list_<name> node
            else if (f == "list_aggregate") {
              val BoundOperand.BLit(Lit.LitString(n)) = bargs(1): @unchecked
              BoundOperand.BFunc(s"list_${n.toLowerCase}", Seq(bargs.head))
            }
            // `a // b` is integer division only when BOTH legs are
            // integers; DuckDB 1.0 probed: a float leg makes // plain
            // division (7.5 // 2 = 3.75)
            else if (f == "__intdiv" && {
              def floaty(t: SqlType) = t match {
                case SqlType.SqlDouble | SqlType.SqlReal |
                     SqlType.SqlDecimal(_, _) => true
                case _ => false
              }
              floaty(operandType(bargs(0))) || floaty(operandType(bargs(1)))
            }) {
              def dbl(b: BoundOperand): BoundOperand = operandType(b) match {
                case SqlType.SqlDecimal(_, _) =>
                  BoundOperand.BCast(b, SqlType.SqlDouble)
                case _ => b
              }
              BoundOperand.BArith('/', dbl(bargs(0)), dbl(bargs(1)))
            }
            // DuckDB parity: round(DECIMAL(p,s) [, n]) stays DECIMAL —
            // result type DECIMAL(p, clamp(n, 0, s)) (probed: scale-0 on
            // the 1-arg/negative-n forms, capped at the input scale).
            // Spark's round on decimal is HALF_UP = DuckDB's
            // half-away-from-zero, so only the static type needs pinning.
            else if (f == "round" && (operandType(bargs.head) match {
              case SqlType.SqlDecimal(_, _) => true
              case _                        => false
            })) {
              val SqlType.SqlDecimal(p, s) = operandType(bargs.head): @unchecked
              val n = bargs.lift(1) match {
                case Some(BoundOperand.BLit(Lit.LitLong(k))) => k.toInt
                case _                                       => 0
              }
              BoundOperand.BCast(BoundOperand.BFunc(f, bargs),
                SqlType.SqlDecimal(p, math.max(0, math.min(n, s))))
            }
            else BoundOperand.BFunc(f, bargs)
          }
          case _ => Left(BadFunction(
            s"$f takes a different number of arguments (got ${args.length})"))
        }
      case Operand.CaseWhen(branches, els) =>
        for {
          bs <- branches.foldLeft[Either[AnalyzerError, Vector[(BoundExpr, BoundOperand)]]](
            Right(Vector.empty)) { case (acc, (c, v)) =>
            acc.flatMap { vs =>
              for {
                bc <- bindExpr(c, allowAgg)
                bv <- bindOp(v, allowAgg)
              } yield vs :+ (bc -> bv)
            }
          }
          be <- els match {
            case None    => Right(None)
            case Some(e) => bindOp(e, allowAgg).map(Some(_))
          }
        } yield BoundOperand.BCase(bs, be)
      case Operand.Interval(n, u) => Right(BoundOperand.BInterval(n, u))
      // a COLUMNS operand outside a WHERE conjunct was not expanded —
      // reject pointedly (select-item forms parse as SColumns/SColumnsFn)
      case Operand.ColumnsAll(_, _) => Left(BadFunction(
        "COLUMNS(…) inside an expression is supported in WHERE " +
          "conjuncts (and as fn(COLUMNS(…)) select items) only"))
      case Operand.Arith(ch, l, r) =>
        // arithmetic legs must be numeric where typed (columns); literals
        // and nested arithmetic check recursively. The exception is
        // temporal arithmetic: <date/timestamp> ± INTERVAL.
        def numOk(b: BoundOperand): Either[AnalyzerError, Unit] = b match {
          case BoundOperand.BCol(c) if !numericTypes(c.attr.sqlType) =>
            Left(NotComparable(c.attr.sqlType, SqlType.SqlDouble))
          // NULL stays arithmetic-legal (NULL + 1 → NULL on both engines);
          // its approximate operand type is VARCHAR(1), exempted here
          case BoundOperand.BLit(Lit.LitNull) => Right(())
          // DuckDB binder parity: no implicit VARCHAR→number coercion in
          // arithmetic — '5' + 3 binder-errors there, and silently
          // coercing here masks typos the oracle catches. (DuckDB 1.0's
          // lone quirk of casting STRING LITERALS for * and % is not
          // replicated: the reject is uniform, like its VARCHAR columns.)
          case _ => operandType(b) match {
            case SqlType.SqlVarChar(_) =>
              Left(BadFunction(
                "no implicit string→number cast in arithmetic " +
                  "(DuckDB binder parity): CAST the string operand explicitly"))
            case _ => Right(())
          }
        }
        def temporal(b: BoundOperand): Boolean = operandType(b) match {
          case SqlType.SqlDate | SqlType.SqlTimestamp |
               SqlType.SqlTimestampTz | SqlType.SqlTime => true
          case _ => false
        }
        // TIME arithmetic takes a DAY-TIME interval carrier in Spark
        // (calendar make_interval rejects TIME), and only sub-day units
        // are meaningful on a time-of-day — dedicated node, dedicated
        // lowering. No wrap-around: Spark raises where DuckDB wraps
        // past midnight (documented divergence).
        def timePlus(op: Char, t: BoundOperand,
            iv: BoundOperand): Either[AnalyzerError, BoundOperand] = {
          val subDay = Set("to_hours", "to_minutes", "to_seconds",
            "to_milliseconds", "to_microseconds")
          val ok = iv match {
            case BoundOperand.BFunc(ivf, _) => subDay(ivf)
            case BoundOperand.BInterval(_, u) =>
              Set("hour", "minute", "second")(u)
            case _ => false
          }
          if (ok) Right(BoundOperand.BFunc(
            if (op == '+') "__time_plus" else "__time_minus", Seq(t, iv)))
          else Left(BadFunction(
            "TIME arithmetic takes sub-day INTERVAL units only"))
        }
        for {
          bl <- bindOp(l, allowAgg)
          br <- bindOp(r, allowAgg)
          res <- (bl, br) match {
            case (_, BoundOperand.BInterval(_, _)) =>
              if ((ch == '+' || ch == '-') && operandType(bl) == SqlType.SqlTime)
                timePlus(ch, bl, br)
              else if ((ch == '+' || ch == '-') && temporal(bl))
                Right(BoundOperand.BArith(ch, bl, br))
              else Left(BadFunction(
                "INTERVAL is only valid as <date/timestamp> + or - INTERVAL"))
            // the to_days(n)-family constructors are interval-valued:
            // same placement rule as INTERVAL literals, but the count
            // can be any expression (column-capable)
            case (_, BoundOperand.BFunc(ivf, _))
                if Functions.isIntervalConstructor(ivf) =>
              if ((ch == '+' || ch == '-') && operandType(bl) == SqlType.SqlTime)
                timePlus(ch, bl, br)
              else if ((ch == '+' || ch == '-') && temporal(bl))
                Right(BoundOperand.BArith(ch, bl, br))
              else Left(BadFunction(
                s"$ivf is INTERVAL-valued: only <date/timestamp> + or - $ivf(n)"))
            case (BoundOperand.BFunc(ivf, _), _)
                if Functions.isIntervalConstructor(ivf) =>
              Left(BadFunction(
                s"$ivf is INTERVAL-valued: it must be the RIGHT operand of + or -"))
            case (BoundOperand.BInterval(_, _), _) =>
              Left(BadFunction(
                "INTERVAL must be the RIGHT operand of + or - (date + INTERVAL)"))
            // date ± integer = days; date - date = day count (DuckDB
            // probed: DATE+5 → DATE, DATE-DATE → INT; timestamps
            // reject like DuckDB's binder)
            case _ if {
              def isInt(t: SqlType) = t match {
                case SqlType.SqlBigInt | SqlType.SqlInt |
                     SqlType.SqlSmallInt => true
                case _ => false
              }
              (operandType(bl), operandType(br)) match {
                case (SqlType.SqlDate, t) if isInt(t) &&
                  (ch == '+' || ch == '-') => true
                case (t, SqlType.SqlDate) if isInt(t) && ch == '+' => true
                case (SqlType.SqlDate, SqlType.SqlDate) if ch == '-' => true
                case _ => false
              }
            } =>
              Right((ch, operandType(bl), operandType(br)) match {
                case ('-', SqlType.SqlDate, SqlType.SqlDate) =>
                  BoundOperand.BFunc("datediff", Seq(bl, br))
                case ('+', SqlType.SqlDate, _) =>
                  BoundOperand.BFunc("date_add_days", Seq(bl, br))
                case ('+', _, SqlType.SqlDate) =>
                  BoundOperand.BFunc("date_add_days", Seq(br, bl))
                case _ =>
                  BoundOperand.BFunc("date_sub_days", Seq(bl, br))
              })
            // any remaining temporal leg has no arithmetic form left —
            // reject at analysis (DuckDB's binder does too) instead of
            // letting Spark throw at plan build
            case _ if Seq(operandType(bl), operandType(br)).exists {
              case SqlType.SqlDate | SqlType.SqlTimestamp => true
              case _ => false
            } =>
              Left(BadFunction(
                "temporal arithmetic takes <date/timestamp> ± INTERVAL, " +
                  "date ± integer days, or date - date"))
            case _ =>
              for { _ <- numOk(bl); _ <- numOk(br) } yield {
                // DuckDB parity: decimal DIVISION returns DOUBLE (probed:
                // typeof(dec/dec) == typeof(dec/int) == DOUBLE), so cast
                // decimal legs to double here — Spark's own decimal
                // division precision rules never engage. +,-,*,% stay
                // exact decimal arithmetic.
                def dbl(b: BoundOperand): BoundOperand = operandType(b) match {
                  case SqlType.SqlDecimal(_, _) =>
                    BoundOperand.BCast(b, SqlType.SqlDouble)
                  case _ => b
                }
                if (ch == '/') BoundOperand.BArith(ch, dbl(bl), dbl(br))
                else BoundOperand.BArith(ch, bl, br)
              }
          }
        } yield res
    }
    }

    /** The one binder of IN and ANY / ALL: the k probe components, and a
      * body that projects one column per component, decorrelated. A
      * correlated body lowers item by item over its decorrelated rows, so
      * it projects row-level items only. A three-valued IN (negated, or
      * under NOT) decomposes into 2^k - 1 compatibility frames, so its
      * probe is capped at three components. The position check after
      * binding rejects the positions that have no subquery lowering.
      */
    def bindProbed(os: Seq[Operand], sub: SelectTree, allowAgg: Boolean,
        threeValued: Boolean): Either[AnalyzerError,
          (Seq[BoundOperand], BoundSelect, Seq[(BoundCol, BoundCol)])] =
      for {
        bos <- os.foldLeft[Either[AnalyzerError, Vector[BoundOperand]]](
          Right(Vector.empty)) { (acc, o) =>
          acc.flatMap(v => bindOp(o, allowAgg).map(v :+ _))
        }
        bsub0 <- analyzeSelect(sub, cat, outerScope = tables ++ outerScope)
        _ <-
          if (bsub0.projection.length == os.length) Right(())
          else Left(BadSubquery(s"the subquery must project one column per " +
            s"probe component (${os.length}), got ${bsub0.projection.length}"))
        dp <- decorrelate(bsub0, exprKeys = havingGkExprKeys)
        (body, pairs, _) = dp
        _ <-
          if (pairs.isEmpty || body.projection.forall(_.rowLevel)) Right(())
          else Left(BadSubquery("a correlated IN / ANY / ALL subquery " +
            "projects plain columns and expressions only"))
        _ <-
          if (os.length <= 3 || !threeValued) Right(())
          else Left(BadSubquery("NOT IN, and IN under NOT, support at most " +
            "3 probe components (the null-aware decomposition grows 2^k)"))
      } yield (bos, body, pairs)

    /** `underNot`: an enclosing NOT makes NULL-vs-FALSE observable, so an
      * IN below it lowers three-valued (a CASE condition resets it, as
      * the marker lowering does).
      */
    def bindExpr(e: Expr, allowAgg: Boolean = false,
        underNot: Boolean = false): Either[AnalyzerError, BoundExpr] = e match {
      case Expr.And(l, r) =>
        for {
          bl <- bindExpr(l, allowAgg, underNot)
          br <- bindExpr(r, allowAgg, underNot)
        } yield BoundExpr.BAnd(bl, br)
      case Expr.Or(l, r) =>
        for {
          bl <- bindExpr(l, allowAgg, underNot)
          br <- bindExpr(r, allowAgg, underNot)
        } yield BoundExpr.BOr(bl, br)
      case Expr.Not(x) => bindExpr(x, allowAgg, underNot = true).map(BoundExpr.BNot(_))
      case Expr.InSubquery(os, sub, neg) =>
        bindProbed(os, sub, allowAgg, threeValued = neg || underNot).map {
          case (bos, body, pairs) => BoundExpr.BInSub(bos, body, pairs, neg)
        }
      case Expr.QuantSubquery(op, o, sub, all) =>
        bindProbed(Seq(o), sub, allowAgg, threeValued = false).map {
          case (bos, body, pairs) => BoundExpr.BQuantSub(op, bos.head, body, all, pairs)
        }
      case Expr.Exists(sub, neg) =>
        for {
          bsub0 <- analyzeSelect(sub, cat, outerScope = tables ++ outerScope)
          // residual (non-equality) correlation binds in every position;
          // each position check rejects it outside a top-level WHERE
          // conjunct, the one place it lowers as a semi/anti join
          dp <- decorrelate(bsub0, exprKeys = havingGkExprKeys,
            allowResidual = true)
        } yield BoundExpr.BExists(dp._1, dp._2, neg, dp._3)
      case Expr.IsNull(o, neg) =>
        bindOp(o, allowAgg).map(BoundExpr.BIsNull(_, neg))
      case Expr.Like(o, pat, neg, ci, esc) =>
        bindOp(o, allowAgg).flatMap {
          // LIKE needs a string operand; non-string columns are a type error
          case b @ BoundOperand.BCol(c) => c.attr.sqlType match {
            case SqlType.SqlVarChar(_) => Right(BoundExpr.BLike(b, pat, neg, ci, esc))
            case t => Left(NotComparable(t, SqlType.SqlVarChar(pat.length max 1)))
          }
          case b => Right(BoundExpr.BLike(b, pat, neg, ci, esc))
        }
      case Expr.Cmp(op, l, r) =>
        for {
          bl <- bindOp(l, allowAgg)
          br <- bindOp(r, allowAgg)
          _ <- (bl, br) match {
            case (BoundOperand.BCol(a), BoundOperand.BCol(b)) =>
              if (SqlType.comparable(a.attr.sqlType, b.attr.sqlType)) Right(())
              else Left(NotComparable(a.attr.sqlType, b.attr.sqlType))
            // a column or computed operand against a literal; aggregate
            // operands are numeric (or arg-typed for min/max) and
            // Catalyst casts their comparison
            case (o, BoundOperand.BLit(lit)) if computed(o) =>
              checkLitCmp(operandType(o), lit)
            case (BoundOperand.BLit(lit), o) if computed(o) =>
              checkLitCmp(operandType(o), lit)
            case _ => Right(())
          }
        } yield {
          // ordering comparisons on ENUM operands compare definition
          // POSITION (equality stays textual — equivalent and cheaper)
          val ordering = op match {
            case CmpOp.Lt | CmpOp.Gt | CmpOp.Le | CmpOp.Ge => true
            case _ => false
          }
          val enumVals =
            if (!ordering) None
            else Seq(bl, br).map(operandType).collectFirst {
              case SqlType.SqlEnum(vs) => vs
            }
          enumVals match {
            case Some(vs) =>
              BoundExpr.BCmp(op, enumPos(bl, vs), enumPos(br, vs))
            case None => BoundExpr.BCmp(op, bl, br)
          }
        }
    }

    def bindWin(w: SelectItem.SWin): Either[AnalyzerError, BoundItem.BIWin] = {
      val SelectItem.SWin(f, args0, parts, ord, a, frame, _) = w
      val d = Aggregates(f)
      val noFrame = d.kind == Aggregates.Kind.Ranking ||
        d.kind == Aggregates.Kind.Shift
      // DISTINCT rides as a sentinel trailing argument (count/sum/
      // avg(DISTINCT x) OVER): strip before arity checks, re-append
      // after binding — the lowering folds a per-frame collect_set
      val distinctW = args0.lastOption.contains(
        Operand.Literal(Lit.LitString(Ast.DistinctSentinel)))
      val args1 = if (distinctW) args0.dropRight(1) else args0
      // IGNORE NULLS rides as a sentinel trailing argument; strip it
      // before arity checks and re-append after binding
      val ignoreNulls = args1.lastOption.contains(
        Operand.Literal(Lit.LitString(IgnoreNullsSentinel)))
      val args = if (ignoreNulls) args1.dropRight(1) else args1
      val argErr = d.winArgs(args)
      for {
        _ <-
          if (ignoreNulls && d.kind != Aggregates.Kind.Shift &&
              d.kind != Aggregates.Kind.Positional)
            Left(BadFunction(s"$f does not take IGNORE NULLS"))
          else if (d.kind == Aggregates.Kind.GroupOnly)
            Left(BadFunction(
              s"$f is not supported in window position (group scope only)"))
          // ranking, shifts and the windowed collects need an order (an
          // unordered distributed collect would be nondeterministic)
          else if ((noFrame || d.ordered) && ord.isEmpty)
            Left(BadFunction(s"$f requires ORDER BY in its OVER clause"))
          else if (d.unordered && (ord.nonEmpty || frame.isDefined))
            Left(BadFunction(
              s"$f takes neither ORDER BY nor a frame in its OVER clause"))
          else if (argErr.isDefined) Left(BadFunction(argErr.get))
          // an explicit frame needs an order, and only makes sense
          // for aggregates and first/last_value (SQL ignores it for
          // ranking and shift functions — reject rather than ignore)
          else if (frame.isDefined && noFrame)
            Left(BadFunction(s"$f does not take a window frame"))
          else if (frame.isDefined && ord.isEmpty)
            Left(BadFunction("a window frame requires ORDER BY in the OVER clause"))
          else if (frame.exists(fr => fr.lo > fr.hi))
            Left(BadFunction("window frame lower bound exceeds upper bound"))
          // a RANGE frame measures VALUE distance along the sort key, so
          // exactly one key (Spark's rangeBetween has the same rule)
          else if (frame.exists(_.range) && ord.length != 1)
            Left(BadFunction("a RANGE frame requires exactly one ORDER BY key"))
          else Right(())
        // aggregate calls ARE allowed in window args/ordering — over an
        // aggregated query the window evaluates post-aggregation
        // (rank() OVER (ORDER BY count(*) DESC)); a non-aggregate query
        // rejects them in the post-binding scope check
        bargs <- args.foldLeft[Either[AnalyzerError, Vector[BoundOperand]]](
          Right(Vector.empty)) { (acc, x) =>
          acc.flatMap(v => bindOp(x, allowAgg = true).map(v :+ _))
        }
        bparts <- parts.foldLeft[Either[AnalyzerError, Vector[BoundOperand]]](
          Right(Vector.empty)) { (acc, r) =>
          acc.flatMap(v => bindOp(r, allowAgg = true).map(v :+ _)) }
        bord <- ord.foldLeft[Either[AnalyzerError, Vector[(BoundOperand, SortDir)]]](
          Right(Vector.empty)) { case (acc, (o, dir)) =>
          acc.flatMap(v => bindOp(o, allowAgg = true).map(b => v :+ (b -> dir)))
        }
        // frame exclusion subtracts the excluded contribution columnar
        // — only decomposable aggregates qualify; GROUP/TIES need a
        // RANGE frame (under ROWS a peer group can straddle the frame
        // boundary) and an ORDER BY (peers are order-key equals)
        _ <-
          if (frame.exists(_.exclude != "none") && !d.decomposable)
            Left(BadFunction(
              s"EXCLUDE supports sum/count/avg/min/max (got $f)"))
          else if (frame.exists(fr =>
              (fr.exclude == "group" || fr.exclude == "ties") &&
                (!fr.range || ord.isEmpty)))
            Left(BadFunction(
              "EXCLUDE GROUP/TIES requires a RANGE frame with ORDER BY " +
                "(peers can straddle a ROWS boundary)"))
          // min/max don't subtract — they decompose into prefix/suffix
          // sub-frames (least/greatest of min over [lo,-1] and [1,hi]).
          // On a RANGE frame that ±1 boundary split is exact only when
          // the order key is integral (a DOUBLE key would silently
          // drop values in (v-1, v)), so non-integer keys reject loudly.
          else if (frame.exists(fr => fr.range && fr.temporal) &&
              !(bord.length == 1 && (operandType(bord.head._1) match {
                case SqlType.SqlTimestamp | SqlType.SqlDate => true
                case _ => false
              })))
            Left(BadFunction(
              "INTERVAL RANGE bounds require a single date/timestamp " +
                "ORDER BY key"))
          else if (d.kind == Aggregates.Kind.Extremum &&
              frame.exists(fr => fr.exclude != "none" && fr.range) &&
              !(ord.length == 1 && (bord.headOption.map(b =>
                operandType(b._1)) match {
                case Some(SqlType.SqlInt | SqlType.SqlBigInt |
                          SqlType.SqlSmallInt) => true
                case _ => false
              })))
            Left(BadFunction(
              s"$f EXCLUDE over a RANGE frame requires a single " +
                "integer-typed ORDER BY key (the prefix/suffix frame " +
                "split is exact only on integral values)"))
          else Right(())
      } yield {
        val withIn =
          if (ignoreNulls) bargs :+ (BoundOperand.BLit(
            Lit.LitString(IgnoreNullsSentinel)): BoundOperand)
          else bargs
        BoundItem.BIWin(f,
          if (distinctW) withIn :+ (BoundOperand.BLit(
            Lit.LitString(Ast.DistinctSentinel)): BoundOperand)
          else withIn,
          bparts, bord, a, frame)
      }
    }

    def bindItem(it: SelectItem): Either[AnalyzerError, BoundItem] = it match {
      case _: SelectItem.SStar =>
        sys.error("unreachable: star items expand before binding")
      case SelectItem.SCol(r, a) =>
        if (coalApplies(r))
          Right(BoundItem.BIExpr(coalOperand(r.name), a.getOrElse(r.name)))
        else bindCol(r) match {
          case Right(bc) => Right(BoundItem.BICol(bc, a))
          // s.field projection where s is a struct-typed COLUMN, not a
          // binding — route through bindOp's dot-access fallback
          case Left(err) => r match {
            case ColRef(Some(_), n) =>
              bindOp(Operand.Col(r), allowAgg = false) match {
                case Right(b) => Right(BoundItem.BIExpr(b, a.getOrElse(n)))
                case Left(_)  => Left(err)
              }
            case _ => Left(err)
          }
        }
      case SelectItem.SAgg(f, None, a, dist) => Right(BoundItem.BIAgg(f, None, a, dist))
      case SelectItem.SAgg(f, Some(r), a, dist) =>
        if (dist && !Aggregates(f).distinct)
          Left(BadAggregate(s"$f(DISTINCT ...) is not supported"))
        else bindOp(r, allowAgg = false).flatMap { b =>
          val badCol = b match {
            case BoundOperand.BCol(c) if Aggregates(f).numeric &&
              !numericTypes(c.attr.sqlType) => Some(c)
            case _ => None
          }
          badCol match {
            case Some(c) => Left(BadAggregate(
              s"$f over non-numeric ${c.render} (${c.attr.sqlType.render})"))
            case None => Right(BoundItem.BIAgg(f, Some(b), a, dist))
          }
        }
      case SelectItem.SExpr(op, a) =>
        // aggregates ARE allowed inside computed projections — the item
        // then makes the query aggregate-scoped (count(*) * 2 AS n2)
        bindOp(op, allowAgg = true).map(BoundItem.BIExpr(_, a))
      case w: SelectItem.SWin => bindWin(w)
    }

    for {
      _ <- usingResolvedE
      // hidden inline-OVER window items (projection operands + QUALIFY)
      // bind FIRST so their aliases resolve as output references while
      // the projection binds
      qwins <- s.qualifyWins.foldLeft[Either[AnalyzerError, Vector[BoundItem.BIWin]]](
        Right(Vector.empty)) { (acc, w) => acc.flatMap(v => bindWin(w).map(v :+ _)) }
      _ <- Right { hiddenWinScope = winTypes(qwins) }
      proj <- projItems.foldLeft[Either[AnalyzerError, Vector[BoundItem]]](Right(Vector.empty)) {
        (acc, r) => acc.flatMap(v => bindItem(r).map(v :+ _))
      }
      // window calls nested in projection EXPRESSIONS: in row scope the
      // hidden columns attach pre-projection; in aggregate scope they
      // attach between aggregation and the final projection (the same
      // select that carries QUALIFY's hidden windows), and the
      // expression's BOut references resolve against those names — the
      // percent-of-total idiom 100.0 * count(*) / sum(count(*)) OVER ()
      pred0 <- s.where match {
        case None    => Right(None)
        case Some(e0) => expandColumnsWhere(e0).flatMap(e =>
          bindExpr(e).flatMap(be =>
            validateResidualWhere(be).map(_ => Some(be))))
      }
      // projection-scope subqueries (CASE conditions etc.) never take
      // residual correlation — no semi/anti join exists there
      _ <-
        if ((proj ++ qwins).exists(_.operands.exists(hasResidualExists)))
          Left(residualPositionError)
        else Right(())
      // LATERAL key equalities travel on their own field (join conditions
      // of the leading FROM group, not WHERE conjuncts)
      pred = pred0
      // join-step ON conditions: bound in the full scope, then checked
      // against the tables visible at that step (inner group + earlier
      // steps + the step's own table); no subqueries, no aggregates
      steps <- s.joinSteps.zip(stepTables).zipWithIndex
        .foldLeft[Either[AnalyzerError, Vector[BoundJoinStep]]](Right(Vector.empty)) {
          case (acc, ((js, bt), k)) => acc.flatMap { v =>
            // USING/NATURAL steps carry a parse placeholder — the real
            // condition is the resolved left=right equality conjunction
            val beE = usingResolved.get(k) match {
              case Some(pairs) => Right(pairs.map { case (l, r) =>
                BoundExpr.BCmp(CmpOp.Eq, BoundOperand.BCol(l),
                  BoundOperand.BCol(r)): BoundExpr }.reduce(BoundExpr.BAnd(_, _)))
              case None =>
                // a SEMI/ANTI step's own table is visible inside its ON
                semiVisible = Set(bt.binding)
                try bindExpr(js.on)
                finally semiVisible = Set.empty
            }
            beE.flatMap { be =>
              val visible = (innerTables ++ stepTables.take(k + 1))
                .map(_.binding).toSet -- (semiAntiB - bt.binding)
              columnsOf(be).find(c => !visible(c.binding)) match {
                case Some(c) => Left(UnboundBinding(c.binding))
                case None if BoundNode.hasSubquery(be) => Left(BadSubquery(
                  "a subquery is not supported in a JOIN step's ON condition"))
                case None =>
                  val asofOk: Either[AnalyzerError, Unit] =
                    if (js.kind.startsWith("asof"))
                      asofDecompose(be, bt.binding) match {
                        case Left(m)  => Left(BadFunction(m))
                        case Right(_) => Right(())
                      }
                    else Right(())
                  asofOk.map(_ => v :+ BoundJoinStep(js.kind, bt, be))
              }
            }
          }
        }
      // GROUP BY keys: a plain column; an unqualified name matching a
      // computed projection alias (GROUP BY substr(c,1,2)'s AS name); or
      // an inline expression — which adopts the alias of a structurally
      // equal projection item when one exists, else a hidden __gk name
      group <- groupByKeys.zipWithIndex
        .foldLeft[Either[AnalyzerError, Vector[BoundGroupKey]]](
          Right(Vector.empty)) { case (acc, (g, gi)) =>
        acc.flatMap { v =>
          val key: Either[AnalyzerError, BoundGroupKey] = g match {
            case Operand.Col(r) if coalApplies(r) =>
              Right(BoundGroupKey.GKExpr(coalOperand(r.name), r.name))
            case Operand.Col(r) =>
              // SQL/Postgres/Spark precedence: an unqualified GROUP BY
              // name resolves to an INPUT column first; projection
              // aliases only catch names that are not table columns
              // (SELECT substr(c_name,1,2) AS c_name … GROUP BY c_name
              // groups by the column, not the expression)
              bindCol(r) match {
                case Right(c) => Right(BoundGroupKey.GKCol(c))
                case Left(directErr) =>
                  val aliased: Option[Either[AnalyzerError, BoundGroupKey]] =
                    if (r.binding.isDefined) None
                    else projItems.collectFirst {
                      case SelectItem.SExpr(op, a) if a.equalsIgnoreCase(r.name) =>
                        bindOp(op, allowAgg = false).map(BoundGroupKey.GKExpr(_, a))
                      case SelectItem.SCol(ref, Some(a)) if a.equalsIgnoreCase(r.name) =>
                        bindCol(ref).map(c => BoundGroupKey.GKCol(c))
                      case SelectItem.SAgg(_, _, Some(a), _) if a.equalsIgnoreCase(r.name) =>
                        Left(BadAggregate(s"cannot GROUP BY the aggregate alias '$a'"))
                      case SelectItem.SWin(_, _, _, _, a, _, _) if a.equalsIgnoreCase(r.name) =>
                        Left(BadAggregate(s"cannot GROUP BY the window alias '$a'"))
                    }
                  aliased.getOrElse(Left(directErr))
              }
            case expr =>
              bindOp(expr, allowAgg = false).flatMap { bop =>
                if (BoundNode.containsAgg(bop))
                  Left(BadAggregate("cannot GROUP BY an aggregate"))
                else {
                  // adopt the alias of a structurally equal projection item
                  val alias = proj.collectFirst {
                    case BoundItem.BIExpr(op, a) if op == bop => a
                  }
                  Right(BoundGroupKey.GKExpr(bop, alias.getOrElse(s"__gk_$gi")))
                }
              }
          }
          key.map(v :+ _)
        }
      }
      groupCols = group.collect { case BoundGroupKey.GKCol(c) => c }
      grouped = (c: BoundCol) => containsCol(groupCols, c)
      groupAliases = group.collect { case BoundGroupKey.GKExpr(_, a) => a.toLowerCase }.toSet
      groupExprOps = group.collect { case BoundGroupKey.GKExpr(op, _) => op }.toSet
      isAgg = BoundSelect.aggregating(group, proj)
      // aggregate-scope validation: bare columns must be grouped; a
      // computed item whose alias IS a group key needs no column check
      // (it is the key)
      _ <- {
        if (!isAgg) {
          // outside aggregate scope a window operand must not aggregate
          // (hidden inline-OVER windows included)
          (proj ++ qwins).collectFirst {
            case w: BoundItem.BIWin if w.operands.exists(BoundNode.containsAgg) =>
              w.func
          } match {
            case Some(f) => Left(BadAggregate(
              s"window $f over an aggregate requires GROUP BY"))
            case None => Right(())
          }
        }
        // subqueries of an aggregated query's SELECT items lower
        // through the post-aggregation MarkerScope keyed on GROUP BY
        // output columns; their probe columns and correlation columns
        // flow through columnsOf, so the grouped-columns check enforces
        // that every outer reference is a GROUP BY key
        else {
          // a window operand that IS a group expression resolves to the
          // grouped key; otherwise its bare columns must be grouped
          // (aggregate arguments are exempt — columnsOf skips them)
          def winOpCols(op: BoundOperand): Seq[BoundCol] =
            if (groupExprOps.contains(op)) Nil else columnsOf(op)
          (proj ++ qwins).flatMap {
            case w: BoundItem.BIWin => w.operands.flatMap(winOpCols)
            case BoundItem.BIExpr(_, a) if groupAliases(a.toLowerCase) => Nil
            case it => it.operands.flatMap(columnsOf)
          }.find(!grouped(_)) match {
            case Some(c) => Left(NotInGroupBy(c.render))
            case None    => Right(())
          }
        }
      }
      // ORDER BY keys: unqualified names matching a projection alias
      // resolve to the OUTPUT column (SQL resolution order); everything
      // else binds as a full operand, aggregates allowed
      order <- {
        val aliases: Seq[String] = projItems.collect {
          case SelectItem.SCol(_, Some(a))    => a
          case SelectItem.SAgg(_, _, Some(a), _) => a
          case SelectItem.SExpr(_, a)         => a
          case SelectItem.SWin(_, _, _, _, a, _, _) => a
        }
        orderByKeys.foldLeft[Either[AnalyzerError, Vector[(BoundOrderKey, SortDir)]]](
          Right(Vector.empty)) { case (acc, (opnd, desc)) =>
          acc.flatMap { v =>
            val key: Either[AnalyzerError, BoundOrderKey] = opnd match {
              case Operand.Col(ColRef(None, name))
                  if aliases.exists(_.equalsIgnoreCase(name)) =>
                Right(BoundOrderKey.OKOutput(name))
              case other =>
                bindOp(other, allowAgg = true)
                  .map(b => BoundOrderKey.OKOperand(enumOrderKey(b)))
            }
            key.map(k => v :+ (k -> desc))
          }
        }
      }
      _ <-
        if (!isAgg)
          // a non-aggregate query cannot sort by an aggregate call
          order.collectFirst {
            case (BoundOrderKey.OKOperand(op), _) if BoundNode.containsAgg(op) => op
          } match {
            case Some(_) => Left(BadAggregate(
              "ORDER BY aggregate requires GROUP BY or an aggregate projection"))
            case None => Right(())
          }
        else
          // a sort operand that IS a group expression (structurally) sorts
          // by the grouped key column; only other operands must be grouped
          order.flatMap {
            case (BoundOrderKey.OKOperand(op), _) if !groupExprOps.contains(op) =>
              columnsOf(op).find(!grouped(_))
            case _ => None
          }.headOption match {
            case Some(c) => Left(NotInGroupBy(c.render))
            case None    => Right(())
          }
      having <- s.having match {
        case None => Right(None)
        case Some(e0) =>
          if (!isAgg)
            Left(BadAggregate("HAVING requires GROUP BY or aggregates"))
          else {
            // unqualified HAVING names that are no table column but match
            // a projection alias resolve to the aliased item's expression
            // (HAVING n > 5 for count(*) AS n — the DuckDB extension);
            // real columns win, and aggregate arguments are not rewritten
            def isColumn(n: String) = tables.exists(_.desc.attr(n).isDefined)
            val aliasRule: PartialFunction[Operand, Operand] = {
              case Operand.Col(ColRef(None, n)) if !isColumn(n) =>
                projItems.collectFirst {
                  case SelectItem.SAgg(f, arg, Some(a), d) if a.equalsIgnoreCase(n) =>
                    Operand.AggCall(f, arg, d)
                  case SelectItem.SExpr(op, a) if a.equalsIgnoreCase(n) => op
                  case SelectItem.SCol(ref, Some(a)) if a.equalsIgnoreCase(n) =>
                    Operand.Col(ref)
                }.getOrElse(Operand.Col(ColRef(None, n)))
              // aggregate arguments and lambda bodies keep their names
              case keep @ (_: Operand.AggCall | _: Operand.OrderedAgg |
                  _: Operand.Lambda) => keep
            }
            havingGkExprKeys = group.collect {
              case BoundGroupKey.GKExpr(op, a) =>
                op -> BoundCol("", AttributeDesc(a, operandType(op)))
            }.toMap
            bindExpr(e0.transform(aliasRule), allowAgg = true).flatMap(h =>
              if (hasResidualExists(h)) Left(residualPositionError) else Right(Some(h)))
          }
      }
      // bare columns inside HAVING must be grouped (aggregate arguments
      // are exempt — they aggregate over the group)
      _ <- having match {
        case None => Right(())
        case Some(h) =>
          val bare = h.collect {
            case BoundOperand.BCol(c) => Seq(c)
            case _: BoundOperand.BAgg | _: BoundOperand.BOrderedAgg => Nil
          }
          bare.find(!grouped(_)) match {
            case Some(c) => Left(NotInGroupBy(c.render))
            case None    => Right(())
          }
      }
      // a correlated HAVING subquery (scalar, EXISTS or IN) joins its
      // frame AFTER aggregation, so every decorrelation key must be a
      // GROUP BY key (its post-aggregation column is the only thing left
      // to join on)
      _ <- having match {
        case None => Right(())
        case Some(h) =>
          // every subquery's correlation columns, CASE conditions included
          def keys(n: BoundNode): Seq[BoundCol] = n.collect {
            case q: Subquery => q.children.flatMap(keys) ++ q.outerCols
          }
          keys(h).find(c => !(
            (c.binding.isEmpty && groupAliases(c.attr.name.toLowerCase)) || grouped(c)
          )) match {
            case Some(c) => Left(BadSubquery(
              s"a correlated HAVING subquery may only reference GROUP BY keys (got ${c.render})"))
            case None => Right(())
          }
      }
      // SELECT DISTINCT reorders evaluation (project → distinct → sort),
      // so any sort key must itself be projected (an output alias is, by
      // definition; a computed operand is not). DISTINCT ON is exempt:
      // its selection happens pre-projection (windowed first-row filter),
      // so sort keys ride as hidden columns like the plain path.
      _ <-
        if (!s.distinct || s.distinctOn.nonEmpty) Right(())
        else order.collectFirst {
          case (BoundOrderKey.OKOperand(BoundOperand.BCol(c)), _)
              if !containsCol(proj.collect { case BoundItem.BICol(pc, _) => pc }, c) =>
            c.render
          case (BoundOrderKey.OKOperand(op), _)
              if !op.isInstanceOf[BoundOperand.BCol] => "<computed expression>"
        } match {
          case Some(r) => Left(DistinctOrderBy(r))
          case None    => Right(())
        }
      // ROLLUP/CUBE/GROUPING SETS only make sense with something to
      // aggregate (the no-aggregate lowering is a plain DISTINCT, which
      // cannot express subtotal rows)
      _ <-
        if (s.groupSpec.isEmpty) Right(())
        else if (!BoundSelect.aggregating(Nil, proj)) Left(BadAggregate(
          "ROLLUP/CUBE/GROUPING SETS requires an aggregate in the projection"))
        else Right(())
      // grouping(col) marks subtotal rows — only meaningful under
      // ROLLUP/CUBE/GROUPING SETS, and only over a grouping key
      _ <- {
        def argsIn(n: BoundNode): Seq[Option[BoundOperand]] =
          n.collect { case BoundOperand.BAgg("grouping", arg, _) => Seq(arg) }
        val groupingArgs = (proj ++ qwins).flatMap(_.operands).flatMap(argsIn) ++
          having.toSeq.flatMap(argsIn) ++
          order.flatMap {
            case (BoundOrderKey.OKOperand(op), _) => argsIn(op)
            case _ => Nil
          }
        if (groupingArgs.isEmpty) Right(())
        else if (s.groupSpec.isEmpty) Left(BadAggregate(
          "grouping() requires GROUP BY ROLLUP/CUBE/GROUPING SETS"))
        else if (groupingArgs.forall {
          case Some(BoundOperand.BCol(c)) => grouped(c)
          case _ => false
        }) Right(())
        else Left(BadAggregate(
          "grouping() takes a single GROUP BY key column"))
      }
      // QUALIFY: hidden inline-OVER window items bind like SELECT-list
      // window items; the predicate then binds with window aliases
      // resolving to BOut output references (everything else binds
      // normally against the input tables)
      qualifyPred <- s.qualify match {
        case None => Right(None: Option[BoundExpr])
        case Some(e0) =>
          val wins = winTypes(proj ++ qwins)
          if (wins.isEmpty)
            Left(BadFunction(
              "QUALIFY requires a window function (an inline OVER call or a window alias)"))
          else if (!isAgg && wins.keys.exists(a =>
              tables.exists(_.desc.attr(a).isDefined)))
            // the non-aggregate lowering attaches window columns at their
            // alias before the filter, so an alias shadowing an input
            // column collides (aggregate scope attaches under generated
            // names — no collision possible)
            Left(BadFunction(
              s"QUALIFY window alias '${wins.keys.find(a =>
                tables.exists(_.desc.attr(a).isDefined)).get}' shadows an input column"))
          else {
            // window aliases bind as output references through the hidden-
            // window scope. In aggregate scope the other operands resolve
            // post-aggregation — aggregate calls become hidden agg columns,
            // bare columns must be GROUP BY keys (validated below, like
            // HAVING) — and subqueries ride HAVING's marker machinery:
            // correlation keys must be GROUP BY keys, markers join the
            // WINDOWED frame. No semi/anti join exists here, so an EXISTS
            // residual rejects.
            val outerWins = hiddenWinScope
            hiddenWinScope = wins
            if (isAgg)
              havingGkExprKeys = group.collect {
                case BoundGroupKey.GKExpr(op, a2) =>
                  op -> BoundCol("", AttributeDesc(a2, operandType(op)))
              }.toMap
            try bindExpr(e0, allowAgg = isAgg).flatMap { bp =>
              // QUALIFY's comparisons type-check strictly: a window output
              // against an incomparable value would fail at run time
              val incomparable = bp.collect {
                case BoundExpr.BCmp(_, l, r)
                    if !SqlType.comparable(operandType(l), operandType(r)) =>
                  Seq(NotComparable(operandType(l), operandType(r)))
                case _: BoundOperand => Nil
              }
              if (hasResidualExists(bp)) Left(residualPositionError)
              else incomparable.headOption.toLeft(Some(bp))
            } finally hiddenWinScope = outerWins
          }
      }
      // QUALIFY bare columns in aggregate scope must be GROUP BY keys
      // (window-alias references read attached columns and are exempt;
      // aggregate calls aggregate over the group like HAVING's)
      _ <- qualifyPred match {
        case Some(qp) if isAgg =>
          // subquery probes and decorrelation keys join post-aggregation
          // too — they must be GROUP BY keys like HAVING's
          columnsOf(qp).find(c => !(
            (c.binding.isEmpty && groupAliases(c.attr.name.toLowerCase)) ||
              grouped(c))) match {
            case Some(c) => Left(NotInGroupBy(c.render))
            case None    => Right(())
          }
        case _ => Right(())
      }
      // DISTINCT ON: bind the keys, then require the ORDER BY to lead
      // with them (Postgres rule — the only thing that makes "first row
      // per key" deterministic). Output aliases in the leading ORDER BY
      // positions resolve to their projected expression for the match.
      don <- {
        if (s.distinctOn.isEmpty) Right(Vector.empty[BoundOperand])
        else s.distinctOn.foldLeft[Either[AnalyzerError, Vector[BoundOperand]]](
          Right(Vector.empty)) { (acc, o) =>
          // over an aggregated query the ON keys resolve post-aggregation
          // (aggregate calls allowed, bare columns must be GROUP BY keys)
          acc.flatMap(v => bindOp(o, allowAgg = isAgg).map(v :+ _))
        }.flatMap { keys =>
          val badAggKey =
            if (!isAgg) None
            else keys.flatMap(k =>
              if (groupExprOps.contains(k)) Nil else columnsOf(k))
              .find(!grouped(_))
          // the projection items an output name resolves to
          def named(n: String): Seq[BoundItem] =
            proj.filter(_.name.exists(_.equalsIgnoreCase(n)))
          def orderKeyOperand(k: BoundOrderKey): Option[BoundOperand] = k match {
            case BoundOrderKey.OKOperand(op) => Some(op)
            case BoundOrderKey.OKOutput(n) => named(n).flatMap {
              case a: BoundItem.BIAgg => Some(a.call)
              case it                 => it.rowValue
            }.headOption
          }
          if (badAggKey.isDefined)
            Left(NotInGroupBy(badAggKey.get.render))
          else if (order.length < keys.length ||
              keys.zip(order).exists { case (k, (ok, _)) =>
                !orderKeyOperand(ok).contains(k) })
            Left(BadFunction(
              "DISTINCT ON requires ORDER BY to lead with the ON expressions"))
          else if (order.exists {
            // a window alias sort key pre-attaches the window column at
            // its alias (like QUALIFY), so shadowing an input column
            // would collide
            case (BoundOrderKey.OKOutput(n), _) =>
              named(n).exists(_.isInstanceOf[BoundItem.BIWin]) &&
                tables.exists(_.desc.attr(n).isDefined)
            case _ => false
          })
            Left(BadFunction(
              "DISTINCT ON window-alias sort key shadows an input column"))
          else Right(keys)
        }
      }
      // unnest placement: a TOP-LEVEL SELECT item only (and at most one —
      // Spark allows one generator per projection; DuckDB zips several,
      // a semantic we don't replicate). Anywhere else rejects loudly.
      _ <- {
        def inOp(n: BoundNode): Boolean =
          n.exists { case BoundOperand.BFunc("unnest", _) => true }
        // a root item's arguments, where the item is one
        def rootArgs(it: BoundItem): Option[Seq[BoundOperand]] =
          it.rowValue.collect { case BoundOperand.BFunc("unnest", as) => as }
        val roots = proj.count(rootArgs(_).isDefined)
        val nested = (proj ++ qwins).exists(it =>
          rootArgs(it).getOrElse(it.operands).exists(inOp))
        val elsewhere =
          pred.exists(inOp) || having.exists(inOp) ||
            qualifyPred.exists(inOp) ||
            group.exists {
              case BoundGroupKey.GKExpr(op, _) => inOp(op)
              case _ => false
            } ||
            order.exists {
              case (BoundOrderKey.OKOperand(op), _) => inOp(op)
              case _ => false
            }
        if (nested || elsewhere)
          Left(BadFunction(
            "unnest(...) is only valid as a top-level SELECT item"))
        else if (roots > 1)
          Left(BadFunction(
            "one unnest(...) per SELECT list (one generator per projection)"))
        else Right(())
      }
      // subquery placement, one check for every kind (scalar, IN, ANY /
      // ALL, EXISTS): valid in SELECT-item expressions, WHERE, HAVING and
      // QUALIFY — but never inside an aggregate argument (the agg
      // computes per input row, pre-join) and never in GROUP BY / ORDER
      // BY / DISTINCT ON keys or window operands (no marker frame joins
      // there)
      _ <- {
        import BoundNode.hasSubquery
        // inside an aggregate's ARGUMENT (any nesting) = bad
        def inAggArg(n: BoundNode): Boolean = n.exists {
          case a @ (_: BoundOperand.BAgg | _: BoundOperand.BOrderedAgg) =>
            a.children.exists(hasSubquery)
        }
        // a window operand may hold none; any other item none in an
        // aggregate argument
        val badProj = (proj ++ qwins).exists {
          case w: BoundItem.BIWin => w.operands.exists(hasSubquery)
          case it                 => it.operands.exists(inAggArg)
        }
        val badOther =
          pred.exists(inAggArg) || having.exists(inAggArg) ||
            qualifyPred.exists(inAggArg) ||
            group.exists {
              case BoundGroupKey.GKExpr(op, _) => hasSubquery(op)
              case _ => false
            } ||
            order.exists {
              case (BoundOrderKey.OKOperand(op), _) => hasSubquery(op)
              case _ => false
            } || don.exists(hasSubquery)
        if (badProj || badOther)
          Left(BadSubquery("a subquery is not supported " +
            "in this position (aggregate arguments, GROUP/ORDER BY, " +
            "window arguments)"))
        else Right(())
      }
    } yield BoundSelect(innerTables, proj, pred, order, s.limit, s.offset,
      group, having, s.distinct, steps, derivedSubs.toMap, s.groupSpec,
      qualifyPred, qwins, don)
  }

  /** An operand whose type decides a comparison with a literal: anything
    * but a literal or an aggregate.
    */
  private def computed(o: BoundOperand): Boolean =
    !o.isInstanceOf[BoundOperand.BLit] && !BoundNode.containsAgg(o)

  private def checkLitCmp(t: SqlType, lit: Lit): Either[AnalyzerError, Unit] = (lit, t) match {
    case (Lit.LitNull, _) => Right(())
    case (Lit.LitLong(_), t) if SqlType.comparable(SqlType.SqlBigInt, t) => Right(())
    case (Lit.LitDouble(_), t) if SqlType.comparable(SqlType.SqlDouble, t) => Right(())
    case (Lit.LitString(_), t) if SqlType.comparable(SqlType.SqlVarChar(0), t) => Right(())
    case (Lit.LitDate(_), t) if SqlType.comparable(SqlType.SqlDate, t) => Right(())
    case (Lit.LitTimestamp(_), t) if SqlType.comparable(SqlType.SqlTimestamp, t) => Right(())
    case (Lit.LitTime(_), t) if SqlType.comparable(SqlType.SqlTime, t) => Right(())
    case (Lit.LitTimestampTz(_), t) if SqlType.comparable(SqlType.SqlTimestampTz, t) => Right(())
    case (Lit.LitBool(_), t) if SqlType.comparable(SqlType.SqlBool, t) => Right(())
    case (l, t) => Left(NotComparable(litType(l), t))
  }
  private def litType(l: Lit): SqlType = l match {
    case Lit.LitLong(_)      => SqlType.SqlBigInt
    case Lit.LitDouble(_)    => SqlType.SqlDouble
    case Lit.LitString(s)    => SqlType.SqlVarChar(s.length max 1)
    case Lit.LitDate(_)      => SqlType.SqlDate
    case Lit.LitTimestamp(_) => SqlType.SqlTimestamp
    case Lit.LitTime(_)      => SqlType.SqlTime
    case Lit.LitTimestampTz(_) => SqlType.SqlTimestampTz
    case Lit.LitBool(_)      => SqlType.SqlBool
    case Lit.LitNull         => SqlType.SqlVarChar(1)
  }

  /** INSERT: arity check with named missing attributes / expected-actual
    * counts, then per-index checked conversion (reference
    * analyzer/mod.rs:211-237, tests :379-442).
    */
  private def analyzeInsert(i: InsertTree, cat: Catalog): Either[AnalyzerError, BoundInsert] =
    cat.resolve(i.table) match {
      case None => Left(RelationNotFound(i.table))
      case Some(desc) =>
        val attrs = desc.attributes
        // an explicit column list permutes the tuple into table order;
        // unlisted columns take NULL
        // generated columns take no slot: full-row VALUES arity excludes
        // them (DuckDB), and naming one in an explicit list rejects
        val slotOf: Either[AnalyzerError, Seq[Option[Int]]] = i.columns match {
          case None =>
            var j = -1
            Right(attrs.map(a =>
              if (a.generated.isDefined) None else { j += 1; Some(j) }))
          case Some(cols) =>
            val idx = scala.collection.mutable.Map.empty[String, Int]
            for ((c, j) <- cols.zipWithIndex) {
              attrs.find(_.name.equalsIgnoreCase(c)) match {
                case None => return Left(UnboundAttribute(c))
                case Some(a) if a.generated.isDefined =>
                  return Left(BadFunction(
                    s"column '${a.name}' is GENERATED — its value cannot be inserted"))
                case _ => ()
              }
              if (idx.put(c.toLowerCase, j).isDefined)
                return Left(DuplicateBinding(c))
            }
            Right(attrs.map(a => idx.get(a.name.toLowerCase)))
        }
        val rowLen = i.columns.map(_.length)
          .getOrElse(attrs.count(_.generated.isEmpty))
        slotOf.flatMap { slots =>
          val out = Vector.newBuilder[Seq[Any]]
          for (row <- i.rows) {
            if (row.length < rowLen)
              return Left(MissingValues(
                i.columns.map(_.drop(row.length))
                  .getOrElse(attrs.drop(row.length).map(_.name))))
            if (row.length > rowLen)
              return Left(TooManyValues(rowLen, row.length))
            val vals = Vector.newBuilder[Any]
            for ((attr, slot) <- attrs.zip(slots)) {
              // unlisted columns fill their DEFAULT (NULL when none)
              val lit = slot.fold(attr.default.getOrElse(Lit.LitNull: Lit))(row(_))
              Convert(lit, attr.sqlType) match {
                case Left(err) =>
                  return Left(TypeNotConvertible(slot.getOrElse(0), err.msg))
                case Right(v) =>
                  // generated columns hold a placeholder here — the
                  // write pass materializes them (and re-checks NULLs)
                  if (v == null && !attr.nullable && attr.generated.isEmpty)
                    return Left(TypeNotConvertible(slot.getOrElse(0),
                      s"NOT NULL constraint failed: ${desc.name}.${attr.name}"))
                  vals += v
              }
            }
            out += vals.result()
          }
          Right(BoundInsert(desc, out.result()))
        }
    }

  private def analyzeCreate(c: CreateTree, cat: Catalog): Either[AnalyzerError, BoundCreate] =
    if (cat.resolve(c.table).isDefined) Left(TableExists(c.table))
    else {
      // nullable=true for user tables, like the reference (analyzer/mod.rs:260);
      // PRIMARY KEY is parsed and ignored (reference main.rs:26).
      // DEFAULT literals run the INSERT-grade checked conversion now, so
      // an unconvertible default fails at CREATE rather than first use.
      for ((cn, lit) <- c.defaults) {
        val t = c.columns.find(_._1.equalsIgnoreCase(cn)).map(_._2)
          .getOrElse(return Left(UnboundAttribute(cn)))
        Convert(lit, t) match {
          case Left(err) => return Left(TypeNotConvertible(0, err.msg))
          case Right(_)  => ()
        }
      }
      // NOT NULL columns must exist and can't default to NULL
      for (nn <- c.notNull) {
        if (!c.columns.exists(_._1.equalsIgnoreCase(nn)))
          return Left(UnboundAttribute(nn))
        if (c.defaults.get(nn.toLowerCase).contains(Lit.LitNull))
          return Left(TypeNotConvertible(0,
            s"column '$nn' is NOT NULL but defaults to NULL"))
      }
      val attrs = c.columns.map { case (n, t) =>
        AttributeDesc(n.toLowerCase, t,
          nullable = !c.notNull.exists(_.equalsIgnoreCase(n)),
          default = c.defaults.get(n.toLowerCase),
          generated = c.generated.get(n.toLowerCase)) }
      // generated columns: the generator binds against the
      // NON-generated columns only (no generator chains), its type must
      // be comparable with the declared one, and DEFAULT is meaningless
      val plainDesc = TableDesc(c.table.toLowerCase,
        attrs.filter(_.generated.isEmpty))
      for (a <- attrs; gen <- a.generated) {
        if (a.default.isDefined)
          return Left(BadFunction(
            s"column '${a.name}' cannot be both GENERATED and DEFAULTed"))
        Parser.parseGenerator(gen) match {
          case Left(pe) => return Left(BadFunction(
            s"GENERATED AS ($gen): ${pe.msg}"))
          case Right(op) => bindSingleTableOperand(plainDesc, op) match {
            case Left(err) => return Left(BadFunction(
              s"GENERATED AS ($gen): ${err.msg} " +
                "(generators may reference non-generated columns only)"))
            case Right(b) =>
              if (!SqlType.comparable(operandType(b), a.sqlType) &&
                  operandType(b) != a.sqlType)
                return Left(BadFunction(
                  s"GENERATED AS ($gen): generator type " +
                    s"${operandType(b).render} does not match " +
                    s"${a.sqlType.render}"))
          }
        }
      }
      // CHECK constraints bind NOW against the new schema — an unknown
      // column, subquery or aggregate fails at CREATE, not first write
      val desc0 = TableDesc(c.table.toLowerCase, attrs)
      for (chk <- c.checks) {
        Parser.parseCheck(chk) match {
          case Left(pe) => return Left(BadFunction(
            s"CHECK ($chk): ${pe.msg}"))
          case Right(e) => bindSingleTableExpr(desc0, e) match {
            case Left(err) => return Left(BadFunction(
              s"CHECK ($chk): ${err.msg}"))
            case Right(_)  => ()
          }
        }
      }
      c.bucket match {
        case Some((col, _)) if !attrs.exists(_.name.equalsIgnoreCase(col)) =>
          Left(UnboundAttribute(col))
        case b =>
          Right(BoundCreate(TableDesc(c.table.toLowerCase, attrs,
            b.map { case (col, n) => (col.toLowerCase, n) }, c.checks)))
      }
    }
}
