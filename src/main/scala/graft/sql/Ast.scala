package graft.sql

/** Parse trees mirroring the reference grammar (reference parser/mod.rs:
  * 28-105): SELECT / INSERT / CREATE TABLE only. We additionally keep OR and
  * `<>` in the tree (the reference parses them too, parser/mod.rs:107-117,
  * then rejects in analysis — we support them end-to-end).
  */
sealed trait ParseTree

object Ast {

  final case class ColRef(binding: Option[String], name: String) {
    def render: String = binding.fold(name)(b => s"$b.$name")
  }
  final case class TableRef(name: String, alias: Option[String])

  /** Sentinel trailing window-call argument carrying IGNORE NULLS (the
    * DuckDB-style `fn(args IGNORE NULLS)` form) through the unchanged
    * SWin/BIWin arg vectors; stripped before validation and lowering.
    */
  val IgnoreNullsSentinel = "__ignore_nulls__"
  /** Trailing-argument marker for DISTINCT window aggregates
    * (count/sum/avg(DISTINCT x) OVER w) — stripped in windowColumn,
    * which lowers them over a per-frame collect_set.
    */
  val DistinctSentinel = "__distinct__"

  /** A FROM-list entry: a named table, or a derived table —
    * `(SELECT …) alias` / `(SELECT … UNION SELECT …) alias` — whose
    * schema is the subquery's output. `select` is a SelectTree or a
    * UnionTree (the only readable forms).
    */
  sealed trait FromItem
  final case class FTable(ref: TableRef) extends FromItem
  final case class FDerived(select: ParseTree, alias: String) extends FromItem
  /** `, LATERAL (SELECT …) alias` — the body (a SELECT or a set-operation
    * chain) may reference PRECEDING FROM tables via equality WHERE
    * conjuncts, branch by branch. Group-less aggregates compute per key,
    * ORDER BY + LIMIT mean top-N PER KEY, and set operations fold per
    * key. An uncorrelated or recursive body is an ordinary derived table
    * (correlated references inside a recursive one fail at binding).
    */
  final case class FLateral(body: ParseTree, alias: String) extends FromItem
  /** A FROM-position table function: range / generate_series with
    * LITERAL bounds, normalized at parse to half-open spark.range
    * semantics (start inclusive, stop exclusive, step ≠ 0). One BIGINT
    * column named `colName` (defaults to the function name, DuckDB).
    */
  /** `temporal = true`: bounds came from TIMESTAMP/DATE literals and
    * the step from a fixed-length INTERVAL — all normalized to epoch
    * MICROS at parse; the lowering converts the range back to a
    * timestamp column.
    */
  final case class FTableFunc(func: String, start: Long, stopExcl: Long,
      step: Long, alias: String, colName: String,
      temporal: Boolean = false) extends FromItem
  /** A FROM-position file scan: `FROM 'x.parquet'` (format from the
    * extension) or `read_parquet('…')` / `read_csv('…')` /
    * `read_json('…')`. The schema comes from the file at analysis
    * (parquet footer; csv/json one inference pass, pinned for the
    * query); the scan itself is a real datasource scan — partition-
    * parallel with pushdown/pruning. Default alias: file basename
    * without the extension.
    */
  final case class FFileScan(format: String, path: String,
      alias: String) extends FromItem

  sealed trait CmpOp { def sql: String }
  object CmpOp {
    case object Eq extends CmpOp  { val sql = "=" }
    case object Neq extends CmpOp { val sql = "<>" }
    case object Lt extends CmpOp  { val sql = "<" }
    case object Gt extends CmpOp  { val sql = ">" }
    case object Le extends CmpOp  { val sql = "<=" }
    case object Ge extends CmpOp  { val sql = ">=" }
    /** IS DISTINCT FROM — null-safe inequality: two-valued (NULLs
      * compare equal to each other, distinct from every value). */
    case object IsDist extends CmpOp  { val sql = "IS DISTINCT FROM" }
    /** IS NOT DISTINCT FROM — null-safe equality (Spark's `<=>`). */
    case object NotDist extends CmpOp { val sql = "IS NOT DISTINCT FROM" }
  }

  /** A parse-side expression node: an operand or a predicate. Each node
    * type defines its children once, as the rebuild `mapChildren`;
    * `children` reads them off it.
    */
  sealed trait Node extends TreeNode[Node] {
    /** This node with each operand child replaced through `op` and each
      * predicate child through `ex`.
      */
    def mapChildren(op: Operand => Operand, ex: Expr => Expr): Node
    final def children: Seq[Node] = {
      val b = Vector.newBuilder[Node]
      mapChildren(o => { b += o; o }, e => { b += e; e })
      b.result()
    }
  }

  sealed trait Operand extends Node {
    def mapChildren(op: Operand => Operand, ex: Expr => Expr): Operand
    /** Top-down rewrite: an operand where `rule` is defined is replaced
      * by its result (and not descended); every other node rebuilds over
      * its rewritten children.
      */
    final def transform(rule: PartialFunction[Operand, Operand]): Operand =
      rule.applyOrElse(this,
        (o: Operand) => o.mapChildren(_.transform(rule), _.transform(rule)))
  }
  object Operand {
    /** An operand without child nodes. */
    sealed trait Leaf extends Operand {
      def mapChildren(op: Operand => Operand, ex: Expr => Expr): Operand = this
    }
    final case class Col(ref: ColRef) extends Leaf
    final case class Literal(lit: Lit) extends Leaf
    /** The DEFAULT keyword as an INSERT VALUES item — substituted with
      * the target column's default literal (or NULL) at analysis; any
      * other position rejects loudly.
      */
    case object DefaultVal extends Leaf
    /** Aggregate call over an optional expression argument (None =
      * count(*)) — valid in the SELECT list, HAVING and ORDER BY.
      * `distinct` = COUNT/SUM(DISTINCT …).
      */
    final case class AggCall(func: String, arg: Option[Operand],
        distinct: Boolean = false) extends Operand {
      def mapChildren(op: Operand => Operand, ex: Expr => Expr) =
        copy(arg = arg.map(op))
    }
    /** Binary arithmetic (+ - * / %) over operands, usual precedence. */
    final case class Arith(op: Char, l: Operand, r: Operand) extends Operand {
      def mapChildren(o: Operand => Operand, ex: Expr => Expr) =
        copy(l = o(l), r = o(r))
    }
    /** Scalar function call: upper/lower/trim/length/abs/round/substr/
      * coalesce/concat over operand arguments (arity checked in analysis).
      */
    final case class FuncCall(name: String, args: Seq[Operand]) extends Operand {
      def mapChildren(op: Operand => Operand, ex: Expr => Expr) =
        copy(args = args.map(op))
    }
    /** Searched CASE: WHEN <pred> THEN <operand> … [ELSE <operand>] END.
      * The simple form (CASE <subject> WHEN <value> …) desugars in the
      * parser to subject = value predicates.
      */
    final case class CaseWhen(branches: Seq[(Expr, Operand)],
        elseOp: Option[Operand]) extends Operand {
      def mapChildren(op: Operand => Operand, ex: Expr => Expr) =
        CaseWhen(branches.map { case (c, v) => (ex(c), op(v)) }, elseOp.map(op))
    }
    /** CAST(<operand> AS <type>) — SQL's checked conversion (Spark cast
      * semantics: out-of-range numerics overflow ANSI-style, bad string
      * parses are NULL like DuckDB's TRY_CAST-adjacent behavior).
      */
    final case class Cast(op: Operand, tpe: SqlType) extends Operand {
      def mapChildren(o: Operand => Operand, ex: Expr => Expr) = copy(op = o(op))
    }
    /** TRY_CAST(x AS type) — NULL instead of an error on a failed
      * conversion (Spark's try_cast, DuckDB's TRY_CAST).
      */
    final case class TryCast(op: Operand, tpe: SqlType) extends Operand {
      def mapChildren(o: Operand => Operand, ex: Expr => Expr) = copy(op = o(op))
    }
    /** INTERVAL '<n>' <unit> — a calendar interval (unit normalized to
      * singular: year/month/week/day/hour/minute/second), valid only as
      * the right operand of + / - against a date/timestamp.
      */
    final case class Interval(n: Long, unit: String) extends Leaf
    /** `(SELECT …)` as an operand — the one parsed form of a scalar
      * subquery, whether it is a whole SELECT item, one side of a
      * comparison or nested in a larger operand. One column; at most one
      * row (per correlation key).
      */
    final case class ScalarSub(sub: SelectTree) extends Leaf
    /** A lambda argument of a list higher-order function:
      * `x -> expr` / `(acc, x) -> expr`. Valid only as an argument of
      * list_transform / list_filter / list_reduce (analyzer-enforced).
      */
    final case class Lambda(params: Seq[String], body: Operand) extends Operand {
      def mapChildren(op: Operand => Operand, ex: Expr => Expr) =
        copy(body = op(body))
    }
    /** COLUMNS(* [EXCLUDE (…)]) / COLUMNS('re') as an OPERAND (DuckDB's
      * WHERE-clause form): a predicate conjunct containing one expands
      * into the AND of the predicate instantiated per matched column.
      * Legal only inside WHERE conjuncts — the analyzer rejects
      * leftovers pointedly.
      */
    final case class ColumnsAll(pattern: Option[String],
        excl: Seq[String]) extends Leaf
    /** An ordered aggregate: string_agg(v, 'sep' [ORDER BY k [DESC], …]).
      * Carries its own intra-group ordering — the lowering sorts the
      * collected group by the keys before joining.
      */
    final case class OrderedAgg(func: String, arg: Operand, sep: String,
        order: Seq[(Operand, Boolean)], distinct: Boolean) extends Operand {
      def mapChildren(op: Operand => Operand, ex: Expr => Expr) =
        copy(arg = op(arg), order = order.map { case (k, d) => (op(k), d) })
    }
  }

  sealed trait Expr extends Node {
    def mapChildren(op: Operand => Operand, ex: Expr => Expr): Expr
    /** [[Operand.transform]] applied to every operand of the predicate. */
    final def transform(rule: PartialFunction[Operand, Operand]): Expr =
      mapChildren(_.transform(rule), _.transform(rule))
  }
  object Expr {
    final case class And(l: Expr, r: Expr) extends Expr {
      def mapChildren(op: Operand => Operand, ex: Expr => Expr) =
        And(ex(l), ex(r))
    }
    final case class Or(l: Expr, r: Expr) extends Expr {
      def mapChildren(op: Operand => Operand, ex: Expr => Expr) =
        Or(ex(l), ex(r))
    }
    final case class Cmp(op: CmpOp, l: Operand, r: Operand) extends Expr {
      def mapChildren(o: Operand => Operand, ex: Expr => Expr) =
        copy(l = o(l), r = o(r))
    }
    /** NOT <expr> — SQL 3VL (NOT NULL → NULL). */
    final case class Not(e: Expr) extends Expr {
      def mapChildren(op: Operand => Operand, ex: Expr => Expr) = Not(ex(e))
    }
    /** <operand> IS [NOT] NULL. */
    final case class IsNull(o: Operand, negated: Boolean) extends Expr {
      def mapChildren(op: Operand => Operand, ex: Expr => Expr) = copy(o = op(o))
    }
    /** <operand> [NOT] LIKE/ILIKE '<pattern>' [ESCAPE '<c>'] (%/_
      * wildcards, standard SQL; `ci` = ILIKE, case-insensitive). */
    final case class Like(o: Operand, pattern: String, negated: Boolean,
        ci: Boolean = false, escape: Option[Char] = None) extends Expr {
      def mapChildren(op: Operand => Operand, ex: Expr => Expr) = copy(o = op(o))
    }
    /** <probe> [NOT] IN (SELECT …) and (p1, …, pk) [NOT] IN (SELECT …) —
      * subquery membership of a k-component probe (k = 1 for a plain
      * operand; `= ANY` and `<> ALL` desugar here too). The subquery
      * projects one column per probe.
      */
    final case class InSubquery(probes: Seq[Operand], sub: SelectTree,
        negated: Boolean) extends Expr {
      def mapChildren(op: Operand => Operand, ex: Expr => Expr) =
        copy(probes = probes.map(op))
    }
    /** [NOT] EXISTS (SELECT …) — lowered as a left-semi/left-anti join;
      * equality-correlated inner predicates become the join condition.
      */
    final case class Exists(sub: SelectTree, negated: Boolean) extends Expr {
      def mapChildren(op: Operand => Operand, ex: Expr => Expr) = this
    }
    /** <operand> <cmp> ANY/SOME/ALL (SELECT …) — quantified comparison.
      * `= ANY` / `<> ALL` desugar in the parser to [NOT] IN; the rest
      * lower as a min/max/count facts frame + a three-valued predicate
      * (TRUE if the quantifier is satisfied, FALSE if refuted with no
      * NULLs involved, NULL otherwise; empty set → FALSE for ANY, TRUE
      * for ALL).
      */
    final case class QuantSubquery(op: CmpOp, l: Operand, sub: SelectTree,
        all: Boolean) extends Expr {
      def mapChildren(o: Operand => Operand, ex: Expr => Expr) = copy(l = o(l))
    }

    /** The AND-tree flattened into its conjuncts (OR subtrees stay whole). */
    def conjuncts(e: Expr): Seq[Expr] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other     => Seq(other)
    }
    // BETWEEN and IN (literal list) desugar in the parser:
    // x BETWEEN a AND b → x >= a AND x <= b; x IN (a, b) → x = a OR x = b
  }

  /** A SELECT-list entry: a plain column or an aggregate call, optionally
    * `AS`-aliased. `SAgg(func, None, _)` is `count(*)`.
    */
  sealed trait SelectItem
  object SelectItem {
    /** `*` or `t.*` as one item of a longer SELECT list — expanded to
      * the (binding's) columns during analysis. DuckDB star modifiers:
      * EXCLUDE (cols) drops columns from the expansion, REPLACE
      * (expr AS col) substitutes an expression at the column's position
      * keeping its name.
      */
    final case class SStar(binding: Option[String],
        exclude: Seq[String] = Nil,
        replace: Seq[(Operand, String)] = Nil,
        /** `* RENAME (old AS new, …)` — keeps position and value,
          * changes the output name (applied after EXCLUDE/REPLACE).
          */
        rename: Seq[(String, String)] = Nil) extends SelectItem
    /** COLUMNS('regex'): star expansion restricted to column names the
      * regex matches (DuckDB; partial match, case-sensitive). Errors
      * when nothing matches.
      */
    final case class SColumns(pattern: String) extends SelectItem
    /** COLUMNS(c -> predicate): star expansion filtered by a lambda over
      * the column NAME (DuckDB) — evaluated statically at analysis. */
    final case class SColumnsLambda(param: String, body: Expr) extends SelectItem
    /** `fn(COLUMNS(*))` / `fn(COLUMNS('re'))` / `fn(COLUMNS(* EXCLUDE
      * (…)))` — the function applied per matched column, one output item
      * per column named with the BARE column name (DuckDB 1.0 probed:
      * min(COLUMNS(*)) outputs are `a, b, …`, not `min(a)`). `extra`
      * carries trailing scalar arguments (round(COLUMNS(*), 1)).
      */
    final case class SColumnsFn(func: String, pattern: Option[String],
        exclude: Seq[String], extra: Seq[Operand]) extends SelectItem
    final case class SCol(ref: ColRef, alias: Option[String] = None) extends SelectItem
    final case class SAgg(func: String, arg: Option[Operand],
        alias: Option[String] = None, distinct: Boolean = false) extends SelectItem
    /** A computed projection (arithmetic over columns/literals, possibly
      * containing aggregate calls); the AS alias is mandatory — a
      * computed column needs a name.
      */
    final case class SExpr(op: Operand, alias: String) extends SelectItem
    /** Window item: row_number/rank/dense_rank, ntile/percent_rank/
      * cume_dist, lag/lead, first/last value, or a windowed aggregate —
      * `<fn>(args…) OVER (PARTITION BY … ORDER BY …
      * [ROWS|RANGE BETWEEN … AND …]) AS a`.
      */
    /** `ref` carries an unresolved `OVER <name>` reference to a named
      * WINDOW-clause spec; parseSelect substitutes the spec in before
      * the tree leaves the parser (analysis never sees a ref).
      */
    final case class SWin(func: String, args: Seq[Operand],
        partitionBy: Seq[Operand], orderBy: Seq[(Operand, SortDir)],
        alias: String, frame: Option[WinFrame] = None,
        ref: Option[String] = None) extends SelectItem
  }

  /** ORDER BY key direction: ASC/DESC plus an optional explicit NULLS
    * FIRST/LAST (None = the engine default — Spark's NULLS FIRST for ASC,
    * NULLS LAST for DESC).
    */
  final case class SortDir(desc: Boolean, nullsFirst: Option[Boolean] = None)

  /** Multi-dimensional grouping over the GROUP BY key list: ROLLUP /
    * CUBE generate the standard prefix / power sets; GROUPING SETS
    * carries explicit sets as INDICES into the groupBy key list (the
    * parser collects the distinct keys in first-appearance order — an
    * empty set is the grand total).
    */
  sealed trait GroupingSpec
  object GroupingSpec {
    case object Rollup extends GroupingSpec
    case object Cube extends GroupingSpec
    final case class Sets(sets: Seq[Seq[Int]]) extends GroupingSpec
  }

  /** Window frame bounds in Spark's offset encoding (Long.MinValue =
    * UNBOUNDED PRECEDING, 0 = CURRENT ROW, Long.MaxValue = UNBOUNDED
    * FOLLOWING). `range = true` is a RANGE frame: offsets are VALUE
    * distances along the (single) ORDER BY key instead of row counts.
    */
  /** `exclude` = the standard's frame-exclusion clause: "none"
    * (EXCLUDE NO OTHERS, the default), "current" (EXCLUDE CURRENT ROW),
    * "group" (the whole peer group leaves), "ties" (peers leave, the
    * current row stays). Supported for sum/count/avg, where the
    * excluded contribution subtracts columnar (min/max are not
    * decomposable and reject at analysis); GROUP/TIES additionally
    * require a RANGE frame — under ROWS a peer group can straddle the
    * frame boundary, which no subtraction can express.
    */
  /** `temporal` = the RANGE bounds came from INTERVAL literals
    * (normalized to SECONDS at parse): the lowering orders by the
    * temporal key's epoch seconds so the value-distance frame is
    * time-windowed.
    */
  /** `groups = true` is a GROUPS frame: offsets count peer GROUPS
    * (distinct order-key tuples) instead of rows or value distance.
    * Lowered exactly as a RANGE frame over a synthetic dense_rank of
    * the order keys — rank distance IS group distance, and CURRENT ROW
    * covers the whole peer group on both encodings.
    */
  final case class WinFrame(range: Boolean, lo: Long, hi: Long,
      exclude: String = "none", temporal: Boolean = false,
      groups: Boolean = false) {
    def excludeCurrent: Boolean = exclude != "none"
  }

  /** A join step applied (in declaration order) after the leading
    * inner-join FROM group: LEFT/RIGHT/FULL [OUTER] JOIN, or an INNER
    * JOIN appearing after an outer join. The joined side is any FROM
    * item — a named table or a derived table `(SELECT …) alias`. Step
    * ON conditions stay attached to their join: an outer-join ON is
    * never WHERE-desugarable, and an inner step's ON must evaluate
    * against the PRECEDING steps' result (SQL evaluates the FROM list
    * left to right), so hoisting it ahead of an outer join would
    * change which rows that join null-extends.
    */
  /** `using` = JOIN ... USING (cols): the ON is a parse placeholder and
    * the analyzer builds the left=right equalities, marks the right
    * side's columns merged-away for star expansion, and prefers the left
    * side when the bare name resolves. `natural` = NATURAL JOIN (USING
    * over every common column, computed from the schemas).
    */
  final case class JoinStep(kind: String /* left|right|full|inner */,
      item: FromItem, on: Expr,
      using: Seq[String] = Nil, natural: Boolean = false)

  /** columns = None means `SELECT *` (star expansion happens in analysis,
    * like reference analyzer/mod.rs:68-73). ORDER BY / LIMIT / GROUP BY +
    * aggregates / DISTINCT / JOIN … ON / outer joins are additive over the
    * reference grammar (its README lists them as TODO). ORDER BY keys are
    * full operands (columns, output aliases, aggregate calls, arithmetic).
    */
  final case class SelectTree(
      columns: Option[Seq[SelectItem]],
      from: Seq[FromItem],
      where: Option[Expr],
      orderBy: Seq[(Operand, SortDir)] = Nil,
      limit: Option[Long] = None,
      offset: Option[Long] = None,
      groupBy: Seq[Operand] = Nil,
      having: Option[Expr] = None,
      distinct: Boolean = false,
      joinSteps: Seq[JoinStep] = Nil,
      groupSpec: Option[GroupingSpec] = None,
      /** QUALIFY <pred> — a filter over window-function results,
        * evaluated after windows compute and before DISTINCT/ORDER BY
        * (the DuckDB/Snowflake clause). The predicate references window
        * items by their SELECT-list alias; inline `fn(...) OVER (...)`
        * calls desugar at parse time into hidden window items
        * (`qualifyWins`) referenced by a generated alias.
        */
      qualify: Option[Expr] = None,
      qualifyWins: Seq[SelectItem.SWin] = Nil,
      /** SELECT DISTINCT ON (keys): keep the FIRST row per distinct key
        * tuple under the query's ORDER BY (Postgres/DuckDB semantics —
        * the ORDER BY must lead with the ON expressions, which makes the
        * selection deterministic). `distinct` is also set.
        */
      distinctOn: Seq[Operand] = Nil) extends ParseTree

  /** SELECT … {UNION [ALL] | INTERSECT | EXCEPT} SELECT … chains with a
    * trailing [ORDER BY …] [LIMIT n]. Connectors are encoded per step
    * ("union" | "union_all" | "intersect" | "except"); INTERSECT binds
    * tighter than UNION/EXCEPT (standard SQL precedence — applied at
    * lowering over the flat chain, since INTERSECT groups are contiguous),
    * UNION/EXCEPT associate left. The trailing ORDER BY binds against the
    * FIRST branch's output names.
    */
  final case class UnionTree(
      first: SelectTree,
      rest: Seq[(String /* connector */, SelectTree)],
      orderBy: Seq[(ColRef, SortDir)] = Nil,
      limit: Option[Long] = None,
      offset: Option[Long] = None) extends ParseTree

  /** EXPLAIN [ANALYZE] <select> — surfaces the engine's physical plan
    * (the analogue of the reference's plan printer) as a one-column
    * result; ANALYZE executes the query first, so the printed plan is
    * AQE's FINAL plan with runtime row counts.
    */
  final case class ExplainTree(select: ParseTree,
      analyze: Boolean = false) extends ParseTree

  /** DROP TABLE [IF EXISTS] t — removes the table, its data files and
    * its statistics from the warehouse.
    */
  final case class DropTree(table: String, ifExists: Boolean) extends ParseTree
  /** CREATE TYPE name AS ENUM ('a', 'b', …) — a named, ordered value
    * domain (DuckDB). */
  final case class CreateEnumTree(name: String, values: Vector[String],
      ifNotExists: Boolean) extends ParseTree
  final case class DropTypeTree(name: String, ifExists: Boolean) extends ParseTree
  /** CREATE MACRO name(p [, q := default]) AS <expr text> — a scalar SQL
    * macro, substituted textually before parse (Parser.expandMacros). */
  final case class CreateMacroTree(name: String,
      params: Vector[(String, Option[String])], body: String,
      orReplace: Boolean, table: Boolean = false) extends ParseTree
  final case class DropMacroTree(name: String, ifExists: Boolean) extends ParseTree

  /** CREATE [OR REPLACE] SEQUENCE [IF NOT EXISTS] name
    * [INCREMENT [BY] n] [MINVALUE n] [MAXVALUE n] [START [WITH] n]
    * [CYCLE | NO CYCLE] — a named monotone counter (DuckDB surface).
    * nextval('name')/currval('name') substitute in FROM-less SELECTs
    * and INSERT … VALUES rows at statement time (driver-side counter —
    * the one place row order is well-defined; a distributed scan's
    * row order is not, so table-sourced nextval rejects loudly).
    */
  final case class CreateSequenceTree(name: String, start: Option[Long],
      inc: Option[Long], minv: Option[Long], maxv: Option[Long],
      cycle: Boolean, ifNotExists: Boolean,
      orReplace: Boolean) extends ParseTree

  final case class DropSequenceTree(name: String,
      ifExists: Boolean) extends ParseTree

  /** CREATE VIEW name AS <select> — a named stored query; references
    * substitute like CTEs at query time (GraftDatabase keeps the
    * registry and persists the statement text).
    */
  final case class CreateViewTree(name: String, body: ParseTree) extends ParseTree
  /** CREATE MATERIALIZED VIEW name [CLUSTERED BY (c) INTO n BUCKETS]
    * AS select — CTAS + a refreshable definition in the catalog.
    */
  final case class CreateMatViewTree(name: String, body: ParseTree,
      bucket: Option[(String, Int)]) extends ParseTree
  /** REFRESH MATERIALIZED VIEW name — re-run the stored definition and
    * replace the table image (bucket layout preserved).
    */
  final case class RefreshMatViewTree(name: String) extends ParseTree
  /** ANALYZE [table]: rebuild the maintained statistics (sample + HLL
    * sketches) — None = every catalog table.
    */
  final case class AnalyzeTree(table: Option[String]) extends ParseTree
  /** SET <option> = <lit> / RESET <option> (value None): session-option
    * compatibility no-op — acknowledged with a notice.
    */
  final case class SetOptionTree(name: String, value: Option[Lit]) extends ParseTree
  final case class DropMatViewTree(name: String, ifExists: Boolean) extends ParseTree
  /** DROP VIEW [IF EXISTS] name. */
  final case class DropViewTree(name: String, ifExists: Boolean) extends ParseTree

  /** WITH RECURSIVE name AS (base UNION [ALL] step) — the step references
    * `name` (the previous iteration's frontier); lowered as an
    * iterate-to-fixpoint loop. Appears only inside FDerived (the
    * substituted reference site).
    */
  final case class RecursiveTree(name: String, base: SelectTree,
      step: SelectTree, unionAll: Boolean) extends ParseTree

  /** INSERT INTO t [(col, …)] VALUES (…), … — an explicit column list
    * reorders the tuples; unlisted columns insert NULL.
    */
  final case class InsertTree(table: String, rows: Seq[Seq[Lit]],
      columns: Option[Seq[String]] = None) extends ParseTree

  /** INSERT … VALUES … ON CONFLICT (cols) DO NOTHING | DO UPDATE SET …
    * — desugared in the analyzer onto the MERGE machinery (the VALUES
    * rows become the source, aliased `excluded` so DO UPDATE values can
    * reference the incoming row the standard way). `sets` None = DO
    * NOTHING. The conflict column list is required: the engine keeps no
    * unique-constraint metadata (PRIMARY KEY is parsed and ignored,
    * reference parity).
    */
  final case class UpsertTree(table: String, columns: Option[Seq[String]],
      rows: Seq[Seq[Operand]], conflictCols: Seq[String],
      sets: Option[Seq[(String, Operand)]]) extends ParseTree

  /** INSERT INTO t SELECT … — the distributed write path (VALUES is for
    * REPL-scale rows); columns align by position with checked casts.
    */
  final case class InsertSelectTree(table: String,
      select: ParseTree /* SelectTree | UnionTree */,
      /** Explicit column list: the SELECT's output aligns positionally
        * onto these names, unlisted table columns NULL-fill. Also the
        * lowered form of expression VALUES rows.
        */
      columns: Option[Seq[String]] = None,
      /** INSERT INTO t BY NAME SELECT …: the SELECT's OUTPUT NAMES are
        * the column list (resolved at analysis once the select binds);
        * unlisted table columns NULL-fill, unknown names reject.
        */
      byName: Boolean = false) extends ParseTree

  /** CREATE TABLE t [CLUSTERED BY (col) INTO n BUCKETS] AS SELECT … —
    * schema derived from the query's output.
    */
  final case class CreateAsTree(table: String, select: ParseTree,
      bucket: Option[(String, Int)] = None) extends ParseTree

  /** DELETE / UPDATE — on the reference's TODO list (README.md:51,
    * planner/mod.rs:92-93 has them commented out); implemented here as
    * copy-on-write parquet rewrites.
    */
  final case class DeleteTree(table: String, where: Option[Expr]) extends ParseTree
  /** UPDATE t SET col = <operand> [, …] [WHERE …] — the value is a full
    * row-level expression over the table's own columns (SET x = x + 1).
    */
  final case class UpdateTree(
      table: String,
      sets: Seq[(String, Operand)],
      where: Option[Expr]) extends ParseTree

  /** MERGE INTO t [alias] USING (s | (SELECT …)) [alias] ON <expr>
    * WHEN [NOT] MATCHED [AND <expr>] THEN UPDATE SET … | DELETE |
    * INSERT [(cols)] VALUES (…). Clauses apply first-match-wins per
    * row; more than one source match per target row is an error (SQL
    * standard). Expressions may reference both sides by alias;
    * subqueries are rejected.
    */
  /** ALTER TABLE — copy-on-write schema evolution. ADD COLUMN is a
    * catalog-only change (parquet reads with an explicit schema yield
    * NULL for columns absent from old files); DROP COLUMN prunes via the
    * explicit read schema; RENAME COLUMN rewrites the data (parquet
    * binds columns by name); RENAME TO moves the table directory.
    */
  final case class AlterAddColTree(table: String, col: String,
      tpe: SqlType) extends ParseTree
  final case class AlterDropColTree(table: String, col: String) extends ParseTree
  final case class AlterRenameColTree(table: String, from: String,
      to: String) extends ParseTree
  final case class AlterRenameTree(table: String, to: String) extends ParseTree
  /** ALTER TABLE t ALTER [COLUMN] c TYPE <type> — copy-on-write cast
    * rewrite (Spark cast semantics: unparseable strings go NULL,
    * numeric overflow wraps ANSI-style).
    */
  final case class AlterColTypeTree(table: String, col: String,
      tpe: SqlType) extends ParseTree
  /** TRUNCATE TABLE t — delete every row, keep the schema (statistics
    * reset with the empty image).
    */
  final case class TruncateTree(table: String) extends ParseTree

  /** PIVOT t ON col USING agg(valcol) GROUP BY g… [ORDER BY g…] — the
    * DuckDB pivot statement: the ON column's distinct non-NULL values
    * (ascending) become output columns of the aggregate.
    */
  final case class PivotTree(table: String, on: String, aggFunc: String,
      aggCol: Option[String], groupBy: Seq[String],
      orderBy: Seq[(String, Boolean)]) extends ParseTree
  /** UNPIVOT t ON c… [INTO NAME n VALUE v] [ORDER BY …] — columns to
    * rows; rows whose unpivoted value is NULL are excluded (DuckDB
    * semantics).
    */
  final case class UnpivotTree(table: String, on: Seq[String],
      nameCol: String, valueCol: String,
      orderBy: Seq[(String, Boolean)]) extends ParseTree

  /** SHOW TABLES — one row per relation (tables, views, materialized
    * views) with its kind. */
  /** CREATE [UNIQUE] INDEX — parsed for compatibility and NO-OP'd with
    * a notice, the reference's own posture (its btree index is a stub,
    * reference btree.rs); the engine's real index stand-in is bucketing
    * (CLUSTERED BY), which gives shuffle-free joins/aggs on the bucket
    * column.
    */
  final case class CreateIndexTree(name: String, table: String,
      cols: Seq[String], unique: Boolean) extends ParseTree

  case object ShowTablesTree extends ParseTree
  /** CREATE TEMP[ORARY] TABLE …: the wrapped create runs normally but
    * the table is session-scoped — excluded from catalog persistence,
    * gone on reopen.
    */
  final case class TempTree(inner: ParseTree) extends ParseTree
  /** CREATE SCHEMA [IF NOT EXISTS] s — a flat namespace level: tables
    * created as s.t live under the schema, unqualified names resolve
    * in 'main' (which always exists and spells away: main.t IS t).
    */
  final case class CreateSchemaTree(name: String,
      ifNotExists: Boolean) extends ParseTree
  /** DROP SCHEMA [IF EXISTS] s [CASCADE|RESTRICT] — RESTRICT (default)
    * refuses while tables remain; CASCADE drops them first.
    */
  final case class DropSchemaTree(name: String, ifExists: Boolean,
      cascade: Boolean) extends ParseTree
  /** USE s — session default schema: unqualified names resolve
    * current-schema-first then main; CREATEs land in it.
    */
  final case class UseTree(name: String) extends ParseTree
  /** ATTACH [DATABASE] '<warehouse-dir>' AS alias — the other
    * warehouse's main-schema tables surface READ-ONLY as alias.t
    * (imported through the external-table machinery, so every DML
    * path rejects them). Session-scoped, like DuckDB's ATTACH.
    */
  final case class AttachTree(path: String, alias: String) extends ParseTree
  /** DETACH alias — removes an attached database's tables. */
  final case class DetachTree(alias: String) extends ParseTree
  /** EXPORT DATABASE '<dir>' — writes schema.sql (one regenerated DDL
    * statement per line: schemas, types, sequences, tables, views,
    * matviews, macros), load.sql (COPY … FROM parquet per table) and
    * per-table parquet data. IMPORT DATABASE replays both files.
    */
  final case class ExportDbTree(dir: String) extends ParseTree
  final case class ImportDbTree(dir: String) extends ParseTree
  /** SET VARIABLE x = <constant expr> / RESET VARIABLE x — DuckDB
    * session variables. The value text evaluates through a FROM-less
    * SELECT at SET time; getvariable('x') splices the stored literal
    * back textually before parse (missing variables read NULL).
    */
  final case class SetVariableTree(name: String,
      valueText: String) extends ParseTree
  final case class ResetVariableTree(name: String) extends ParseTree
  /** PRAGMA name[('arg')] — the tool-compat introspection pragmas:
    * table_info (DuckDB's exact six-column shape), version,
    * database_size, show_tables. Unknown pragmas error loudly.
    */
  final case class PragmaTree(name: String,
      arg: Option[String]) extends ParseTree
  /** BEGIN [TRANSACTION] / COMMIT are accepted as loud no-ops (every
    * write is already an atomic copy-on-write statement); ROLLBACK /
    * ABORT are ERRORS — nothing can be undone, and pretending
    * otherwise would corrupt a script's expectations silently.
    */
  final case class TxnTree(kind: String) extends ParseTree
  /** EXECUTE name[(args)] — runs a session-scoped prepared statement.
    * Argument values are kept as raw SQL TEXT slices: they splice into
    * the stored body at the placeholder sites (parenthesized, like
    * macro arguments), so any constant expression works. Named form is
    * `EXECUTE q(a := 1)`; positional and named cannot mix.
    */
  final case class ExecuteTree(name: String, positional: Vector[String],
      named: Vector[(String, String)]) extends ParseTree
  /** DEALLOCATE [PREPARE] name — drops a prepared statement. */
  final case class DeallocateTree(name: String) extends ParseTree
  /** COMMENT ON <kind> <name> IS '<text>'|NULL — accepted and
    * validated (the relation must exist for TABLE/VIEW/COLUMN kinds)
    * but stored nowhere: the engine has no duckdb_tables()-style
    * catalog-function surface that could read a comment back, so a
    * loud no-op keeps scripts portable without pretending otherwise.
    */
  final case class CommentOnTree(kind: String, name: String)
    extends ParseTree
  /** DESCRIBE t — one row per column: name, type, nullable. */
  final case class DescribeTree(table: String) extends ParseTree
  /** DESCRIBE <query>: the analyzed output schema of any readable query
    * (name, rendered type, nullability) without running it.
    */
  final case class DescribeQueryTree(query: ParseTree) extends ParseTree
  /** SUMMARIZE t — per-column profile: count / nulls / exact ndv /
    * min / max (as strings) / avg / std (numerics, rounded to 4).
    */
  final case class SummarizeTree(table: String) extends ParseTree
  /** SUMMARIZE <query>: the same per-column profile over a query's
    * result (one aggregate pass over the lowered frame).
    */
  final case class SummarizeQueryTree(query: ParseTree) extends ParseTree
  /** COPY (t | (SELECT …)) TO 'path' [(FORMAT parquet|csv|json)] — the
    * distributed export path (partition-parallel write; csv/json write
    * with a header where the format has one).
    */
  /** COPY t FROM '<path>' (FORMAT csv|json|parquet [, HEADER true]):
    * the loading path — parquet binds target columns BY NAME (missing
    * NULL-fill, extras ignored), csv/json apply the table schema
    * positionally; appended with checked casts like INSERT … SELECT.
    */
  final case class CopyFromTree(table: String, path: String,
      format: String, header: Boolean) extends ParseTree

  final case class CopyToTree(source: Either[String, ParseTree],
      path: String, format: String) extends ParseTree

  /** DELETE/UPDATE/INSERT … RETURNING: the affected rows come back as
    * the statement's result (DELETE: removed rows' pre-image; UPDATE:
    * updated rows' post-image; INSERT/upsert: the inserted/updated
    * rows), materialized BEFORE the table rewrite. `items` None = `*`
    * (the full affected rows); Some = a projection over them — each
    * item an operand with an optional AS name (computed items require
    * one).
    */
  final case class ReturningTree(inner: ParseTree,
      items: Option[Seq[(Operand, Option[String])]] = None) extends ParseTree

  /** CREATE OR REPLACE … / CREATE … IF NOT EXISTS: mode wrapper around
    * the plain create statements — OR REPLACE drops an existing
    * same-named relation first, IF NOT EXISTS turns the create into a
    * no-op when it exists (mutually exclusive, parse-enforced).
    */
  final case class CreateModeTree(inner: ParseTree, orReplace: Boolean,
      ifNotExists: Boolean) extends ParseTree

  final case class MergeTree(
      target: TableRef,
      source: FromItem,
      on: Expr,
      whens: Seq[MergeWhen]) extends ParseTree
  sealed trait MergeWhen { def cond: Option[Expr] }
  object MergeWhen {
    /** `bySource = true` is WHEN NOT MATCHED BY SOURCE — the clause
      * applies to TARGET rows without a source match (source-side
      * references read NULL there).
      */
    final case class MUpdate(cond: Option[Expr],
        sets: Seq[(String, Operand)], bySource: Boolean = false) extends MergeWhen
    final case class MDelete(cond: Option[Expr],
        bySource: Boolean = false) extends MergeWhen
    final case class MInsert(cond: Option[Expr],
        columns: Option[Seq[String]], values: Seq[Operand]) extends MergeWhen
  }

  final case class CreateTree(
      table: String,
      columns: Seq[(String, SqlType)],
      primaryKey: Seq[String],
      // CLUSTERED BY (col) INTO n BUCKETS — hash-bucketed storage so
      // repeated joins/aggregations on the bucket column skip the shuffle
      bucket: Option[(String, Int)] = None,
      /** DEFAULT literals by column name (checked against the column
        * type at analysis; filled for omitted / DEFAULT-keyword values
        * on INSERT).
        */
      defaults: Map[String, Lit] = Map.empty,
      /** NOT NULL columns — enforced at INSERT (analysis for literal
        * rows, a codegen'd raise-on-null wrap for frame writes) and on
        * every UPDATE/MERGE rewrite.
        */
      notNull: Seq[String] = Nil,
      /** CHECK constraint expressions as SOURCE TEXT (column- and
        * table-level both) — validated at CREATE, stored in the
        * catalog, re-bound and enforced at every write.
        */
      checks: Seq[String] = Nil,
      /** Generated columns: name → generator SOURCE TEXT. Values
        * materialize at every write from the row's non-generated
        * columns (read-equivalent to VIRTUAL); explicit inserts into a
        * generated column reject.
        */
      generated: Map[String, String] = Map.empty) extends ParseTree
}
