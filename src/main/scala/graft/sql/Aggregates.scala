package graft.sql

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import Ast._
import Analyzer.BoundOperand
import Analyzer.BoundOperand._

/** The aggregate and window-function catalog: everything the engine
  * knows about an aggregate or window function lives in one
  * [[Aggregates.AggDef]] — its name and aliases with the call grammar
  * each spelling takes (the parser), what it admits (DISTINCT, a
  * window position, IGNORE NULLS, the argument's type) and the
  * window-call arguments it checks (the analyzer), its result type, its
  * value over an empty group and ONE lowering to a Spark Column. The
  * grouped SELECT, HAVING, correlated LATERAL, correlated scalar-subquery
  * and window positions all call that lowering: a window position hands
  * it `_.over(w)` to finish each aggregate leaf, the grouped positions
  * the identity. The model is the scalar catalog's ([[Functions]]),
  * which is Spark's own FunctionRegistry: one map from a name to the
  * function.
  *
  * Adding an aggregate = adding one entry.
  */
object Aggregates {
  type Rec = BoundOperand => Column
  type Typer = BoundOperand => SqlType
  /** Finishes each aggregate- or window-function leaf of a lowering: the
    * identity in group position, `_.over(w)` in a window.
    */
  type Over = Column => Column

  /** One bound call as the lowering sees it.
    * @param xs     value operands (none for count(*) and the ranking
    *               functions); a window call carries its literal
    *               arguments here too (ntile n, lag offset and default,
    *               nth_value n, the string_agg separator)
    * @param param  the parser's literal slot: separator, n, fraction(s),
    *               "lo,hi"
    * @param order  the in-call ORDER BY keys with their DESC flag; the
    *               second operand of the two-argument forms
    */
  final case class Call(xs: Seq[BoundOperand], distinct: Boolean = false,
      param: String = "", order: Seq[(BoundOperand, Boolean)] = Nil,
      ignoreNulls: Boolean = false)
  type Lower = (Call, Rec, Over) => Column
  type Result = (Seq[BoundOperand], Typer) => SqlType

  /** What a function is, which decides the positions it takes. */
  sealed trait Kind
  object Kind {
    /** count/sum/avg: decomposable — prefix scans, frame exclusion and a
      * masked DISTINCT in windows.
      */
    case object Running extends Kind
    /** min/max: decomposable; DISTINCT is a no-op. */
    case object Extremum extends Kind
    /** Any other aggregate that also runs over a window. */
    case object Agg extends Kind
    /** An aggregate rejected in window position. */
    case object GroupOnly extends Kind
    /** row_number … cume_dist: window only, ORDER BY required, no frame. */
    case object Ranking extends Kind
    /** lag/lead: window only, ORDER BY required, no frame, IGNORE NULLS. */
    case object Shift extends Kind
    /** first_value/last_value/nth_value: window only, IGNORE NULLS. */
    case object Positional extends Kind
  }
  import Kind._

  /** The call grammar a spelling takes in the parser. */
  sealed trait Syntax
  object Syntax {
    /** `f([DISTINCT] x)`, `count(*)`, FILTER, COLUMNS(…), `… OVER w`. */
    case object Plain extends Syntax
    /** `f(args [IGNORE|RESPECT NULLS]) OVER w`. */
    case object Window extends Syntax
    /** `f(y, x)`. */
    case object Pair extends Syntax
    /** `f(v, k [, n])`. */
    case object ArgExtreme extends Syntax
    /** `f([DISTINCT] v [, 'sep'] [ORDER BY k …]) [OVER w]`. */
    case object Collect extends Syntax
    /** `f(p) WITHIN GROUP (ORDER BY x [DESC])`. */
    case object WithinGroup extends Syntax
    /** `f(x, q)` or `f(x, [q, …])`. */
    case object Quantile extends Syntax
    /** `f(x, q)`. */
    case object Fraction extends Syntax
    /** `f(x, lo, hi)`. */
    case object Bits extends Syntax
    /** Built by the parser from another call form; no spelling of its own. */
    case object Internal extends Syntax
  }
  import Syntax._

  /** The type the argument must have. */
  sealed trait ArgType
  object ArgType {
    case object AnyType extends ArgType
    case object Numeric extends ArgType
    case object Text extends ArgType
  }

  /** One aggregate or window function.
    * @param aliases   other spellings, each with the grammar it takes
    * @param distinct  DISTINCT is admitted
    * @param empty     the value over an empty group (grand-total rows,
    *                  LATERAL completion, scalar-subquery decorrelation);
    *                  Some(null) = NULL; None = not probed, the caller
    *                  keeps Spark's behavior
    * @param winArgs   the window-call argument check (arity, literals)
    * @param ordered   a windowed call needs ORDER BY in its OVER clause
    * @param unordered  a windowed call takes neither ORDER BY nor a frame
    *                  (Spark evaluates it over the whole partition only)
    * @param recast    Spark computes the value in DOUBLE; the analyzer
    *                  casts it back to the result type (exact: the value
    *                  is one of the argument's)
    */
  final case class AggDef(name: String, kind: Kind, result: Result,
      lower: Lower, syntax: Syntax = Plain,
      aliases: Seq[(String, Syntax)] = Nil, distinct: Boolean = false,
      arg: ArgType = ArgType.AnyType, empty: Option[Any] = None,
      winArgs: Seq[Operand] => Option[String] = _ => None,
      ordered: Boolean = false, unordered: Boolean = false,
      recast: Boolean = false) {
    def alias(n: String, s: Syntax = syntax): AggDef =
      copy(aliases = aliases :+ (n -> s))
    def decomposable: Boolean = kind == Running || kind == Extremum
    def numeric: Boolean = arg == ArgType.Numeric
  }

  // ---- building blocks ----

  private def fixed(t: SqlType): Result = (_, _) => t
  private val Big: Result = fixed(SqlType.SqlBigInt)
  private val IntT: Result = fixed(SqlType.SqlInt)
  private val Dbl: Result = fixed(SqlType.SqlDouble)
  private val Str: Result = fixed(SqlType.SqlVarChar(65535))
  /** The first argument's type (min/max, the value functions). */
  private val First: Result = (as, t) => as.headOption.map(t).getOrElse(SqlType.SqlBigInt)
  private val ListOfFirst: Result = (as, t) => SqlType.SqlArray(First(as, t))
  private val SumT: Result = (as, t) => as.headOption.map(t) match {
    case Some(SqlType.SqlDouble)         => SqlType.SqlDouble
    case Some(SqlType.SqlDecimal(_, sc)) => SqlType.SqlDecimal(38, sc)
    case _                               => SqlType.SqlBigInt
  }

  private val Null: Option[Any] = Some(null)

  /** A one-argument aggregate over one Spark aggregate function. */
  private def agg1(name: String, kind: Kind, result: Result)(
      f: Column => Column): AggDef =
    AggDef(name, kind, result, (c, r, w) => w(f(r(c.xs.head))),
      winArgs = oneArg(name))
  /** The same for several names, each reporting under its own name. */
  private def each(names: String*)(d: String => AggDef): Seq[AggDef] = names.map(d)

  private def lit1(o: Operand): Option[Long] = o match {
    case Operand.Literal(Lit.LitLong(n)) => Some(n)
    case _                               => None
  }
  private def oneArg(f: String): Seq[Operand] => Option[String] = {
    case Seq()  => Some(s"windowed $f requires an argument")
    case Seq(_) => None
    case _      => Some(s"windowed $f takes one argument")
  }
  private def longOf(b: BoundOperand): Long = b match {
    case BLit(Lit.LitLong(n)) => n
    case other => throw new IllegalStateException(s"not an integer literal: $other")
  }
  /** A string_agg separator: the parser's slot, or the literal second
    * argument of the window form.
    */
  private def sepOf(c: Call): String = c.xs.lift(1) match {
    case Some(BLit(Lit.LitString(s))) => s
    case _                            => c.param
  }

  /** string_agg / array_agg: collect the values — with the in-call keys
    * when there are any, deduplicated under DISTINCT (the analyzer pinned
    * the key to the value) — sort the collected group once and project
    * the values back out. A window frame is already in OVER order, so
    * nothing sorts there. NULL values are kept only by array_agg (DuckDB
    * keeps them; string_agg skips); the struct wrap keeps them collectable.
    */
  private def collected(c: Call, r: Rec, w: Over, skipNulls: Boolean): Column = {
    val v = r(c.xs.head)
    def keep(x: Column): Column = if (skipNulls) when(v.isNotNull, x) else x
    val sorted =
      if (c.distinct) array_sort(array_distinct(w(collect_list(keep(struct(v.as("v")))))))
      else if (c.order.isEmpty) w(collect_list(keep(struct(v.as("v")))))
      else array_sort(w(collect_list(keep(struct(c.order.zipWithIndex.map {
        case ((k, _), i) => r(k).as(s"k$i") } :+ v.as("v"): _*)))))
    val dir = if (c.order.headOption.exists(_._2)) reverse(sorted) else sorted
    transform(dir, x => x.getField("v"))
  }

  /** Catalyst's exact discrete percentile (Spark has no function wrapper
    * for it — it is WITHIN GROUP syntax only).
    */
  private def percentileDisc(c: Column, p: Double, rev: Boolean): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(org.apache.spark.sql.catalyst.expressions.aggregate
      .PercentileDisc(Bridge.expression(c),
        org.apache.spark.sql.catalyst.expressions.Literal(p), reverse = rev)
      .toAggregateExpression())
  }

  // ---- the registry ----

  private lazy val all: Seq[AggDef] = plain ++ statistics ++ windows ++ carriers

  private lazy val byName: Map[String, AggDef] = {
    val pairs = all.flatMap(d => (d.name +: d.aliases.map(_._1)).map(_ -> d))
    val dup = pairs.groupBy(_._1).collect { case (n, ps) if ps.size > 1 => n }
    require(dup.isEmpty, s"aggregate names declared twice: ${dup.mkString(", ")}")
    pairs.toMap
  }

  /** Every entry (canonical definitions; aliases ride on them). */
  def entries: Seq[AggDef] = all

  /** Resolve a (lower-case) name or alias. */
  def lookup(name: String): Option[AggDef] = byName.get(name)

  /** The entry of a canonical name (bound nodes carry canonical names). */
  def apply(name: String): AggDef = byName(name)

  /** The grammar a (lower-case) spelling takes, if it names an aggregate
    * or window function.
    */
  def syntaxOf(name: String): Option[Syntax] = byName.get(name).map { d =>
    if (d.name == name) d.syntax else d.aliases.find(_._1 == name).get._2
  }

  /** The canonical name of a (lower-case) spelling. */
  def canonical(name: String): String = byName.get(name).fold(name)(_.name)

  /** Lower a call to `name`; `over` finishes each aggregate leaf. */
  def lower(name: String, c: Call, rec: Rec, over: Over = identity): Column =
    byName(name).lower(c, rec, over)

  /** An aggregate node in group position (SELECT items, HAVING, LATERAL,
    * correlated scalar subqueries).
    */
  def lowerNode(node: BoundOperand, rec: Rec): Column = node match {
    case BAgg(f, arg, dist) => lower(f, Call(arg.toSeq, dist), rec)
    case BOrderedAgg(f, arg, p, ord, dist) =>
      lower(f, Call(Seq(arg), dist, p, ord), rec)
    case other => throw new IllegalStateException(s"not an aggregate: $other")
  }

  /** The aggregate's value over a group a left join left missing:
    * the empty-group value where one is probed and not NULL.
    */
  def completed(name: String, c: Column): Column = byName(name).empty match {
    case Some(v) if v != null => coalesce(c, lit(v))
    case _                    => c
  }

  // ---- the plain call form ----

  private def plain: Seq[AggDef] = Seq(
    AggDef("count", Running, Big, (c, r, w) => c.xs match {
      case Seq()                => w(count(lit(1)))
      case Seq(a) if c.distinct => w(count_distinct(r(a)))
      case Seq(a)               => w(count(r(a)))
    }, distinct = true, empty = Some(0L), winArgs = as =>
      if (as.length > 1) Some("windowed count takes one argument") else None),
    AggDef("sum", Running, SumT, (c, r, w) =>
      if (c.distinct) w(sum_distinct(r(c.xs.head))) else w(sum(r(c.xs.head))),
      distinct = true, arg = ArgType.Numeric, empty = Null,
      winArgs = oneArg("sum")),
    // avg(DISTINCT) composed from the native distinct aggregates (one
    // distinct-aggregate state, exactly SQL semantics)
    AggDef("avg", Running, Dbl, { (c, r, w) =>
      val x = r(c.xs.head)
      if (c.distinct) w(sum_distinct(x)) / w(count_distinct(x)) else w(avg(x))
    }, distinct = true, arg = ArgType.Numeric, empty = Null,
      winArgs = oneArg("avg")).alias("mean"),
    agg1("min", Extremum, First)(min).copy(distinct = true, empty = Null),
    agg1("max", Extremum, First)(max).copy(distinct = true, empty = Null),
    agg1("mode", Agg, First)(mode).copy(empty = Null),
    // any_value: the first non-NULL (DuckDB reads scan order; Spark's is
    // plan-order nondeterministic — identical when the group's values
    // agree, which is the only gate-checkable form)
    agg1("any_value", Agg, First)(any_value(_, lit(true)))
      .copy(empty = Null).alias("arbitrary"),
    // approx_count_distinct: Spark's HLL++ — estimates are sketch-specific
    // (no DuckDB oracle; spec-bounded ±5% like the stats NDV gate)
    agg1("approx_count_distinct", Agg, Big)(approx_count_distinct)
      .copy(empty = Some(0L)),
    // int on both engines (Spark's native grouping() is a tinyint)
    AggDef("grouping", GroupOnly, IntT, (c, r, w) =>
      w(grouping(r(c.xs.head))).cast("int"), empty = Some(1)),
    // histogram: value→count map with keys sorted ascending (DuckDB
    // probed; NULLs skipped, all-NULL group reads NULL). One collect_list
    // of aggregate state; the count-per-distinct fold is a codegen'd
    // expression over it — the same O(group) memory DuckDB's hash-based
    // histogram pays.
    AggDef("histogram", GroupOnly, (as, t) => SqlType.SqlMap(
      as.headOption.map(t).getOrElse(SqlType.SqlInt), SqlType.SqlBigInt), {
      (c, r, w) =>
        val lst = w(collect_list(r(c.xs.head)))
        when(size(lst) === 0, lit(null)).otherwise(
          map_from_entries(transform(array_sort(array_distinct(lst)),
            k => struct(k.as("key"),
              size(filter(lst, v => v === k)).cast("long").as("value")))))
    }, empty = Null)) ++
    Seq[(String, Column => Column)]("bool_and" -> bool_and, "bool_or" -> bool_or,
      "bit_and" -> bit_and, "bit_or" -> bit_or, "bit_xor" -> bit_xor).map {
      case (n, f) => agg1(n, Agg, First)(f).copy(empty = Null)
    }

  // ---- statistics over one numeric argument ----

  private def statistics: Seq[AggDef] = Seq(
    agg1("stddev", Agg, Dbl)(stddev),
    agg1("variance", Agg, Dbl)(variance),
    agg1("median", Agg, Dbl)(median).copy(unordered = true),
    // population/sample variance family: Spark natives share DuckDB's
    // formulas exactly
    agg1("stddev_pop", Agg, Dbl)(stddev_pop),
    agg1("stddev_samp", Agg, Dbl)(stddev_samp),
    agg1("var_pop", Agg, Dbl)(var_pop),
    agg1("var_samp", Agg, Dbl)(var_samp),
    // fsum/favg: DuckDB's compensated-sum spellings — plain sum/avg here
    // (probed on a cancellation fixture: DuckDB 1.0's fsum matched its
    // own sum bit-for-bit, so aliasing is value-exact against the oracle)
    agg1("fsum", Agg, Dbl)(x => sum(x.cast("double")))
      .alias("kahan_sum").alias("sumkahan"),
    agg1("favg", Agg, Dbl)(x => avg(x.cast("double"))),
    // entropy counts equality classes — the string cast is equality-
    // preserving within a column's type; mad runs over doubles (DuckDB's
    // integer mad is DOUBLE too)
    agg1("mad", GroupOnly, Dbl)(x =>
      graft.functions.StatAggregates.mad(x.cast("double"))),
    agg1("product", GroupOnly, Dbl)(x =>
      graft.functions.StatAggregates.product(x.cast("double")))
  ).map(_.copy(arg = ArgType.Numeric, empty = Null)) ++ Seq(
    agg1("entropy", GroupOnly, Dbl)(x =>
      graft.functions.StatAggregates.entropy(x.cast("string")))
      .copy(empty = Some(0.0)),
    // kurtosis_pop is the POPULATION g2 — Spark's native kurtosis directly
    // (the dialect's plain kurtosis applies the sample correction on top)
    AggDef("kurtosis_pop", Agg, Dbl, { (c, r, w) =>
      val g = w(kurtosis(r(c.xs.head)))
      when(isnan(g), lit(null)).otherwise(g)
    }, arg = ArgType.Numeric, winArgs = oneArg("kurtosis_pop")),
    // sem: standard error of the mean — DuckDB's is the POPULATION form
    // stddev_pop/√n (probed against both stddev variants on grouped
    // fixtures)
    AggDef("sem", GroupOnly, Dbl, { (c, r, w) =>
      val x = r(c.xs.head)
      w(stddev_pop(x)) / sqrt(w(count(x)).cast("double"))
    }, arg = ArgType.Numeric),
    // DuckDB's skewness/kurtosis are the SAMPLE-corrected G1/G2 where
    // Spark's natives are population g1/g2 — compose the correction from
    // count(x) (probed: G1 = g1·√(n(n-1))/(n-2), G2 = ((n+1)·g2+6)(n-1)/
    // ((n-2)(n-3)); n too small or a constant input reads NULL on both
    // engines — try_divide for the n cutoffs, isnan→NULL for zero
    // variance)
    AggDef("skewness", GroupOnly, Dbl, { (c, r, w) =>
      val x = r(c.xs.head)
      val n = w(count(x)).cast("double")
      val g = w(skewness(x)) * try_divide(sqrt(n * (n - 1)), n - 2)
      when(isnan(g), lit(null)).otherwise(g)
    }, arg = ArgType.Numeric, empty = Null),
    AggDef("kurtosis", GroupOnly, Dbl, { (c, r, w) =>
      val x = r(c.xs.head)
      val n = w(count(x)).cast("double")
      val g = try_divide(((n + 1) * w(kurtosis(x)) + 6) * (n - 1),
        (n - 2) * (n - 3))
      when(isnan(g), lit(null)).otherwise(g)
    }, arg = ArgType.Numeric, empty = Null))

  // ---- window functions ----

  private def windows: Seq[AggDef] =
    Seq[(String, Result, () => Column)](("row_number", IntT, row_number _),
      ("rank", IntT, rank _), ("dense_rank", IntT, dense_rank _),
      ("percent_rank", Dbl, percent_rank _), ("cume_dist", Dbl, cume_dist _)).map {
      case (n, t, f) => AggDef(n, Ranking, t, (_, _, w) => w(f()), Window,
        winArgs = as => if (as.isEmpty) None else Some(s"$n() takes no arguments"))
    } ++ Seq(
    AggDef("ntile", Ranking, IntT, (c, _, w) => w(ntile(longOf(c.xs.head).toInt)),
      Window, winArgs = as =>
        if (as.length == 1 && lit1(as.head).exists(_ > 0)) None
        else Some("ntile takes one positive integer literal")),
    AggDef("nth_value", Positional, First, (c, r, w) =>
      w(nth_value(r(c.xs.head), longOf(c.xs(1)).toInt, c.ignoreNulls)), Window,
      ordered = true, winArgs = as =>
        if (as.length == 2 && lit1(as(1)).exists(_ > 0)) None
        else Some("nth_value takes a value and a positive integer literal"))) ++
    each("first_value", "last_value")(n => AggDef(n, Positional, First, { (c, r, w) =>
      val x = r(c.xs.head)
      w(if (n == "first_value") first(x, c.ignoreNulls) else last(x, c.ignoreNulls))
    }, Window, winArgs = as =>
      if (as.length == 1) None else Some(s"$n takes exactly one argument"))) ++
    each("lag", "lead")(n => AggDef(n, Shift, First, { (c, r, w) =>
      val (x, k, d) =
        (r(c.xs.head), Lowering.shiftOffset(c.xs), Lowering.shiftDefaultAny(c.xs))
      w(if (n == "lag") lag(x, k, d, c.ignoreNulls) else lead(x, k, d, c.ignoreNulls))
    }, Window, winArgs = as =>
      if (as.isEmpty || as.length > 3)
        Some(s"$n takes a value, an optional offset and an optional default")
      else if (as.length >= 2 && lit1(as(1)).isEmpty)
        Some(s"$n offset must be an integer literal")
      else if (as.length == 3 && !as(2).isInstanceOf[Operand.Literal])
        Some(s"$n default must be a literal")
      else None))

  // ---- the parser's other call forms ----

  private def carriers: Seq[AggDef] = Seq(
    // windowed, order comes from the OVER clause; the separator rides as
    // a literal trailing argument
    AggDef("string_agg", Agg, Str, (c, r, w) =>
      array_join(collected(c, r, w, skipNulls = true), sepOf(c)), Collect,
      distinct = true, arg = ArgType.Text, empty = Null, ordered = true,
      winArgs = {
        case Seq(_, Operand.Literal(Lit.LitString(_))) => None
        case _ => Some("string_agg takes a value and a literal separator")
      }).alias("listagg").alias("group_concat"),
    AggDef("array_agg", Agg, ListOfFirst, (c, r, w) =>
      collected(c, r, w, skipNulls = false), Collect, distinct = true,
      empty = Null, ordered = true, winArgs = as =>
        if (as.length == 2) None else Some("array_agg takes one argument"))
      .alias("list"),
    // count(DISTINCT a, b, …): Spark's native multi-column distinct count
    // — one distinct-aggregate over the tuple, rows with ANY null
    // component skipped (SQL semantics on both engines)
    AggDef("count_distinct", GroupOnly, Big, (c, r, w) =>
      w(count_distinct(r(c.xs.head), c.order.map(k => r(k._1)): _*)),
      Internal, distinct = true, empty = Some(0L)),
    // bitstring_agg(x, lo, hi): a '0'/'1' string of length hi−lo+1 with
    // bit (x − lo) set per group member, leftmost = lo (DuckDB probed:
    // (1,3,8) in [1,8] → '10100001'). One collect_set of aggregate state
    // + a codegen'd membership fold.
    AggDef("bitstring_agg", GroupOnly, Str, { (c, r, w) =>
      val Array(lo, hi) = c.param.split(",").map(_.toLong)
      val got = w(collect_set(r(c.xs.head).cast("long")))
      array_join(transform(sequence(lit(lo), lit(hi)), i =>
        when(array_contains(got, i), lit("1")).otherwise(lit("0"))), "")
    }, Bits, empty = Null),
    // approx_quantile/reservoir_quantile: Spark's approx_percentile sketch
    // (estimates are sketch-specific — no cross-engine oracle;
    // spec-bounded like the HLL gate)
    AggDef("approx_quantile", GroupOnly, First, (c, r, w) =>
      w(approx_percentile(r(c.xs.head), lit(c.param.toDouble), lit(10000))),
      Fraction, empty = Null).alias("reservoir_quantile"),
    // exact interpolated percentile (Spark's percentile == the standard's
    // percentile_cont; DESC was folded to 1-p at parse)
    AggDef("percentile_cont", GroupOnly, Dbl, (c, r, w) =>
      w(call_function("percentile", r(c.xs.head), lit(c.param.toDouble))),
      WithinGroup, empty = Null).alias("quantile_cont", Quantile),
    // exact DISCRETE percentile — the smallest input value whose cume_dist
    // ≥ p (DuckDB's quantile_disc; DuckDB returns the input type). A DESC
    // order rides as "|desc".
    AggDef("percentile_disc", GroupOnly, First, { (c, r, w) =>
      val (p, rev) = c.param.split('|') match {
        case Array(v, _) => (v.toDouble, true)
        case Array(v)    => (v.toDouble, false)
      }
      w(percentileDisc(r(c.xs.head), p, rev))
    }, WithinGroup, arg = ArgType.Numeric, empty = Null, recast = true)
      .alias("quantile_disc", Quantile).alias("quantile", Quantile),
    // LIST-of-fractions percentiles: one sort state, a list result. cont:
    // Spark's exact percentile takes an array of percentages natively;
    // disc: one native PercentileDisc per fraction over the same column,
    // assembled with array() — Spark fuses the aggregate states into one
    // pass
    AggDef("percentile_cont_list", GroupOnly, fixed(SqlType.SqlArray(SqlType.SqlDouble)),
      (c, r, w) => w(call_function("percentile", r(c.xs.head),
        array(c.param.split(',').toSeq.map(s => lit(s.toDouble)): _*))),
      Internal, arg = ArgType.Numeric, empty = Null),
    AggDef("percentile_disc_list", GroupOnly, ListOfFirst, { (c, r, w) =>
        val x = r(c.xs.head)
        array(c.param.split(',').toSeq.map(s =>
          w(percentileDisc(x, s.toDouble, rev = false))): _*)
      }, Internal, arg = ArgType.Numeric, empty = Null, recast = true),
    // top-n list variants (DuckDB ≥1.1's min/max(x, n)): a LIST of the n
    // extreme values, NULL inputs skipped. One collect_list of aggregate
    // state + a codegen'd sort/slice — the same O(group) state class as
    // the exact mad/median/histogram aggregates (n is a small literal).
    AggDef("min_topn", GroupOnly, ListOfFirst, (c, r, w) =>
      slice(array_sort(w(collect_list(r(c.xs.head)))), 1, c.param.toInt), Internal),
    AggDef("max_topn", GroupOnly, ListOfFirst, (c, r, w) =>
      slice(reverse(array_sort(w(collect_list(r(c.xs.head))))), 1, c.param.toInt),
      Internal)) ++
    // the value at the key's extremum: Spark's min_by/max_by — one (value,
    // key) pair of aggregate state per group. DuckDB's arg_min/arg_max SKIP
    // rows whose VALUE is NULL (probed); Spark's min_by/max_by would
    // return the NULL — a NULLed key takes such rows out of the extremum
    // competition. The _null variants keep them.
    Seq("arg_min" -> Seq("min_by", "argmin"), "arg_max" -> Seq("max_by", "argmax"),
      "arg_min_null" -> Nil, "arg_max_null" -> Nil).map { case (n, spellings) =>
      AggDef(n, GroupOnly, First, { (c, r, w) =>
        val (v, k) = (r(c.xs.head), r(c.order.head._1))
        val key = if (n.endsWith("_null")) k else when(v.isNotNull, k)
        w(if (n.startsWith("arg_min")) min_by(v, key) else max_by(v, key))
      }, ArgExtreme, spellings.map(_ -> ArgExtreme),
        empty = if (n.endsWith("_null")) None else Null)
    } ++
    // arg_min/arg_max(x, v, n): a LIST of the x values at the n
    // smallest/largest v
    each("arg_min_topn", "arg_max_topn")(n =>
      AggDef(n, GroupOnly, ListOfFirst, { (c, r, w) =>
        val kc = r(c.order.head._1)
        val sorted = array_sort(w(collect_list(when(kc.isNotNull,
          struct(kc.as("k"), r(c.xs.head).as("v"))))))
        slice(transform(if (n == "arg_min_topn") sorted else reverse(sorted),
          x => x.getField("v")), 1, c.param.toInt)
      }, Internal)) ++
    // two-argument statistical aggregates (value + key on the carrier):
    // one pass of Spark's native aggregate state; the linear-regression
    // family matches DuckDB's standard definitions exactly (probed all
    // nine on shared data)
    Seq[(String, (Column, Column) => Column)](
      "corr" -> corr, "covar_pop" -> covar_pop, "covar_samp" -> covar_samp,
      "regr_slope" -> regr_slope, "regr_intercept" -> regr_intercept,
      "regr_r2" -> regr_r2, "regr_count" -> regr_count,
      "regr_avgx" -> regr_avgx, "regr_avgy" -> regr_avgy,
      "regr_sxx" -> regr_sxx, "regr_sxy" -> regr_sxy,
      "regr_syy" -> regr_syy).map { case (n, f) =>
      AggDef(n, GroupOnly, if (n == "regr_count") Big else Dbl,
        (c, r, w) => w(f(r(c.xs.head), r(c.order.head._1))), Pair,
        empty = if (n.startsWith("regr_")) None else Null)
    }
}
