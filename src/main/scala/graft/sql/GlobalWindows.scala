package graft.sql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.KnownNullable
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import Analyzer._

/** Unpartitioned windows without Spark's all-rows Exchange
  * SinglePartition. An ORDERED item (`f(…) OVER (ORDER BY …)`) runs on
  * one range bucketing per distinct ORDER spec: every bucket evaluates
  * the window locally, in parallel, and the part that crosses bucket
  * edges comes from three primitives (Leis et al., "Efficient
  * Processing of Window Functions in Analytical SQL Queries", VLDB
  * 2015; Blelloch, "Prefix Sums and Their Applications", 1990):
  *
  *  - [[carry]]: one totals row per bucket, a window over those ≤P rows
  *    (P = bucket count), broadcast-joined back by bucket id;
  *  - [[withHalo]]: the edge rows of the neighbouring buckets, copied in
  *    as ghost rows so a bounded in-bucket frame sees its true global
  *    neighbours;
  *  - [[rankJoin]]: an equi-join on a global rank the carry computed,
  *    for lag/lead offsets past [[HaloCap]].
  *
  * An UNORDERED item over the whole input (`f(x) OVER ()`, or an
  * unbounded frame without EXCLUDE) is one value for every row: a 1-row
  * aggregate, broadcast cross-joined.
  *
  * [[classify]] decides per window item; [[attach]] runs one
  * statement's requests. Both lowering paths (plain projection and
  * aggregate scope) use the two; a keyless inequality-correlated scalar
  * subquery sends its running aggregates to [[attach]] as [[Scan]]s.
  *
  * The operator runs only where the window input may be large: when
  * driver-resident statistics bound that input by [[OneTaskRows]], every
  * item is Spark's own window, on one task, typed as this operator would
  * type it ([[asBucketed]]), except the sums and averages this operator
  * types its own way ([[retyped]]).
  */
private[sql] object GlobalWindows {

  /** Largest halo (rows copied from each neighbouring bucket) and
    * largest IGNORE NULLS carry (non-null values kept per bucket).
    * Larger lag/lead offsets take the rank join instead.
    */
  val HaloCap = 1000

  /** Largest window input, in rows, that runs as Spark's own window:
    * one sort on one task and no job while the statement is built,
    * against the range bucketing's sampling job and two lazy
    * checkpoints. The lowering bounds the input from driver-resident
    * statistics only (the product of the FROM tables' row counts); an
    * unknown or larger bound takes this operator.
    *
    * The value is chosen, not a measured crossover. Sweep (local[4] on
    * a 4-vCPU host, 3 GB driver heap, the ingest benchmark's window
    * template over generated parquet, median ms of 3 warm runs, 1 at
    * 1.6·10^7; the same rows on both paths; peak task execution memory
    * and bytes spilled from Spark's task metrics):
    *
    * | Rows     | One task | Bucketed | One task's peak | One task spilled |
    * |----------|----------|----------|-----------------|------------------|
    * | 5·10^3   |      417 |    1,016 |           17 MB |                0 |
    * | 5·10^4   |      307 |    1,196 |           19 MB |                0 |
    * | 2·10^5   |      505 |    2,020 |           25 MB |                0 |
    * | 10^6     |    1,841 |    5,884 |          101 MB |                0 |
    * | 4·10^6   |    6,099 |   22,461 |          369 MB |                0 |
    * | 8·10^6   |   12,855 |   53,063 |          738 MB |                0 |
    * | 1.6·10^7 |   31,864 |  125,706 |        1,460 MB |           343 MB |
    *
    * On four cores one task was faster at every size; at 1.6·10^7 rows
    * its sort spills. 10^6 rows keeps that sort near 100 MB, a
    * sixteenth of the size that spilled, on any heap the test and
    * benchmark harnesses give the driver (2 GB or more). Machines with
    * more cores, where the buckets spread wider, were not measured.
    */
  val OneTaskRows = 1000000L

  /** Spark's own window for the item, typed as this operator types it,
    * so the result type does not depend on the input's size: the
    * buckets compute the row counters as an in-bucket rank plus a
    * carried count (BIGINT, where Spark's are INT), and the other
    * ranking functions and whole-input frames with EXCLUDE from
    * broadcast totals (nullable). None where no retyping makes the two
    * agree ([[retyped]]): such an item keeps this operator at any input
    * size. `classify` names the item's class; its operands lower to
    * placeholders, so nothing registers twice.
    */
  def asBucketed(f: String, args: Seq[BoundOperand],
      parts: Seq[BoundOperand], ord: Seq[(BoundOperand, Ast.SortDir)],
      frame: Option[Ast.WinFrame]): Option[Column => Column] = {
    def nullable(c: Column) = Bridge.column(KnownNullable(Bridge.expression(c)))
    classify("", f, args, parts, ord, frame, _ => lit(null)) match {
      case Some(Bucketed(_, _, Scan(_, g, _, _, _))) if retyped(g, args.headOption) =>
        None
      case Some(Bucketed(_, _, WholeExclude(_, g, _, _)))
          if retyped(g, args.headOption) => None
      case Some(Bucketed(_, _, Scan(_, g, _, _, _)))
          if Aggregates(g).kind == Aggregates.Kind.Ranking =>
        Some(if (Set("row_number", "rank", "dense_rank")(g)) _.cast("long")
          else nullable)
      case Some(Bucketed(_, _, _: WholeExclude)) => Some(nullable)
      case _ => Some(identity)
    }
  }

  /** Does the carry type `f(arg)` unlike Spark's own aggregate? A sum
    * or avg over a DECIMAL argument, or one whose type the lowering
    * cannot tell: the carry adds sums of sums (DECIMAL(p+21, s) where
    * Spark's sum is DECIMAL(p+10, s)) and divides an average in double
    * or in decimal, where Spark's average rounds to DECIMAL(p+4, s+4).
    */
  def retyped(f: String, arg: Option[BoundOperand]): Boolean = {
    def notDecimal(a: BoundOperand): Boolean = a match {
      case BoundOperand.BAgg("count", _, _) => true
      case BoundOperand.BAgg("sum" | "avg" | "min" | "max", Some(x), _) =>
        notDecimal(x)
      case _ => Lowering.inputSqlType(a).exists(!_.isInstanceOf[SqlType.SqlDecimal])
    }
    Set("sum", "avg")(f) && !arg.exists(notDecimal)
  }

  /** One window item this operator computes. */
  sealed trait Req

  /** A whole-input aggregate (`OVER ()`): `agg` over the input, at
    * column `name` of every row.
    */
  final case class Whole(name: String, agg: Column) extends Req

  /** An ordered item over the range bucketing of `ordKey` (the bound
    * ORDER spec — requests with equal keys share one bucketing);
    * `ordCols` are its lowered order columns.
    */
  final case class Bucketed(ordKey: Seq[(BoundOperand, Ast.SortDir)],
      ordCols: Seq[(Column, Ast.SortDir)], kind: Kind) extends Req

  sealed trait Kind

  /** A prefix-scan item: ranks, ntile, running count/sum/avg/min/max
    * (`arg` lowered, None = count(*)). A DISTINCT running item carries
    * its first-occurrence `mask`, which the scan aggregates in place of
    * the argument; a ROWS frame ending `hi` > 0 rows ahead (DISTINCT
    * look-ahead) reads a forward halo of `hi` rows.
    */
  final case class Scan(name: String, func: String, arg: Option[Column],
      frame: Option[Ast.WinFrame], mask: Option[Column] = None) extends Kind

  /** lag/lead with a literal offset `k` (`x` lowered, `dflt` the raw
    * default). Up to [[HaloCap]] a plain shift reads a halo of `k` rows
    * and an IGNORE NULLS shift a carry of `k` non-nulls; past it both
    * take the rank join.
    */
  final case class Shift(name: String, func: String, x: Column, k: Int,
      dflt: Any, ignoreNulls: Boolean) extends Kind

  /** An aggregate over a whole-input frame WITH EXCLUDE: global totals
    * minus the excluded part (count/sum/avg), or the extremes before and
    * after it (min/max) — a two-sided carry.
    */
  final case class WholeExclude(name: String, func: String,
      arg: Option[Column], frame: Ast.WinFrame) extends Kind

  /** One in-bucket window over a halo (classify makes one for each
    * aggregate or value function over a bounded ROWS frame): `build`
    * receives the in-bucket window spec (partitioned by bucket id,
    * ordered by the global order) and the in-bucket peer keys (bucket id
    * ++ order keys, for EXCLUDE's peer groups); `back`/`ahead` are how
    * many rows backward/forward the expression reaches.
    */
  final case class HaloWin(alias: String, back: Int, ahead: Int,
      build: (WindowSpec, Seq[Column]) => Column) extends Kind

  /** Does this operator compute window item `f(args) OVER (PARTITION BY
    * parts ORDER BY ord frame)`, and how? None keeps Spark's own window.
    * Operands lower NOW, through `opLower` — in aggregate scope that
    * registers hidden aggregates, which must happen before the
    * aggregate assembles. `name` is the output column.
    *
    * Eligible, all without PARTITION BY:
    *  - whole input: count/sum/avg/min/max (and DISTINCT mean) under
    *    `OVER ()` or an unbounded, non-temporal frame without EXCLUDE;
    *  - prefix scan: the ranking functions, ntile(n > 0), and
    *    count/sum/avg/min/max over a prefix frame (no GROUPS, EXCLUDE or
    *    temporal bound); DISTINCT count/sum/avg over a prefix frame or a
    *    ROWS frame looking 1..HaloCap rows ahead;
    *  - bounded ROWS frames within ±HaloCap: the aggregates,
    *    first/last_value, nth_value(n > 0) and DISTINCT count/sum/avg
    *    (the value and DISTINCT forms without EXCLUDE);
    *  - lag/lead with a literal offset ≥ 0 (≥ 1 under IGNORE NULLS);
    *  - whole-input frames with EXCLUDE over the aggregates (min/max over
    *    RANGE on a single order key only).
    * A window the engine rewrote internally (any other `__` sentinel
    * argument) keeps Spark's window, and so does, `oneTask`, every item
    * Spark's window types as this operator would ([[asBucketed]]).
    */
  def classify(name: String, f: String, args: Seq[BoundOperand],
      parts: Seq[BoundOperand], ord: Seq[(BoundOperand, Ast.SortDir)],
      frame: Option[Ast.WinFrame], opLower: BoundOperand => Column,
      oneTask: Boolean = false): Option[Req] = {
    def sentinel(as: Seq[BoundOperand]): Boolean = as.exists {
      case BoundOperand.BLit(Lit.LitString(s)) => s.startsWith("__")
      case _ => false
    }
    def trailing(s: String): Boolean =
      args.lastOption.contains(BoundOperand.BLit(Lit.LitString(s)))
    def literal(o: Option[BoundOperand]): Option[Long] = o.collect {
      case BoundOperand.BLit(Lit.LitLong(n)) => n
    }
    val ign = trailing(Ast.IgnoreNullsSentinel)
    val dist = trailing(Ast.DistinctSentinel)
    val argsR = if (ign || dist) args.dropRight(1) else args
    val plain = !sentinel(args)
    val d = Aggregates(f)
    val agg5 = d.decomposable
    val distAgg = dist && d.kind == Aggregates.Kind.Running
    val exclNone = frame.exists(_.exclude == "none")
    def unbounded(fr: Ast.WinFrame) = !fr.temporal &&
      fr.lo == Long.MinValue && fr.hi == Long.MaxValue
    // the offset of a lag/lead: absent (1) or a literal, else ineligible
    val offset: Option[Long] =
      if (argsR.lengthCompare(1) <= 0) Some(1L) else literal(argsR.lift(1))
    // prefix frames; a ROWS frame may look ahead when `ahead` allows
    def prefix(ahead: Boolean): Boolean = frame.forall(fr => !fr.groups &&
      fr.exclude == "none" && !fr.temporal && fr.lo == Long.MinValue &&
      (fr.hi == 0L || (ahead && !fr.range && fr.hi > 0L && fr.hi <= HaloCap)))
    val boundedRows = frame.exists(fr => !fr.range && !fr.groups &&
      !fr.temporal && fr.lo != Long.MinValue && fr.hi != Long.MaxValue &&
      fr.lo >= -HaloCap && fr.hi <= HaloCap && fr.lo <= fr.hi)
    def bucketed(kind: Kind): Option[Req] =
      Some(Bucketed(ord, ord.map { case (o, d) => (opLower(o), d) }, kind))
    if (parts.nonEmpty ||
        (oneTask && asBucketed(f, args, parts, ord, frame).isDefined)) None
    else if (!ign && ((ord.isEmpty && frame.isEmpty) ||
        frame.exists(fr => unbounded(fr) && fr.exclude == "none")) &&
        agg5 && !sentinel(argsR) &&
        (if (dist) argsR.lengthCompare(1) == 0 else argsR.lengthCompare(1) <= 0))
      Some(Whole(name, Aggregates.lower(f, Aggregates.Call(argsR, dist), opLower)))
    else if (ord.isEmpty) None
    else if (plain && (d.kind == Aggregates.Kind.Ranking ||
        (agg5 && prefix(ahead = false))))
      bucketed(Scan(name, f, args.headOption.map(opLower), frame))
    else if (distAgg && prefix(ahead = true))
      bucketed(Scan(name, f, None, frame,
        Some(Lowering.distinctMaskColumn(args, Nil, ord, opLower))))
    else if (d.kind == Aggregates.Kind.Shift && (plain || (ign &&
        !sentinel(argsR))) && offset.exists(n => n >= (if (ign) 1 else 0)))
      bucketed(Shift(name, f, opLower(argsR.head), Lowering.shiftOffset(argsR),
        Lowering.shiftDefaultAny(argsR), ign))
    else if (boundedRows && ((agg5 && plain) || (distAgg && exclNone) ||
        (!dist && !sentinel(argsR) && exclNone &&
          d.kind == Aggregates.Kind.Positional)))
      bucketed(framedWin(name, f, args, frame.get, opLower))
    else if (agg5 && plain && frame.exists(fr => unbounded(fr) &&
        !fr.groups && fr.exclude != "none") &&
        (!(d.kind == Aggregates.Kind.Extremum && frame.exists(_.range)) ||
          ord.length == 1))
      bucketed(WholeExclude(name, f, args.headOption.map(opLower), frame.get))
    else None
  }

  /** Attaches `reqs` to `df0`: every ordered request over one range
    * bucketing per ORDER spec, then `local` (the caller's own windows),
    * then the whole-input aggregates over `df0`'s rows.
    */
  def attach(df0: DataFrame, reqs: Seq[Req])(
      local: DataFrame => DataFrame): DataFrame = {
    val ordered = reqs.collect { case b: Bucketed => b }
    val bucketed = ordered.map(_.ordKey).distinct.foldLeft(df0) { (d, key) =>
      attachSpec(d, ordered.filter(_.ordKey == key))
    }
    val wholes = reqs.collect { case Whole(n, agg) => agg.as(n) }
    if (wholes.isEmpty) local(bucketed)
    else local(bucketed).crossJoin(broadcast(
      df0.agg(wholes.head, wholes.tail: _*)))
  }

  private val tags = new java.util.concurrent.atomic.AtomicInteger

  /** One range bucketing's column handles. The frame carries the bucket
    * id (`pid` — spark_partition_id materialized at checkpoint time, so
    * the row→bucket mapping is frozen however later operators move rows)
    * and the named order-key columns.
    */
  private final case class BucketCols(tag: String, dirs: Seq[Ast.SortDir]) {
    val pid = s"${tag}_pid"
    val ordNames: Seq[String] = dirs.indices.map(i => s"${tag}_o$i")
    def ord: Seq[Column] = ordNames.zip(dirs).map { case (n, d) =>
      Lowering.sortCol(col(n), d) }
    /** Exact complement of the bucketing order: flips the direction AND
      * the null placement (sortCol places unspecified NULLs LAST in both
      * directions, so the complement needs an explicit NULLS FIRST).
      */
    def ordRevExact: Seq[Column] = ordNames.zip(dirs).map { case (n, d) =>
      Lowering.sortCol(col(n),
        Ast.SortDir(!d.desc, Some(!d.nullsFirst.getOrElse(false)))) }
    def inBucket: WindowSpec = Window.partitionBy(col(pid)).orderBy(ord: _*)
    def inBucketRev: WindowSpec =
      Window.partitionBy(col(pid)).orderBy(ordRevExact: _*)
    def peerKeys: Seq[Column] = col(pid) +: ordNames.map(col)
    // carry windows over the ≤P totals rows; bucket ids ascend in the
    // bucketing's own order
    private def overPids(lo: Long, hi: Long): WindowSpec =
      Window.orderBy(col(pid).asc).rowsBetween(lo, hi)
    def before: WindowSpec = overPids(Window.unboundedPreceding, -1L)
    def after: WindowSpec = overPids(1L, Window.unboundedFollowing)
    def all: WindowSpec =
      overPids(Window.unboundedPreceding, Window.unboundedFollowing)
  }

  /** Every request of one ORDER spec over ONE range bucketing. The order
    * keys, DISTINCT masks (value-partitioned windows: they must precede
    * the range shuffle so it carries one column, not the recomputation)
    * and rank-join arguments attach first; the bucketing materializes
    * ONCE (RangePartitioner seeds its boundary sampling by RDD id, so two
    * evaluations could place boundaries differently); every kind reads
    * it; a rank join materializes the scanned frame once more so both
    * join sides read the same ranks. Scratch columns drop at the end.
    */
  private def attachSpec(d0: DataFrame, reqs: Seq[Bucketed]): DataFrame = {
    val bk = BucketCols(s"__gsh${tags.incrementAndGet()}",
      reqs.head.ordCols.map(_._2))
    val kinds = reqs.map(_.kind)
    val scans0 = kinds.collect { case s: Scan => s }
    val masks = scans0.zipWithIndex.collect { case (Scan(_, _, _, _, Some(m)), i) =>
      s"${bk.tag}_m$i" -> m }
    val scans = scans0.zipWithIndex.map { case (s, i) =>
      if (s.mask.isEmpty) s else s.copy(arg = Some(col(s"${bk.tag}_m$i"))) }
    val shifts = kinds.collect { case s: Shift => s }
    val (joins, near) = shifts.partition(_.k > HaloCap)
    val (carried, shifted) = near.partition(_.ignoreNulls)
    val halos = kinds.collect { case w: HaloWin => w } ++ shifted.map { s =>
      if (s.func == "lag")
        HaloWin(s.name, s.k, 0, (w, _) => lag(s.x, s.k, s.dflt).over(w))
      else HaloWin(s.name, 0, s.k, (w, _) => lead(s.x, s.k, s.dflt).over(w))
    }
    val excludes = kinds.collect { case e: WholeExclude => e }
    val xN = joins.indices.map(i => s"${bk.tag}_x$i")
    val rkN = joins.indices.map(i => s"${bk.tag}_r$i")
    val rnN = s"${bk.tag}_rn"
    val withOrd = d0.select(col("*") +:
      (reqs.head.ordCols.zip(bk.ordNames).map { case ((c, _), n) => c.as(n) } ++
        masks.map { case (n, m) => m.as(n) } ++
        joins.zip(xN).map { case (s, n) => s.x.as(n) }): _*)
    val nParts = d0.sparkSession.sessionState.conf.numShufflePartitions
    val bucketed = Lowering.materializeOnce(withOrd
      .repartitionByRange(nParts, bk.ord: _*)
      .withColumn(bk.pid, spark_partition_id()))
    // rank-join ranks ride the scans: the global row number for plain
    // shifts, the running non-null count for IGNORE NULLS (forward for
    // lag, over the reversed order for lead)
    val rowsPrefix = Ast.WinFrame(range = false, lo = Long.MinValue, hi = 0L)
    def nonNullRank(i: Int) = Scan(rkN(i), "count", Some(col(xN(i))),
      Some(rowsPrefix))
    val ignIdx = joins.indices.filter(joins(_).ignoreNulls)
    // look-ahead scans read a halo: like the halo kinds they run after
    // the rank-join materialization, so a consumer that never reads
    // their column prunes their windows
    val (ahead, prefix) =
      scans.partition(_.frame.exists(fr => !fr.range && fr.hi > 0L))
    val fwd = prefix ++
      (if (joins.exists(!_.ignoreNulls))
        Seq(Scan(rnN, "row_number", None, None)) else Nil) ++
      ignIdx.filter(joins(_).func == "lag").map(nonNullRank)
    val rev = ignIdx.filter(joins(_).func == "lead").map(nonNullRank)
    // one join per distinct plain (direction, offset), ordered; one per
    // IGNORE NULLS item against its own non-null rows
    val lookups = joins.zipWithIndex.filter(!_._1.ignoreNulls)
      .sortBy { case (s, _) => (s.func, s.k) }.map { case (s, i) =>
        val delta = if (s.func == "lag") s.k.toLong else -s.k.toLong
        Lookup(s.name, s"${s.func}_${s.k}", col(rnN), col(rnN) + delta,
          lit(true), xN(i), s.dflt)
      } ++ ignIdx.map { i =>
        val s = joins(i)
        val x = col(xN(i))
        // cur wants the non-null ranked (inclusive count − own flag) − k + 1
        Lookup(s.name, s"n$i", col(rkN(i)) - x.isNotNull.cast("long") -
          (s.k - 1).toLong, col(rkN(i)), x.isNotNull, xN(i), s.dflt)
      }
    Seq[(Boolean, DataFrame => DataFrame)](
      fwd.nonEmpty -> (scan(_, bk, fwd, reversed = false)),
      rev.nonEmpty -> (scan(_, bk, rev, reversed = true)),
      lookups.nonEmpty -> (f => rankJoin(Lowering.materializeOnce(f), lookups)),
      halos.nonEmpty -> (haloWindows(_, bk, halos)),
      carried.nonEmpty -> (nonNullCarry(_, bk, carried)),
      excludes.nonEmpty -> (wholeExclude(_, bk, excludes)),
      ahead.nonEmpty -> (scan(_, bk, ahead, reversed = false)))
      .foldLeft(bucketed) { case (f, (on, step)) => if (on) step(f) else f }
      .drop((bk.pid +: bk.ordNames) ++ masks.map(_._1) ++ xN ++
      rkN :+ rnN: _*)
  }

  /** The exclusive carry: one row of `totals` per bucket of `src`, the
    * `offsets` over those ≤P rows (windows over the bucket id, see
    * [[BucketCols.before]]), broadcast-joined back onto `df`. This is the
    * only single-partition step, and its size is the bucket count.
    */
  private def carry(df: DataFrame, src: DataFrame, pid: String,
      totals: Seq[Column], offsets: Seq[Column]): DataFrame = {
    val perBucket = src.groupBy(col(pid)).agg(totals.head, totals.tail: _*)
    df.join(broadcast(perBucket.select(col(pid) +: offsets: _*)), Seq(pid),
      "left_outer")
  }

  /** The halo: `f` runs over `df` plus, in every bucket, ghost copies of
    * the last `back` rows of each earlier bucket and the first `ahead`
    * rows of each later one (≤ P·k rows, replicated by a theta join
    * against the ≤P bucket ids); the ghosts drop afterwards. Equal order
    * keys share a bucket, so ghosts sort strictly before (after) every
    * real row of their target bucket, and the k nearest rows across an
    * edge are always among the per-bucket edge rows: an in-bucket frame
    * reaching ≤ k rows sees its true global neighbours, and runs off the
    * sequence exactly at the global start/end.
    */
  private def withHalo(df: DataFrame, bk: BucketCols, back: Int, ahead: Int)(
      f: DataFrame => DataFrame): DataFrame =
    if (back == 0 && ahead == 0) f(df)
    else {
      val tag = s"__gh${tags.incrementAndGet()}"
      val ghostN = s"${tag}_ghost"
      val tp = s"${tag}_tp"
      val edgeN = s"${tag}_edge"
      val real = df.withColumn(ghostN, lit(false))
      val pids = real.select(col(bk.pid).as(tp)).distinct()
      def ghosts(k: Int, tail: Boolean): Option[DataFrame] =
        if (k == 0) None
        else Some(real
          .withColumn(edgeN, row_number().over(
            if (tail) bk.inBucketRev else bk.inBucket))
          .filter(col(edgeN) <= k).drop(edgeN)
          // broadcast the ≤P-row bucket-id frame explicitly: its stats
          // descend from the materialized RDD scan (size unknown), so
          // without the hint the theta join can plan as CartesianProduct
          .join(broadcast(pids),
            if (tail) col(bk.pid) < col(tp) else col(bk.pid) > col(tp))
          .withColumn(bk.pid, col(tp)).drop(tp)
          .withColumn(ghostN, lit(true)))
      val unioned = Seq(ghosts(back, tail = true), ghosts(ahead, tail = false))
        .flatten.foldLeft(real)(_ unionByName _)
      f(unioned).filter(!col(ghostN)).drop(ghostN)
    }

  /** One rank-join lookup: row `name` takes the value of column `x` from
    * the `rows` of the right side whose `rank` equals its own `want`, or
    * `dflt` where none does (the global boundary). Lookups with equal
    * `key` share one join.
    */
  private final case class Lookup(name: String, key: String, want: Column,
      rank: Column, rows: Column, x: String, dflt: Any)

  /** Rank self-joins of the materialized frame `mat` (both sides must
    * read the same ranks): one compact left equi-join per lookup key on
    * a unique rank (no replication, no single partition). A hit marker
    * tells a miss (default applies) from a hit whose value is NULL
    * (stays NULL).
    */
  private def rankJoin(mat: DataFrame, lookups: Seq[Lookup]): DataFrame = {
    val tag = s"__grj${tags.incrementAndGet()}"
    val keys = lookups.map(_.key).distinct
    val joined = keys.foldLeft(mat) { (d, key) =>
      val its = lookups.zipWithIndex.filter(_._1.key == key)
      val l = its.head._1
      val jk = s"${tag}_jk_$key"
      val right = mat.filter(l.rows).select(l.rank.as(jk) +:
        lit(true).as(s"${tag}_h_$key") +:
        its.map { case (lk, i) => col(lk.x).as(s"${tag}_v$i") }: _*)
      d.join(right, l.want === col(jk), "left_outer").drop(jk)
    }
    val finals = lookups.zipWithIndex.map { case (l, i) =>
      val v = s"${tag}_v$i"
      when(col(s"${tag}_h_${l.key}").isNotNull, col(v))
        .otherwise(lit(l.dflt).cast(joined.schema(v).dataType)).as(l.name)
    }
    joined.select(col("*") +: finals: _*).drop(
      lookups.indices.map(i => s"${tag}_v$i") ++ keys.map(k => s"${tag}_h_$k"): _*)
  }

  /** The distributed prefix scan: each item evaluates INSIDE its bucket
    * (over a forward halo when a ROWS frame looks ahead), the carry adds
    * the earlier buckets' totals: ranks add the preceding row count
    * (dense_rank the distinct-key count — exact because equal keys share
    * a bucket), count/sum add, min/max combine via null-skipping
    * least/greatest, avg decomposes into sum/count, percent_rank /
    * cume_dist / ntile divide by the grand total. `reversed` reads the
    * bucketing backwards (reversed in-bucket order, later buckets'
    * totals) instead of bucketing by the reversed spec.
    */
  private def scan(df: DataFrame, bk: BucketCols, items: Seq[Scan],
      reversed: Boolean): DataFrame = {
    val tag = s"__gow${tags.incrementAndGet()}"
    val wIn = if (reversed) bk.inBucketRev else bk.inBucket
    val earlier = if (reversed) bk.after else bk.before
    val needCnt = items.exists(it => Set("row_number", "rank",
      "percent_rank", "cume_dist", "ntile")(it.func))
    val needDk = items.exists(_.func == "dense_rank")
    val needN = items.exists(it => Set("percent_rank", "cume_dist",
      "ntile")(it.func))
    // (in-bucket cols, per-bucket totals, carried offsets, final combiner)
    val parts4: Seq[(Seq[Column], Seq[Column], Seq[Column], Column)] =
      items.zipWithIndex.map { case (Scan(_, f, arg, frame, _), j) =>
        def inN(c: String) = s"${tag}_in${j}_$c"
        val offCnt = coalesce(col(s"${tag}_offcnt"), lit(0L))
        lazy val nTot = col(s"${tag}_ntot")
        // the default frame of an ordered spec IS the RANGE prefix (peers
        // included); a ROWS frame ends at its own `hi`
        val w = frame.filter(!_.range).fold(wIn)(fr =>
          wIn.rowsBetween(Window.unboundedPreceding, fr.hi))
        f match {
          case "row_number" | "rank" =>
            val rk = if (f == "rank") rank() else row_number()
            (Seq(rk.over(wIn).cast("long").as(inN("r"))), Nil, Nil,
              col(inN("r")) + offCnt)
          case "dense_rank" =>
            (Seq(dense_rank().over(wIn).cast("long").as(inN("r"))), Nil, Nil,
              col(inN("r")) + coalesce(col(s"${tag}_offdk"), lit(0L)))
          case "percent_rank" =>
            (Seq(rank().over(wIn).cast("long").as(inN("r"))), Nil, Nil,
              when(nTot === 1L, lit(0.0)).otherwise(
                (col(inN("r")) + offCnt - 1L).cast("double") / (nTot - 1L)))
          case "cume_dist" =>
            (Seq(count(lit(1)).over(wIn).cast("long").as(inN("c"))), Nil, Nil,
              (col(inN("c")) + offCnt).cast("double") / nTot)
          case "ntile" =>
            // tile count n, grand total N: r = N % n oversized tiles of
            // q+1 rows (q = N div n), then n-r tiles of q rows — Spark's
            // NTile semantics from the broadcast N and the global
            // row_number alone. Integral floor-division goes through
            // decimal so it stays exact past 2^53 rows; the q=0 branch
            // (N < n → every row in an oversized tile) never reaches the
            // otherwise-divisor, which is guarded anyway (ANSI mode).
            val n = arg.get.cast("long")
            def ldiv(a: Column, b: Column): Column =
              ((a - a % b).cast("decimal(38,0)") / b).cast("long")
            (Seq(row_number().over(wIn).cast("long").as(inN("r"))), Nil, Nil, {
              val rn = col(inN("r")) + offCnt
              val r = nTot % n
              val q = ldiv(nTot, n)
              val cut = r * (q + 1L)
              when(rn <= cut, ldiv(rn - 1L, q + 1L) + 1L)
                .otherwise(r + ldiv(rn - cut - 1L,
                  greatest(q, lit(1L))) + 1L)
                .cast("int")
            })
          case _ =>
            running(f, arg.getOrElse(lit(1)), w, earlier,
              (p, c) => s"${tag}_$p${j}_$c")
        }
      }
    val ahead = items.flatMap(_.frame).filter(!_.range).map(_.hi.toInt)
      .foldLeft(0)(math.max)
    val withIn = withHalo(df, bk, 0, ahead)(
      _.select(col("*") +: parts4.flatMap(_._1): _*))
    // every item contributes at least one total (ranks need cnt,
    // dense_rank dk, aggregates their own), so the totals are never empty
    val totals =
      (if (needCnt || needN) Seq(count(lit(1)).as(s"${tag}_cnt")) else Nil) ++
        (if (needDk) Seq(count_distinct(
          struct(bk.ordNames.map(col): _*)).as(s"${tag}_dk")) else Nil) ++
        parts4.flatMap(_._2)
    val offsets =
      (if (needCnt || needN)
        Seq(sum(col(s"${tag}_cnt")).over(earlier).as(s"${tag}_offcnt")) else Nil) ++
        (if (needN)
          Seq(sum(col(s"${tag}_cnt")).over(bk.all).as(s"${tag}_ntot")) else Nil) ++
        (if (needDk)
          Seq(sum(col(s"${tag}_dk")).over(earlier).as(s"${tag}_offdk")) else Nil) ++
        parts4.flatMap(_._3)
    val joined = carry(withIn, df, bk.pid, totals, offsets)
    val finals = items.zipWithIndex.map { case (it, j) => parts4(j)._4.as(it.name) }
    val dropNames =
      items.indices.flatMap(j => Seq("r", "c", "s", "m").map(c =>
        s"${tag}_in${j}_$c")) ++
      Seq(s"${tag}_offcnt", s"${tag}_ntot", s"${tag}_offdk") ++
      items.indices.flatMap(j => Seq("c", "s", "m").map(c =>
        s"${tag}_f${j}_$c"))
    joined.select(col("*") +: finals: _*).drop(dropNames: _*)
  }

  /** A running count/sum/avg/min/max as prefix-scan parts: the in-bucket
    * window over `w`, the per-bucket total, its offset carried over the
    * `earlier` buckets and the combiner — count/sum offsets add (count's
    * coalesce to 0), min/max combine via null-skipping least/greatest,
    * avg decomposes into sum/count. `n(part, c)` names the scratch
    * columns (part "in", "t" or "f").
    */
  private def running(f: String, a: Column, w: WindowSpec,
      earlier: WindowSpec, n: (String, String) => String)
      : (Seq[Column], Seq[Column], Seq[Column], Column) = {
    def inN(c: String) = n("in", c)
    def totN(c: String) = n("t", c)
    def offN(c: String) = n("f", c)
    def plus(c: String) = coalesce(col(offN(c)) + col(inN(c)),
      col(offN(c)), col(inN(c)))
    def count0 = coalesce(col(offN("c")), lit(0L)) + col(inN("c"))
    f match {
      case "count" =>
        (Seq(count(a).over(w).as(inN("c"))),
          Seq(count(a).as(totN("c"))),
          Seq(sum(col(totN("c"))).over(earlier).as(offN("c"))),
          count0)
      case "sum" =>
        (Seq(sum(a).over(w).as(inN("s"))),
          Seq(sum(a).as(totN("s"))),
          Seq(sum(col(totN("s"))).over(earlier).as(offN("s"))),
          plus("s"))
      case "min" =>
        (Seq(min(a).over(w).as(inN("m"))),
          Seq(min(a).as(totN("m"))),
          Seq(min(col(totN("m"))).over(earlier).as(offN("m"))),
          least(col(offN("m")), col(inN("m"))))
      case "max" =>
        (Seq(max(a).over(w).as(inN("m"))),
          Seq(max(a).as(totN("m"))),
          Seq(max(col(totN("m"))).over(earlier).as(offN("m"))),
          greatest(col(offN("m")), col(inN("m"))))
      case "avg" =>
        (Seq(sum(a).over(w).as(inN("s")), count(a).over(w).as(inN("c"))),
          Seq(sum(a).as(totN("s")), count(a).as(totN("c"))),
          Seq(sum(col(totN("s"))).over(earlier).as(offN("s")),
            sum(col(totN("c"))).over(earlier).as(offN("c"))),
          when(count0 === 0L, lit(null))
            .otherwise(plus("s").cast("double") / count0))
      case other => sys.error(s"unreachable running aggregate $other")
    }
  }

  /** Halo items (bounded ROWS frames, lag/lead up to HaloCap) over one
    * halo as wide as the widest reach.
    */
  private def haloWindows(df: DataFrame, bk: BucketCols,
      items: Seq[HaloWin]): DataFrame =
    withHalo(df, bk, items.map(_.back).max, items.map(_.ahead).max)(u =>
      u.select(col("*") +: items.map(it =>
        it.build(bk.inBucket, bk.peerKeys).as(it.alias)): _*))

  /** HaloWin for an aggregate or value function over a bounded ROWS
    * frame: the dedicated lowering's column over the in-bucket spec.
    * DISTINCT runs its per-frame collect_set fold (set state is
    * frame-bounded); IGNORE NULLS on a value function only reads rows
    * inside the frame, so the halo covers it; EXCLUDE's peer groups are
    * keyed by (bucket id, order keys) — exact, because equal order keys
    * share a bucket and ghosts never share a key with their target
    * bucket's real rows.
    */
  private def framedWin(alias: String, f: String, args: Seq[BoundOperand],
      fr: Ast.WinFrame, opLower: BoundOperand => Column): HaloWin = {
    val lowered = args.map(a => a -> opLower(a)).toMap
    HaloWin(alias, math.max(0L, -fr.lo).toInt, math.max(0L, fr.hi).toInt,
      (w, peerKeys) => Lowering.framedWindowColumn(f, args, Some(fr),
        w.rowsBetween(fr.lo, fr.hi), w, peerKeys, lowered))
  }

  /** lag/lead IGNORE NULLS up to HaloCap. A run of NULLs can span any
    * number of buckets, so no halo covers the lookback. Instead each
    * bucket collects its last k (first k for lead) non-null values as a
    * sorted (index, value) array, and the carry concatenates the earlier
    * (later) buckets' arrays and keeps the k nearest. A row whose own
    * bucket holds ≥ k non-nulls before it takes the in-bucket IGNORE
    * NULLS shift; otherwise the shortfall indexes the carry from its near
    * end, and where the carry is short too the row is within k non-nulls
    * of the global boundary — the default applies. Exact because the k
    * nearest non-nulls before any prefix end are among the per-bucket
    * last-k arrays, the same containment the halo relies on.
    */
  private def nonNullCarry(df0: DataFrame, bk: BucketCols,
      items: Seq[Shift]): DataFrame = {
    val tag = s"__gin${tags.incrementAndGet()}"
    val gidxN = s"${tag}_gidx"
    val xN = items.indices.map(j => s"${tag}_x$j")
    val cntN = items.indices.map(j => s"${tag}_c$j")
    val arrN = items.indices.map(j => s"${tag}_a$j")
    val carN = items.indices.map(j => s"${tag}_k$j")
    val bucketed = df0.select(col("*") +: items.zip(xN).map {
      case (s, n) => s.x.as(n) }: _*)
    val wIn = bk.inBucket
    val ub = Window.unboundedPreceding
    // in-bucket index (orders the collected candidates within their
    // bucket) + per-item non-null counts: before the row for lag, after
    // it for lead. The after-count is the whole-bucket total minus the
    // inclusive prefix: Spark's (1, UnboundedFollowing) frame
    // re-aggregates per row, O(bucket²).
    val wPart = Window.partitionBy(col(bk.pid))
    val withIdx = bucketed.select(col("*") +:
      (row_number().over(wIn).as(gidxN) +:
        items.zipWithIndex.map { case (s, j) =>
          val x = col(xN(j))
          if (s.func == "lag") count(x).over(wIn.rowsBetween(ub, -1L)).as(cntN(j))
          else (count(x).over(wPart) -
            count(x).over(wIn.rowsBetween(ub, 0L))).as(cntN(j))
        }): _*)
    // candidates: the bucket's last k non-nulls for lag (a running count
    // over the reversed order), its first k for lead; collect_list
    // skips the NULL non-candidates
    val withCand = withIdx.select(col("*") +:
      items.zipWithIndex.map { case (s, j) =>
        val x = col(xN(j))
        val edgeCnt = count(x).over(
          (if (s.func == "lag") bk.inBucketRev else wIn).rowsBetween(ub, 0L))
        when(x.isNotNull && edgeCnt <= s.k,
          struct(col(gidxN).as("i"), x.as("v"))).as(s"${tag}_s$j")
      }: _*)
    // carry: the earlier (later) buckets' arrays in bucket order —
    // flatten preserves it — then the k nearest; collect_list over an
    // empty frame yields an empty array, never NULL
    val joined = carry(withIdx, withCand, bk.pid,
      items.indices.map(j =>
        sort_array(collect_list(col(s"${tag}_s$j"))).as(arrN(j))),
      items.zipWithIndex.map { case (s, j) =>
        val fl = flatten(collect_list(col(arrN(j))).over(
          if (s.func == "lag") bk.before else bk.after))
        (if (s.func == "lag")
          slice(fl, greatest(lit(1), size(fl) - s.k + 1), lit(s.k))
        else slice(fl, lit(1), lit(s.k))).as(carN(j))
      })
    val finals = items.zipWithIndex.map { case (s, j) =>
      val x = col(xN(j))
      val dfltC = lit(s.dflt).cast(bucketed.schema(xN(j)).dataType)
      val carried = col(carN(j))
      val need = (lit(s.k) - col(cntN(j))).cast("int")
      val inShift =
        (if (s.func == "lag") lag(x, s.k, null, ignoreNulls = true)
         else lead(x, s.k, null, ignoreNulls = true)).over(wIn)
      val fromCarry =
        if (s.func == "lag")
          element_at(carried, size(carried) - need + 1).getField("v")
        else element_at(carried, need).getField("v")
      when(col(cntN(j)) >= s.k, inShift)
        .otherwise(when(size(carried) >= need, fromCarry).otherwise(dfltC))
        .as(s.name)
    }
    joined.select(col("*") +: finals: _*)
      .drop((Seq(gidxN) ++ xN ++ cntN ++ carN): _*)
  }

  /** Whole-input frames with EXCLUDE, over a two-sided carry:
    *
    *  - count/sum/avg: the global total is the earlier buckets' totals +
    *    the own bucket's + the later buckets'; the excluded part
    *    subtracts like exclusionCol: CURRENT ROW the row, GROUP the
    *    in-bucket peer group (exact: equal keys share a bucket), TIES the
    *    peers minus the row; an all-excluded frame yields SQL NULL.
    *  - min/max don't subtract — they combine the earlier and later
    *    buckets' extremes with in-bucket before/after windows (ROWS for
    *    row exclusion, RANGE over the peer-group index for peer
    *    exclusion) via null-skipping least/greatest; RANGE + EXCLUDE
    *    CURRENT ROW adds the peer group minus the row, TIES the row's own
    *    value.
    */
  private def wholeExclude(df0: DataFrame, bk: BucketCols,
      items: Seq[WholeExclude]): DataFrame = {
    val tag = s"__gwx${tags.incrementAndGet()}"
    val giN = s"${tag}_gi"
    val idxN = s"${tag}_ix"
    // min/max split into before/after parts, and BOTH must be EXPANDING
    // frames: Spark's (bounded-start, UnboundedFollowing) frame
    // recomputes the aggregate whenever the lower bound moves —
    // O(bucket²). So the after-part runs as a PREFIX frame over a
    // REVERSED in-bucket index: a peer-group index (dense_rank, for
    // RANGE peer exclusion; never NULL, unlike the value key, whose NULL
    // rows Spark's range frame collapses into the null peer group) and a
    // unique row index (row_number, for ROWS row exclusion). Both are
    // exact complements: the index is unique / peer-consistent, so ties
    // cannot reshuffle between the two sorts.
    val needGi = items.exists(it => Set("min", "max")(it.func) && it.frame.range)
    val needIdx = items.exists(it => Set("min", "max")(it.func))
    val preGi =
      if (needGi) df0.withColumn(giN, dense_rank().over(bk.inBucket)) else df0
    val bucketed =
      if (needIdx) preGi.withColumn(idxN, row_number().over(bk.inBucket))
      else preGi
    def byIdx(c: String, asc: Boolean) = Window.partitionBy(col(bk.pid))
      .orderBy(if (asc) col(c).asc else col(c).desc)
    val wPeer = Window.partitionBy(bk.peerKeys: _*)
    val unb = Window.unboundedPreceding
    def nz2(a: Column, b: Column): Column = coalesce(a + b, a, b)
    // (in-bucket cols, per-bucket totals, carried offsets, final combiner)
    val parts4: Seq[(Seq[Column], Seq[Column], Seq[Column], Column)] =
      items.zipWithIndex.map { case (WholeExclude(_, f, cOpt, fr), j) =>
        def inN(c: String) = s"${tag}_in${j}_$c"
        def totN(c: String) = s"${tag}_t${j}_$c"
        def offN(c: String) = s"${tag}_f${j}_$c"
        val mode = fr.exclude
        val needPeerAgg = mode == "group" || mode == "ties"
        lazy val selfCnt = cOpt.fold(lit(1L))(_.isNotNull.cast("long"))
        def gCnt = coalesce(col(offN("pc")), lit(0L)) + col(totN("c")) +
          coalesce(col(offN("sc")), lit(0L))
        def gSum = nz2(nz2(col(offN("ps")), col(totN("s"))), col(offN("ss")))
        def cntSub = mode match {
          case "current" => selfCnt
          case "group"   => col(inN("gc"))
          case _         => col(inN("gc")) - selfCnt // ties
        }
        def sumSub(x: Column) = mode match {
          case "current" => coalesce(x, lit(0))
          case "group"   => coalesce(col(inN("gs")), lit(0))
          case _         => coalesce(col(inN("gs")), lit(0)) -
            coalesce(x, lit(0)) // ties
        }
        // the own bucket's totals ride the carry's broadcast too
        def sides(t: String, p: String, s: String) =
          Seq(sum(col(totN(t))).over(bk.before).as(offN(p)),
            sum(col(totN(t))).over(bk.after).as(offN(s)), col(totN(t)))
        f match {
          case "count" =>
            val cnt = cOpt.fold(count(lit(1)))(count(_))
            (if (needPeerAgg) Seq(cnt.over(wPeer).as(inN("gc"))) else Nil,
              Seq(cnt.as(totN("c"))),
              sides("c", "pc", "sc"),
              gCnt - cntSub)
          case "sum" | "avg" =>
            val x = cOpt.get
            val in = if (needPeerAgg)
              Seq(sum(x).over(wPeer).as(inN("gs")),
                count(x).over(wPeer).as(inN("gc"))) else Nil
            val excl = when(gCnt - cntSub === 0L, lit(null))
            (in,
              Seq(sum(x).as(totN("s")), count(x).as(totN("c"))),
              sides("s", "ps", "ss") ++ sides("c", "pc", "sc"),
              if (f == "sum") excl.otherwise(gSum - sumSub(x))
              else excl.otherwise((gSum - sumSub(x)) / (gCnt - cntSub)))
          case _ => // min | max
            val x = cOpt.get
            val isMin = f == "min"
            def agg(c: Column) = if (isMin) min(c) else max(c)
            def cmb(cs: Seq[Column]) =
              if (isMin) least(cs: _*) else greatest(cs: _*)
            val (wp, ws) =
              if (fr.range) (byIdx(giN, asc = true).rangeBetween(unb, -1L),
                byIdx(giN, asc = false).rangeBetween(unb, -1L))
              else (byIdx(idxN, asc = true).rowsBetween(unb, -1L),
                byIdx(idxN, asc = false).rowsBetween(unb, -1L))
            // all-but-self within the peer group: prefix frames over the
            // unique row index in BOTH directions (any total order covers
            // all-but-self; the expanding shape keeps a giant peer group
            // incremental too)
            val pes = if (fr.range && mode == "current") {
              def pw(asc: Boolean) = Window.partitionBy(bk.peerKeys: _*)
                .orderBy(if (asc) col(idxN).asc else col(idxN).desc)
                .rowsBetween(unb, -1L)
              Seq(cmb(Seq(agg(x).over(pw(asc = true)),
                agg(x).over(pw(asc = false)))).as(inN("e")))
            } else Nil
            val base = Seq(col(offN("p")), col(inN("p")),
              col(inN("s")), col(offN("s")))
            (Seq(agg(x).over(wp).as(inN("p")),
              agg(x).over(ws).as(inN("s"))) ++ pes,
              Seq(agg(x).as(totN("m"))),
              Seq(agg(col(totN("m"))).over(bk.before).as(offN("p")),
                agg(col(totN("m"))).over(bk.after).as(offN("s"))),
              mode match {
                case "current" if fr.range => cmb(base :+ col(inN("e")))
                case "current" | "group"   => cmb(base)
                case _                     => cmb(base :+ x) // ties
              })
        }
      }
    val withIn = bucketed.select(col("*") +: parts4.flatMap(_._1): _*)
    // the per-bucket totals read the bucketing itself, not the indexes
    val joined = carry(withIn, df0, bk.pid, parts4.flatMap(_._2),
      parts4.flatMap(_._3))
    val finals = items.zipWithIndex.map { case (it, j) =>
      parts4(j)._4.as(it.name) }
    val dropNames = Seq(giN, idxN) ++
      items.indices.flatMap(j =>
        Seq("gc", "gs", "p", "s", "e").map(c => s"${tag}_in${j}_$c") ++
          Seq("c", "s", "m").map(c => s"${tag}_t${j}_$c") ++
          Seq("pc", "sc", "ps", "ss", "p", "s").map(c => s"${tag}_f${j}_$c"))
    joined.select(col("*") +: finals: _*).drop(dropNames: _*)
  }
}
