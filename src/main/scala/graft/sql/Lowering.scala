package graft.sql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Analyzer._
import graft.functions.ParamLiteral
import graft.operators.Fixpoint

/** Lowers a bound query to a declarative DataFrame program. This is the
  * whole "planner + optimizer + execution engine" of the reference
  * (planner/bottomup.rs, optimizer/optimizer.rs, volcano_style.rs) —
  * collapsed into plan construction, because Catalyst supplies predicate
  * pushdown, column pruning, join detection/reordering and physical
  * operator selection (SURVEY.md §4.1).
  *
  * Join strategy: when GraftDatabase supplies a stats-chosen join order
  * (JoinOrder — DPccp parity with the reference's optimizer), the tree is
  * built explicitly with equi-join conditions attached per join, and
  * Catalyst preserves that order while still pushing the residual
  * selections down. Without a plan (single table / oversized FROM list),
  * tables combine as crossJoin + full WHERE on top and Catalyst's
  * PushPredicateThroughJoin + ReorderJoin recover the hash joins —
  * exactly the rewrite the reference does by hand in
  * planner/bottomup.rs:74-99 + DPccp. Either way no CartesianProduct
  * survives in the physical plan (asserted in DialectSpec).
  */
object Lowering {

  /** NULL comparison semantics: standard SQL 3VL, NOT the reference's
    * `NULL = NULL → TRUE` quirk (reference volcano_style.rs:76-84;
    * divergence documented in SURVEY.md §1.4).
    */
  def lowerSelect(spark: SparkSession, q: BoundSelect,
      source: BoundTable => DataFrame,
      broadcastBindings: Set[String] = Set.empty,
      joinPlan: Option[JoinOrder.Tree] = None): DataFrame = {
    val filtered0 = combine(spark, q, source, broadcastBindings, joinPlan)
    // unpartitioned windows over an input the statistics bound small
    // run as Spark's own window (GlobalWindows.OneTaskRows)
    val windowRows = inputRows(q, source)
    val oneTaskWins = oneTask(windowRows)

    // Output naming: the user's AS alias wins; otherwise bare attribute
    // name when unique across the projection, binding_attr when duplicated
    // (the reference prints qualified headers, bottomup.rs:34-44; parquet
    // column names cannot contain '.').
    val colItems = q.projection.collect { case BoundItem.BICol(c, None) => c }
    val counts = colItems.groupBy(_.attr.name.toLowerCase).view.mapValues(_.size)
    def outName(bc: BoundCol, alias: Option[String] = None): String = alias.getOrElse {
      if (counts.getOrElse(bc.attr.name.toLowerCase, 0) > 1) s"${bc.binding}_${bc.attr.name}"
      else bc.attr.name
    }
    if (!q.isAggregate) {
      val namedCols = q.projection.collect { case BoundItem.BICol(bc, a) => (bc, a) }
      // the SELECT list's subqueries (scalar subqueries, CASE
      // conditions) attach to the relational core BEFORE projection; the
      // final select projects their columns away
      val ms = new MarkerScope(spark, source, "p", qualified,
        columnLeaf(qualified), windowRows)
      q.projection.foreach {
        case BoundItem.BIExpr(op, _) => ms.register(op)
        case _ => ()
      }
      val base1 = ms.attach(filtered0)
      // QUALIFY: attach every window column (SELECT-list items AND the
      // hidden inline-OVER items) at its alias, filter, and let the final
      // projection read the precomputed columns (and drop hidden ones).
      // Windows evaluate over the post-WHERE row set — SQL clause order.
      // DISTINCT ON ordered by a window alias (DISTINCT ON (k) … ORDER BY
      // k, rn): the window must compute BEFORE the first-row filter, so
      // it rides the same pre-attach as QUALIFY
      val donNeedsWins = q.distinctOn.nonEmpty && q.orderBy.exists {
        case (BoundOrderKey.OKOutput(n), _) => q.projection.exists {
          case BoundItem.BIWin(_, _, _, _, a, _) => a.equalsIgnoreCase(n)
          case _                                 => false
        }
        case _ => false
      }
      // GROUPS frames need their dense_rank pre-attached — force the
      // pre-attach path (projection-time Columns can't reference it)
      val hasGroupsFrames = q.projection.exists {
        case BoundItem.BIWin(_, _, _, _, _, fr) => fr.exists(_.groups)
        case _                                  => false
      }
      // DISTINCT window aggregates over prefix frames need their
      // first-occurrence mask pre-attached too (same reason as GROUPS)
      val hasDistinctRunning = q.projection.exists {
        case BoundItem.BIWin(f, args, _, _, _, fr) =>
          distinctWinEligible(f, args, fr)
        case _ => false
      }
      // unpartitioned windows the bucketed operator or the OVER ()
      // broadcast rewrite computes pre-attach (outputCols-time Columns
      // can't rewrite the frame or inject the join)
      val opL: BoundOperand => Column = lowerOperandWith(_, qualified)
      val classified = (q.projection ++ q.qualifyWins).collect {
        case w: BoundItem.BIWin => w -> GlobalWindows.classify(w.alias,
          w.func, w.args, w.partitionBy, w.orderBy, w.frame, opL, oneTaskWins)
      }
      val winsPre = q.qualify.isDefined || donNeedsWins ||
        hasGroupsFrames || hasDistinctRunning || q.qualifyWins.nonEmpty ||
        classified.exists(_._2.nonEmpty)
      val baseQ =
        if (!winsPre) base1
        else {
          // DISTINCT items pre-attach their first-occurrence mask (value-
          // partitioned window — distributed at any NDV) and become an
          // ordinary running aggregate over the mask
          val withWins = GlobalWindows.attach(base1,
              classified.flatMap(_._2)) { d =>
            classified.collect { case (w, None) => w }.foldLeft(d) {
              case (d, BoundItem.BIWin(f, args, parts, ord, a, frame)) =>
                val rk = if (frame.exists(_.groups)) Some(s"__grk_$a") else None
                val mk = if (distinctWinEligible(f, args, frame))
                  Some(s"__dmk_$a") else None
                val d1 = rk.fold(d)(n => d.withColumn(n, groupsRankColumn(
                  parts, ord, opL, qualified)))
                val d2 = mk.fold(d1)(n => d1.withColumn(n, distinctMaskColumn(
                  args, parts, ord, opL)))
                d2.withColumn(a, windowColumn(f, args, parts, ord, frame,
                    opL, qualified, rk.map(col), mk.map(col)))
                  .drop(rk.toSeq ++ mk.toSeq: _*)
            }
          }
          // QUALIFY's subqueries join the WINDOWED frame
          val qms = new MarkerScope(spark, source, "ql", qualified,
            columnLeaf(qualified))
          qms.filter(q.qualify.toSeq)
          qms.attach(withWins)
        }
      // DISTINCT ON: first row per key tuple under the query ORDER BY —
      // a row_number window partitioned on the ON keys (one shuffle;
      // Catalyst plans the rn=1 filter as WindowGroupLimit, so per-key
      // state is one row, never a per-key sort buffer)
      val base = if (q.distinctOn.isEmpty) baseQ else {
        def okCol(k: BoundOrderKey): Column = k match {
          case BoundOrderKey.OKOperand(op) => lowerOperandWith(op, qualified)
          case BoundOrderKey.OKOutput(n) => q.projection.collectFirst {
            case BoundItem.BICol(bc, Some(a)) if a.equalsIgnoreCase(n) => qualified(bc)
            case BoundItem.BIExpr(op, a) if a.equalsIgnoreCase(n) => ms.lower(op)
            // window alias: the column is pre-attached (donNeedsWins)
            case BoundItem.BIWin(_, _, _, _, a, _) if a.equalsIgnoreCase(n) =>
              col(a)
          }.getOrElse(sys.error(s"unreachable DISTINCT ON order alias $n"))
        }
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(q.distinctOn.map(lowerOperandWith(_, qualified)): _*)
          .orderBy(q.orderBy.map { case (k, dir) => sortCol(okCol(k), dir) }: _*)
        baseQ.withColumn("__don", row_number().over(w))
          .filter(col("__don") === 1).drop("__don")
      }
      def outputCols: Seq[Column] = q.projection.map {
        case BoundItem.BICol(bc, a)  => qualified(bc).as(outName(bc, a))
        case BoundItem.BIExpr(op, a) => ms.lower(op).as(a)
        case _: BoundItem.BIAgg =>
          sys.error("unreachable: aggregate items take the aggregate branch")
        case BoundItem.BIWin(f, args, parts, ord, a, frame) =>
          if (winsPre) col(a).as(a)
          else windowColumn(f, args, parts, ord, frame,
            lowerOperandWith(_, qualified), qualified).as(a)
      }
      if (q.distinct && q.distinctOn.isEmpty) {
        // DISTINCT applies to the PROJECTED rows, so evaluation reorders:
        // project → distinct → sort on output names (the analyzer already
        // required sort keys to be projected or output aliases) → limit
        // (DISTINCT ON took the pre-projection first-row filter instead
        // and falls through to the plain ordered path)
        val projected = base.select(outputCols: _*).distinct()
        val ordered = if (q.orderBy.isEmpty) projected else projected.orderBy(
          q.orderBy.map {
            case (BoundOrderKey.OKOutput(n), dir) => sortCol(col(n), dir)
            case (BoundOrderKey.OKOperand(BoundOperand.BCol(bc)), dir) =>
              val name = namedCols.collectFirst {
                case (pc, a) if pc.binding == bc.binding &&
                  pc.attr.name.equalsIgnoreCase(bc.attr.name) => outName(pc, a)
              }.getOrElse(outName(bc))
              sortCol(col(name), dir)
            case (k, _) => sys.error(s"unreachable DISTINCT sort key $k")
          }: _*)
        applyOffsetLimit(ordered, q.offset, q.limit)
      } else if (q.orderBy.isEmpty) {
        // window items must evaluate over the FULL row set, so the
        // projection computes before LIMIT/OFFSET cut it; plain
        // projections keep limit-first (Catalyst's CollectLimit stops
        // the scan early, and the select commutes with it)
        if (q.projection.exists(_.isInstanceOf[BoundItem.BIWin]))
          applyOffsetLimit(base.select(outputCols: _*), q.offset, q.limit)
        else
          applyOffsetLimit(base, q.offset, q.limit).select(outputCols: _*)
      } else {
        // project output + hidden sort columns, sort, limit, drop hidden:
        // output-alias keys sort the projected column; operand keys may
        // reference unprojected table columns, so they ride as hidden
        // columns through the sort (with LIMIT Catalyst still plans
        // TakeOrderedAndProject over the projection)
        val hidden = q.orderBy.zipWithIndex.collect {
          case ((BoundOrderKey.OKOperand(op), _), i) =>
            s"__sort_$i" -> lowerOperandWith(op, qualified)
        }
        val projected = base.select(
          outputCols ++ hidden.map { case (n, c) => c.as(n) }: _*)
        val sortCols = q.orderBy.zipWithIndex.map { case ((k, dir), i) =>
          val c = k match {
            case BoundOrderKey.OKOutput(n)  => col(n)
            case BoundOrderKey.OKOperand(_) => col(s"__sort_$i")
          }
          sortCol(c, dir)
        }
        val ordered = projected.orderBy(sortCols: _*)
        applyOffsetLimit(ordered, q.offset, q.limit).drop(hidden.map(_._1): _*)
      }
    } else {
      // GROUP BY + aggregates: group keys keep their (possibly qualified)
      // output names — an alias key keeps its alias; aggregate output
      // names are func_col / count_star, uniquified on collision.
      val groupColKeys = q.groupBy.collect { case BoundGroupKey.GKCol(c) => c }
      val groupExprAliases =
        q.groupBy.collect { case BoundGroupKey.GKExpr(_, a) => a.toLowerCase }.toSet
      def groupOut(bc: BoundCol): String =
        if (groupColKeys.count(_.attr.name.equalsIgnoreCase(bc.attr.name)) > 1)
          s"${bc.binding}_${bc.attr.name}"
        else bc.attr.name
      val aggItems = q.projection.zipWithIndex.collect {
        case (BoundItem.BIAgg(f, arg, a, dist), i) => (f, arg, dist, a, i)
      }
      val usedNames = scala.collection.mutable.Set.empty[String]
      val aggName: Map[Int, String] = aggItems.map { case (f, arg, _, alias, i) =>
        val base = alias.getOrElse(arg match {
          case None                         => "count_star"
          case Some(BoundOperand.BCol(c))   => s"${f}_${c.attr.name}"
          case Some(_)                      => s"${f}_expr"
        })
        val name = if (usedNames.add(base)) base else {
          var k = 2
          while (!usedNames.add(s"${base}_$k")) k += 1
          s"${base}_$k"
        }
        i -> name
      }.toMap
      // aggregate over a full expression: sum(a * (1 - b)) lowers the
      // argument with qualified (pre-aggregation) column resolution
      def aggNodeCol(node: BoundOperand): Column =
        Aggregates.lowerNode(node, lowerOperandWith(_, qualified))
      val aggExprs = aggItems.map { case (f, arg, dist, _, i) =>
        aggNodeCol(BoundOperand.BAgg(f, arg, dist)).as(aggName(i)) }
      // HAVING / ORDER BY / computed-projection aggregates compute as
      // hidden columns next to the projected ones; the final projection
      // drops them
      val havingAggs =
        scala.collection.mutable.ArrayBuffer.empty[(BoundOperand, String)]
      // post-aggregation window column names: projection window items
      // attach as __w_<i>, hidden inline-OVER windows (projection
      // expressions + QUALIFY) at their generated aliases — BOut output
      // references in expressions lowered over the windowed frame
      // resolve through this map
      val qualifyWinAliasCol: Map[String, String] =
        (q.projection.zipWithIndex.collect {
          case (BoundItem.BIWin(_, _, _, _, a, _), i) =>
            a.toLowerCase -> s"__w_$i"
        } ++ q.qualifyWins.map(w => w.alias.toLowerCase -> w.alias.toLowerCase)).toMap
      // post-aggregation resolution: group keys by grouped name,
      // aggregate calls as hidden agg columns (registered as they lower)
      def hiddenAgg(a: BoundOperand): Column = {
        val name = s"__h_${havingAggs.length}"
        havingAggs += ((a, name))
        col(name)
      }
      val groupedLeaf: PartialFunction[BoundNode, Column] = {
        case BoundOperand.BCol(c) => col(groupOut(c))
        case a: BoundOperand.BAgg        => hiddenAgg(a)
        case a: BoundOperand.BOrderedAgg => hiddenAgg(a)
        case BoundOperand.BOut(n, _) =>
          // a hidden-window output reference: the window column attaches
          // between aggregation and the final projection (withWins), so
          // every consumer — projection expressions, ORDER BY, QUALIFY —
          // evaluates over the windowed frame (HAVING cannot contain
          // windows; analyzer scope)
          col(qualifyWinAliasCol(n.toLowerCase))
      }
      // the grouped frame's subqueries — HAVING, the SELECT list and the
      // scalar operands of ORDER BY, DISTINCT ON and windows — register
      // NOW, so their probe aggregates become hidden agg columns before
      // the agg assembles; they attach after aggregation (outer
      // references are GROUP BY keys, analyzer-guaranteed)
      val aggMs = new MarkerScope(spark, source, "h",
        bc => col(groupOut(bc)), groupedLeaf, windowRows)
      aggMs.filter(q.having.map(BoundExpr.conjuncts).getOrElse(Nil))
      // computed projections in aggregate scope (count(*) * 2 AS n2):
      // their subqueries register first; then each item lowers, its
      // aggregate calls becoming hidden agg columns — registered into the
      // same buffer BEFORE the agg() is assembled — and the expression
      // evaluates over them (and grouped names) at the final projection.
      // A computed item whose alias IS a group key projects the grouped
      // column (recomputing would reference pre-aggregation inputs)
      val exprOps = q.projection.zipWithIndex.collect {
        case (BoundItem.BIExpr(op, a), i) if !groupExprAliases(a.toLowerCase) =>
          i -> op
      }
      exprOps.foreach(x => aggMs.register(x._2))
      val exprCols = exprOps.map { case (i, op) => i -> aggMs.lower(op) }.toMap
      // ORDER BY keys in aggregate scope lower NOW so their aggregate
      // calls register hidden columns before the agg() assembles: output
      // aliases resolve to post-aggregation column names, operands
      // resolve post-aggregation (group keys by grouped name, aggregates
      // as hidden agg columns, scalar subqueries through aggMs)
      // a subtree that IS a group expression resolves to the grouped key
      // column (recomputing would reference pre-agg inputs)
      val scalarLeaf: PartialFunction[BoundNode, Column] = {
        case v: BoundOperand.BSubVal => aggMs.value(v)
      }
      val aggScopeLeaf: PartialFunction[BoundNode, Column] =
        Function.unlift((n: BoundNode) => q.groupBy.collectFirst {
          case BoundGroupKey.GKExpr(gop, a) if gop == n => col(a)
        }) orElse scalarLeaf orElse groupedLeaf
      def aggScopeOperand(op: BoundOperand): Column = lowerTree(op, aggScopeLeaf)
      val orderCols: Seq[(Column, Ast.SortDir)] = q.orderBy.map { case (k, desc) =>
        val c = k match {
          case BoundOrderKey.OKOutput(n) =>
            q.projection.zipWithIndex.collectFirst {
              case (BoundItem.BIAgg(_, _, Some(a), _), i) if a.equalsIgnoreCase(n) =>
                col(aggName(i))
              case (BoundItem.BIExpr(op, a), _) if a.equalsIgnoreCase(n) =>
                if (groupExprAliases(a.toLowerCase)) col(a) else aggMs.lower(op)
              case (BoundItem.BICol(bc, Some(a)), _) if a.equalsIgnoreCase(n) =>
                col(groupOut(bc))
              case (BoundItem.BIWin(_, _, _, _, a, _), i) if a.equalsIgnoreCase(n) =>
                col(s"__w_$i")
            }.getOrElse(sys.error(s"unreachable: unresolved output alias $n"))
          case BoundOrderKey.OKOperand(op) => aggScopeOperand(op)
        }
        (c, desc)
      }
      // DISTINCT ON over the aggregated frame: the ON keys lower NOW
      // (aggregate keys must register their hidden agg columns before
      // the agg assembles); the first-row-per-key filter applies after
      // windows/QUALIFY attach, right before the final ORDER BY
      val donCols: Seq[Column] = q.distinctOn.map(aggScopeOperand)
      // window items over the AGGREGATED frame (rank() OVER (ORDER BY
      // count(*) DESC) after GROUP BY): operands resolve post-aggregation
      // — group keys by grouped name, aggregate calls as hidden agg
      // columns (registered NOW, before the agg assembles); the columns
      // compute in a select between aggregation and the final ORDER BY
      // GROUPS frames over the aggregated frame: the dense_rank columns
      // pre-attach in a select ahead of the window select, then drop
      val winRanks = scala.collection.mutable.ArrayBuffer.empty[(String, Column)]
      def withRank(frame: Option[Ast.WinFrame], parts: Seq[BoundOperand],
          ord: Seq[(BoundOperand, Ast.SortDir)], tag: String): Option[Column] =
        if (!frame.exists(_.groups)) None
        else {
          val n = s"__grk_$tag"
          winRanks += n -> groupsRankColumn(parts, ord, aggScopeOperand,
            bc => col(groupOut(bc)))
          Some(col(n))
        }
      // DISTINCT prefix-frame aggregates pre-attach their mask through
      // the same select (winRanks names all drop after the window select)
      def withMask(f: String, args: Seq[BoundOperand],
          frame: Option[Ast.WinFrame], parts: Seq[BoundOperand],
          ord: Seq[(BoundOperand, Ast.SortDir)], tag: String): Option[Column] =
        if (!distinctWinEligible(f, args, frame)) None
        else {
          val n = s"__dmk_$tag"
          winRanks += n -> distinctMaskColumn(args, parts, ord,
            aggScopeOperand)
          Some(col(n))
        }
      // unpartitioned windows (sum(count(*)) OVER (), rank() OVER (ORDER
      // BY count(*))) go to GlobalWindows; operands lower ONCE either
      // way (aggScopeOperand registers hidden aggregates as a side
      // effect, BEFORE the agg assembles).
      // QUALIFY in aggregate scope: hidden inline-OVER window items
      // compute like projection windows (args register hidden aggregates
      // NOW) and attach under their generated aliases; the predicate
      // lowers NOW too — window aliases read the attached columns,
      // everything else resolves post-aggregation
      def lowerWin(name: String, f: String, args: Seq[BoundOperand],
          parts: Seq[BoundOperand], ord: Seq[(BoundOperand, Ast.SortDir)],
          frame: Option[Ast.WinFrame], tag: String)
          : (String, Either[GlobalWindows.Req, Column]) =
        name -> GlobalWindows.classify(name, f, args, parts, ord, frame,
          aggScopeOperand, oneTaskWins).toLeft(windowColumn(f, args, parts, ord, frame,
            aggScopeOperand, bc => col(groupOut(bc)),
            withRank(frame, parts, ord, tag),
            withMask(f, args, frame, parts, ord, tag)))
      val winLowered: Seq[(String, Either[GlobalWindows.Req, Column])] =
        q.projection.zipWithIndex.collect {
          case (BoundItem.BIWin(f, args, parts, ord, _, frame), i) =>
            lowerWin(s"__w_$i", f, args, parts, ord, frame, i.toString)
        } ++ q.qualifyWins.map(w => lowerWin(w.alias.toLowerCase, w.func,
          w.args, w.partitionBy, w.orderBy, w.frame, s"q_${w.alias}"))
      val winItems: Seq[(String, Column)] =
        winLowered.collect { case (n, Right(c)) => n -> c }
      val winReqs: Seq[GlobalWindows.Req] =
        winLowered.collect { case (_, Left(r)) => r }
      // QUALIFY over an aggregated query: its subqueries join the
      // WINDOWED frame below; the predicate lowers NOW, so its probe
      // aggregates register hidden agg columns before the agg assembles
      val qms = new MarkerScope(spark, source, "qla",
        bc => col(groupOut(bc)), aggScopeLeaf)
      qms.filter(q.qualify.toSeq)
      val hiddenExprs = havingAggs.map { case (node, name) =>
        aggNodeCol(node).as(name) }
      val allAggs = aggExprs ++ hiddenExprs
      val keyCols = q.groupBy.map {
        case BoundGroupKey.GKCol(bc)     => qualified(bc).as(groupOut(bc))
        case BoundGroupKey.GKExpr(op, a) => lowerOperandWith(op, qualified).as(a)
      }
      val grouped0 = q.groupSpec match {
        case None =>
          if (allAggs.isEmpty) filtered0.select(keyCols: _*).distinct()
          else filtered0.groupBy(keyCols: _*).agg(allAggs.head, allAggs.tail: _*)
        // multi-dimensional grouping: one pass with Expand — subtotal rows
        // null their non-member keys, exactly SQL's semantics (the
        // analyzer guarantees at least one aggregate exists). The keys
        // group UNALIASED (an Alias inside Expand's projections breaks
        // the grouping-column match and nulls every key) and the output
        // renames positionally: agg output order is keys then aggregates.
        case Some(spec) =>
          val rawKeys = q.groupBy.map {
            case BoundGroupKey.GKCol(bc)     => qualified(bc)
            case BoundGroupKey.GKExpr(op, _) => lowerOperandWith(op, qualified)
          }
          val keyNames = q.groupBy.map {
            case BoundGroupKey.GKCol(bc)     => groupOut(bc)
            case BoundGroupKey.GKExpr(_, a)  => a
          }
          val aggNames = aggItems.map { case (_, _, _, _, i) => aggName(i) } ++
            havingAggs.map(_._2)
          val g = spec match {
            case Ast.GroupingSpec.Rollup => filtered0.rollup(rawKeys: _*)
            case Ast.GroupingSpec.Cube   => filtered0.cube(rawKeys: _*)
            case Ast.GroupingSpec.Sets(sets) =>
              filtered0.groupingSets(sets.map(_.map(rawKeys)), rawKeys: _*)
          }
          val expanded = g.agg(allAggs.head, allAggs.tail: _*)
            .toDF(keyNames ++ aggNames: _*)
          // SQL's () grouping set is a GLOBAL aggregate: one row even
          // over EMPTY input (count family 0, grouping markers 1, other
          // aggregates NULL — DuckDB probed; round-13 fuzz caught the
          // gap). Spark's Expand emits no rows at all from an empty
          // input, so a literal grand-total row anti-joins in — it
          // survives only when the expanded result is empty. Aggregates
          // without a statically known empty-input value keep Spark's
          // behavior (none exist in the gate surface today).
          val hasEmptySet = spec match {
            case Ast.GroupingSpec.Rollup | Ast.GroupingSpec.Cube => true
            case Ast.GroupingSpec.Sets(sets) => sets.exists(_.isEmpty)
          }
          // The grand-total row's value per aggregate on EMPTY input: the
          // catalog's probed empty-group value (NULL for nearly every
          // aggregate; the count family 0, the grouping marker 1, entropy
          // 0.0). An unprobed aggregate has none and the patch row is
          // skipped entirely (fail-safe: Spark's empty-Expand behavior,
          // never a silently-wrong grand total).
          val emptyFs: Seq[(String, String)] =
            aggItems.map { case (f, _, _, _, i) => aggName(i) -> f } ++
              havingAggs.map { case (node, n) => n -> (node match {
                case BoundOperand.BAgg(f, _, _)              => f
                case BoundOperand.BOrderedAgg(f, _, _, _, _) => f
                case other => sys.error(s"unreachable hidden aggregate $other")
              }) }
          val patchable = emptyFs.map { case (n, f) =>
            Aggregates(f).empty.map(v =>
              n -> lit(v).cast(expanded.schema(n).dataType)) }
          if (!hasEmptySet || patchable.exists(_.isEmpty)) expanded
          else {
            val patchVals = patchable.flatten.toMap
            val patchRow = spark.range(1).select(
              keyNames.map(n =>
                lit(null).cast(expanded.schema(n).dataType).as(n)) ++
                aggNames.map(n => patchVals(n).as(n)): _*)
            expanded.unionByName(patchRow.join(
              expanded.limit(1).select(lit(1).as("__gx")),
              lit(true), "left_anti"))
          }
      }
      // HAVING filters, then the SELECT list's and the scalar operands'
      // subqueries join the aggregated frame (1:1 by construction; their
      // columns die at the final explicit projection)
      val grouped = aggMs.attach(grouped0)
      // window columns compute over the aggregated (and HAVING-filtered)
      // frame, BEFORE the final ORDER BY — the window's own exchange
      // must not disturb the result ordering
      val withWins = GlobalWindows.attach(grouped, winReqs) { groupedG =>
        if (winItems.isEmpty) groupedG
        else {
          val preRanked =
            if (winRanks.isEmpty) groupedG
            else groupedG.select(col("*") +: winRanks.toSeq.map {
              case (n, c) => c.as(n) }: _*)
          preRanked.select(col("*") +: winItems.map {
            case (n, c) => c.as(n) }: _*)
            .drop(winRanks.toSeq.map(_._1): _*)
        }
      }
      // QUALIFY filters the windowed aggregate result before
      // DISTINCT/ORDER BY (clause order); hidden window columns die at
      // the final projection. Subquery predicates left-join their marker
      // frames onto the windowed frame first (1:1), filter, then drop.
      val qualifyFiltered = qms.attach(withWins)
      // DISTINCT ON first-row selection: a row_number window on the ON
      // keys ordered by the (ON-key-led) query ORDER BY — Catalyst
      // plans the rn=1 filter as WindowGroupLimit, one row of state per
      // key (same shape as the row-scope path)
      val donned =
        if (q.distinctOn.isEmpty) qualifyFiltered
        else {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(donCols: _*)
            .orderBy(orderCols.map { case (c, dir) => sortCol(c, dir) }: _*)
          qualifyFiltered.withColumn("__don", row_number().over(w))
            .filter(col("__don") === 1).drop("__don")
        }
      // ORDER BY runs on the post-aggregation names BEFORE the final
      // projection, so an unprojected group key or aggregate can still
      // order the result
      val ordered = if (orderCols.isEmpty) donned else donned.orderBy(
        orderCols.map { case (c, dir) => sortCol(c, dir) }: _*)
      val projected = ordered.select(q.projection.zipWithIndex.map {
        case (BoundItem.BICol(bc, a), _) => col(groupOut(bc)).as(outName(bc, a))
        case (BoundItem.BIExpr(_, a), i) => exprCols.getOrElse(i, col(a)).as(a)
        case (BoundItem.BIAgg(_, _, _, _), i) => col(aggName(i))
        case (BoundItem.BIWin(_, _, _, _, a, _), i) => col(s"__w_$i").as(a)
      }: _*)
      // SELECT DISTINCT over an aggregate result: a no-op unless the
      // projection drops group keys; apply it for correctness either way
      val deduped = if (q.distinct) projected.distinct() else projected
      applyOffsetLimit(deduped, q.offset, q.limit)
    }
  }

  /** One window item as a Column, under the caller's operand/column
    * resolution (qualified pre-aggregation names in the row-level branch,
    * grouped output names + hidden aggregate columns post-aggregation).
    * One shuffle on the partition keys; ordered windows keep Spark's
    * default running frame (SQL's RANGE UNBOUNDED PRECEDING), unordered
    * ones span the whole partition; an explicit ROWS/RANGE frame
    * overrides.
    */
  /** The synthetic order key a GROUPS frame ranges over: dense_rank of
    * the window's own order keys. Attached as a column BEFORE the
    * framed aggregate (a window spec cannot nest a window expression),
    * dropped right after; same partition keys → no extra exchange.
    */
  private def groupsRankColumn(parts: Seq[BoundOperand],
      ord: Seq[(BoundOperand, Ast.SortDir)],
      opLower: BoundOperand => Column, colOf: BoundCol => Column): Column =
    dense_rank().over(org.apache.spark.sql.expressions.Window
      .partitionBy(parts.map(opLower): _*)
      .orderBy(ord.map { case (op, dir) => sortCol(opLower(op), dir) }: _*))

  /** Sub-plans recorded at materialization boundaries, for the
    * plan-audit sweep: a (local)checkpoint replaces its upstream plan
    * with a Scan ExistingRDD leaf, so everything above the boundary
    * would be invisible to PlanAudit's walk of the final executedPlan.
    * Enabled only by graft.tools.PlanAudit.
    */
  private[graft] object MaterializeAudit {
    @volatile var enabled = false
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.SparkPlan]
  }

  /** Materialize a frame exactly ONCE — the range bucketing that feeds
    * two consumers (in-bucket windows + per-bucket totals/edges, where
    * RangePartitioner's RDD-id-seeded boundary sampling must not run
    * twice), the fixpoint accumulators whose lineage must truncate and
    * the k-means trainer's input (q_ann_ivf_kmeans), read once per pass.
    *
    * Default: executor-local unreplicated blocks (localCheckpoint — the
    * single-box gate/bench shape; an executor loss fails the job).
    * With session conf `graft.reliableCheckpoint=true` the blocks go to
    * the fault-tolerant checkpoint directory instead (auto-created
    * under java.io.tmpdir if the context has none set — production
    * clusters point sparkContext.setCheckpointDir at HDFS/S3), so a
    * 1000-executor job survives executor loss by re-reading replicated
    * storage rather than failing the query. Identical values either
    * way — spec-pinned (LoweringSpec "reliable checkpoint").
    */
  private[graft] def materializeOnce(df: DataFrame,
      eager: Boolean = false): DataFrame = {
    if (MaterializeAudit.enabled)
      MaterializeAudit.plans.add(df.queryExecution.executedPlan)
    val spark = df.sparkSession
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    // capStats: checkpoint leaves inherit the origin plan's ESTIMATED
    // stats; join estimates are products of child sizes, so fixpoint
    // loops (recursive CTEs) that chain materializations compound the
    // BigInt geometrically until the OPTIMIZER is the bottleneck
    // (measured in the CC operator: 77 s inside BigInteger.multiply).
    // The cap is the identity for every real statistic — broadcast
    // decisions from genuinely small frames are untouched.
    val m = bridge.capStats(
      if (spark.conf.get("graft.reliableCheckpoint", "false").toBoolean) {
        if (spark.sparkContext.getCheckpointDir.isEmpty)
          spark.sparkContext.setCheckpointDir(java.nio.file.Files
            .createTempDirectory("graft-ckpt").toString)
        df.checkpoint(eager)
      } else df.localCheckpoint(eager))
    // adaptive execution runs query stages concurrently, so a stage
    // submitted before the lineage truncation can still report its
    // metrics after it; without adaptive execution (fixpoint loops) jobs
    // run one at a time, and retaining would chain every round's lineage
    if (!eager && spark.conf.get(Fixpoint.AqeKey).toBoolean) bridge.retainLineage(m)
    m
  }

  /** lag/lead offset: optional second literal argument, default 1.
    * The ONE extraction shared by the bucketed (GlobalWindows) and
    * dedicated window lowerings (ADVICE r14 — two copies risked drifting
    * apart).
    */
  private[sql] def shiftOffset(args: Seq[BoundOperand]): Int = args.lift(1) match {
    case Some(BoundOperand.BLit(Lit.LitLong(n))) => n.toInt
    case _ => 1
  }

  /** lag/lead default: optional third literal argument as a RAW value —
    * Spark's Lag/Lead coerce it to the input's type, so the output type
    * matches on both lowering paths. Every literal shape keeps its value
    * (date/timestamp/boolean included — Spark's Literal(Any) accepts the
    * java.sql carriers); only a non-literal default falls to NULL, and
    * the analyzer rejects those forms before lowering.
    */
  private[sql] def shiftDefaultAny(args: Seq[BoundOperand]): Any =
    args.lift(2) match {
      case Some(BoundOperand.BLit(l)) => l match {
        case Lit.LitLong(v)        => v
        case Lit.LitDouble(v)      => v
        case Lit.LitString(v)      => v
        case Lit.LitBool(v)        => v
        case Lit.LitDate(s)        => java.sql.Date.valueOf(s)
        case Lit.LitTimestamp(s)   => java.sql.Timestamp.valueOf(s)
        case Lit.LitTimestampTz(s) => java.sql.Timestamp.valueOf(s)
        case Lit.LitTime(s)        => java.time.LocalTime.parse(s)
        case Lit.LitNull           => null
      }
      case _ => null
    }

  /** Is `f(DISTINCT x) OVER w` rewritable to the scalable masked-running
    * form? Requires a PREFIX frame — no explicit frame (default running
    * / whole-partition), or lo = UNBOUNDED PRECEDING: every value in
    * such a frame has its first partition-order occurrence inside the
    * frame, so a pre-attached first-occurrence mask plus an ordinary
    * running aggregate is exact, with O(1) window state at any NDV.
    * Bounded-lo frames keep the collect_set fallback — their set size
    * is FRAME-bounded, not partition-bounded, so they are not the
    * 100×-scale hazard the prefix frames were.
    */
  private def distinctWinEligible(f: String, args: Seq[BoundOperand],
      frame: Option[Ast.WinFrame]): Boolean =
    args.lastOption.contains(
      BoundOperand.BLit(Lit.LitString(Ast.DistinctSentinel))) &&
      Aggregates(f).kind == Aggregates.Kind.Running &&
      frame.forall(_.lo == Long.MinValue)

  /** The first-occurrence mask: x where this row is the first occurrence
    * of value x within its window partition (in window order), NULL
    * otherwise. count/sum/avg of the mask over a prefix frame ≡ the
    * DISTINCT aggregate, in the aggregate's native result type (no
    * DOUBLE detour). NULL x never flags (DISTINCT aggregation skips
    * NULLs). Unordered windows flag one arbitrary-but-deterministic
    * member — all carry the same x, so any one is correct. Must be
    * ATTACHED as a column before the main window evaluates (Spark
    * rejects nested window expressions).
    */
  private[sql] def distinctMaskColumn(args: Seq[BoundOperand],
      parts: Seq[BoundOperand], ord: Seq[(BoundOperand, Ast.SortDir)],
      opLower: BoundOperand => Column): Column = {
    val x = opLower(args.head)
    val wf0 = org.apache.spark.sql.expressions.Window
      .partitionBy(parts.map(opLower) :+ x: _*)
    val wf =
      if (ord.isEmpty) wf0.orderBy(lit(0))
      else wf0.orderBy(ord.map { case (op, dir) =>
        sortCol(opLower(op), dir) }: _*)
    when(x.isNotNull && row_number().over(wf) === 1, x)
  }

  /** Best-effort static type of a window-aggregate input, for choosing
    * the DISTINCT-fallback fold accumulator. Conservative: None (→
    * DOUBLE fold, the pre-existing behavior) whenever the operand's
    * type isn't locally decidable.
    */
  private[sql] def inputSqlType(o: BoundOperand): Option[SqlType] = {
    def integral(t: SqlType): Boolean = t match {
      case SqlType.SqlBigInt | SqlType.SqlInt | SqlType.SqlSmallInt => true
      case _ => false
    }
    o match {
      case BoundOperand.BCol(c)        => Some(c.attr.sqlType)
      case BoundOperand.BCast(_, t)    => Some(t)
      case BoundOperand.BTryCast(_, t) => Some(t)
      case BoundOperand.BLit(Lit.LitLong(_))   => Some(SqlType.SqlBigInt)
      case BoundOperand.BLit(Lit.LitDouble(_)) => Some(SqlType.SqlDouble)
      // integer +,-,*,% stay integral; / divides float-style (DuckDB)
      case BoundOperand.BArith(op, l, r) if op != '/' =>
        (inputSqlType(l), inputSqlType(r)) match {
          case (Some(a), Some(b)) if integral(a) && integral(b) =>
            Some(SqlType.SqlBigInt)
          case _ => None
        }
      case _ => None
    }
  }

  private def windowColumn(f: String, args: Seq[BoundOperand],
      parts: Seq[BoundOperand], ord: Seq[(BoundOperand, Ast.SortDir)],
      frame: Option[Ast.WinFrame],
      opLower: BoundOperand => Column, colOf: BoundCol => Column,
      /** GROUPS frames: the pre-attached dense_rank of the order keys
        * (see groupsRankColumn) — the frame becomes a RANGE frame over
        * it, which is exact: rank distance IS peer-group distance.
        */
      groupsRank: Option[Column] = None,
      /** DISTINCT aggregates over prefix frames: the pre-attached
        * first-occurrence mask (see distinctMaskColumn).
        */
      distinctMask: Option[Column] = None): Column = {
    val w0 = org.apache.spark.sql.expressions.Window
      .partitionBy(parts.map(opLower): _*)
    // INTERVAL RANGE bounds: order by the temporal key's epoch seconds
    // so the value-distance frame is time-windowed (bounds were
    // normalized to seconds at parse; session timezone is UTC)
    val temporalRange = frame.exists(fr => fr.range && fr.temporal)
    val w1 =
      if (frame.exists(_.groups))
        w0.orderBy(groupsRank.getOrElse(
          sys.error("unreachable: GROUPS frame without a rank column")).asc)
      else if (ord.isEmpty) w0
      else if (temporalRange) {
        // epoch MICROS, not seconds — the fixtures carry microsecond
        // timestamps and a truncated ordering key would diverge from
        // the oracle's exact interval comparison at sub-second edges
        val c = unix_micros(opLower(ord.head._1).cast("timestamp"))
        w0.orderBy(sortCol(c, ord.head._2))
      }
      // NULLS LAST in both directions — DuckDB's default_null_order
      // (see sortCol; round-13 fuzz caught the bare-.asc divergence);
      // explicit NULLS FIRST/LAST passes through natively, so RANGE
      // frames keep their single ORDER key under either null order
      else w0.orderBy(ord.map { case (op, dir) =>
        sortCol(opLower(op), dir)
      }: _*)
    val w = frame.fold(w1) { fr =>
      // temporal bounds parsed as seconds scale to the micros ordering
      // (unbounded sentinels pass through)
      def tb(b: Long): Long =
        if (!fr.temporal || b == Long.MinValue || b == Long.MaxValue) b
        else b * 1000000L
      if (fr.groups || fr.range) w1.rangeBetween(tb(fr.lo), tb(fr.hi))
      else w1.rowsBetween(fr.lo, fr.hi)
    }
    // the TRUE-reversed order spec (direction AND null placement flip)
    // for tie-safe RANGE whole-tail suffixes — see exclusionCol
    def wRev =
      if (ord.nonEmpty && !frame.exists(_.groups) && !temporalRange)
        Some(w0.orderBy(ord.map { case (op, dir) =>
          sortCol(opLower(op), Ast.SortDir(!dir.desc,
            Some(!dir.nullsFirst.getOrElse(false)))) }: _*))
      else None
    val c = framedWindowColumn(f, args, frame, w, w1,
      parts.map(opLower) ++ ord.map(o => opLower(o._1)), opLower,
      distinctMask, wRev)
    GlobalWindows.asBucketed(f, args, parts, ord, frame).fold(c)(_(c))
  }

  /** The window function `f(args)` over the framed spec `w` (`w1`: the
    * same spec unframed, `pwKeys`: the peer-group keys and `revOrd` the
    * reversed spec, both only for frame exclusion — see exclusionCol).
    * Shared by windowColumn and the bucketed halo (GlobalWindows), which
    * passes its in-bucket spec and peer keys.
    */
  private[sql] def framedWindowColumn(f: String, args: Seq[BoundOperand],
      frame: Option[Ast.WinFrame],
      w: org.apache.spark.sql.expressions.WindowSpec,
      w1: org.apache.spark.sql.expressions.WindowSpec,
      pwKeys: => Seq[Column], opLower: BoundOperand => Column,
      distinctMask: Option[Column] = None,
      revOrd: => Option[org.apache.spark.sql.expressions.WindowSpec] = None)
      : Column = {
    // DISTINCT arrives as a sentinel trailing argument. Prefix frames
    // (the scale-relevant shape) take the masked-running path: an
    // ordinary count/sum/avg over the pre-attached first-occurrence
    // mask — exact at any cardinality, O(1) per-row window state, and
    // the aggregate's native result type. Bounded-lo frames fall back
    // to a per-frame collect_set (set size is frame-bounded); its
    // sum/avg fold seeds with x*0L so integrals accumulate in LONG
    // (exact past 2^53) and decimals keep their scale — only floating
    // inputs fold floating. min/max fall through (DISTINCT is a no-op
    // at the extremes).
    val distinctAgg = args.lastOption.contains(
      BoundOperand.BLit(Lit.LitString(Ast.DistinctSentinel)))
    val args1 = if (distinctAgg) args.dropRight(1) else args
    if (distinctAgg && Aggregates(f).kind == Aggregates.Kind.Running) {
      distinctMask match {
        case Some(m) =>
          f match {
            case "count" => return count(m).over(w).cast("long")
            case "sum"   => return sum(m).over(w)
            case _       => return avg(m).over(w)
          }
        case None =>
          val cs = collect_set(opLower(args1.head)).over(w)
          f match {
            case "count" => return size(cs).cast("long")
            case _ =>
              // the fold accumulator must keep a FIXED type across merges
              // (Spark rejects a merge result wider than the seed), so the
              // seed is the family's widest: LONG for integrals (exact past
              // 2^53), decimal(38, s) for decimals (precision already
              // capped — adds stop widening), DOUBLE for floating/unknown
              val zero = inputSqlType(args1.head) match {
                case Some(SqlType.SqlBigInt | SqlType.SqlInt |
                          SqlType.SqlSmallInt) => lit(0L)
                case Some(SqlType.SqlDecimal(_, s)) =>
                  lit(0L).cast(s"decimal(38,$s)")
                case _ => lit(0d)
              }
              val s = org.apache.spark.sql.functions.aggregate(
                cs, zero, (a, x) => a + x)
              return if (f == "sum") when(size(cs) > 0, s)
                     else when(size(cs) > 0, s / size(cs))
          }
      }
    }
    // IGNORE NULLS arrives as a sentinel trailing argument (DuckDB's
    // fn(args IGNORE NULLS) form) — strip it and thread the flag into
    // Spark's native ignoreNulls variants
    val ignoreNulls = args1.lastOption.contains(
      BoundOperand.BLit(Lit.LitString(Ast.IgnoreNullsSentinel)))
    val argsR = if (ignoreNulls) args1.dropRight(1) else args1
    // Frame exclusion: when the frame statically contains the current
    // row (lo ≤ 0 ≤ hi — for RANGE that also means it contains the
    // whole peer group), the excluded contribution subtracts columnar
    // (sum/count/avg — analyzer-enforced); an all-excluded frame yields
    // SQL NULL. CURRENT ROW subtracts the row itself; GROUP subtracts
    // the peer-group aggregate (one extra window over partition + order
    // keys — same shuffle, peers are sort-adjacent); TIES subtracts the
    // peers but adds the current row back.
    // Otherwise the catalog's lowering, each aggregate leaf over the
    // frame; windowed collects run in the frame's sort order (Spark
    // evaluates ordered-window rows in sort sequence).
    val exclMode = frame.filter(fr => fr.lo <= 0L && fr.hi >= 0L)
      .map(_.exclude).getOrElse("none")
    if (exclMode == "none")
      Aggregates.lower(f, Aggregates.Call(argsR, ignoreNulls = ignoreNulls),
        opLower, _.over(w))
    else exclusionCol(f, argsR.headOption.map(opLower), frame.get, w, w1,
      pwKeys, exclMode, revOrd)
  }

  /** Frame-exclusion lowering, shared by the dedicated window path and
    * the ghost-row global path. The excluded contribution subtracts
    * columnar (sum/count/avg — analyzer-enforced); an all-excluded
    * frame yields SQL NULL. CURRENT ROW subtracts the row itself;
    * GROUP subtracts the peer-group aggregate (one extra window over
    * the peer keys — same shuffle, peers are sort-adjacent); TIES
    * subtracts the peers but adds the current row back.
    *
    * @param cOpt   lowered aggregate argument (None = count(*))
    * @param w      the FRAMED window the main aggregate runs over
    * @param w1     the frameless partition+order spec (min/max
    *               sub-frames rebuild their bounds on it)
    * @param pwKeys peer-group partition keys — partition keys ++
    *               order-key expressions (the ghost path adds the
    *               bucket id, making peer groups in-bucket; exact
    *               because equal order keys land in ONE range bucket
    *               and ghosts never share a key with their target
    *               bucket's real rows)
    */
  private def exclusionCol(f: String, cOpt: Option[Column],
      fr: Ast.WinFrame, w: org.apache.spark.sql.expressions.WindowSpec,
      w1: org.apache.spark.sql.expressions.WindowSpec,
      pwKeys: Seq[Column], exclMode: String,
      /** The frameless partition + TRUE-REVERSED-order spec, when the
        * caller can build one: a RANGE suffix sub-frame reaching the
        * partition end (`[1, UNBOUNDED FOLLOWING]`) evaluates as a
        * PREFIX frame over it — value-based, so ties cannot reshuffle
        * between the two sorts — because Spark's (bounded-start,
        * UnboundedFollowing) frame re-aggregates per row, O(partition²)
        * (the WinScaleProbe sweep measured that shape super-linear).
        * ROWS suffixes keep the direct frame: a reversed ROW split is
        * only exact when tie positions complement, which two
        * independent sorts do not guarantee.
        */
      revOrd: Option[org.apache.spark.sql.expressions.WindowSpec] = None)
      : Column = {
    lazy val pw = org.apache.spark.sql.expressions.Window
      .partitionBy(pwKeys: _*)
    def cntSub(c: Option[Column]): Column = {
      val self = c.fold(lit(1L))(_.isNotNull.cast("long"))
      val grp = c.fold(count(lit(1)))(count(_)).over(pw)
      exclMode match {
        case "current" => self
        case "group"   => grp
        case _         => grp - self // ties
      }
    }
    def sumSub(c: Column): Column = {
      val self = coalesce(c, lit(0))
      val grp = coalesce(sum(c).over(pw), lit(0))
      exclMode match {
        case "current" => self
        case "group"   => grp
        case _         => grp - self // ties
      }
    }
    (f, cOpt) match {
      case ("count", None)    => count(lit(1)).over(w) - cntSub(None)
      case ("count", Some(c)) => count(c).over(w) - cntSub(Some(c))
      case ("sum", Some(c)) =>
        val cnt = count(c).over(w) - cntSub(Some(c))
        when(cnt === 0, lit(null)).otherwise(sum(c).over(w) - sumSub(c))
      case ("avg", Some(c)) =>
        val cnt = count(c).over(w) - cntSub(Some(c))
        when(cnt === 0, lit(null))
          .otherwise((sum(c).over(w) - sumSub(c)) / cnt)
      // min/max are not subtractable — decompose the frame into the
      // prefix sub-frame [lo, -1] and suffix sub-frame [1, hi] (exact
      // for ROWS frames by row position; for RANGE frames the analyzer
      // restricts to an integral order key so the ±1 value boundary is
      // exact). EXCLUDE GROUP = least/greatest of the two; TIES adds
      // the current row's value back; CURRENT ROW additionally needs
      // the peer group minus the row itself, which is the same
      // row-position split applied WITHIN the peer group (ordered by
      // the value — any total order covers all-but-self). All windows
      // share the partition-key shuffle.
      case ("min" | "max", Some(c)) =>
        val isMin = f == "min"
        def agg(cc: Column): Column = if (isMin) min(cc) else max(cc)
        def comb(cs: Seq[Column]): Column = cs match {
          case Seq()  => when(c.isNull && c.isNotNull, c) // typed NULL
          case Seq(a) => a
          case many   => if (isMin) least(many: _*) else greatest(many: _*)
        }
        def subFrame(loB: Long, hiB: Long): Option[Column] =
          if (loB > hiB) None
          else revOrd match {
            case Some(rev) if fr.range && loB == 1L && hiB == Long.MaxValue =>
              Some(agg(c).over(rev.rangeBetween(Long.MinValue, -1L)))
            case _ => Some(agg(c).over(
              if (fr.range) w1.rangeBetween(loB, hiB)
              else w1.rowsBetween(loB, hiB)))
          }
        val prefix = subFrame(fr.lo, -1L)
        val suffix = subFrame(1L, fr.hi)
        lazy val pw2 = org.apache.spark.sql.expressions.Window
          .partitionBy(pwKeys: _*).orderBy(c)
        lazy val peersExclSelf = comb(Seq(
          agg(c).over(pw2.rowsBetween(Long.MinValue, -1L)),
          agg(c).over(pw2.rowsBetween(1L, Long.MaxValue))))
        exclMode match {
          case "current" if fr.range =>
            comb(prefix.toSeq ++ suffix.toSeq :+ peersExclSelf)
          case "current" => comb(prefix.toSeq ++ suffix.toSeq)
          case "group"   => comb(prefix.toSeq ++ suffix.toSeq)
          case _ /* ties */ =>
            comb(prefix.toSeq ++ suffix.toSeq :+ c)
        }
      case other => sys.error(s"unreachable frame exclusion over $other")
    }
  }

  /** Union-merge ASOF lowering — the 100 TB path (the same shape as the
    * API-level operators/AsOf.asofJoin): instead of materializing every
    * inequality-satisfying candidate and pruning with a per-left-row
    * window (O(matches) fan-out inside dense key groups), tag the
    * DISTINCT outer (key, time) combinations and the step rows, union
    * them, and take one per-key running `last(payload ignoring nulls)`
    * over (time, side) order — ONE sort shuffle over |distinct outer
    * key+times| + |step| rows. The matched frame (one row per distinct
    * outer key+time) hash-joins back 1:1. A strict bound orders the
    * outer tag BEFORE equal-time step rows so equal values don't match;
    * an inclusive bound after. Step rows with a NULL key or NULL time
    * can never equi-match and are filtered; outer rows with a NULL time
    * mask to no-match (their tag can sort after step rows under the
    * reversed direction).
    */
  /** Stats hook for the ASOF lowering choice: (step base-table name, key
    * column, optional bare filter predicate) → (filtered row estimate,
    * key ndv). Passed per-query by GraftDatabase through
    * [[withQueryScope]] from its StatsManager — the same stats that
    * drive broadcast/build-side choice, lazily rebuilt for external
    * tables the way estimateBindings already does. Scope-carried (not a
    * global) so two databases lowering concurrently can't read each
    * other's stats. None (the default) = no stats, which keeps the
    * union-merge (the safe-at-scale choice).
    */
  type AsofStatsHook = (String, String, Option[Column]) => Option[(Long, Long)]
  val noAsofStats: AsofStatsHook = (_, _, _) => None

  /** What a database's statistics tell the lowering, carried per query
    * by [[withQueryScope]]: `asof` chooses the ASOF lowering;
    * `tableRows` is a base table's exact row count (None without
    * statistics; a driver read, never a Spark job), which bounds the
    * input of its unpartitioned windows (GlobalWindows.OneTaskRows).
    */
  final case class ScopeStats(asof: AsofStatsHook,
      tableRows: String => Option[Long])
  /** Last ASOF lowering chosen ("union_merge" | "candidate") — tests. */
  @volatile var lastAsofChoice: Option[String] = None
  /** Avg step rows per key group at or below which the candidate join
    * wins: its per-left-row fan-out is bounded by the group size, and it
    * skips the union-merge's distinct + window + join-back (builder
    * measurement: the candidate join was ~0.14 s faster at sf0.1 on the
    * ~30-rows-per-user clicks fixture; truly dense groups — thousands of
    * step rows per key, where the fan-out explodes at scale — stay on
    * the union-merge).
    */
  private val AsofSparseThreshold = 64.0

  /** True when stats say the step side's key groups are SPARSE (avg rows
    * per group ≤ threshold) — then the candidate join's O(group) fan-out
    * is cheap and the union-merge's extra passes are not worth paying.
    * The step side may be a base table or a simple filtered projection
    * of one (the common `(SELECT * FROM t WHERE …) b` shape — its filter
    * feeds the sample-based cardinality estimate); anything richer, a
    * non-column key, or missing stats reads dense → union-merge, the
    * choice that stays safe at scale.
    */
  private def asofSparseGroups(q: BoundSelect,
      js: Analyzer.BoundJoinStep, p: Analyzer.AsofParts): Boolean = {
    val resolved: Option[(String, Option[Column])] =
      q.derived.get(js.table.binding) match {
        case None => Some((js.table.desc.name, None))
        case Some(sub: BoundSelect)
            if sub.tables.length == 1 && sub.joinSteps.isEmpty &&
              sub.groupBy.isEmpty && !sub.isAggregate && !sub.distinct &&
              sub.distinctOn.isEmpty && sub.having.isEmpty &&
              sub.qualify.isEmpty && sub.limit.isEmpty &&
              sub.offset.isEmpty && sub.derived.isEmpty &&
              !sub.predicate.exists(BoundNode.hasSubquery) &&
              sub.projection.forall {
                case BoundItem.BICol(c, a) =>
                  a.forall(_.equalsIgnoreCase(c.attr.name))
                case _ => false
              } =>
          Some((sub.tables.head.desc.name, sub.predicate.map(lowerExprBare)))
        case _ => None
      }
    resolved.exists { case (tname, pred) =>
      val keyCols = p.eqPairs.map(_._2).collect {
        case BoundOperand.BCol(c) => c.attr.name
      }
      keyCols.length == p.eqPairs.length && {
        val hook =
          Option(scopeTL.get()).map(_.stats.asof).getOrElse(noAsofStats)
        val stats = keyCols.flatMap(hook(tname, _, pred))
        stats.length == keyCols.length && {
          val rows = stats.head._1.toDouble
          // multi-key groups: ndvs multiply (capped by the row count)
          val ndv = math.min(stats.map(_._2.toDouble).product,
            math.max(rows, 1.0))
          rows / math.max(ndv, 1.0) <= AsofSparseThreshold
        }
      }
    }
  }

  private def asofUnionMerge(df: DataFrame, right: DataFrame,
      js: Analyzer.BoundJoinStep, p: Analyzer.AsofParts): DataFrame = {
    val b = js.table.binding
    val n = p.eqPairs.length
    val kL = (0 until n).map(i => s"__asof_lk$i")
    val rk = (0 until n).map(i => s"__asof_rk$i")
    val tL = "__asof_lt"
    val dfK = p.eqPairs.zipWithIndex.foldLeft(df) { case (d, ((lo, _), i)) =>
      d.withColumn(kL(i), lowerOperand(lo)) }
      .withColumn(tL, lowerOperand(p.ineq.outerOp))
    val leftKeys = dfK.select((kL :+ tL).map(col): _*).distinct()
    val right1 = p.stepOnly.foldLeft(right)((d, c) => d.filter(lowerExpr(c)))
      .filter((p.eqPairs.map(pr => lowerOperand(pr._2).isNotNull) :+
        lowerOperand(p.ineq.stepOp).isNotNull).reduce(_ && _))
    val rightCols = right.columns.toSeq
    val payload = struct(lit(1).as("__asof_pres") +: rightCols.map(right(_)): _*)
    // outer tag 0 sorts before equal-time step rows (tag 1) under a
    // strict bound, tag 2 after under an inclusive one — in BOTH scan
    // directions the running last then sees exactly the step rows the
    // bound admits
    val leftTag = if (p.ineq.strict) 0 else 2
    val taggedL = leftKeys.withColumn("__asof_side", lit(leftTag))
    val taggedR = right1.select(
      p.eqPairs.zipWithIndex.map { case ((_, ro), i) =>
        lowerOperand(ro).as(kL(i)) } ++
      Seq(lowerOperand(p.ineq.stepOp).as(tL), lit(1).as("__asof_side"),
        payload.as("__asof_p")): _*)
    val unioned = taggedL.unionByName(taggedR, allowMissingColumns = true)
    val ord =
      if (p.ineq.pickLargest) Seq(col(tL).asc, col("__asof_side").asc)
      else Seq(col(tL).desc, col("__asof_side").asc)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(kL.map(col): _*).orderBy(ord: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val matchedRows = unioned
      .withColumn("__asof_m", last(col("__asof_p"), ignoreNulls = true).over(w))
      .filter(col("__asof_side") === leftTag)
    val stepFrame = matchedRows.select(
      kL.zipWithIndex.map { case (kn, i) => col(kn).as(rk(i)) } ++
      Seq(col(tL).as("__asof_rt"),
        when(col(tL).isNotNull, col("__asof_m")).as("__asof_m")): _*)
    val unpacked = stepFrame.select(
      rk.map(col) ++ Seq(col("__asof_rt"),
        col("__asof_m.__asof_pres").as("__asof_pres")) ++
      rightCols.map(c => col(s"__asof_m.$c").as(c)): _*)
    val stepAliased = unpacked.alias(b)
    val cond = ((0 until n).map(i => col(kL(i)) <=> col(s"$b.${rk(i)}")) :+
      (col(tL) <=> col(s"$b.__asof_rt"))).reduce(_ && _)
    val joined = dfK.join(stepAliased, cond, "inner")
    val res = if (js.kind == "asof")
      joined.filter(col(s"$b.__asof_pres").isNotNull)
    else joined
    res.drop((kL ++ Seq(tL) ++ rk ++ Seq("__asof_rt", "__asof_pres")): _*)
  }

  /** A correlated LATERAL, joined fused into the frame built so far.
    * Each branch becomes a frame of (the first branch's visible columns
    * + the hidden correlation keys), by the kind of its core:
    *  - uncorrelated: its rows for every distinct outer key observed in
    *    `df`, the NULL key included;
    *  - aggregate: the per-key aggregate, left-joined onto the distinct
    *    outer keys and completed (count 0, other aggregates NULL). The
    *    completion join is plain equality: a NULL outer key must take
    *    the EMPTY group (`k = NULL` is UNKNOWN for every inner row), not
    *    the NULL-key group's aggregates;
    *  - rows: the core without its NULL inner keys (they equal no outer
    *    key), cut to top-N per key by a row_number window under ORDER BY
    *    + LIMIT.
    * The set operations then fold over the (row, key) tuples, which IS
    * per-key set semantics (set ops compare NULLs equal, so the NULL key
    * group behaves like any other key), and one equi join on the keys
    * (plus a join step's ON) attaches the result — null-safe when an
    * uncorrelated or aggregate branch gives the NULL key rows. Key-
    * bounded shuffles only: the body never re-runs per outer row.
    */
  private def joinLateral(spark: SparkSession, df: DataFrame,
      bt: BoundTable, l: Analyzer.BoundLateral, kind: String,
      on: Option[Column], source: BoundTable => DataFrame): DataFrame = {
    val hk = l.hiddenKeys
    lazy val outKeys = df.select(l.keyOuter.zipWithIndex.map { case (oc, i) =>
      qualified(oc).as(hk(i)) }: _*).distinct()
    def frame(core: BoundSelect, inner: Seq[BoundCol]): DataFrame = {
      val f =
        if (inner.isEmpty) lowerSelect(spark, core, source).crossJoin(outKeys)
        else if (core.isAggregate) {
          val (perKey, values) = perKeyAgg(spark, core, inner, source, "__pa", "__pk")
          outKeys.join(perKey, hk.indices.map(i =>
            col(hk(i)) === perKey(s"__pk$i")).reduce(_ && _), "left_outer")
            .select(values ++ hk.map(col): _*)
        } else {
          val c = combine(spark, core, source, Set.empty, None)
            .filter(inner.map(qualified(_).isNotNull).reduce(_ && _))
          val topped = core.limit.fold(c) { n =>
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(inner.map(qualified): _*)
              .orderBy(core.orderBy.map {
                case (Analyzer.BoundOrderKey.OKOperand(op), dir) =>
                  sortCol(lowerOperandWith(op, qualified), dir)
                case (k, _) => sys.error(s"unreachable LATERAL sort key $k")
              }: _*)
            c.withColumn("__lrn", row_number().over(w))
              .filter(col("__lrn") <= n).drop("__lrn")
          }
          topped.select(core.projection.map(it =>
            rowValueCol(it, qualified).as(it.columnName.mkString)) ++
            inner.zipWithIndex.map { case (ic, i) => qualified(ic).as(hk(i)) }: _*)
        }
      f.toDF(bt.desc.attributes.map(_.name): _*)
    }
    val folded = lowerUnion(frame(l.branches.head._2, l.branches.head._3),
      l.branches.tail.map { case (conn, core, ks) => (conn, frame(core, ks)) },
      Nil, None).alias(bt.binding)
    val nullSafe = l.branches.exists { case (_, core, ks) =>
      ks.isEmpty || core.isAggregate }
    val keyEq = l.keyOuter.zipWithIndex.map { case (oc, i) =>
      val inner = col(s"${bt.binding}.${hk(i)}")
      if (nullSafe) qualified(oc) <=> inner else qualified(oc) === inner
    }.reduce(_ && _)
    df.join(folded, on.fold(keyEq)(keyEq && _), kind)
  }

  /** Per-key aggregate of a correlated body: GROUP BY its inner key
    * columns (`keyPrefix`0…) — one row per key by construction — with
    * one hidden column per distinct aggregate node of its items (an
    * expression OVER aggregate calls, 0.2 * avg(x) in the TPC-H Q17
    * shape, projects over them). Returns the frame and each item's value
    * over it. Callers LEFT-join the frame, not inner: count() over an
    * empty correlated set is 0, not NULL — the classic COUNT
    * decorrelation trap — and the empty-group value wraps the POST-left-
    * join column reference, so unmatched outer keys read it too.
    */
  private def perKeyAgg(spark: SparkSession, sub: BoundSelect,
      innerKeys: Seq[BoundCol], source: BoundTable => DataFrame,
      name: String, keyPrefix: String): (DataFrame, Seq[Column]) = {
    val core = combine(spark, sub, source, Set.empty, None)
    val keyCols = innerKeys.zipWithIndex.map { case (ic, k) =>
      qualified(ic).as(s"$keyPrefix$k") }
    val values = sub.projection.map(_.operands.head)
    val nodes = values.flatMap(Analyzer.BoundNode.aggNodes).distinct
    val hidden = nodes.zipWithIndex.map { case (n, i) =>
      Aggregates.lowerNode(n, lowerOperandWith(_, qualified)).as(s"${name}_a$i")
    }
    val g = core.groupBy(keyCols: _*).agg(hidden.head, hidden.tail: _*)
    val nodeCol: Map[BoundNode, Column] = nodes.zipWithIndex.map {
      case (n, i) =>
        val c = g(s"${name}_a$i")
        n -> (n match {
          case BoundOperand.BAgg(f, _, _) => Aggregates.completed(f, c)
          case _                          => c
        })
    }.toMap
    (g, values.map(lowerTree(_, nodeCol)))
  }

  /** Inequality-correlated scalar aggregate (running-total bodies:
    * `(SELECT sum(x) FROM t2 WHERE t2.k = t.k AND t2.ts <= t.ts)`) —
    * the union-merge lowering, same single-sort shape as the ASOF path.
    * The DISTINCT outer (keys, bound) tuples and the inner rows union;
    * ONE running window aggregate per agg node over (key partition,
    * bound order, tag tiebreak) computes every per-tuple prefix (or
    * suffix, for >/>=) aggregate at the tag rows; the one-row-per-tuple
    * tag frame then left-joins back 1:1 null-safely. No O(matches)
    * candidate fan-out: wall-clock is one sort shuffle over |distinct
    * outer tuples| + |inner rows| (the Neumann-style unnesting the
    * reference cites as its long-term goal, execution/plan.rs:41-46).
    *
    * Inclusive bounds (<=, >=) sort equal-valued inner rows BEFORE the
    * tag; strict bounds after. Inner rows with a NULL key or NULL bound
    * can never satisfy the correlation and are filtered; outer tuples
    * with a NULL bound sort first (nulls_first both directions), so
    * their prefix is empty — sum/avg/min/max read NULL, count reads 0,
    * exactly the SQL aggregate-over-empty-set semantics.
    */
  private def correlatedRunningAgg(spark: SparkSession, df: DataFrame,
      sub: BoundSelect, pairs: Seq[(BoundCol, BoundCol)],
      iq: Analyzer.CorrIneq, source: BoundTable => DataFrame,
      name: String, qcolOuter: BoundCol => Column,
      outerRows: Option[Long]): DataFrame = {
    val core = combine(spark, sub, source, Set.empty, None)
    val kN = pairs.indices.map(j => s"${name}_k$j")
    val tN = s"${name}_t"
    val tagN = s"${name}_tag"
    // the body is one aggregate call or an expression over plain calls
    val value = sub.projection.head.operands.head
    val aggNodes = Analyzer.BoundNode.aggNodes(value).distinct
    val nodes: Seq[(String, Option[BoundOperand])] = aggNodes.map {
      case BoundOperand.BAgg(f, arg, _) => (f, arg)
      case other => sys.error(s"unreachable aggregate node $other")
    }
    val inner0 = core.select(
      pairs.zipWithIndex.map { case ((_, ic), j) => qualified(ic).as(kN(j)) } ++
        Seq(lowerOperandWith(iq.innerOp, qualified).as(tN)) ++
        nodes.zipWithIndex.map { case ((_, arg), j) =>
          // count(*) rides an indicator column (counts rows, not values)
          arg.map(lowerOperandWith(_, qualified)).getOrElse(lit(1L))
            .as(s"${name}_a$j") }: _*)
      .filter((kN.map(col) :+ col(tN)).map(_.isNotNull).reduce(_ && _))
      .withColumn(tagN, lit(false))
    val tags = df.select(
      pairs.zipWithIndex.map { case ((oc, _), j) =>
        qcolOuter(oc).as(kN(j)) } :+
        lowerOperandWith(iq.outerOp, qcolOuter).as(tN): _*)
      .distinct()
      .withColumn(tagN, lit(true))
    // the tag side has no aggregate-arg columns — unionByName fills them
    // with typed NULLs, which every running aggregate skips
    val unioned = inner0.unionByName(tags, allowMissingColumns = true)
    val asc = iq.op == Ast.CmpOp.Lt || iq.op == Ast.CmpOp.Le
    val inclusive = iq.op == Ast.CmpOp.Le || iq.op == Ast.CmpOp.Ge
    val tie = when(col(tagN), lit(if (inclusive) 1 else 0))
      .otherwise(lit(if (inclusive) 0 else 1))
    val ordCols = Seq(col(tN) -> Ast.SortDir(!asc, Some(true)),
      tie -> Ast.SortDir(false, Some(true)))
    // the union holds the outer tags and the inner rows
    val unionRows = for (o <- outerRows; i <- inputRows(sub, source))
      yield o + i
    val windowed =
      if (kN.nonEmpty || (oneTask(unionRows) &&
          nodes.forall { case (f, a) => !GlobalWindows.retyped(f, a) })) {
        // equality keys partition the running window — scales on its
        // own; without keys, a small union is one task unless the
        // carry types an aggregate its own way
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(kN.map(col): _*)
          .orderBy(ordCols.map { case (c, d) => sortCol(c, d) }: _*)
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, 0L)
        // each node's argument is pre-projected as its `_a` column
        // (count(*) as the indicator, counted like a value)
        val resCols = nodes.zipWithIndex.map { case ((f, arg), j) =>
          val x = arg.getOrElse(BoundOperand.BLit(Lit.LitLong(1L)))
          Aggregates.lower(f, Aggregates.Call(Seq(x)), _ => col(s"${name}_a$j"),
            _.over(w)).as(s"${name}_r$j")
        }
        unioned.select(col("*") +: resCols: _*)
      } else {
        // NO equality keys over a large or unknown union: the bucketed
        // prefix scan, one running request per node over one range
        // bucketing of the (bound, tag tiebreak) order (equal empty keys)
        val prefix = Ast.WinFrame(range = false, lo = Long.MinValue, hi = 0L)
        GlobalWindows.attach(unioned, nodes.indices.map(j =>
          GlobalWindows.Bucketed(Nil, ordCols, GlobalWindows.Scan(s"${name}_r$j",
            nodes(j)._1, Some(col(s"${name}_a$j")), Some(prefix)))))(identity)
      }
    val ran = windowed.filter(col(tagN)).select(kN.map(col) ++ Seq(col(tN)) ++
      nodes.indices.map(j => col(s"${name}_r$j")): _*)
    val cond = (pairs.zipWithIndex.map { case ((oc, _), j) =>
      qcolOuter(oc) <=> ran(kN(j)) } :+
      (lowerOperandWith(iq.outerOp, qcolOuter) <=> ran(tN))).reduce(_ && _)
    df.join(ran, cond, "left_outer")
  }

  /** The scalar column [[correlatedRunningAgg]] joins under `name`. */
  private def runningAggValue(sub: BoundSelect, name: String): Column = {
    val value = sub.projection.head.operands.head
    lowerTree(value, Analyzer.BoundNode.aggNodes(value).distinct.zipWithIndex.map {
      case (n, j) => (n: BoundNode) -> col(s"${name}_r$j")
    }.toMap)
  }

  /** The relational core of a SELECT: inner-join group (stats-ordered when
    * a plan is given), WHERE conjuncts, outer-join steps, then subquery
    * conjuncts as semi/anti/broadcast joins. Everything before
    * projection/aggregation/ordering — reused directly as the candidate
    * frame of a correlated subquery (whose projection semantics the
    * enclosing join supplies).
    */
  private def combine(spark: SparkSession, q: BoundSelect,
      source: BoundTable => DataFrame,
      broadcastBindings: Set[String],
      joinPlan: Option[JoinOrder.Tree]): DataFrame = {
    // LATERAL frames read the frame built so far (their outer and
    // completion keys come from it) — they join after the plain phase
    val lats: Seq[(BoundTable, Analyzer.BoundLateral)] = q.tables.flatMap(bt =>
      q.derived.get(bt.binding).collect { case l: Analyzer.BoundLateral => (bt, l) })
    val latB = lats.map(_._1.binding).toSet
    val plainTables = q.tables.filterNot(bt => latB(bt.binding))
    val base0 = plainTables.map { bt =>
      // a derived table lowers its subquery in place of a scan
      val df0 = q.derived.get(bt.binding) match {
        case Some(sub) => lowerDerived(spark, sub, source)
        case None      => source(bt)
      }
      val df = df0.alias(bt.binding)
      // stats-driven build-side choice (the reference swaps hash-join build
      // sides from estimates the same way, optimizer/optimizer.rs:177-180)
      if (broadcastBindings(bt.binding)) broadcast(df) else df
    }
    // SELECT without FROM evaluates over one synthetic row — in ONE
    // partition: the no-arg spark.range defaults to defaultParallelism
    // slices, so a K-row VALUES (a union of K such selects) built a
    // 32·K-partition frame whose near-empty partitions every downstream
    // job re-paid as tasks (measured: 96-task broadcast builds on a
    // 3-row VALUES at parallelism 32)
    val base =
      if (base0.nonEmpty) base0
      else Seq(spark.range(0L, 1L, 1L, 1).toDF().drop("id"))
    val allConj: Seq[BoundExpr] = q.predicate.map(BoundExpr.conjuncts).getOrElse(Nil)
    // subquery conjuncts — IN/EXISTS/scalar comparisons — lower as joins
    // AFTER the plain filter/join phase (MarkerScope.filter)
    val (subConjs, conj0) = allConj.partition(BoundNode.hasSubquery)
    // a conjunct that references an outer-joined table must evaluate AFTER
    // that join (it would be unresolvable — and wrong — before it). And
    // once any RIGHT/FULL step can null-extend the INNER group's side,
    // even inner-group-only conjuncts must wait: filtering before the
    // join changes which step rows null-extend (a row eliminated early
    // would, in SQL, still join and then be dropped by WHERE — its step
    // matches must NOT null-extend in its place)
    val innerB = q.tables.map(_.binding).toSet
    val leftNullExtending =
      q.joinSteps.exists(js => js.kind == "right" || js.kind == "full")
    val (conj1, postOuterConj) =
      if (leftNullExtending) (Nil, conj0)
      else conj0.partition(c =>
        Analyzer.columnsOf(c).map(_.binding).toSet.subsetOf(innerB))
    // conjuncts reading a LATERAL column wait for its join
    val (latConj, conj) = conj1.partition(c =>
      Analyzer.columnsOf(c).exists(x => latB(x.binding)))
    // equi-conjunct across two bindings → usable as an explicit join cond
    def equiSides(c: BoundExpr): Option[(String, String)] = c match {
      case BoundExpr.BCmp(Ast.CmpOp.Eq, BoundOperand.BCol(a), BoundOperand.BCol(b))
          if a.binding != b.binding => Some((a.binding, b.binding))
      case _ => None
    }
    val plainFiltered = joinPlan match {
      case Some(tree) =>
        // stats-chosen join ORDER (GraftDatabase.planJoinOrder → DPccp
        // parity): build the tree explicitly, attaching each equi-conjunct
        // at the first join where both its sides are available; everything
        // else stays a residual filter on top (Catalyst pushes it down).
        val conjIdx = conj.zipWithIndex
        val used = scala.collection.mutable.Set.empty[Int]
        def build(t: JoinOrder.Tree): (DataFrame, Set[String]) = t match {
          case JoinOrder.Leaf(i) => (base(i), Set(plainTables(i).binding))
          case JoinOrder.Node(l, r, _) =>
            val (ld, ls) = build(l)
            val (rd, rs) = build(r)
            val conds = conjIdx.filter { case (c, i) =>
              !used(i) && equiSides(c).exists { case (x, y) =>
                (ls(x) && rs(y)) || (ls(y) && rs(x))
              }
            }
            conds.foreach { case (_, i) => used += i }
            val df =
              if (conds.isEmpty) ld.crossJoin(rd)
              else ld.join(rd, conds.map(c => lowerExpr(c._1)).reduce(_ && _))
            (df, ls ++ rs)
        }
        val (joined, _) = build(tree)
        val residual = conjIdx.collect { case (c, i) if !used(i) => c }
        if (residual.isEmpty) joined
        else joined.filter(residual.map(lowerExpr).reduce(_ && _))
      case None =>
        val joined = base.reduceLeft(_.crossJoin(_))
        if (conj.isEmpty) joined
        else joined.filter(conj.map(lowerExpr).reduce(_ && _))
    }
    // LATERAL frames fuse in, in declaration order (a later one may
    // correlate against an earlier one's columns), then conjuncts over
    // their columns filter
    val withLats = lats.foldLeft(plainFiltered) { case (df, (bt, l)) =>
      joinLateral(spark, df, bt, l, "inner", None, source)
    }
    val latFiltered =
      if (latConj.isEmpty) withLats
      else withLats.filter(latConj.map(lowerExpr).reduce(_ && _))
    def sparkType(kind: String): String = kind match {
      case "left"  => "left_outer"
      case "right" => "right_outer"
      case "full"  => "full_outer"
      case "semi"  => "left_semi"
      case "anti"  => "left_anti"
      case _       => "inner"
    }
    // join steps (outer, or inner-after-outer) fold in declaration order
    // with their ON attached; WHERE conjuncts touching these tables
    // filter afterwards (SQL order)
    val withOuter = q.joinSteps.foldLeft(latFiltered) { (df, js) =>
      // a derived step side lowers its subquery in place of a scan
      lazy val right = (q.derived.get(js.table.binding) match {
        case Some(sub) => lowerDerived(spark, sub, source)
        case None      => source(js.table)
      }).alias(js.table.binding)
      (js.kind, q.derived.get(js.table.binding)) match {
        case (k, Some(l: Analyzer.BoundLateral)) =>
          joinLateral(spark, df, js.table, l, sparkType(k),
            Some(lowerExpr(js.on)), source)
        case ("asof" | "asof_left", _) =>
          Analyzer.asofDecompose(js.on, js.table.binding) match {
            case Left(m) => sys.error(s"unreachable: analyzer passed a bad ASOF ON: $m")
            case Right(p) if p.eqPairs.nonEmpty && !p.fallback &&
                !asofSparseGroups(q, js, p) =>
              lastAsofChoice = Some("union_merge")
              asofUnionMerge(df, right, js, p)
            case Right(p) =>
              if (p.eqPairs.nonEmpty && !p.fallback)
                lastAsofChoice = Some("candidate")
              // Candidate-join fallback (no equality keys, or residual
              // conjuncts reading the outer side): join on the full ON,
              // then keep per left row only the nearest match via a
              // row_number window over a synthetic left-row id. Fan-out
              // before the prune is O(matches) inside a key group.
              val lid = "__asof_lid"; val mk = "__asof_m"; val rn = "__asof_rn"
              val l1 = df.withColumn(lid, monotonically_increasing_id())
              val r1 = right.withColumn(mk, lit(1))
              val joined = l1.join(r1, lowerExpr(js.on), "left_outer")
              val ts = lowerOperand(p.ineq.stepOp)
              val ord = if (p.ineq.pickLargest) ts.desc_nulls_last else ts.asc_nulls_last
              val w = org.apache.spark.sql.expressions.Window
                .partitionBy(col(lid)).orderBy(ord)
              val picked = joined.withColumn(rn, row_number().over(w))
                .filter(col(rn) === 1)
              val res = if (js.kind == "asof") picked.filter(col(mk).isNotNull)
                        else picked
              res.drop(lid).drop(rn).drop(mk)
          }
        case _ => df.join(right, lowerExpr(js.on), sparkType(js.kind))
      }
    }
    val postFiltered =
      if (postOuterConj.isEmpty) withOuter
      else withOuter.filter(postOuterConj.map(lowerExpr).reduce(_ && _))
    val ms = new MarkerScope(spark, source, "w", qualified,
      columnLeaf(qualified))
    ms.filter(subConjs)
    ms.attach(postFiltered)
  }

  /** Execute an uncorrelated guarded scalar subquery ONCE: enforce the
    * one-row contract and return its value as a typed literal Column
    * (empty result → SQL NULL). One bounded job (LIMIT 2, one column)
    * replaces the former probe-then-rejoin shape that executed the
    * subquery twice; the subquery itself still computes distributed.
    */
  private def guardedScalarLit(subDf: DataFrame): Column = {
    val rows = subDf.limit(2).collect()
    if (rows.length > 1) throw new IllegalStateException(
      "scalar subquery returned more than one row")
    val dt = subDf.schema.fields.head.dataType
    rows.headOption.map(_.get(0)) match {
      case Some(v) if v != null => lit(v).cast(dt)
      case _                    => lit(null).cast(dt)
    }
  }

  /** An uncorrelated scalar subquery whose one row is static. */
  private object OneRow {
    def unapply(n: BoundNode): Option[BoundSelect] = n match {
      case BoundOperand.BSubVal(sub, false, Seq(), None) => Some(sub)
      case _                                             => None
    }
  }

  /** The one subquery scope of a SELECT position — WHERE, HAVING, the
    * SELECT list or QUALIFY. Every IN / NOT IN / EXISTS / ANY / ALL /
    * scalar subquery of the position lowers here as joins onto the
    * enclosing relational frame — never a per-outer-row re-execution
    * (the reference's own stated long-term unnesting goal,
    * execution/plan.rs:41-46). Positions differ only in how an outer
    * correlation column resolves on the frame (`outerKey`: qualified
    * before aggregation, the grouped output name after) and in how
    * everything else lowers (`scope`).
    *
    * A top-level IN or EXISTS conjunct of `filter` joins semi or anti
    * (correlated: also on the decorrelated equality pairs), and a
    * comparison with an uncorrelated unguarded scalar subquery on either
    * side joins its one-row frame inner. Every other subquery — under
    * OR, NOT or a CASE condition, or a scalar subquery used as a value —
    * LEFT-joins a marker frame, and the expression evaluates columnar
    * over the markers.
    *
    * IN has one rule for a probe of k components (k = 1 for a plain
    * operand; the analyzer caps a three-valued IN at k ≤ 3). Under SQL
    * 3VL, `(p1, …, pk) IN S` is TRUE when a row of S equals the probe on
    * every component, NULL when some row is only compatible (every
    * component equal or NULL on either side), FALSE otherwise — an
    * empty S included.
    *  - Positive conjunct: one semi join on the k component equalities
    *    and the pairs.
    *  - Negated correlated conjunct: one anti join on the pairs, with
    *    the compatibility `AND_i (p_i = v_i OR p_i IS NULL OR v_i IS
    *    NULL)` as its extra condition.
    *  - Negated uncorrelated conjunct: a broadcast facts row (for each
    *    NULL mask, whether S has a row NULL there) and 2^k - 1 hash anti
    *    joins, one per proper subset of components that meet through a
    *    NULL.
    *  - Marker: the distinct exact-match frame. Where NULL and FALSE are
    *    distinguishable (a negated IN, or any IN under an enclosing NOT)
    *    the 2^k - 1 compatibility frames join too, one per nonempty set
    *    of components that meet through a NULL, grouped by the other
    *    components and the pairs (broadcast when nothing is left to
    *    group by). The all-components frame groups by the pairs alone,
    *    so it also tells an empty (per-key) set. A positive IN in a
    *    plain disjunction or CASE condition skips them: TRUE vs non-TRUE
    *    is all those consume.
    * EXISTS is two-valued by definition; scalar-comparison markers are
    * exact via Spark's NULL-propagating comparisons over the left-joined
    * scalar.
    *
    * Registration is eager (HAVING probes must register their hidden
    * aggregate columns before the agg assembles); `attach` applies the
    * recorded joins and filters, in registration order, once the
    * caller's frame is ready.
    */
  private final class MarkerScope(spark: SparkSession,
      source: BoundTable => DataFrame, tag: String,
      outerKey: BoundCol => Column, scope: PartialFunction[BoundNode, Column],
      outerRows: Option[Long] = None) {
    private val steps =
      scala.collection.mutable.ArrayBuffer.empty[DataFrame => DataFrame]
    // the marker columns a filtering conjunct drops once it has filtered
    private val drops = scala.collection.mutable.ArrayBuffer.empty[String]
    private var markOf = new java.util.IdentityHashMap[BoundNode, Column]()
    private var k = 0
    private def fresh(): String = { val m = s"__mx${tag}_$k"; k += 1; m }

    /** Whether bit `i` of `mask` is set: a component of an IN probe's
      * NULL mask.
      */
    private def in(mask: Int, i: Int): Boolean = (mask & (1 << i)) != 0

    /** The caller's frame with every recorded join and filter applied. */
    def attach(df: DataFrame): DataFrame = steps.foldLeft(df)((d, f) => f(d))

    private def leftJoin(f: DataFrame, on: Column, cols: Seq[String]): Unit = {
      steps += (_.join(f, on, "left_outer"))
      drops ++= cols
    }

    private def core(sub: BoundSelect): DataFrame =
      combine(spark, sub, source, Set.empty, None)

    /** A correlated body's core projected to `vals`, the inner side of
      * each equality pair (`<prefix><j>`), then `rest`.
      */
    private def keyed(core: DataFrame, pairs: Seq[(BoundCol, BoundCol)],
        prefix: String, vals: Seq[Column], rest: Seq[Column] = Nil): DataFrame =
      core.select(vals ++ pairs.zipWithIndex.map { case ((_, ic), j) =>
        qualified(ic).as(s"$prefix$j") } ++ rest: _*)

    /** The outer side of each equality pair against `f`'s `<prefix><j>`. */
    private def onPairs(pairs: Seq[(BoundCol, BoundCol)], f: DataFrame,
        prefix: String): Seq[Column] =
      pairs.zipWithIndex.map { case ((oc, _), j) => outerKey(oc) === f(s"$prefix$j") }

    /** A body's rows as columns `<m>_v<i>`, plus the inner pair keys
      * `<m>_k<j>` when correlated.
      */
    private def rows(sub: BoundSelect, pairs: Seq[(BoundCol, BoundCol)],
        m: String): DataFrame =
      if (pairs.isEmpty) {
        val d = lowerSelect(spark, sub, source)
        d.toDF(d.columns.indices.map(i => s"${m}_v$i"): _*)
      } else keyed(core(sub), pairs, s"${m}_k", sub.projection.zipWithIndex.map {
        case (it, i) => rowValueCol(it, qualified).as(s"${m}_v$i") })

    /** Aggregate facts over a body's value column, joined as `names`:
      * one broadcast row when uncorrelated (`body` is the lowered
      * subquery), else one hash aggregate per correlation key (`body` is
      * its core) on the same equi keys the predicate joins on —
      * shuffle-bounded at scale; an absent key reads through the left
      * join as NULL.
      */
    private def facts(body: DataFrame, sub: BoundSelect,
        pairs: Seq[(BoundCol, BoundCol)], m: String, names: Seq[String],
        aggs: Column => Seq[Column]): Unit = {
      def named(v: Column): Seq[Column] =
        aggs(v).zip(names).map { case (c, n) => c.as(n) }
      if (pairs.isEmpty) {
        val a = named(col(body.columns.head))
        leftJoin(broadcast(body.agg(a.head, a.tail: _*)), lit(true), names)
      } else {
        val p = s"${m}_f"
        val a = named(col(s"${m}_fv"))
        val f = keyed(body, pairs, p,
          Seq(rowValueCol(sub.projection.head, qualified).as(s"${m}_fv")))
          .groupBy(pairs.indices.map(j => col(s"$p$j")): _*).agg(a.head, a.tail: _*)
        leftJoin(f, onPairs(pairs, f, p).reduce(_ && _),
          names ++ pairs.indices.map(j => s"$p$j"))
      }
    }

    /** Keep the frame's rows where every conjunct holds: the conjuncts
      * without a subquery filter first, then each top-level subquery
      * form in order, then the rest over markers.
      */
    def filter(conjs: Seq[BoundExpr]): Unit = {
      val (subs, plain) = conjs.partition(BoundNode.hasSubquery)
      plain.map(lower).reduceOption(_ && _).foreach(p => steps += (_.filter(p)))
      val (top, mixed) = subs.partition {
        case _: BoundExpr.BInSub | _: BoundExpr.BExists |
             BoundExpr.BCmp(_, OneRow(_), _) | BoundExpr.BCmp(_, _, OneRow(_)) => true
        case _ => false
      }
      (top ++ mixed).foreach(conjunct)
    }

    private def conjunct(c: BoundExpr): Unit = c match {
      case BoundExpr.BInSub(os, sub, pairs, neg) =>
        val probes = os.map(value)
        val m = fresh()
        val f = rows(sub, pairs, m)
        val vs = os.indices.map(i => f(s"${m}_v$i"))
        val keys = onPairs(pairs, f, s"${m}_k")
        def join(kind: String, comps: Seq[Column]): DataFrame => DataFrame =
          _.join(f, (comps ++ keys).reduce(_ && _), kind)
        if (!neg)
          steps += join("left_semi", probes.zip(vs).map { case (p, v) => p === v })
        else if (pairs.nonEmpty)
          steps += join("left_anti", probes.zip(vs).map { case (p, v) =>
            p === v || p.isNull || v.isNull })
        else {
          // for every PROPER subset U of components, one hash anti join
          // keyed on the components outside U, the U components'
          // either-side-NULL test its extra condition; U = all
          // components has no key left and reads the facts row (for
          // mask b, whether S has a row NULL on every component of b;
          // b = 0: S is non-empty)
          val k = os.length
          val all = (1 << k) - 1
          val facts = (0 to all).map { b =>
            val allNull = (0 until k).filter(in(b, _)).map(vs(_).isNull)
              .foldLeft(lit(true))(_ && _)
            coalesce(max(when(allNull, 1).otherwise(0)), lit(0)).as(s"${m}_f$b")
          }
          // a probe NULL on exactly the components of b is killed iff the
          // set has a row NULL on every component the probe has non-NULL
          val killed = (0 to all).map { b =>
            (0 until k).map(i => if (in(b, i)) probes(i).isNull else probes(i).isNotNull)
              .reduce(_ && _) && col(s"${m}_f${all & ~b}") === 1
          }.reduce(_ || _)
          steps += (df => (0 until all).foldLeft(
            df.join(broadcast(f.agg(facts.head, facts.tail: _*)), lit(true), "inner")
              .filter(!killed).drop((0 to all).map(b => s"${m}_f$b"): _*)) { (cur, u) =>
            cur.join(f, (0 until k).map(i =>
              if (in(u, i)) probes(i).isNull || vs(i).isNull
              else probes(i) === vs(i)).reduce(_ && _), "left_anti")
          })
        }
      case BoundExpr.BExists(sub, pairs, neg, residual) =>
        val joinType = if (neg) "left_anti" else "left_semi"
        if (pairs.isEmpty && residual.isEmpty) {
          // uncorrelated EXISTS: emptiness of the whole subquery decides
          // for every outer row — a one-row broadcast semi join
          val subDf = broadcast(lowerSelect(spark, sub, source).limit(1))
          steps += (_.join(subDf, lit(true), joinType))
        } else {
          // residual (non-equality) correlated conjuncts ride the join
          // condition: their inner columns project into the build side,
          // their outer columns resolve against the probe side. The pair
          // equalities stay the equi keys — Spark hash-partitions on
          // them and evaluates the residual as the join's extra
          // condition (the TPC-H Q21 shape).
          val m = fresh()
          val innerB = (sub.tables ++ sub.joinSteps.map(_.table))
            .map(_.binding).toSet
          val rcols = residual.flatMap(Analyzer.columnsOf)
            .filter(c => innerB(c.binding)).distinct
          val subDf = keyed(core(sub), pairs, s"${m}_k", Nil,
            rcols.zipWithIndex.map { case (c, i) => qualified(c).as(s"${m}_r$i") })
          val rres = rcols.zipWithIndex.map { case (c, i) =>
            c -> subDf(s"${m}_r$i") }.toMap
          val cond = (onPairs(pairs, subDf, s"${m}_k") ++ residual.map(e =>
            lowerTree(e, columnLeaf(bc => rres.getOrElse(bc, outerKey(bc))))))
            .reduce(_ && _)
          steps += (_.join(subDf, cond, joinType))
        }
      case BoundExpr.BCmp(op, l, OneRow(sub)) => oneRowJoin(sub, value(l), cmpCols(op, _, _))
      case BoundExpr.BCmp(op, OneRow(sub), r) =>
        oneRowJoin(sub, value(r), (p, v) => cmpCols(op, v, p))
      case other => marked(other)
    }

    /** An inner join with `sub`'s one-row frame keeps exactly the rows
      * `cmp(probe, value)` holds for.
      */
    private def oneRowJoin(sub: BoundSelect, probe: Column,
        cmp: (Column, Column) => Column): Unit = {
      val m = fresh()
      val subDf = broadcast(lowerSelect(spark, sub, source).toDF(m))
      steps += (_.join(subDf, cmp(probe, col(m)), "inner").drop(m))
    }

    /** A conjunct over markers: their joins, one filter, the markers
      * dropped. They register apart, so no later operand reads a
      * dropped marker.
      */
    private def marked(c: BoundExpr): Unit = {
      val outer = markOf
      markOf = new java.util.IdentityHashMap[BoundNode, Column](outer)
      drops.clear()
      register(c)
      val p = lower(c)
      val dropped = drops.toList
      steps += (_.filter(p).drop(dropped: _*))
      markOf = outer
    }

    /** A scalar subquery's value: the inequality-correlated running
      * aggregate, the per-key aggregate left-joined on the decorrelated
      * equalities, a guarded literal (one bounded job that also checks
      * the one-row contract — no join) or a broadcast one-row left join
      * (an empty subquery reads SQL NULL, never zero rows).
      */
    def scalar(sub: BoundSelect, guard: Boolean,
        pairs: Seq[(BoundCol, BoundCol)], iq: Option[CorrIneq]): Column = {
      val m = fresh()
      iq match {
        case Some(x) =>
          steps += (correlatedRunningAgg(spark, _, sub, pairs, x, source, m,
            outerKey, outerRows))
          runningAggValue(sub, m)
        case None if pairs.nonEmpty =>
          val (subAgg, values) =
            perKeyAgg(spark, sub, pairs.map(_._2), source, m, s"${m}_c")
          leftJoin(subAgg, onPairs(pairs, subAgg, s"${m}_c").reduce(_ && _),
            subAgg.columns.toSeq)
          values.head
        case None if guard => guardedScalarLit(lowerSelect(spark, sub, source))
        case None =>
          leftJoin(broadcast(lowerSelect(spark, sub, source).toDF(m)), lit(true),
            Seq(m))
          col(m)
      }
    }

    /** An operand or predicate as a Column over its subqueries' markers. */
    def value(n: BoundNode): Column = { register(n); lower(n) }

    /** Register every subquery under `n` (once) as marker joins. `obs` =
      * an enclosing NOT makes NULL-vs-FALSE observable, forcing 3VL
      * markers; a CASE's WHEN condition consumes TRUE-vs-non-TRUE like a
      * filter, so below an operand `obs` resets (a nested NOT sets it
      * again).
      */
    def register(n: BoundNode, obs: Boolean = false): Unit =
      if (!markOf.containsKey(n)) n match {
        case BoundExpr.BNot(x) => register(x, obs = true)
        case s @ BoundExpr.BExists(sub, pairs, neg, residual) =>
          require(residual.isEmpty, "unreachable: analyzer restricts " +
            "residual EXISTS to top-level WHERE conjuncts")
          val m = fresh()
          if (pairs.isEmpty)
            leftJoin(broadcast(lowerSelect(spark, sub, source).limit(1)
              .select(lit(true).as(m))), lit(true), Seq(m))
          else {
            val f = keyed(core(sub), pairs, s"${m}_k", Nil).distinct()
              .withColumn(m, lit(true))
            leftJoin(f, onPairs(pairs, f, s"${m}_k").reduce(_ && _),
              m +: pairs.indices.map(j => s"${m}_k$j"))
          }
          val p = coalesce(col(m), lit(false))
          markOf.put(s, if (neg) !p else p)
        case s @ BoundExpr.BInSub(os, sub, pairs, neg) =>
          val probes = os.map(value)
          val k = os.length
          val m = fresh()
          val body = rows(sub, pairs, m)
          // TRUE: an exact match among the distinct set rows (per key)
          // (renamed after the DISTINCT, so a plan that reads no marker
          // still sees the frame unique on its join keys and drops it)
          val exact = body.distinct().toDF(os.indices.map(i => s"${m}_e$i") ++
            pairs.indices.map(j => s"${m}_ep$j"): _*).withColumn(m, lit(true))
          leftJoin(exact, (os.indices.map(i => probes(i) === exact(s"${m}_e$i")) ++
            onPairs(pairs, exact, s"${m}_ep")).reduce(_ && _), exact.columns.toSeq)
          val p =
            if (!neg && !obs) coalesce(col(m), lit(false))
            else {
              // compatibility frame U: grouping (not distinct rows) keeps
              // the left join 1:1; per subset S of U, whether the group
              // has a row NULL on every component of S — the probe's own
              // NULL pattern picks the flag
              def bits(is: Seq[Int]) = is.map(1 << _).sum
              val compat = (1 until (1 << k)).map { mask =>
                val mm = s"${m}_u$mask"
                val (inU, outU) = (0 until k).partition(in(mask, _))
                val subsets = (0 until (1 << inU.length)).map(b =>
                  inU.zipWithIndex.collect { case (c, j) if in(b, j) => c })
                val flags = subsets.map { s2 =>
                  max(s2.map(i => body(s"${m}_v$i").isNull).foldLeft(lit(true))(_ && _))
                    .as(s"${mm}_s${bits(s2)}")
                }
                val gcols = outU.map(i => body(s"${m}_v$i")) ++
                  pairs.indices.map(j => body(s"${m}_k$j"))
                val g =
                  if (gcols.isEmpty) broadcast(body.agg(flags.head, flags.tail: _*))
                  else body.groupBy(gcols: _*).agg(flags.head, flags.tail: _*)
                    .toDF(outU.map(i => s"${mm}_k$i") ++
                      pairs.indices.map(j => s"${mm}_p$j") ++ flags.indices.map(f =>
                        s"${mm}_s${bits(subsets(f))}"): _*)
                leftJoin(g, (outU.map(i => probes(i) === g(s"${mm}_k$i")) ++
                  onPairs(pairs, g, s"${mm}_p")).foldLeft(lit(true))(_ && _),
                  g.columns.toSeq)
                subsets.foldLeft(lit(false)) { (acc, s2) =>
                  when(inU.map(i => if (s2.contains(i)) probes(i).isNotNull
                    else probes(i).isNull).reduce(_ && _),
                    coalesce(col(s"${mm}_s${bits(s2)}"), lit(false))).otherwise(acc)
                }
              }.reduce(_ || _)
              when(coalesce(col(m), lit(false)), lit(true))
                .when(compat, lit(null).cast("boolean"))
                .otherwise(lit(false))
            }
          markOf.put(s, if (neg) !p else p)
        case s @ BoundExpr.BQuantSub(op, o, sub, all, pairs) =>
          val probe = value(o)
          val m = fresh()
          // count / non-null count / min / max of the set
          facts(if (pairs.isEmpty) lowerSelect(spark, sub, source) else core(sub),
            sub, pairs, m, Seq("n", "nn", "mn", "mx").map(x => s"${m}_$x"),
            v => Seq(count(lit(1)), count(v), min(v), max(v)))
          markOf.put(s, quantPred(op, all, probe, m))
        case v @ BoundOperand.BSubVal(sub, guard, pairs, iq) =>
          markOf.put(v, scalar(sub, guard, pairs, iq))
        case o: BoundOperand => o.children.foreach(register(_))
        case e               => e.children.foreach(register(_, obs))
      }

    /** Lower a predicate or operand with the registered markers
      * substituted, everything else resolved through `scope`.
      */
    def lower(n: BoundNode): Column = lowerTree(n, leaf)
    private val leaf = ({
      case n if markOf.containsKey(n) => markOf.get(n)
      case _: BoundOperand.BSubVal =>
        sys.error("unreachable: scalar-subquery operand was not registered")
    }: PartialFunction[BoundNode, Column]).orElse(scope)
  }

  /** Per-top-level-query lowering scope: reference counts of
    * structurally-equal derived-table bodies (CTE reuse) plus the
    * memoized frames. A body referenced twice lowers ONCE — multiply
    * referenced plain bodies additionally localCheckpoint so the two
    * consumers share one materialization instead of relying on Catalyst
    * subplan reuse, and a recursive CTE referenced twice runs its
    * fixpoint once. Bypassed inside a fixpoint's per-round step lowering
    * (the frontier source rebinds every round, so the value-keyed memo
    * would freeze round one).
    */
  private final class QueryScope(val rootSource: BoundTable => DataFrame,
      val stats: ScopeStats) {
    val refCount = scala.collection.mutable.Map.empty[Analyzer.BoundQuery, Int]
    val memo = scala.collection.mutable.Map.empty[Analyzer.BoundQuery, DataFrame]
  }
  private val scopeTL = new ThreadLocal[QueryScope]()

  /** Recursive-CTE fixpoint executions (observable for tests). */
  @volatile var fixpointRuns: Long = 0L

  def withQueryScope[T](q: Analyzer.BoundQuery,
      source: BoundTable => DataFrame,
      stats: ScopeStats)(f: => T): T = {
    val sc = new QueryScope(source, stats)
    countDerivedRefs(q, sc.refCount)
    val prev = scopeTL.get()
    scopeTL.set(sc)
    try f finally scopeTL.set(prev)
  }

  /** Bound on the rows a SELECT's windows read, from driver-resident
    * statistics only: the product of its FROM tables' row counts (an
    * inner join or a filter never yields more). Unknown: derived tables
    * and CTEs, outer-join steps, grouping sets, tables without
    * statistics, and a fixpoint step's rebound source.
    */
  private def inputRows(q: BoundSelect,
      source: BoundTable => DataFrame): Option[Long] = {
    val sc = scopeTL.get()
    if (sc == null || (sc.rootSource ne source) || q.derived.nonEmpty ||
        q.joinSteps.nonEmpty || q.groupSpec.nonEmpty) None
    else q.tables.foldLeft(Option(1L)) { (acc, bt) =>
      for (a <- acc; n <- sc.stats.tableRows(bt.desc.name))
        yield if (n != 0 && a > Long.MaxValue / n) Long.MaxValue else a * n
    }
  }

  /** Do unpartitioned windows over at most `rows` rows run on one task? */
  private def oneTask(rows: Option[Long]): Boolean =
    rows.exists(_ <= GlobalWindows.OneTaskRows)

  private def countDerivedRefs(q: Analyzer.BoundQuery,
      acc: scala.collection.mutable.Map[Analyzer.BoundQuery, Int]): Unit = q match {
    case s: BoundSelect =>
      s.derived.values.foreach { d =>
        acc(d) = acc.getOrElse(d, 0) + 1
        countDerivedRefs(d, acc)
      }
      Analyzer.exprSubqueriesOf(s).foreach(countDerivedRefs(_, acc))
    case u: Analyzer.BoundUnion =>
      (u.first +: u.rest.map(_._2)).foreach(countDerivedRefs(_, acc))
    case r: Analyzer.BoundRecursive =>
      countDerivedRefs(r.base, acc); countDerivedRefs(r.step, acc)
    case l: Analyzer.BoundLateral =>
      l.branches.foreach(b => countDerivedRefs(b._2, acc))
    case _ => ()
  }

  /** A derived table's body: memoized per structurally-equal body within
    * the enclosing top-level query (see QueryScope).
    */
  private def lowerDerived(spark: SparkSession, q: Analyzer.BoundQuery,
      source: BoundTable => DataFrame): DataFrame = {
    val sc = scopeTL.get()
    if (sc == null || (sc.rootSource ne source))
      lowerDerivedRaw(spark, q, source)
    else sc.memo.getOrElseUpdate(q, {
      val df = lowerDerivedRaw(spark, q, source)
      q match {
        case _: Analyzer.BoundRecursive => df // fixpoint acc is checkpointed
        case _ if sc.refCount.getOrElse(q, 1) >= 2 =>
          materializeOnce(df, eager = true)
        case _ => df
      }
    })
  }

  private def lowerDerivedRaw(spark: SparkSession, q: Analyzer.BoundQuery,
      source: BoundTable => DataFrame): DataFrame = q match {
    case s: BoundSelect => lowerSelect(spark, s, source)
    case u: Analyzer.BoundUnion =>
      lowerUnion(lowerSelect(spark, u.first, source),
        u.rest.map { case (conn, b) => (conn, lowerSelect(spark, b, source)) },
        u.orderBy, u.limit, u.offset)
    case r: Analyzer.BoundRecursive => lowerRecursive(spark, r, source)
    case rg: Analyzer.BoundRange =>
      if (rg.temporal)
        spark.range(rg.start, rg.stopExcl, rg.step)
          .select(timestamp_micros(col("id")).as(rg.colName))
      else spark.range(rg.start, rg.stopExcl, rg.step).toDF(rg.colName)
    case fs: Analyzer.BoundFileScan =>
      // parquet scans natively (footer schema, pushdown, pruning);
      // csv/json read UNDER the analysis-pinned schema — inference ran
      // once at analysis, so plan schema and data schema always agree
      fs.format match {
        case "parquet" => spark.read.parquet(fs.path)
        case "csv" => spark.read.schema(fs.desc.sparkSchema)
          .option("header", "true").csv(fs.path)
        case "json" => spark.read.schema(fs.desc.sparkSchema).json(fs.path)
        case other => sys.error(s"unreachable file format $other")
      }
    case other => sys.error(s"not a derivable query: $other")
  }

  /** WITH RECURSIVE fixpoint: materialize the base, then repeatedly run
    * the step with the CTE name bound to the previous iteration's
    * FRONTIER (semi-naive evaluation); UNION keeps only never-seen rows
    * per round — guaranteeing termination on cyclic data — while
    * UNION ALL appends whatever the step yields until it is empty.
    * localCheckpoint truncates the growing lineage each round (the same
    * pattern as the connected-components operator — without it Catalyst
    * re-optimizes an exponentially deepening plan), and the only
    * driver-side traffic is one emptiness probe per round.
    */
  private def lowerRecursive(spark: SparkSession, r: Analyzer.BoundRecursive,
      source: BoundTable => DataFrame): DataFrame = {
    fixpointRuns += 1
    val names = r.desc.attributes.map(_.name)
    val maxIter = 1000
    // K rounds unroll LAZILY between materializations: the K deltas
    // union under a __rstep tag and ONE lazy-localCheckpoint +
    // count-by-tag job pair replaces K per-round (checkpoint + count)
    // jobs — the fixpoint's wall clock is job-scheduling-dominated on
    // small frontiers, so this cuts it ~K×. Exact SEQUENTIAL semantics
    // reconstruct from the per-tag counts: recursion ends at the FIRST
    // empty step, and later tags — which a non-monotone step (e.g. a
    // NOT EXISTS over the frontier) could repopulate past the empty
    // round — are discarded, exactly as the one-round-at-a-time loop
    // would never have run them. The accumulator stays a union view
    // over checkpoint-backed frames, re-collapsed every CkptEvery
    // blocks to keep the dedup-mode except-join plan bounded.
    // Unrolling only pays for UNION ALL recursions: their per-round
    // plan is narrow, so K lazy rounds per job trade pure scheduling
    // overhead. UNION (dedup) rounds each carry a distinct+except
    // SHUFFLE — chaining K of them lazily recomputes earlier deltas
    // inside later ones (K²/2 shuffle work for K× fewer jobs, a net
    // loss, measured) — so dedup keeps one materialized round per job.
    val Unroll = if (r.unionAll) 4 else 1
    val CkptEvery = 4 // blocks between acc re-checkpoints
    var acc = {
      val b = lowerSelect(spark, r.base, source).toDF(names: _*)
      materializeOnce(if (r.unionAll) b else b.distinct(), eager = true)
    }
    var frontier = acc
    var it = 0
    var blocks = 0
    var done = frontier.isEmpty
    // The per-block loop runs with adaptive execution OFF (saved/restored):
    // with AQE on every exchange in a block's step plan is a separately
    // scheduled query-stage job with its own re-optimization round-trip,
    // and at moderate frontier sizes the fixpoint is job-count-dominated
    // (measured: 58 scheduled jobs moving 6 KiB of shuffle data for the
    // dedup-mode gate). Rounds re-plan the same bounded step shape over
    // materialized leaves each time, so runtime re-planning discovers
    // nothing a statically planned round doesn't. The BASE materialization
    // above and the caller's final read of `acc` keep AQE — those are the
    // one-shot, potentially large plans where it earns its stage jobs.
    // The conf is scoped by Fixpoint.withConfRestored (restored also when
    // an action fails; see there for the single-threaded assumption).
    // The loop's shuffle width derives from the MEASURED row counts
    // (base rows as the step-input proxy, refreshed with each block's
    // delta count) — Fixpoint.loopWidth (measured: 2,595 tasks for 36 KiB
    // of shuffle without it at the gate's hundreds-of-rows frontier).
    def loopWidth(rows: Long): String =
      Fixpoint.loopWidth(spark, rows).toString
    val partsKey = Fixpoint.PartitionsKey
    Fixpoint.withConfRestored(spark, Fixpoint.AqeKey, partsKey) {
    spark.conf.set(Fixpoint.AqeKey, "false")
    val baseRows = acc.count()
    spark.conf.set(partsKey, loopWidth(baseRows))
    while (!done) {
      it += Unroll
      if (it > maxIter) throw new IllegalStateException(
        s"recursive CTE '${r.desc.name}' exceeded $maxIter iterations")
      // K lazy deltas, each chained off the previous one; dedup mode
      // (K = 1) excepts against the materialized acc
      var deltas = Vector.empty[DataFrame]
      var accLazy = acc
      var front = frontier
      for (_ <- 0 until Unroll) {
        val stepSource: BoundTable => DataFrame = bt =>
          if (bt.desc.name.equalsIgnoreCase(r.desc.name)) front
          else source(bt)
        var next = lowerSelect(spark, r.step, stepSource).toDF(names: _*)
        if (!r.unionAll) next = next.distinct().except(accLazy)
        deltas :+= next
        accLazy = accLazy.union(next)
        front = next
      }
      if (Unroll == 1) {
        // dedup mode: one materialized round per job, the count IS the
        // emptiness probe (no tag shuffle)
        val next = materializeOnce(deltas.head)
        val n = next.count()
        if (n == 0L) done = true
        else {
          acc = acc.union(next)
          frontier = next
          blocks += 1
          if (blocks % CkptEvery == 0) acc = materializeOnce(acc, eager = true)
          spark.conf.set(partsKey, loopWidth(math.max(baseRows, n)))
        }
      } else {
        // coalesce BEFORE the checkpoint: a union of K deltas carries
        // the SUM of their partitions, and the next block chains off
        // this one — unbounded, that compounds K× per block (4^blocks
        // tasks). Bounding every block at the session's parallelism
        // keeps the whole fixpoint at O(blocks × cores) tasks.
        val block = materializeOnce(deltas.zipWithIndex.map { case (d, i) =>
          d.withColumn("__rstep", lit(i)) }.reduce(_.union(_))
          .coalesce(spark.sparkContext.defaultParallelism))
        val counts = block.groupBy(col("__rstep")).count().collect()
          .map(row => row.getInt(0) -> row.getLong(1)).toMap
        val keep = (0 until Unroll).find(i => counts.getOrElse(i, 0L) == 0L)
          .getOrElse(Unroll)
        if (keep == 0) done = true
        else {
          acc = acc.union(block.filter(col("__rstep") < keep).drop("__rstep"))
          frontier = block.filter(col("__rstep") === keep - 1).drop("__rstep")
          blocks += 1
          if (blocks % CkptEvery == 0)
            // eager is fine: children are checkpoint-backed, this
            // collapses a bounded union, nothing deeper
            acc = materializeOnce(acc, eager = true)
          if (keep < Unroll) done = true // an empty step ended the chain
          spark.conf.set(partsKey, loopWidth(math.max(baseRows, counts.values.sum)))
        }
      }
    }
    }
    acc
  }

  /** Set-op chain assembly: branches are pre-lowered DataFrames;
    * by-position combination keeps the first branch's column names.
    * INTERSECT binds tighter than UNION/EXCEPT (its groups are contiguous
    * in the flat chain, so they fold first); UNION/EXCEPT then associate
    * left, each UNION step deduping at its own position. The trailing
    * ORDER BY binds against the first branch's output names.
    */
  def lowerUnion(first: DataFrame, rest: Seq[(String, DataFrame)],
      orderBy: Seq[(String, Ast.SortDir)], limit: Option[Long],
      offset: Option[Long] = None): DataFrame = {
    // fold contiguous INTERSECT [ALL] runs into single group frames
    val groups = scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame)]
    var cur = first
    var curConn = "" // connector joining `cur` to the PREVIOUS group
    for ((conn, df) <- rest) {
      if (conn == "intersect") cur = cur.intersect(df)
      else if (conn == "intersect_all") cur = cur.intersectAll(df)
      else { groups += ((curConn, cur)); cur = df; curConn = conn }
    }
    groups += ((curConn, cur))
    val unioned = groups.drop(1).foldLeft(groups.head._2) {
      case (acc, ("union", g))      => acc.union(g).distinct()
      case (acc, ("union_all", g))  => acc.union(g)
      case (acc, ("union_byname", g))     => acc.unionByName(g).distinct()
      case (acc, ("union_all_byname", g)) => acc.unionByName(g)
      case (acc, ("except", g))     => acc.except(g)
      case (acc, ("except_all", g)) => acc.exceptAll(g)
      case (_, (c, _))              => sys.error(s"unreachable set-op connector '$c'")
    }
    val ordered =
      if (orderBy.isEmpty) unioned
      else {
        orderBy.find { case (n, _) => !unioned.columns.exists(_.equalsIgnoreCase(n)) }
          .foreach { case (n, _) => sys.error(
            s"UNION ORDER BY key '$n' is not an output column of the first branch") }
        unioned.orderBy(orderBy.map { case (n, dir) => sortCol(col(n), dir) }: _*)
      }
    applyOffsetLimit(ordered, offset, limit)
  }

  /** OFFSET skips rows of the (ordered) result before LIMIT takes its
    * prefix — SQL's LIMIT n OFFSET m.
    */
  private def applyOffsetLimit(df: DataFrame, offset: Option[Long],
      limit: Option[Long]): DataFrame = {
    val off = offset.fold(df)(m => df.offset(math.min(m, Int.MaxValue.toLong).toInt))
    limit.fold(off)(n => off.limit(math.min(n, Int.MaxValue.toLong).toInt))
  }

  def lowerExpr(e: BoundExpr): Column = lowerTree(e, columnLeaf(qualified))

  /** The one structural lowering of a bound expression tree. `leaf` is
    * tried first at every node — predicate or operand — and resolves
    * what the caller's scope decides: qualified or bare columns, grouped
    * output names, aggregate nodes, registered markers, window outputs,
    * lambda variables. Every other node lowers here, its children under
    * the same `leaf`; CASE conditions inherit the scope of their operand.
    */
  private[sql] def lowerTree(n: BoundNode,
      leaf: PartialFunction[BoundNode, Column]): Column = {
    val low: BoundOperand => Column = lowerTree(_, leaf)
    def pred(e: BoundExpr): Column = lowerTree(e, leaf)
    leaf.applyOrElse[BoundNode, Column](n, {
      case BoundOperand.BLit(l)          => lowerLit(l)
      case BoundOperand.BInterval(k, u)  => intervalCol(k, u)
      case BoundOperand.BArith(ch, l, r) => arith(ch, low(l), low(r))
      case BoundOperand.BFunc(f, args)   => Functions.lower(f, args, low)
      case BoundOperand.BCast(x, t)      => low(x).cast(t.spark)
      case BoundOperand.BTryCast(x, t)   => low(x).try_cast(t.spark)
      case BoundOperand.BCase(bs, els) =>
        val first = when(pred(bs.head._1), low(bs.head._2))
        val chained = bs.tail.foldLeft(first) { case (acc, (c, v)) =>
          acc.when(pred(c), low(v))
        }
        els.fold(chained)(e => chained.otherwise(low(e)))
      case BoundOperand.BAgg(f, _, _) =>
        sys.error(s"aggregate $f(...) outside aggregate scope")
      case BoundOperand.BOrderedAgg(f, _, _, _, _) =>
        sys.error(s"$f(...) is only supported in the SELECT list / HAVING " +
          "of an aggregated query")
      case BoundExpr.BAnd(l, r) => pred(l) && pred(r)
      case BoundExpr.BOr(l, r)  => pred(l) || pred(r)
      case BoundExpr.BNot(x)    => !pred(x) // SQL 3VL: NOT NULL → NULL
      case BoundExpr.BIsNull(o, neg) =>
        val c = low(o)
        if (neg) c.isNotNull else c.isNull
      case BoundExpr.BLike(o, pat, neg, ci, esc) =>
        val c = likeCol(low(o), pat, ci, esc)
        if (neg) !c else c
      case BoundExpr.BCmp(op, l, r) =>
        // a constant compared with a column takes the column's type,
        // unless the scope resolves it itself (a constant GROUP BY key)
        def side(o: BoundOperand, other: BoundOperand): Column = (o, other) match {
          case (BoundOperand.BLit(c), BoundOperand.BCol(bc)) if !leaf.isDefinedAt(o) =>
            lowerLitAs(c, bc.attr.sqlType)
          case _ => low(o)
        }
        cmpCols(op, side(l, r), side(r, l))
      case _: Subquery =>
        sys.error("subqueries lower as joins or markers, not Column expressions")
      case other => sys.error(s"unreachable: $other has no lowering in this scope")
    })
  }

  /** Scan/join-scope resolution: columns through `colOf`; an output
    * reference (a QUALIFY window alias) reads the window column already
    * attached under its name.
    */
  private[sql] def columnLeaf(colOf: BoundCol => Column)
      : PartialFunction[BoundNode, Column] = {
    case BoundOperand.BCol(c)    => colOf(c)
    case BoundOperand.BOut(n, _) => col(n)
  }

  private def qualified(bc: BoundCol): Column = col(s"${bc.binding}.${bc.attr.name}")

  /** Apply an ORDER BY direction — ASC/DESC with optional explicit NULLS
    * FIRST/LAST (None keeps Spark's default: NULLS FIRST for ASC, LAST
    * for DESC).
    */
  /** DuckDB's default null order is NULLS LAST in BOTH directions
    * (default_null_order = 'nulls_last'; probed — round-13 fuzz found
    * the divergence: Spark's bare .asc is nulls-FIRST). Explicit NULLS
    * FIRST/LAST overrides pass through.
    */
  private[sql] def sortCol(c: Column, s: Ast.SortDir): Column =
    (s.desc, s.nullsFirst) match {
      case (false, None)        => c.asc_nulls_last
      case (true, None)         => c.desc_nulls_last
      case (false, Some(true))  => c.asc_nulls_first
      case (false, Some(false)) => c.asc_nulls_last
      case (true, Some(true))   => c.desc_nulls_first
      case (true, Some(false))  => c.desc_nulls_last
    }

  /** [I]LIKE with an optional ESCAPE character. */
  private def likeCol(c: Column, pat: String, ci: Boolean,
      esc: Option[Char]): Column = (ci, esc) match {
    case (false, None)    => c.like(pat)
    case (true, None)     => c.ilike(pat)
    case (false, Some(e)) => like(c, lit(pat), lit(e.toString))
    case (true, Some(e))  => ilike(c, lit(pat), lit(e.toString))
  }

  private[sql] def cmpCols(op: Ast.CmpOp, lc: Column, rc: Column): Column = op match {
    case Ast.CmpOp.Eq  => lc === rc
    case Ast.CmpOp.Neq => lc =!= rc
    case Ast.CmpOp.Lt  => lc < rc
    case Ast.CmpOp.Gt  => lc > rc
    case Ast.CmpOp.Le  => lc <= rc
    case Ast.CmpOp.Ge  => lc >= rc
    // null-safe: <=> never yields NULL, and its negation stays two-valued
    case Ast.CmpOp.IsDist  => !(lc <=> rc)
    case Ast.CmpOp.NotDist => lc <=> rc
  }

  /** The decisive comparison of a quantified predicate against the
    * subquery's non-null extrema: `x < ANY(s)` ⟺ `x < max(s)`,
    * `x < ALL(s)` ⟺ `x < min(s)` (and symmetrically for >, <=, >=);
    * `x <> ANY` and `x = ALL` read off min = max = x. NULL when the
    * non-null set is empty (min/max are NULL) — the caller's CASE
    * degrades that to the three-valued answer.
    */
  private def quantCmp(op: Ast.CmpOp, all: Boolean, probe: Column,
      mn: Column, mx: Column): Column = (op, all) match {
    case (Ast.CmpOp.Lt, false)  => probe < mx
    case (Ast.CmpOp.Le, false)  => probe <= mx
    case (Ast.CmpOp.Gt, false)  => probe > mn
    case (Ast.CmpOp.Ge, false)  => probe >= mn
    case (Ast.CmpOp.Neq, false) => (mn =!= probe) || (mx =!= probe)
    case (Ast.CmpOp.Lt, true)   => probe < mn
    case (Ast.CmpOp.Le, true)   => probe <= mn
    case (Ast.CmpOp.Gt, true)   => probe > mx
    case (Ast.CmpOp.Ge, true)   => probe >= mx
    case (Ast.CmpOp.Eq, true)   => (mn === probe) && (mx === probe)
    case (Ast.CmpOp.Eq, false) | (Ast.CmpOp.Neq, true) =>
      sys.error("unreachable: = ANY / <> ALL desugar to IN / NOT IN")
    case (Ast.CmpOp.IsDist, _) | (Ast.CmpOp.NotDist, _) =>
      sys.error("unreachable: IS [NOT] DISTINCT FROM has no quantified form")
  }

  /** Full 3VL for `probe <op> ANY/ALL (sub)` over the joined facts
    * columns `<m>_n` (row count), `<m>_nn` (non-null count), `<m>_mn` /
    * `<m>_mx` (non-null extrema): empty set → FALSE for ANY / TRUE for
    * ALL; NULL probe → NULL; then the extremum comparison decides, with
    * the undecided cases degrading to NULL when the set bears NULLs.
    */
  private def quantPred(op: Ast.CmpOp, all: Boolean, probe: Column,
      m: String): Column = {
    val n   = coalesce(col(s"${m}_n"), lit(0L))
    val cmp = quantCmp(op, all, probe, col(s"${m}_mn"), col(s"${m}_mx"))
    val unk = lit(null).cast("boolean")
    if (!all)
      when(n === 0L, lit(false))
        .when(probe.isNull, unk)
        .when(cmp, lit(true))
        .when(col(s"${m}_nn") < col(s"${m}_n"), unk)
        .otherwise(lit(false))
    else
      when(n === 0L, lit(true))
        .when(probe.isNull, unk)
        .when(cmp <=> lit(false), lit(false))
        .when(col(s"${m}_nn") < col(s"${m}_n"), unk)
        .otherwise(lit(true))
  }

  /** Lower a lambda body: parameters resolve through `env`; a subtree
    * that reads none of them lowers in the enclosing scope (`outer`), so
    * nested higher-order calls see the parameters of every lambda around
    * them.
    */
  private[sql] def lowerLambdaBody(o: BoundOperand, env: Map[String, Column],
      outer: BoundOperand => Column): Column = {
    def readsParam(n: BoundNode): Boolean =
      n.exists { case BoundOperand.BLambdaVar(v, _) => env.contains(v) }
    lowerTree(o, {
      case BoundOperand.BLambdaVar(v, _) if env.contains(v) => env(v)
      case x: BoundOperand if !readsParam(x) => outer(x)
    })
  }

  private[sql] def arith(op: Char, lc: Column, rc: Column): Column = op match {
    case '+' => lc + rc
    case '-' => lc - rc
    case '*' => lc * rc
    // DuckDB: x/0 and x%0 read NULL (probed across int/decimal/double);
    // Spark 4's ANSI default would raise — try_divide/try_mod give the
    // NULL semantics while keeping the same codegen'd double division
    // ('/' on integers divides as double on both engines)
    case '/' => try_divide(lc, rc)
    case '%' => try_mod(lc, rc)
    case o   => sys.error(s"unreachable arithmetic op $o")
  }

  /** Lower an operand with a caller-chosen column resolution (qualified
    * for scans/joins, grouped-output names post-aggregation, bare for
    * single-table DML).
    */
  private[sql] def lowerOperandWith(o: BoundOperand, colOf: BoundCol => Column): Column =
    lowerTree(o, columnLeaf(colOf))

  /** A correlated or LATERAL body's item as a Column. Those bodies
    * project plain columns and expressions only (the decorrelators
    * reject aggregating, windowed and scalar-subquery items).
    */
  private def rowValueCol(it: BoundItem, colOf: BoundCol => Column): Column =
    lowerOperandWith(it.rowValue.getOrElse(sys.error(
      s"unreachable: a correlated body item $it is not a row value")), colOf)

  /** Numbers, dates and timestamps lower as parameter constants, so
    * statements that differ only in them share their generated code.
    */
  private[sql] def lowerLit(l: Lit): Column = l match {
    case Lit.LitLong(v)      => ParamLiteral.column(v)
    case Lit.LitDouble(v)    => ParamLiteral.column(v)
    case Lit.LitString(s)    => lit(s)
    case Lit.LitDate(s)      => ParamLiteral.column(java.sql.Date.valueOf(s))
    case Lit.LitTimestamp(s) => ParamLiteral.column(java.sql.Timestamp.valueOf(s))
    // LocalTime lowers through Spark's TIME literal encoder
    case Lit.LitTime(s)      => lit(java.time.LocalTime.parse(s))
    // the UTC-normalized wall text IS the instant under the pinned UTC
    // session zone (carrier: TimestampType)
    case Lit.LitTimestampTz(s) => ParamLiteral.column(java.sql.Timestamp.valueOf(s))
    case Lit.LitBool(v)      => lit(v)
    case Lit.LitNull         => lit(null)
  }

  /** A constant compared with a column of type `t`: an integer compared
    * with an INT column is an INT constant when its value fits. Otherwise
    * type coercion casts the column or the constant, and the optimizer
    * folds that back into a plain literal whose value is written into
    * the generated code.
    */
  private def lowerLitAs(l: Lit, t: SqlType): Column = (l, t) match {
    case (Lit.LitLong(v), SqlType.SqlInt) if v.isValidInt => ParamLiteral.column(v.toInt)
    case _ => lowerLit(l)
  }

  /** A calendar-interval Column (unit-positional make_interval args:
    * years, months, weeks, days, hours, mins, secs). Column arithmetic
    * then adds/subtracts it from a date/timestamp directly.
    */
  private def intervalCol(n: Long, unit: String): Column = {
    val z = lit(0)
    unit match {
      case "year"   => make_interval(lit(n))
      case "month"  => make_interval(z, lit(n))
      case "week"   => make_interval(z, z, lit(n))
      case "day"    => make_interval(z, z, z, lit(n))
      case "hour"   => make_interval(z, z, z, z, lit(n))
      case "minute" => make_interval(z, z, z, z, z, lit(n))
      case "second" => make_interval(z, z, z, z, z, z, lit(n.toDouble))
      case other    => sys.error(s"unreachable interval unit $other")
    }
  }

  private def lowerOperand(o: BoundOperand): Column = lowerOperandWith(o, qualified)

  // ---- predicate decomposition for statistics (reference
  //      analyzer/mod.rs:98-186 splits WHERE into per-table selections) ----

  /** The single table binding a conjunct touches, if exactly one. A
    * subquery conjunct is never single-table (it cannot run against a
    * sample, so the estimator must skip it).
    */
  def singleBinding(e: BoundExpr): Option[String] =
    if (BoundNode.hasSubquery(e)) None
    else columnsOf(e).map(_.binding).distinct match {
      case Seq(one) => Some(one)
      case _        => None
    }

  private def bare(bc: BoundCol): Column = col(bc.attr.name)

  /** Lower a single-table conjunct with UNQUALIFIED column names, for
    * evaluation against that table's sample or a DML image (reference
    * executes selections against its reservoir sample the same way,
    * planner/bottomup.rs:111-168).
    */
  def lowerExprBare(e: BoundExpr): Column = lowerTree(e, columnLeaf(bare))

  /** A single operand with unqualified columns (UPDATE SET values). */
  def lowerOperandBare(o: BoundOperand): Column = lowerOperandWith(o, bare)
}
