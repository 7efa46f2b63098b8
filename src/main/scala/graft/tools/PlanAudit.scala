package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition

/** Per-round plan-audit sweep (round-14 verdict item 2): every registry
  * query's physical plan, scanned for the two scale-killer shapes —
  * Exchange SinglePartition carrying DATA and CartesianProduct — with an
  * allowlist of the benign classes:
  *
  *  - `prefix_totals`: the ≤ shuffle-partition-count per-bucket totals
  *    frame of the distributed prefix scan / ghost-row / carry-array
  *    global-window lowerings (child aggregates by a `__g*_pid` bucket
  *    id — one row per bucket reaches the exchange);
  *  - `agg_final`: a global aggregate's final step (the partial
  *    aggregate below the exchange emits one row per partition);
  *  - `limit`: GlobalLimit/CollectLimit row-bounded by the query's own
  *    LIMIT;
  *  - `topk_window`: a windowed top-k whose WindowGroupLimit bounds the
  *    rows entering the exchange at k per partition;
  *  - `tiny_literal`: a literal/one-row frame (range(1) patch rows,
  *    VALUES tables).
  *
  * Anything else is a violation. Output: PLANS_r{N}.json (round from
  * args or GRAFT_ROUND), one entry per query with per-class counts and
  * violation plan fragments; process exits 1 on any violation so the
  * round checklist can gate on it.
  *
  * Usage: PlanAudit <outFile> [sfDir] [names-csv]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val outFile = args.headOption.getOrElse("PLANS.json")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    val cpus = graft.LocalSession.cpus("4")
    val spark = graft.LocalSession(cpus, "ERROR", Seq(
      // audit the fully-ensured STATIC plan: with AQE on, executedPlan
      // is an AdaptiveSparkPlanExec whose inputPlan predates
      // EnsureRequirements — the very exchanges this tool audits are
      // missing from it. AQE only merges/skips exchanges at runtime,
      // never adds one, so the non-AQE plan is the conservative view.
      "spark.sql.adaptive.enabled" -> "false"))

    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case other                    => other
    }

    final case class Audit(allowed: Map[String, Int],
        violations: Seq[String], cartesians: Seq[String], err: Option[String],
        shrinking: Int = 0)

    def classify(e: SparkPlan): String = {
      val childStr = e.children.map(_.toString).mkString("\n")
      val head = childStr.linesIterator.take(6).mkString(" ")
      if (childStr.contains("_pid")) "prefix_totals"
      else if (childStr.contains("WindowGroupLimit")) "topk_window"
      else if ("(?i)localLimit|CollectLimit".r.findFirstIn(head).isDefined)
        "limit"
      else if ("HashAggregate\\(keys=\\[\\]|SortAggregate\\(key=\\[\\]|ObjectHashAggregate\\(keys=\\[\\]".r
          .findFirstIn(head).isDefined) "agg_final"
      else if (head.contains("Range (0, 1,") || head.contains("LocalTableScan") ||
        head.contains("OneRowRelation") || head.contains("ReusedExchange"))
        "tiny_literal"
      else "VIOLATION"
    }

    // A SHRINKING window frame — (bounded-start, UnboundedFollowing) —
    // re-aggregates the remaining rows each time the lower bound moves:
    // O(partition²). The round-15 scale probe measured the shape
    // super-linear before the distributed paths were rewritten; this
    // counter tracks the remaining instances (informational, committed
    // in the artifact so a NEW one shows as a diff): the ≤P-row totals
    // windows carry a `_pid` column (scale-free, skipped), the rest are
    // the dedicated path's peer-group/ROWS-tail splits — peer-bounded
    // or documented in SCALE.md.
    val shrinkRe =
      ("specifiedwindowframe\\((?:Row|Range)Frame, " +
        "(?!unboundedpreceding)[^,]+, unboundedfollowing").r

    def audit(p0: SparkPlan): Audit = {
      val p = unwrap(p0)
      var allowed = Map.empty[String, Int].withDefaultValue(0)
      val bad = Seq.newBuilder[String]
      val cart = Seq.newBuilder[String]
      var shrink = 0
      def walk(n: SparkPlan): Unit = {
        n match {
          case e: ShuffleExchangeLike
              if e.outputPartitioning == SinglePartition =>
            classify(e) match {
              case "VIOLATION" =>
                bad += e.toString.linesIterator.take(8).mkString("\n")
              case cls => allowed = allowed.updated(cls, allowed(cls) + 1)
            }
          case c if c.nodeName.contains("CartesianProduct") =>
            cart += c.toString.linesIterator.take(6).mkString("\n")
          case w if w.nodeName.contains("Window") =>
            val self = w.verboseString(1000)
            if (!self.contains("_pid"))
              shrink += shrinkRe.findAllIn(self).length
          case _ => ()
        }
        n.children.foreach(walk)
        // subqueries and AQE-nested plans hide more exchanges
        n.subqueries.foreach(s => walk(unwrap(s)))
      }
      walk(p)
      Audit(allowed, bad.result(), cart.result(), None, shrink)
    }

    import graft.sql.FuzzDump.jsonStr

    def merge(a: Audit, b: Audit): Audit = Audit(
      (a.allowed.keySet ++ b.allowed.keySet).map(k =>
        k -> (a.allowed.getOrElse(k, 0) + b.allowed.getOrElse(k, 0))).toMap,
      a.violations ++ b.violations, a.cartesians ++ b.cartesians,
      a.err.orElse(b.err), a.shrinking + b.shrinking)

    // materialization boundaries (lazy checkpoints) replace their
    // upstream plan with a Scan ExistingRDD leaf — the prefix-scan /
    // ghost-row bucketings and fixpoint rounds live ABOVE such
    // boundaries. The Lowering hook records each boundary's sub-plan so
    // this sweep audits the WHOLE pipeline, not just the final stage.
    graft.sql.Lowering.MaterializeAudit.enabled = true
    val entries = scala.collection.mutable.ArrayBuffer.empty[(String, Audit)]
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.forall(_.contains(name))) {
        graft.sql.Lowering.MaterializeAudit.plans.clear()
        val a =
          try {
            val top = audit(fn(spark, sfDir).queryExecution.executedPlan)
            val subs = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
            var p = graft.sql.Lowering.MaterializeAudit.plans.poll()
            while (p != null) {
              subs += p; p = graft.sql.Lowering.MaterializeAudit.plans.poll()
            }
            subs.map(audit).foldLeft(top)(merge)
          } catch { case e: Throwable =>
            Audit(Map.empty, Nil, Nil, Some(s"${e.getClass.getSimpleName}: ${
              Option(e.getMessage).getOrElse("").take(200)}"), 0)
          }
        entries += name -> a
        val v = a.violations.length + a.cartesians.length
        if (v > 0 || a.err.isDefined)
          System.err.println(s"[planaudit] $name: violations=$v err=${a.err}")
      }
    }
    val nViol = entries.map(e => e._2.violations.length + e._2.cartesians.length).sum
    val nErr = entries.count(_._2.err.isDefined)
    val body = entries.map { case (n, a) =>
      val al = a.allowed.toSeq.sorted.map { case (k, v) => s"${jsonStr(k)}:$v" }
        .mkString("{", ",", "}")
      val vi = a.violations.map(jsonStr).mkString("[", ",", "]")
      val ca = a.cartesians.map(jsonStr).mkString("[", ",", "]")
      s"${jsonStr(n)}:{" + s""""allowed":$al,"violations":$vi,"cartesians":$ca""" +
        (if (a.shrinking > 0) s""","shrinking":${a.shrinking}""" else "") +
        a.err.map(e => s""","err":${jsonStr(e)}""").getOrElse("") + "}"
    }.mkString(",\n  ")
    val nShrink = entries.map(_._2.shrinking).sum
    val json = s"""{"summary":{"queries":${entries.length},"violations":$nViol,"errors":$nErr,"shrinking":$nShrink,"sf":${jsonStr(sfDir)}},
  "allow_classes":["prefix_totals","agg_final","limit","topk_window","tiny_literal"],
  "queries":{
  $body
}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes("UTF-8"))
    println(s"[planaudit] ${entries.length} queries, $nViol violations, " +
      s"$nShrink shrinking frames, $nErr errors -> $outFile")
    spark.stop()
    if (nViol > 0 || nErr > 0) sys.exit(1)
  }
}
