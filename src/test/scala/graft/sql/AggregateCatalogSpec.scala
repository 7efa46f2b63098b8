package graft.sql

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

/** Walks the aggregate and window-function catalog: every entry, under
  * every spelling, through every position a call can take — GROUP BY,
  * HAVING, a partitioned window, a running window, a correlated LATERAL,
  * a correlated scalar subquery and `f(COLUMNS(…))`. The analyzer either
  * returns a Left with a user-facing message or the statement lowers and
  * evaluates; an exception out of the engine (an `unreachable` lowering,
  * a MatchError) fails. Two in-process oracles pin the values: a
  * partitioned window equals the grouped aggregate joined back on the
  * partition key, and a running window equals Spark's own window over the
  * same rows.
  */
class AggregateCatalogSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  /** t: 24 rows, 3 groups; k is a unique order key, v a BIGINT with
    * repeats, s text, b a boolean. o: the outer keys of the correlated
    * positions (3 has no rows in t).
    */
  private lazy val db: GraftDatabase = {
    val d = new GraftDatabase(spark, Files.createTempDirectory("graft-agg").toString)
    val rows = (1 to 24).map { i =>
      s"($i, ${i % 3}, ${(i * 7) % 25}, ${(i * i) % 11}, 's${i % 5}', ${i % 4 == 0})"
    }
    for (sql <- Seq(
        "CREATE TABLE t (id BIGINT, g BIGINT, k BIGINT, v BIGINT, s VARCHAR(8), b BOOLEAN)",
        s"INSERT INTO t VALUES ${rows.mkString(", ")}",
        "CREATE TABLE o (gk BIGINT)",
        "INSERT INTO o VALUES (0), (1), (2), (3)"))
      d.query(sql).left.foreach(e => fail(s"$sql -> ${e.msg}"))
    d.select("SELECT * FROM t").fold(e => fail(e.msg), _.createOrReplaceTempView("agg_t"))
    d
  }

  /** A call of `name` spelled with `syntax`, its argument written `x`. */
  private def callText(name: String, syntax: Aggregates.Syntax, x: String,
      windowed: Boolean): Option[String] = {
    import Aggregates.Syntax._
    val arg = if (name.startsWith("bool_")) x.replace("v", "b") else x
    syntax match {
      case Plain => Some(s"$name($arg)")
      case Window => Some(name match {
        case "ntile"     => "ntile(2)"
        case "nth_value" => s"nth_value($arg, 2)"
        case "lag" | "lead" | "first_value" | "last_value" => s"$name($arg)"
        case _           => s"$name()"
      })
      case Pair | ArgExtreme => Some(s"$name($arg, k)")
      case Collect =>
        val (value, sep) =
          if (Aggregates.canonical(name) == "string_agg") (arg.replace("v", "s"), ", ','")
          else (arg, "")
        Some(if (windowed) s"$name($value$sep)" else s"$name($value$sep ORDER BY k)")
      case WithinGroup => Some(s"$name(0.5) WITHIN GROUP (ORDER BY $arg)")
      case Quantile | Fraction => Some(s"$name($arg, 0.5)")
      case Bits => Some(s"$name($arg, 0, 10)")
      case Internal => None
    }
  }

  private val spellings: Seq[(Aggregates.AggDef, String, Aggregates.Syntax)] =
    Aggregates.entries.flatMap(d => ((d.name, d.syntax) +: d.aliases).map {
      case (n, s) => (d, n, s) })

  /** The statements of one spelling, by position. */
  private def statements(name: String, syntax: Aggregates.Syntax): Seq[(String, String)] = {
    def c(x: String, windowed: Boolean = false) = callText(name, syntax, x, windowed)
    Seq(
      "group" -> c("v").map(f => s"SELECT g, $f AS a FROM t GROUP BY g"),
      "having" -> c("v").map(f =>
        s"SELECT g FROM t GROUP BY g HAVING $f IS NOT NULL"),
      "partition" -> c("v", windowed = true).map(f =>
        s"SELECT id, $f OVER (PARTITION BY g) AS a FROM t"),
      "running" -> c("v", windowed = true).map(f =>
        s"SELECT id, $f OVER (ORDER BY k) AS a FROM t"),
      "lateral" -> c("t.v").map(f =>
        s"SELECT o.gk, l.a FROM o, LATERAL (SELECT $f AS a FROM t WHERE t.g = o.gk) l"),
      "scalar" -> c("t.v").map(f =>
        s"SELECT o.gk, (SELECT $f FROM t WHERE t.g = o.gk) AS a FROM o"),
      "columns" -> c("COLUMNS('^v$')").map(f => s"SELECT $f FROM t")
    ).collect { case (p, Some(sql)) => (p, sql) }
  }

  /** Left with a message, or the rows; an exception fails the test. */
  private def run(sql: String): Either[String, Seq[Row]] =
    try db.select(sql).map(_.collect().toSeq).left.map(_.msg)
    catch { case e: Throwable => fail(s"$sql threw $e") }

  test("every spelling in every position analyzes to a Left or evaluates") {
    val outcomes = for ((_, name, syntax) <- spellings;
        (pos, sql) <- statements(name, syntax)) yield
      try db.select(sql).map(_.collect().length).left.map(_.msg) match {
        case Left(msg) if msg.isEmpty || msg.contains("unreachable") =>
          Some(s"$pos: $sql -> $msg")
        case Left(_)  => None
        case Right(_) => Some("")
      } catch { case e: Throwable => Some(s"$pos: $sql threw ${e.toString.take(300)}") }
    val failures = outcomes.flatten.filter(_.nonEmpty)
    assert(failures.isEmpty, failures.mkString("\n"))
    assert(outcomes.count(_.contains("")) > 200)
  }

  test("entries declare their names once and every call form resolves") {
    val names = Aggregates.entries.flatMap(d => d.name +: d.aliases.map(_._1))
    assert(names.distinct.size == names.size)
    for ((d, n, _) <- spellings) assert(Aggregates.canonical(n) == d.name)
    // an entry admitted in a window lowers there: every non-group-only
    // plain aggregate runs over PARTITION BY
    for (d <- Aggregates.entries if d.kind != Aggregates.Kind.GroupOnly &&
        d.syntax == Aggregates.Syntax.Plain) {
      val sql = statements(d.name, d.syntax).toMap.apply("partition")
      assert(run(sql).isRight, sql)
    }
  }

  private def norm(r: Row): Seq[Any] = r.toSeq.map {
    case d: Double => BigDecimal(d).round(new java.math.MathContext(9)).toDouble
    case s: scala.collection.Seq[_] => s.toList
    case other => other
  }
  private def rows(sql: String): Seq[Seq[Any]] =
    run(sql).fold(m => fail(s"$sql -> $m"), _.map(norm).sortBy(_.head.toString))
  private def sparkRows(sql: String): Seq[Seq[Any]] =
    spark.sql(sql).collect().toSeq.map(norm).sortBy(_.head.toString)

  /** Windowable entries whose value does not depend on input order. */
  private val deterministicWindowed = Aggregates.entries.filter(d =>
    d.kind != Aggregates.Kind.GroupOnly && d.syntax == Aggregates.Syntax.Plain && d.name != "any_value" && d.name != "mode")

  test("agg(v) OVER (PARTITION BY g) equals the grouped aggregate joined back on g") {
    for (d <- deterministicWindowed) {
      val f = callText(d.name, d.syntax, "v", windowed = true).get
      val win = rows(s"SELECT id, $f OVER (PARTITION BY g) AS a FROM t")
      val grouped = rows(s"SELECT t.id, x.a FROM t JOIN " +
        s"(SELECT g, ${callText(d.name, d.syntax, "v", windowed = false).get} AS a " +
        "FROM t GROUP BY g) x ON t.g = x.g")
      assert(win == grouped, d.name)
    }
  }

  /** Spark's spelling of a dialect call where the two differ. */
  private def sparkCall(name: String, w: String): String = name match {
    case "fsum"         => s"sum(CAST(v AS DOUBLE)) OVER $w"
    case "favg"         => s"avg(CAST(v AS DOUBLE)) OVER $w"
    case "kurtosis_pop" => s"nanvl(kurtosis(v) OVER $w, NULL)"
    case "any_value"    => s"first(v, true) OVER $w"
    case "string_agg"   => s"array_join(collect_list(s) OVER $w, ',')"
    case "array_agg"    => s"collect_list(v) OVER $w"
    case _ =>
      s"${callText(name, Aggregates(name).syntax, "v", windowed = true).get} OVER $w"
  }

  test("running windows equal Spark's own window over the same rows") {
    val w = "(ORDER BY k)"
    for (d <- Aggregates.entries if d.kind != Aggregates.Kind.GroupOnly && !d.unordered &&
        (d.syntax == Aggregates.Syntax.Plain || d.syntax == Aggregates.Syntax.Window ||
          d.syntax == Aggregates.Syntax.Collect)) {
      val f = callText(d.name, d.syntax, "v", windowed = true).get
      val ours = rows(s"SELECT id, $f OVER $w AS a FROM t")
      val theirs = sparkRows(s"SELECT id, ${sparkCall(d.name, w)} AS a FROM agg_t")
      assert(ours == theirs, d.name)
    }
  }

  // ---- the statements that crashed before the catalog ----

  test("regression: aggregates outside the old window list run in window position") {
    for (f <- Seq("mode", "stddev_pop", "any_value", "bit_or",
        "approx_count_distinct", "mean", "arbitrary");
        w <- Seq("(PARTITION BY g)", "(ORDER BY k)")) {
      val ours = rows(s"SELECT id, $f(v) OVER $w AS a FROM t")
      val spelled = f match {
        case "mean"                    => "avg(v)"
        case "arbitrary" | "any_value" => "first(v, true)"
        case other                     => s"$other(v)"
      }
      if (f != "mode" && f != "any_value" && f != "arbitrary")
        assert(ours == sparkRows(s"SELECT id, $spelled OVER $w AS a FROM agg_t"), s"$f $w")
      else assert(ours.size == 24)
    }
  }

  private val perGroupStddev: Seq[Seq[Any]] = Seq(0L, 1L, 2L, 3L).map { g =>
    val vs = (1 to 24).filter(_ % 3 == g).map(i => ((i * i) % 11).toDouble)
    val sd = if (vs.isEmpty) null else {
      val m = vs.sum / vs.size
      math.sqrt(vs.map(x => (x - m) * (x - m)).sum / vs.size)
    }
    Seq(g, if (sd == null) null else BigDecimal(sd.asInstanceOf[Double])
      .round(new java.math.MathContext(9)).toDouble)
  }

  test("regression: stddev_pop in a correlated LATERAL") {
    assert(rows("SELECT o.gk, l.a FROM o, LATERAL (SELECT stddev_pop(t.v) AS a " +
      "FROM t WHERE t.g = o.gk) l") == perGroupStddev)
  }

  test("regression: stddev_pop in a correlated scalar subquery") {
    assert(rows("SELECT o.gk, (SELECT stddev_pop(t.v) FROM t WHERE t.g = o.gk) AS a " +
      "FROM o") == perGroupStddev)
  }

  test("regression: stddev_pop(COLUMNS('v')) is one aggregate per column") {
    val r = rows("SELECT stddev_pop(COLUMNS('^v$')) FROM t")
    val vs = (1 to 24).map(i => ((i * i) % 11).toDouble)
    val m = vs.sum / vs.size
    val sd = math.sqrt(vs.map(x => (x - m) * (x - m)).sum / vs.size)
    assert(r == Seq(Seq(BigDecimal(sd).round(new java.math.MathContext(9)).toDouble)))
  }

  test("empty-group values complete a LATERAL and a scalar subquery") {
    // gk = 3 has no rows: the count family reads 0, entropy 0.0, the rest NULL
    for ((f, want) <- Seq("count(t.v)" -> 0L, "approx_count_distinct(t.v)" -> 0L,
        "sum(t.v)" -> null)) {
      val lat = rows(s"SELECT o.gk, l.a FROM o, LATERAL (SELECT $f AS a FROM t " +
        "WHERE t.g = o.gk) l")
      val sub = rows(s"SELECT o.gk, (SELECT $f FROM t WHERE t.g = o.gk) AS a FROM o")
      assert(lat.last == Seq(3L, want) && sub.last == Seq(3L, want), f)
    }
  }
}
