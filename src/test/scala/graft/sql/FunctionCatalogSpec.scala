package graft.sql

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import Analyzer._

/** Walks the scalar-function catalog: every entry, called with every
  * argument count from 0 to 4 its arity admits over a fixed pool of
  * typed literal arguments. A call the analyzer accepts must lower to a
  * Column without throwing; Spark's analyzer may still reject the Column
  * on argument types it cannot coerce (the catalog leaves that typing to
  * Spark), and evaluation may raise a user-facing data error (ANSI
  * casts, raise_error); anything else — an internal error, a
  * MatchError in a lowering — fails. Every user-callable entry must have
  * at least one call that evaluates, and every name and alias must parse
  * as a call.
  */
class FunctionCatalogSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  private val table = TableDesc("t", Seq(AttributeDesc("x", SqlType.SqlBigInt)))
  private object cat extends Catalog {
    def resolve(t: String): Option[TableDesc] =
      if (t.equalsIgnoreCase("t")) Some(table) else None
  }
  private lazy val oneRow: DataFrame = spark.createDataFrame(
    java.util.List.of(Row(1L)), StructType(Seq(StructField("x", LongType))))

  /** Typed literal arguments: the full pool for 0-2 arguments, smaller
    * ones for 3 and 4 (the cross product grows as |pool|^n). Timestamps
    * sit near the epoch: a timestamp cast to an integer reads its epoch
    * seconds, and a length of 1.7e9 (lpad, list_resize) would allocate
    * gigabytes.
    */
  private val pool2 = Seq("2", "2.5", "'a'", "DATE '2024-01-15'",
    "TIMESTAMP '1970-01-01 00:00:02.5'", "TRUE", "NULL", "[1, 2, 3]",
    "MAP {'k': 1}", "{'k': 1}", "INTERVAL 1 DAY")
  private val pool3 = Seq("2", "'a'", "2.5", "DATE '2024-01-15'", "[1, 2, 3]", "NULL")
  private val pool4 = Seq("2", "'a'", "NULL", "[1, 2, 3]")
  /** Single arguments of the types only a few functions take. */
  private val unaryExtras = Seq("CAST('a' AS ENUM('a', 'b'))",
    "union_value(k := 1)", "TIME '10:30:00'", "TIMESTAMPTZ '1970-01-01 00:00:02+00'",
    "['a', 'b']", "[{'k': 1, 'v': 2}]", "[1.5, 2.5, 3.5]", "'{\"a\": [1, 2]}'")

  /** Calls whose argument rules need specific literals (units, formats,
    * paths, field names) the generic pool does not hold.
    */
  private val examples: Map[String, Seq[String]] = Map(
    "decode" -> Seq("encode('a')"),
    "date_trunc" -> Seq("'day'", "TIMESTAMP '1970-01-01 00:00:02.5'"),
    "date_part" -> Seq("'year'", "DATE '2024-01-15'"),
    "date_diff" -> Seq("'day'", "DATE '2024-01-15'", "DATE '2024-01-20'"),
    "make_timestamp" -> Seq("2024", "1", "15", "10", "30", "45"),
    "strftime" -> Seq("DATE '2024-01-15'", "'%Y'"),
    "strptime" -> Seq("'2024'", "'%Y'"),
    "try_strptime" -> Seq("'2024'", "'%Y'"),
    "struct_extract" -> Seq("{'k': 1}", "'k'"),
    "struct_insert" -> Seq("{'k': 1}", "'j'", "2"),
    "union_extract" -> Seq("union_value(k := 1)", "'k'"),
    "flatten" -> Seq("[[1, 2], [3]]"),
    "list_aggregate" -> Seq("[1, 2, 3]", "'sum'"),
    "list_where" -> Seq("[1, 2, 3]", "[true, false, true]"),
    "json_extract_string" -> Seq("'{\"a\": 1}'", "'$.a'"),
    "from_json" -> Seq("'{\"a\": 1}'", "'{\"a\": \"INTEGER\"}'"),
    "from_json_strict" -> Seq("'{\"a\": 1}'", "'{\"a\": \"INTEGER\"}'"))

  private def combos(pool: Seq[String], n: Int): Seq[Seq[String]] =
    (0 until n).foldLeft(Seq(Seq.empty[String])) { (acc, _) =>
      for (a <- acc; p <- pool) yield a :+ p
    }

  /** The argument lists tried for one entry: the pool's cross product
    * per admitted count, plus the entry's example.
    */
  private def argLists(d: Functions.FunctionDef): Seq[Seq[String]] =
    if (d.lambdaParams > 0) {
      val lambda = if (d.lambdaParams == 1) "x -> x" else "(a, b) -> a"
      (pool2 ++ unaryExtras).map(l => Seq(l, lambda))
    } else (0 to 4).filter(d.arity).flatMap {
      case 0 => Seq(Seq.empty)
      case 1 => combos(pool2 ++ unaryExtras, 1)
      case 2 => combos(pool2, 2)
      case 3 => combos(pool3, 3)
      case 4 => combos(pool4, 4)
    } ++ examples.get(d.name)

  /** Call text: union_value and struct_insert take named members only. */
  private def callText(name: String, args: Seq[String]): String = name match {
    case "union_value" => s"union_value(k := ${args.last})"
    case "struct_insert" => s"struct_insert(${args.head}, j := ${args.last})"
    case _ => s"$name(${args.mkString(", ")})"
  }

  private final case class Call(sql: String, col: Column)

  /** Everything that went wrong, reported together at the end. */
  private val problems = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Bind every generated call; the accepted ones, lowered. */
  private def acceptedCalls(d: Functions.FunctionDef): Seq[Call] =
    argLists(d).map(as => s"SELECT ${callText(d.name, as)} AS r FROM t").distinct
      .flatMap { sql =>
        val bound =
          try Parser.parse(sql).toOption.map(Analyzer.analyze(_, cat))
          catch { case e: Exception => problems += s"analyzing `$sql` threw $e"; None }
        bound match {
          case Some(Right(b: BoundSelect)) =>
            val op = b.projection match {
              case Seq(BoundItem.BIExpr(o, _)) => o
              case other => fail(s"`$sql` bound to $other")
            }
            try Some(Call(sql, Lowering.lowerOperandBare(op)))
            catch { case e: Exception => problems += s"lowering `$sql` threw $e"; None }
          case _ => None
        }
      }

  /** A user-facing error about the input values: a Spark error condition
    * other than INTERNAL_ERROR, or an invalid argument raised by one of
    * graft's own expressions (chr of a non-codepoint, malformed JSON).
    */
  private def dataError(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case st: SparkThrowable =>
        Option(st.getCondition).exists(!_.startsWith("INTERNAL_ERROR"))
      case _: IllegalArgumentException => true
      case _: com.fasterxml.jackson.core.JsonProcessingException => true // bad JSON text
      case _ => false
    }

  /** Calls Spark's analyzer accepts (a type rejection is Spark's to make).
    * The session analyzer runs on a projection over the row's schema,
    * with no Dataset built, so an expected rejection fires no query
    * listener event (whose failure handlers would log its stack).
    */
  private def analyzable(calls: Seq[Call]): Seq[Call] =
    if (calls.isEmpty) calls
    else try { Bridge.analyzeOver(spark, oneRow.schema, calls.map(_.col)); calls }
    catch {
      case _: Exception if calls.length > 1 => calls.flatMap(c => analyzable(Seq(c)))
      case _: org.apache.spark.sql.AnalysisException => Nil
      case e: Exception =>
        problems += s"Spark analysis of `${calls.head.sql}` threw $e"; Nil
    }

  /** The calls that evaluate; a failure must be a data error. */
  private def evaluated(calls: Seq[Call]): Seq[Call] =
    if (calls.isEmpty) calls
    else try { oneRow.select(calls.map(_.col): _*).collect(); calls }
    catch {
      case _: Exception if calls.length > 1 =>
        val (l, r) = calls.splitAt(calls.length / 2)
        evaluated(l) ++ evaluated(r)
      case e: Exception if dataError(e) => Nil
      case e: Exception => problems += s"evaluating `${calls.head.sql}` threw $e"; Nil
    }

  /** Entries no generated call can evaluate, and why. */
  private val neverEvaluated = Map(
    "error" -> "raises by design",
    "nextval" -> "substituted at statement time; the analyzer rejects it here",
    "currval" -> "substituted at statement time; the analyzer rejects it here")

  test("every accepted call lowers, and evaluates or fails with a data error") {
    val unexercised = Functions.entries.filterNot(_.internal).flatMap { d =>
      val ok = evaluated(analyzable(acceptedCalls(d)))
      if (ok.isEmpty && !neverEvaluated.contains(d.name)) Some(d.name) else None
    }
    assert(problems.isEmpty, problems.mkString("\n"))
    assert(unexercised.isEmpty,
      s"entries with no call that evaluates: ${unexercised.mkString(", ")}")
  }

  test("every name and alias parses as a call") {
    def parses(d: Functions.FunctionDef, name: String): Boolean =
      (0 to 8).filter(d.arity).exists { k =>
        val arg = if (d.lambdaParams > 0) "x -> x" else "[1]"
        Parser.parse(s"SELECT ${callText(name, Seq.fill(k)(arg))} AS r FROM t").isRight
      }
    val unparsed = for {
      d <- Functions.entries.filterNot(_.internal)
      n <- d.name +: d.aliases
      if !parses(d, n)
    } yield n
    assert(unparsed.isEmpty, s"names that do not parse as calls: $unparsed")
  }

  test("internal entries have no call syntax") {
    for (d <- Functions.entries.filter(_.internal)) {
      assert(!Functions.callable(d.name))
      assert(Parser.parse(s"SELECT ${d.name}(1) AS r FROM t").isLeft, d.name)
    }
  }
}
