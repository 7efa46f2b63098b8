package graft.sql

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

import scala.util.Random

/** Differential-fuzz dump: generate FuzzGen's fixture + N random queries,
  * run them through the dialect engine, and write
  *   outDir/script.sql     — the shared DDL/INSERT script
  *   outDir/fuzz.json      — [{name, sql, status, rows|error}, …]
  * tools/check_fuzz.py replays both in DuckDB and diffs results as
  * sorted multisets. Usage:
  *
  *   sbt "runMain graft.sql.FuzzDump <seed> <nQueries> <outDir>"
  *
  * status: "ok" (rows present), "reject" (analyzer/parser refused — a
  * coverage datum, not a failure), "crash" (unexpected exception — a BUG).
  */
object FuzzDump {

  private[graft] def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def jsonVal(v: Any): String = v match {
    case null                => "null"
    case b: Boolean          => b.toString
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    // exact-rational window stats (percent_rank/cume_dist) — finite by
    // construction, so the bare JSON number round-trips
    case d: Double           => d.toString
    case f: Float            => f.toString
    case d: java.sql.Date    => jsonStr(d.toString)
    case d: java.time.LocalDate => jsonStr(d.toString)
    case s: String           => jsonStr(s)
    case other               => jsonStr(other.toString)
  }

  def main(args: Array[String]): Unit = {
    val seed = if (args.length > 0) args(0).toLong else 13L
    val n = if (args.length > 1) args(1).toInt else 400
    val outDir = Paths.get(if (args.length > 2) args(2) else "/tmp/fuzz_out")
    Files.createDirectories(outDir)

    val spark = graft.LocalSession("8", "WARN")

    val db = new GraftDatabase(spark,
      Files.createTempDirectory("graft-fuzz-wh").toString)
    // paired fixture: the engine executes the left side (loadFixture
    // builds the attached second warehouse and substitutes its path);
    // script.sql gets the DuckDB replay side (identical except the
    // MERGE translations and the attached-warehouse-as-schema modeling)
    val paired = FuzzGen.scriptPaired(seed)
    FuzzGen.loadFixture(spark, db, seed)
    Files.write(outDir.resolve("script.sql"),
      paired.flatMap(_._2).mkString("", ";\n", ";\n").getBytes(StandardCharsets.UTF_8))

    val r = new Random(seed)
    var nOk = 0; var nReject = 0; var nCrash = 0
    val entries = (0 until n).map { i =>
      val sql = FuzzGen.query(r)
      val name = s"q$i"
      val res: String =
        try db.select(sql) match {
          case Left(err) =>
            nReject += 1
            s"""{"name":${jsonStr(name)},"sql":${jsonStr(sql)},"status":"reject","error":${jsonStr(err.msg)}}"""
          case Right(df) =>
            val rows = df.collect()
            nOk += 1
            val rowsJson = rows.map(row =>
              (0 until row.length).map(j => jsonVal(row.get(j))).mkString("[", ",", "]")
            ).mkString("[", ",", "]")
            s"""{"name":${jsonStr(name)},"sql":${jsonStr(sql)},"status":"ok","rows":$rowsJson}"""
        } catch {
          case t: Throwable =>
            nCrash += 1
            val m = s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("").take(400)}"
            s"""{"name":${jsonStr(name)},"sql":${jsonStr(sql)},"status":"crash","error":${jsonStr(m)}}"""
        }
      if ((i + 1) % 50 == 0)
        println(s"[fuzz] ${i + 1}/$n (ok=$nOk reject=$nReject crash=$nCrash)")
      res
    }
    Files.write(outDir.resolve("fuzz.json"),
      entries.mkString("[\n", ",\n", "\n]\n").getBytes(StandardCharsets.UTF_8))
    println(s"[fuzz] done: $nOk ok / $nReject reject / $nCrash crash / $n total -> $outDir")
    spark.stop()
  }
}
