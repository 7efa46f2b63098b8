package graft.sql

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Catalog-introspection dump for the cross-engine check harness
  * (tools/check_introspection.py): replay a shared DDL script into a
  * fresh warehouse, run the fixed introspection queries below, write
  * each result as TSV. The python side replays the SAME script into
  * DuckDB, runs the equivalent queries, and diffs the outputs — so the
  * duckdb_* / information_schema surface (otherwise spec-pinned only,
  * with no per-query DuckDB oracle) gets a real cross-check.
  *
  * Usage: runMain graft.sql.IntrospectDump <ddl.sql> <outDir>
  */
object IntrospectDump {
  /** The engine-side probes. Keys are output file names; the checker
    * holds the DuckDB-side equivalents (which add filters for DuckDB's
    * system schemas and its view rows in the column catalogs).
    */
  val Queries: Seq[(String, String)] = Seq(
    "schemas" -> ("SELECT schema_name FROM duckdb_schemas() " +
      "ORDER BY schema_name"),
    "tables" -> ("SELECT schema_name, table_name, column_count " +
      "FROM duckdb_tables() ORDER BY schema_name, table_name"),
    "views" -> ("SELECT schema_name, view_name FROM duckdb_views() " +
      "ORDER BY schema_name, view_name"),
    "columns" -> ("SELECT schema_name, table_name, column_name, " +
      "column_index, data_type, is_nullable FROM duckdb_columns() " +
      "ORDER BY schema_name, table_name, column_index"),
    "is_tables" -> ("SELECT table_schema, table_name, table_type " +
      "FROM information_schema.tables " +
      "ORDER BY table_schema, table_name, table_type"),
    "is_columns" -> ("SELECT table_schema, table_name, column_name, " +
      "ordinal_position, data_type, is_nullable " +
      "FROM information_schema.columns " +
      "ORDER BY table_schema, table_name, ordinal_position"))

  def main(args: Array[String]): Unit = {
    val (ddlPath, outDir) = (args(0), args(1))
    val spark = graft.LocalSession("2", "WARN")
    val db = new GraftDatabase(spark,
      Files.createTempDirectory("graft-introspect").toString)
    Files.readAllLines(Paths.get(ddlPath)).asScala
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("--"))
      .foreach { stmt =>
        db.query(stmt.stripSuffix(";")).left.foreach { e =>
          System.err.println(s"[introspect] DDL failed: $stmt -> ${e.msg}")
          sys.exit(2)
        }
      }
    Files.createDirectories(Paths.get(outDir))
    Queries.foreach { case (name, sql) =>
      val df = db.select(sql).fold(
        e => { System.err.println(s"[introspect] $name: ${e.msg}")
               sys.exit(2); throw new IllegalStateException },
        identity)
      val lines = df.collect().map(_.toSeq.map {
        case null       => ""
        case b: Boolean => b.toString
        case v          => v.toString
      }.mkString("\t"))
      Files.writeString(Paths.get(s"$outDir/$name.tsv"),
        lines.mkString("", "\n", "\n"))
    }
    println(s"[introspect] wrote ${Queries.length} relation dumps to $outDir")
    spark.stop()
  }
}
