package graft.sql

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graftbridge.Bridge

import Analyzer._

/** The database facade — the analogue of `OxidSQLDatabase::query`
  * (reference database.rs:36-45): one entry point driving
  * parse → analyze → lower → execute for all three statement kinds.
  *
  * Storage: each table is a directory of parquet files under the warehouse
  * dir; INSERT appends new files (the Spark-native replacement for the
  * reference's slotted-page heap + buffer manager, which is HOW not WHAT —
  * SURVEY.md §1.4). The catalog (schemas, ENUM types, tables with their
  * declared types such as VARCHAR max lengths, which parquet cannot
  * carry, views, materialized views, macros and sequences) persists as
  * one JSON document, `warehouse.json`, replacing the reference's
  * bootstrap catalog segments (catalog/mod.rs:9-37).
  *
  * At scale: appends are new parquet files (no rewrite), reads are
  * partition-parallel scans with pushdown; the facade never collects data
  * to the driver.
  */
final class GraftDatabase(val spark: SparkSession, val warehouse: String) {

  // Spark 4.1 gates the TIME type behind a flag; the dialect surfaces
  // TIME/make_time, so every engine session enables it (dynamic conf —
  // safe to set even when the builder already did).
  spark.conf.set("spark.sql.timeType.enabled", "true")

  sealed trait QueryError { def msg: String }
  final case class ParseFailed(e: Parser.ParseError) extends QueryError { def msg = e.toString }
  final case class AnalyzeFailed(e: AnalyzerError) extends QueryError { def msg = e.msg }
  final case class ViewError(msg: String) extends QueryError
  final case class ReadOnlyTable(name: String) extends QueryError {
    def msg = s"table '$name' is registered read-only (external parquet)"
  }

  /** Result of one statement: SELECTs carry a DataFrame; DDL/DML report. */
  sealed trait QueryResult
  final case class Rows(df: DataFrame) extends QueryResult
  final case class Done(message: String) extends QueryResult

  private val tables = mutable.LinkedHashMap.empty[String, TableDesc]
  // External tables (driver parquet fixtures): schema discovered from
  // footers; data lives outside the warehouse and is never written to.
  private val external = mutable.Map.empty[String, String]

  /** Online statistics (HLL sketches, deterministic samples) maintained on
    * the INSERT path, like the reference's StatisticsCollectingSPHeapStorage
    * (access/heap.rs:245-292).
    */
  val statistics = new StatsManager(spark, warehouse)
  statistics.tableReader = d => readTable(d)

  /** Tables estimated below this cardinality get broadcast-hinted in joins. */
  val BroadcastRowThreshold = 100000L

  // stored-view registry (declared before the constructor-side load —
  // class body statements run in order)
  private val views = mutable.LinkedHashMap.empty[String, ParseTree]
  private val viewSql = mutable.LinkedHashMap.empty[String, String]
  // materialized views: a real catalog table + its refreshable definition
  private val matviews = mutable.LinkedHashMap.empty[String, ParseTree]
  private val matviewSql = mutable.LinkedHashMap.empty[String, String]

  /** Named sequences (DuckDB CREATE SEQUENCE): a driver-side counter —
    * current is None until the first nextval. State persists with the
    * catalog so allocated ids stay monotone across reopen.
    */
  private final case class SeqState(start: Long, inc: Long, minv: Long,
      maxv: Long, cycle: Boolean, var current: Option[Long]) {
    /** The value the next nextval hands out: one overflow-safe step (a
      * Long overflow IS out of bounds — the default bounds are
      * Long.MaxValue/MinValue themselves), wrapped under CYCLE; None
      * once a non-cycle sequence is exhausted.
      */
    def next: Option[Long] = current match {
      case None => Some(start)
      case Some(c) =>
        val stepped =
          try Some(Math.addExact(c, inc))
          catch { case _: ArithmeticException => None }
        stepped.filter(v => v >= minv && v <= maxv).orElse(
          if (cycle) Some(if (inc > 0) minv else maxv) else None)
    }
  }
  private val sequences = mutable.LinkedHashMap.empty[String, SeqState]

  // named types (CREATE TYPE … AS ENUM): name -> value domain
  private val namedTypes = mutable.LinkedHashMap.empty[String, SqlType.SqlEnum]

  // scalar macros (CREATE MACRO): token-level textual expansion pre-parse
  private val macros = mutable.LinkedHashMap.empty[String, Parser.MacroDef]

  /** CREATE SCHEMA namespaces. 'main' is implicit and undroppable;
    * schema-qualified tables key the catalog as "schema.table" (the
    * parser already canonicalizes main.t to t), so every resolution
    * path works unchanged.
    */
  private val schemas = mutable.Set.empty[String]

  /** CREATE TEMP TABLE names: fully materialized like any table, but
    * filtered out of the catalog document — they vanish on reopen (their data
    * directory is wiped by the next same-named CREATE). One namespace:
    * a temp table cannot shadow an existing permanent one (DuckDB's
    * separate temp schema is a documented divergence).
    */
  private val tempTables = mutable.Set.empty[String]

  /** ATTACH'd databases: alias → the imported alias.t catalog keys
    * (session-scoped; removed wholesale at DETACH).
    */
  private val attached = mutable.Map.empty[String, Seq[String]]

  /** Cross-warehouse accessors for ATTACH (package-private). */
  private[sql] def catalogTables: Map[String, TableDesc] = tables.toMap
  private[sql] def tableDataPath(n: String): String = dataPath(n)
  private[sql] def tableFormat(n: String): Option[String] =
    externalFormat.get(n)

  /** EXPORT DATABASE: schema.sql (one regenerated DDL statement per
    * line — schemas, ENUM types, sequences continuing from their
    * current value, tables with NOT NULL / DEFAULT / GENERATED / CHECK
    * / CLUSTERED BY, then stored view/matview/macro statements in
    * creation order), load.sql (COPY … FROM parquet per table) and
    * per-table parquet data dirs. Attached/external tables are
    * metadata of OTHER stores and are skipped. IMPORT DATABASE replays
    * both files line by line through the ordinary query path.
    */
  /** Canonical SQL rendering of a literal value — quote-escaped, so a
    * spliced VALUE can never alter the surrounding statement's parse.
    * Shared by EXPORT DATABASE (DEFAULT clauses) and EXECUTE's typed
    * parameter binding.
    */
  private def renderLit(l: Lit): String = l match {
    case Lit.LitLong(v)      => v.toString
    case Lit.LitDouble(v)    => v.toString
    case Lit.LitString(v)    => s"'${v.replace("'", "''")}'"
    case Lit.LitBool(v)      => v.toString
    case Lit.LitDate(d)      => s"DATE '$d'"
    case Lit.LitTimestamp(t) => s"TIMESTAMP '$t'"
    case Lit.LitTime(t)      => s"TIME '$t'"
    // the text is UTC-normalized; without an offset it reads as UTC
    case Lit.LitTimestampTz(t) => s"TIMESTAMPTZ '$t'"
    case Lit.LitNull         => "NULL"
  }

  private def exportDb(dir: String): Either[QueryError, QueryResult] = {
    def litSql(l: Lit): String = renderLit(l)
    def createSql(d: TableDesc): String = {
      val cols = d.attributes.map { a =>
        s"${a.name} ${a.sqlType.render}" +
          a.generated.map(g => s" GENERATED ALWAYS AS ($g)").getOrElse("") +
          a.default.map(l => s" DEFAULT ${litSql(l)}").getOrElse("") +
          (if (a.nullable) "" else " NOT NULL")
      }
      val checks = d.checks.map(c => s"CHECK ($c)")
      val bucket = d.bucket.map { case (c, n) =>
        s" CLUSTERED BY ($c) INTO $n BUCKETS" }.getOrElse("")
      s"CREATE TABLE ${d.name} (${(cols ++ checks).mkString(", ")})$bucket"
    }
    val exhausted = sequences.collectFirst { case (n, st) if st.next.isEmpty => n }
    if (exhausted.isDefined)
      return Left(ViewError(s"EXPORT DATABASE failed: sequence " +
        s"'${exhausted.get}' is exhausted (CREATE SEQUENCE cannot restart it)"))
    val owned = tables.keys.toSeq.sorted
      .filterNot(k => external.contains(k) || tempTables.contains(k))
      .filterNot(k => matviews.contains(k)) // matviews replay their DDL
    // schema.sql spells column names unquoted (the dialect has no quoted
    // identifiers): a name it cannot read back would fail the IMPORT
    val unreadable = owned.iterator.flatMap(k => tables(k).attributes
      .find(a => !Parser.isBareIdentifier(a.name)).map(a => (k, a.name)))
    if (unreadable.hasNext) {
      val (t, c) = unreadable.next()
      return Left(ViewError(s"EXPORT DATABASE failed: column '$c' of table " +
        s"'$t' is not an identifier the dialect can read back"))
    }
    try {
      Files.createDirectories(Paths.get(dir))
      // flattening a multi-line statement onto one schema.sql line must
      // strip `--` comments FIRST (quote-aware) — otherwise a comment
      // inside the definition would swallow the rest of the flattened
      // statement
      val oneLine = (s0: String) => {
        val sb = new StringBuilder
        var i = 0
        val n = s0.length
        while (i < n) {
          s0(i) match {
            case '\'' =>
              sb += '\''; i += 1
              var done = false
              while (i < n && !done) {
                sb += s0(i)
                if (s0(i) == '\'') {
                  if (i + 1 < n && s0(i + 1) == '\'') { sb += '\''; i += 2 }
                  else { done = true; i += 1 }
                } else i += 1
              }
            case '-' if i + 1 < n && s0(i + 1) == '-' =>
              while (i < n && s0(i) != '\n') i += 1
            case '\n' | '\r' => sb += ' '; i += 1
            case c => sb += c; i += 1
          }
        }
        sb.toString.trim.stripSuffix(";")
      }
      val schema = Vector.newBuilder[String]
      schemas.toSeq.sorted.foreach(s => schema += s"CREATE SCHEMA $s;")
      namedTypes.foreach { case (n, e) =>
        schema += s"CREATE TYPE $n AS ENUM (${e.values.map(v =>
          s"'${v.replace("'", "''")}'").mkString(", ")});"
      }
      sequences.foreach { case (n, st) =>
        val start = st.next.get
        val bounds =
          (if (st.minv != Long.MinValue) s" MINVALUE ${st.minv}" else "") +
          (if (st.maxv != Long.MaxValue) s" MAXVALUE ${st.maxv}" else "")
        schema += s"CREATE SEQUENCE $n START $start INCREMENT BY " +
          s"${st.inc}$bounds${if (st.cycle) " CYCLE" else ""};"
      }
      owned.foreach(k => schema += createSql(tables(k)) + ";")
      // views replay before matviews (matviews usually read views, the
      // common direction); a VIEW defined over a MATVIEW would need
      // interleaved creation order, which the registries don't track —
      // such an import fails loudly at the view's CREATE validation
      viewSql.values.foreach(v => schema += oneLine(v) + ";")
      matviewSql.values.foreach(v => schema += oneLine(v) + ";")
      macros.foreach { case (n, m) =>
        val ps = m.params.map { case (pn, d) =>
          pn + d.map(" := " + _).getOrElse("") }.mkString(", ")
        schema += oneLine(s"CREATE MACRO $n($ps) AS " +
          s"${if (m.table) "TABLE " else ""}${m.body}") + ";"
      }
      Files.write(Paths.get(s"$dir/schema.sql"),
        schema.result().mkString("\n").getBytes("UTF-8"))
      val load = Vector.newBuilder[String]
      owned.foreach { k =>
        val dataDir = s"$dir/data_${k.replace('.', '_')}"
        readTable(tables(k)).write.mode("overwrite").parquet(dataDir)
        load += s"COPY $k FROM '$dataDir' (FORMAT parquet);"
      }
      // schema.sql replays CREATE MATERIALIZED VIEW over still-empty
      // base tables (CTAS runs before the COPY loads above), so every
      // imported matview starts empty — rebuild each one after load
      matviewSql.keys.foreach(n => load += s"REFRESH MATERIALIZED VIEW $n;")
      Files.write(Paths.get(s"$dir/load.sql"),
        load.result().mkString("\n").getBytes("UTF-8"))
      Right(Done(s"exported ${owned.length} table(s), ${viewSql.size} " +
        s"view(s), ${matviewSql.size} matview(s) to '$dir'"))
    } catch {
      case e: Exception => Left(ViewError(
        s"EXPORT DATABASE failed: ${Option(e.getMessage).getOrElse(e.toString)}"))
    }
  }

  /** The tool-compat PRAGMAs: table_info matches DuckDB's exact shape
    * (cid 0-based, DuckDB type spellings, notnull, rendered default,
    * pk always false — PRIMARY KEY is parse-and-ignored like the
    * reference); version/database_size are engine-honest; show_tables
    * delegates. Unknown pragmas error like DuckDB.
    */
  private def pragma(name: String,
      arg: Option[String]): Either[QueryError, QueryResult] = {
    import org.apache.spark.sql.types.{BooleanType, LongType, StringType,
      StructField, StructType}
    name match {
      case "table_info" => arg match {
        case None => Left(ViewError("PRAGMA table_info takes a table name"))
        case Some(t) => cat.resolve(t) match {
          case None => Left(AnalyzeFailed(RelationNotFound(t)))
          case Some(desc) =>
            def litText(l: Lit): String = l match {
              case Lit.LitString(v) => v
              case Lit.LitLong(v)   => v.toString
              case Lit.LitDouble(v) => v.toString
              case Lit.LitBool(v)   => v.toString
              case other            => other.toString
            }
            val schema = StructType(Seq(
              StructField("cid", LongType, nullable = false),
              StructField("name", StringType, nullable = false),
              StructField("type", StringType, nullable = false),
              StructField("notnull", BooleanType, nullable = false),
              StructField("dflt_value", StringType, nullable = true),
              StructField("pk", BooleanType, nullable = false)))
            Right(Rows(localRows(schema,
              desc.attributes.zipWithIndex.map { case (a, i) =>
                Row(i.toLong, a.name, Analyzer.duckTypeName(a.sqlType),
                  !a.nullable, a.default.map(litText).orNull, false)
              })))
        }
      }
      case "version" =>
        val schema = StructType(Seq(
          StructField("library_version", StringType, nullable = false),
          StructField("source_id", StringType, nullable = false)))
        Right(Rows(localRows(schema,
          Seq(Row(s"graft (spark ${spark.version})", "graft")))))
      case "database_size" =>
        def dirBytes(p: java.nio.file.Path): Long =
          if (!Files.exists(p)) 0L
          else Files.walk(p).filter(Files.isRegularFile(_))
            .mapToLong(Files.size(_)).sum()
        val schema = StructType(Seq(
          StructField("database_name", StringType, nullable = false),
          StructField("schema_count", LongType, nullable = false),
          StructField("table_count", LongType, nullable = false),
          StructField("total_bytes", LongType, nullable = false)))
        Right(Rows(localRows(schema, Seq(Row("graft",
          (schemas.size + 1).toLong, tables.size.toLong,
          dirBytes(Paths.get(s"$warehouse/data")))))))
      case "show_tables" => showTables()
      case other => Left(ViewError(s"unknown pragma '$other'"))
    }
  }

  private def importDb(dir: String): Either[QueryError, QueryResult] = {
    val sp = Paths.get(s"$dir/schema.sql")
    val lp = Paths.get(s"$dir/load.sql")
    if (!Files.exists(sp))
      return Left(ViewError(s"no schema.sql under '$dir'"))
    val stmts =
      (Files.readAllLines(sp).asScala.toSeq ++
        (if (Files.exists(lp)) Files.readAllLines(lp).asScala.toSeq
         else Nil)).map(_.trim).filter(_.nonEmpty)
    var n = 0
    for (st <- stmts) {
      query(st.stripSuffix(";")) match {
        case Left(e) => return Left(ViewError(
          s"IMPORT DATABASE failed at '${st.take(60)}': ${e.msg}"))
        case Right(_) => n += 1
      }
    }
    Right(Done(s"imported $n statement(s) from '$dir'"))
  }

  /** USE <schema>: the session's default schema. Unqualified table and
    * view names resolve current-schema-first, then main (DuckDB's
    * search path); CREATEs land in the current schema. Session-scoped
    * like DuckDB — not persisted. Declared BEFORE the loadCatalog call
    * below: constructor statements run in order, and the view replay
    * goes through resolution paths that read currentSchema — a later
    * declaration would leave it running against null.
    */
  private var currentSchema: String = "main"

  Files.createDirectories(Paths.get(warehouse))
  loadCatalog()

  /** Qualify an unqualified relation name into the current schema
    * (CREATE-side: where a new relation LANDS under USE).
    */
  private def inCurrentSchema(n: String): String =
    if (currentSchema == "main" || n.contains('.')) n
    else s"$currentSchema.$n"

  /** Rewrite a stored CREATE [MATERIALIZED] VIEW statement's relation
    * name to the catalog KEY (qualified under USE), so replay on
    * reopen lands under the right schema.
    */
  private def stmtWithName(stmt: String, name: String): String = {
    val m = java.util.regex.Pattern.compile(
      "(?is)^(\\s*create\\s+(?:or\\s+replace\\s+)?(?:materialized\\s+)?" +
        "view\\s+(?:if\\s+not\\s+exists\\s+)?)" +
        "([A-Za-z_][A-Za-z0-9_]*(?:\\s*\\.\\s*[A-Za-z_][A-Za-z0-9_]*)?)")
      .matcher(stmt)
    if (m.find()) m.group(1) + name + stmt.substring(m.end) else stmt
  }

  /** Pin a view/matview BODY's bare table references to the schema it
    * was created in (its key's prefix; main otherwise): every bare
    * name that resolves there rewrites to a `(SELECT * FROM
    * <resolved>) name` derived table through the ordinary substitution
    * walker, so a view's meaning never depends on the READER's later
    * USE state (DuckDB binds views at creation). Catalyst collapses
    * the trivial star projection, so plans are unchanged. Idempotent:
    * a pinned body's references are qualified and no longer match.
    */
  private def pinViewBody(key: String, body: ParseTree): ParseTree = {
    def derivedOf(target: String): ParseTree =
      Ast.SelectTree(None, Seq(Ast.FTable(Ast.TableRef(target, None))), None)
    val s =
      if (key.contains('.')) key.substring(0, key.indexOf('.')) else "main"
    val mainEntries = tables.keys.collect {
      case k if !k.contains('.') => k -> derivedOf(s"main.$k")
    }.toMap
    val sEntries =
      if (s == "main") Map.empty[String, ParseTree]
      else tables.keys.collect {
        case k if k.startsWith(s + ".") =>
          k.stripPrefix(s + ".") -> derivedOf(k)
      }.toMap
    Parser.substituteViews(body, mainEntries ++ sEntries)
  }

  /** DuckDB-shaped catalog introspection relations, rebuilt from the
    * live catalog at every reference: duckdb_tables / duckdb_views /
    * duckdb_schemas / duckdb_columns plus information_schema.tables /
    * .columns / .schemata. VALUES-based — introspection is driver-side
    * metadata (bounded by the catalog, never a distributed scan). A
    * view defined OVER one of these stores a snapshot of creation-time
    * catalog state (documented divergence; DuckDB's stays live).
    */
  private def introspectionViews: Map[String, ParseTree] = {
    import Ast._
    def sL(v: String): Operand = Operand.Literal(Lit.LitString(v))
    def iL(v: Long): Operand = Operand.Literal(Lit.LitLong(v))
    def bL(v: Boolean): Operand = Operand.Literal(Lit.LitBool(v))
    def rel(cols: Seq[String], rows: Seq[Seq[Operand]]): ParseTree = {
      def rowTree(r: Seq[Operand], empty: Boolean): SelectTree =
        SelectTree(Some(r.zip(cols).map { case (o, c) =>
          SelectItem.SExpr(o, c): SelectItem }),
          from = Nil,
          where = if (empty) Some(Expr.Cmp(CmpOp.Eq,
            Operand.Literal(Lit.LitLong(0L)),
            Operand.Literal(Lit.LitLong(1L)))) else None)
      if (rows.isEmpty) // typed empty: one NULL row filtered by 0=1
        rowTree(cols.map(_ => Operand.Literal(Lit.LitNull)), empty = true)
      else if (rows.length == 1) rowTree(rows.head, empty = false)
      else UnionTree(rowTree(rows.head, empty = false),
        rows.tail.map(r => ("union_all", rowTree(r, empty = false))))
    }
    def schemaOf(k: String) =
      if (k.contains('.')) k.substring(0, k.indexOf('.')) else "main"
    def bareOf(k: String) =
      if (k.contains('.')) k.substring(k.indexOf('.') + 1) else k
    val tkeys = tables.keys.toSeq.sorted
    val vkeys = views.keys.toSeq.sorted
    val allSchemas = "main" +: schemas.toSeq.sorted
    Map(
      "duckdb_tables" -> rel(
        Seq("database_name", "schema_name", "table_name", "temporary",
          "column_count"),
        tkeys.map(k => Seq(sL("graft"), sL(schemaOf(k)), sL(bareOf(k)),
          bL(tempTables.contains(k)),
          iL(tables(k).attributes.length.toLong)))),
      "duckdb_views" -> rel(
        Seq("database_name", "schema_name", "view_name"),
        vkeys.map(k => Seq(sL("graft"), sL(schemaOf(k)), sL(bareOf(k))))),
      "duckdb_schemas" -> rel(Seq("schema_name"),
        allSchemas.map(n => Seq(sL(n)))),
      "duckdb_columns" -> rel(
        Seq("database_name", "schema_name", "table_name", "column_name",
          "column_index", "data_type", "is_nullable"),
        tkeys.flatMap(k => tables(k).attributes.zipWithIndex.map {
          case (a, j) => Seq(sL("graft"), sL(schemaOf(k)), sL(bareOf(k)),
            sL(a.name), iL((j + 1).toLong),
            sL(Analyzer.duckTypeName(a.sqlType)), bL(a.nullable))
        })),
      "information_schema.tables" -> rel(
        Seq("table_catalog", "table_schema", "table_name", "table_type"),
        tkeys.map(k => Seq(sL("graft"), sL(schemaOf(k)), sL(bareOf(k)),
          sL("BASE TABLE"))) ++
          vkeys.map(k => Seq(sL("graft"), sL(schemaOf(k)), sL(bareOf(k)),
            sL("VIEW")))),
      "information_schema.schemata" -> rel(
        Seq("catalog_name", "schema_name"),
        allSchemas.map(n => Seq(sL("graft"), sL(n)))),
      "information_schema.columns" -> rel(
        Seq("table_catalog", "table_schema", "table_name", "column_name",
          "ordinal_position", "data_type", "is_nullable"),
        tkeys.flatMap(k => tables(k).attributes.zipWithIndex.map {
          case (a, j) => Seq(sL("graft"), sL(schemaOf(k)), sL(bareOf(k)),
            sL(a.name), iL((j + 1).toLong),
            sL(Analyzer.duckTypeName(a.sqlType)),
            sL(if (a.nullable) "YES" else "NO"))
        })))
  }

  /** View registry under the USE search path: every bare main view is
    * also reachable as `main.v` (the explicit spelling), and
    * current-schema views are reachable by their bare name (shadowing
    * same-named main views, schema-first like tables). Bodies are
    * pinned to their creation schema (pinViewBody). Introspection
    * relations resolve FIRST in the map build so user views of the
    * same name (legal, unlike DuckDB) override them.
    */
  private def viewsForResolve: Map[String, ParseTree] = {
    val pinned = views.map { case (k, v) => k -> pinViewBody(k, v) }
    val withMain = introspectionViews ++ pinned.toMap ++ pinned.collect {
      case (k, v) if !k.contains('.') => s"main.$k" -> v
    }
    if (currentSchema == "main") withMain
    else {
      // DuckDB's search path is current-schema-FIRST for every relation
      // kind: a bare name naming a TABLE in the current schema must not
      // be captured here by a same-named main-schema view (substitution
      // runs before cat.resolve, so a stale bare entry would invert the
      // path). Drop such bare entries and let the table bind.
      val shadowed = withMain.view.filterKeys(k =>
        !k.contains('.') && tables.contains(s"$currentSchema.$k")).keys.toSet
      (withMain -- shadowed) ++ pinned.collect {
        case (k, v) if k.startsWith(currentSchema + ".") =>
          k.stripPrefix(currentSchema + ".") -> v
      }
    }
  }

  private object cat extends Catalog {
    /** Search-path resolution: an explicit `main.` prefix strips to the
      * flat key (bypassing the USE'd schema — that is what the prefix
      * MEANS); a bare name under USE tries the current schema first,
      * then main; a qualified name is exact.
      */
    def resolve(t: String): Option[TableDesc] = {
      val n = t.toLowerCase
      if (n.startsWith("main.")) tables.get(n.substring(5))
      else if (currentSchema != "main" && !n.contains('.'))
        tables.get(s"$currentSchema.$n").orElse(tables.get(n))
      else tables.get(n)
    }
    /** FROM-position file scans: the schema comes from the file itself —
      * parquet reads just the footer; csv/json pay one inference pass,
      * cached per (path, mtime, size) so repeated queries analyze from
      * the cache and re-infer only when the file changes.
      */
    override def resolveFile(format: String,
        path: String): Either[String, TableDesc] = {
      val f = new java.io.File(path)
      if (!f.exists()) return Left("no such file or directory")
      val key = (format, path, f.lastModified(), f.length())
      fileSchemas.get(key) match {
        case Some(d) => Right(d)
        case None =>
          try {
            val df = format match {
              case "parquet" => spark.read.parquet(path)
              case "csv" => spark.read.option("header", "true")
                .option("inferSchema", "true").csv(path)
              case "json" => spark.read.json(path)
              case other => return Left(s"unsupported format $other")
            }
            val attrs = df.schema.fields.toSeq.map(fl =>
              AttributeDesc(fl.name.toLowerCase,
                SqlType.fromSpark(fl.dataType), fl.nullable))
            val dup = attrs.groupBy(_.name).collectFirst {
              case (n, as) if as.length > 1 => n }
            dup match {
              case Some(n) => Left(s"duplicate column name '$n' in file")
              case None =>
                val desc = TableDesc(path, attrs)
                if (fileSchemas.size > 256) fileSchemas.clear()
                fileSchemas(key) = desc
                Right(desc)
            }
          } catch {
            case e: Exception =>
              Left(Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
                .linesIterator.take(1).mkString)
          }
      }
    }
  }
  private val fileSchemas =
    mutable.Map.empty[(String, String, Long, Long), TableDesc]

  private val MacroDdl =
    "(?is)\\s*(create\\s+(or\\s+replace\\s+)?(macro|function)|drop\\s+(macro|function)).*".r

  /** PREPARE is intercepted BEFORE the lexer: the body keeps its $1 /
    * $name / ? placeholder text verbatim (the lexer has no placeholder
    * token — EXECUTE splices argument text into the stored body).
    * Session-scoped like DuckDB: prepared statements do not persist to
    * the warehouse catalog.
    */
  private val PrepareDdl =
    "(?is)\\s*prepare\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+as\\s+(.+)".r
  private val prepared = mutable.Map.empty[String, String]

  def query(sql0a: String): Either[QueryError, QueryResult] = {
    // multi-statement scripts ("a; b; c") run in order; the LAST
    // result returns (DuckDB connection behavior). The split is
    // quote/comment-aware; a lone trailing `;` is just stripped.
    val parts = Parser.splitStatements(sql0a)
    if (parts.isEmpty) return Left(ViewError("empty statement"))
    if (parts.length > 1) {
      var last: Either[QueryError, QueryResult] = Right(Done("empty"))
      for (part <- parts) {
        query(part) match {
          case l @ Left(_) => return l
          case r           => last = r
        }
      }
      return last
    }
    val sql0 = parts.head
    Parser.setNamedTypes(namedTypes.toMap)
    val prepM = PrepareDdl.pattern.matcher(sql0)
    if (prepM.matches())
      return prepareStmt(prepM.group(1).toLowerCase, prepM.group(2).trim)
    // macro calls and getvariable('x') references expand textually
    // BEFORE parse — except in the macro DDL statements themselves (a
    // redefinition must not expand)
    val expanded =
      if (MacroDdl.pattern.matcher(sql0).matches()) Right(sql0)
      else Parser.expandMacros(sql0, macros.toMap).left.map(ParseFailed)
        .flatMap(s => Parser.expandGetVariable(s, sessionVars.toMap)
          .left.map(ParseFailed))
    expanded.flatMap { sql =>
      Parser.parse(sql).left.map(ParseFailed).flatMap(t => dispatch(t, sql))
    }
  }

  /** SET VARIABLE session store (DuckDB variables) — literal values
    * only; getvariable('x') splices them back textually at parse.
    */
  private val sessionVars = mutable.Map.empty[String, Lit]

  private def litOfValue(v: Any): Option[Lit] = v match {
    case null                 => Some(Lit.LitNull)
    case x: java.lang.Long    => Some(Lit.LitLong(x))
    case x: java.lang.Integer => Some(Lit.LitLong(x.longValue))
    case x: java.lang.Short   => Some(Lit.LitLong(x.longValue))
    case x: java.lang.Double  => Some(Lit.LitDouble(x))
    case x: java.lang.Float   => Some(Lit.LitDouble(x.doubleValue))
    case x: java.math.BigDecimal => Some(Lit.LitDouble(x.doubleValue))
    case x: String            => Some(Lit.LitString(x))
    case x: java.lang.Boolean => Some(Lit.LitBool(x))
    case x: java.sql.Date     => Some(Lit.LitDate(x.toString))
    case x: java.time.LocalDate => Some(Lit.LitDate(x.toString))
    case x: java.sql.Timestamp =>
      Some(Lit.LitTimestamp(x.toLocalDateTime.toString))
    case x: java.time.LocalDateTime => Some(Lit.LitTimestamp(x.toString))
    case _ => None
  }

  /** PREPARE name AS <body>: validates the body now (DuckDB binds at
    * prepare time) by splicing NULL into every placeholder and parsing;
    * placeholder styles must not mix ($1 / $name / ? — DuckDB rejects
    * mixed styles). The raw body text is stored; EXECUTE re-splices.
    */
  private def prepareStmt(name: String,
      body: String): Either[QueryError, QueryResult] = {
    val head = body.trim.takeWhile(!_.isWhitespace).toLowerCase
    if (Set("prepare", "execute", "deallocate")(head))
      return Left(ViewError(
        s"a prepared statement body cannot be ${head.toUpperCase}"))
    val toks = Parser.scanParams(body)
    val kinds = toks.map {
      case "?"                       => "auto"
      case t if t.forall(_.isDigit)  => "pos"
      case _                         => "named"
    }.distinct
    if (kinds.length > 1)
      return Left(ViewError("cannot mix positional ($1 / ?) and named " +
        "($name) parameters in a prepared statement"))
    if (toks.exists(t => t.forall(_.isDigit) && t.toInt == 0))
      return Left(ViewError("positional parameters are 1-based ($1, $2, …)"))
    // typed validation probe: parse the body ONCE with every parameter
    // bound to NULL (DuckDB binds at prepare time the same way) — the
    // placeholders are lexer tokens, never spliced text
    val checked = Parser.expandMacros(body, macros.toMap)
      .flatMap(Parser.parseWithParams(_, Map.empty, probeParams = true))
    checked match {
      case Left(e) => Left(ParseFailed(Parser.ParseError(
        s"in PREPARE body: ${e.msg}", e.pos)))
      case Right(_) =>
        prepared(name) = body
        Right(Done(s"prepared statement $name"))
    }
  }

  /** EXECUTE: resolve each placeholder site to its argument's raw text,
    * splice, and run the result through the normal query path.
    */
  private def executeStmt(name: String, positional: Vector[String],
      named: Vector[(String, String)]): Either[QueryError, QueryResult] =
    prepared.get(name) match {
      case None => Left(ViewError(
        s"""Prepared statement "$name" does not exist"""))
      case Some(body) =>
        val toks = Parser.scanParams(body)
        val isAuto = toks.contains("?")
        val posCount =
          if (isAuto) toks.length
          else toks.filter(_.forall(_.isDigit)).map(_.toInt)
            .foldLeft(0)(math.max)
        val namedKeys = toks.filterNot(t => t == "?" ||
          t.forall(_.isDigit)).distinct
        if (namedKeys.nonEmpty && named.isEmpty && positional.nonEmpty)
          Left(ViewError(s"prepared statement $name takes named " +
            s"parameters (${namedKeys.mkString(", ")}), got positional"))
        else if (namedKeys.isEmpty && named.nonEmpty)
          Left(ViewError(s"prepared statement $name takes positional " +
            "parameters, got named"))
        else if (namedKeys.isEmpty && positional.length != posCount)
          Left(ViewError(s"prepared statement $name expects $posCount " +
            s"parameter(s), got ${positional.length}"))
        else {
          val namedMap = named.toMap
          val unknown = namedMap.keySet -- namedKeys.toSet
          val missing = namedKeys.toSet -- namedMap.keySet
          if (unknown.nonEmpty)
            Left(ViewError(s"prepared statement $name has no parameter " +
              s"$$${unknown.head}"))
          else if (missing.nonEmpty)
            Left(ViewError(s"prepared statement $name: missing value " +
              s"for parameter $$${missing.head}"))
          else {
            // typed binding, phase 2 (round 14): every argument evaluates
            // ONCE to a literal VALUE (fast-path for plain literal tokens;
            // a one-row scalar select for constant expressions), and the
            // body parses with the parameters bound as TYPED LITERALS at
            // the parameter tokens — no text ever splices, so a
            // quote-bearing string or expression argument cannot alter
            // the body's parse, and a multiply-referenced $name never
            // re-evaluates
            def bind(text: String): Either[QueryError, Lit] =
              fastParamLit(text).map(Right(_)).getOrElse(
                select(s"SELECT ($text) AS __p").flatMap { df =>
                  val rows = df.limit(2).collect()
                  if (rows.length != 1 || rows.head.size != 1)
                    Left(ViewError("EXECUTE parameter must be one scalar"))
                  else litOfValue(rows.head.get(0)).toRight(ViewError(
                    "unsupported EXECUTE parameter type (scalar INTEGER/" +
                      "DOUBLE/VARCHAR/BOOLEAN/DATE/TIMESTAMP only)"))
                })
            def seqBind(xs: Vector[String]): Either[QueryError, Vector[Lit]] =
              xs.foldLeft[Either[QueryError, Vector[Lit]]](
                Right(Vector.empty))((acc, x) =>
                  acc.flatMap(v => bind(x).map(v :+ _)))
            (for {
              posB   <- seqBind(positional)
              namedB <- seqBind(named.map(_._2))
            } yield {
              // "?" tokens were auto-numbered 1..n at lex; positional $n
              // binds by index; named binds by lowercased name
              val posMap = posB.zipWithIndex.map {
                case (l, i) => (i + 1).toString -> l }.toMap
              posMap ++ named.map(_._1).zip(namedB).toMap
            }).flatMap { paramMap =>
              Parser.expandMacros(body, macros.toMap).left.map(ParseFailed)
                .flatMap(s => Parser.expandGetVariable(s, sessionVars.toMap)
                  .left.map(ParseFailed))
                .flatMap(s =>
                  Parser.parseWithParams(s, paramMap, probeParams = false)
                    .left.map(ParseFailed)
                    .flatMap(t => dispatch(t, s)))
            }
          }
        }
    }

  /** Fast path for EXECUTE argument binding: a bare literal token
    * converts without a Spark job. Anything unrecognized falls through
    * to the scalar-select evaluator.
    */
  private def fastParamLit(t0: String): Option[Lit] = {
    val t = t0.trim
    t.toLowerCase match {
      case "null"  => return Some(Lit.LitNull)
      case "true"  => return Some(Lit.LitBool(true))
      case "false" => return Some(Lit.LitBool(false))
      case _       => ()
    }
    if (t.matches("[+-]?\\d{1,18}")) Some(Lit.LitLong(t.toLong))
    else if (t.matches("[+-]?(\\d+\\.\\d*|\\.\\d+|\\d+)([eE][+-]?\\d+)?") &&
      (t.contains('.') || t.exists(c => c == 'e' || c == 'E')))
      Some(Lit.LitDouble(t.toDouble))
    else if (t.length >= 2 && t.head == '\'' && t.last == '\'' &&
      !t.substring(1, t.length - 1).replace("''", "").contains('\''))
      Some(Lit.LitString(t.substring(1, t.length - 1).replace("''", "'")))
    else None
  }

  /** Under USE <schema>, creates of unqualified relations land in the
    * current schema, and unqualified view/matview drops follow the
    * search path (current schema first). Table-side statements need no
    * rewrite — cat.resolve itself is search-path-aware.
    */
  private def applyCurrentSchema(t: ParseTree): ParseTree = {
    // where a created relation LANDS: explicit main.x is the flat key,
    // a bare name qualifies into the USE'd schema, s.x stays
    def cn(n: String): String =
      if (n.toLowerCase.startsWith("main.")) n.substring(5)
      else inCurrentSchema(n)
    // view/matview drops follow the search path (keys are lowercase)
    def vn(n: String, reg: scala.collection.Map[String, _]): String =
      if (n.startsWith("main.")) n.substring(5)
      else if (!n.contains('.') && currentSchema != "main" &&
        !reg.contains(n) && reg.contains(inCurrentSchema(n)))
        inCurrentSchema(n)
      else n
    t match {
      case c: Ast.CreateTree   => c.copy(table = cn(c.table))
      case c: Ast.CreateAsTree => c.copy(table = cn(c.table))
      case Ast.CreateViewTree(n, b) => Ast.CreateViewTree(cn(n), b)
      case Ast.CreateMatViewTree(n, b, bk) =>
        Ast.CreateMatViewTree(cn(n), b, bk)
      case Ast.CreateModeTree(i, r, e) =>
        Ast.CreateModeTree(applyCurrentSchema(i), r, e)
      case Ast.TempTree(i) => Ast.TempTree(applyCurrentSchema(i))
      case Ast.DropViewTree(n, ife) => Ast.DropViewTree(vn(n, views), ife)
      case Ast.DropMatViewTree(n, ife) =>
        Ast.DropMatViewTree(vn(n, matviews), ife)
      case Ast.DropTree(n, ife) if n.toLowerCase.startsWith("main.") =>
        Ast.DropTree(n.substring(5), ife)
      case Ast.TruncateTree(n) if n.toLowerCase.startsWith("main.") =>
        Ast.TruncateTree(n.substring(5))
      case other => other
    }
  }

  private def dispatch(tree0b: ParseTree,
      sql: String): Either[QueryError, QueryResult] = {
    val tree0 = applyCurrentSchema(tree0b)
    (tree0: ParseTree) match {
      // OR REPLACE drops an existing same-named relation (whatever its
      // kind) before the plain create; IF NOT EXISTS no-ops when one
      // exists. The stored view/matview SQL keeps the full statement —
      // loadCatalog unwraps the mode on replay.
      case Ast.CreateModeTree(inner, orReplace, ifNotExists) =>
        val name = (inner match {
          case Ast.CreateViewTree(n, _)       => n
          case Ast.CreateMatViewTree(n, _, _) => n
          case Ast.CreateTree(n, _, _, _, _, _, _, _)  => n
          case Ast.CreateAsTree(n, _, _)      => n
          case _ => return Left(ViewError("unsupported CREATE mode form"))
        }).toLowerCase
        val asTable = tables.keys.find(_.equalsIgnoreCase(name))
        val exists = asTable.isDefined || views.contains(name) ||
          matviews.contains(name)
        if (exists && ifNotExists)
          Right(Done(s"relation '$name' already exists, skipped"))
        else {
          val dropped: Either[QueryError, Unit] =
            if (!exists || !orReplace) Right(())
            else if (views.contains(name))
              dropView(name, ifExists = true).map(_ => ())
            else if (matviews.contains(name))
              dropMatView(name, ifExists = true).map(_ => ())
            else dispatch(Ast.DropTree(asTable.get, ifExists = true), sql)
              .map(_ => ())
          dropped.flatMap(_ => dispatch(inner, sql))
        }
      case Ast.CreateViewTree(name, _) if missingSchemaOf(name).isDefined =>
        Left(ViewError(s"schema '${missingSchemaOf(name).get}' does not exist"))
      case Ast.CreateMatViewTree(name, _, _) if missingSchemaOf(name).isDefined =>
        Left(ViewError(s"schema '${missingSchemaOf(name).get}' does not exist"))
      case Ast.CreateViewTree(name, body) => createView(name, body, sql)
      case Ast.DropViewTree(name, ifExists) => dropView(name, ifExists)
      case Ast.CreateMatViewTree(name, body, bucket) =>
        createMatView(name, body, bucket, sql)
      case Ast.RefreshMatViewTree(name) => refreshMatView(name)
      case Ast.DropMatViewTree(name, ifExists) => dropMatView(name, ifExists)
      case t: Ast.CreateSequenceTree => createSequence(t)
      case Ast.DropSequenceTree(n, ife) => dropSequence(n, ife)
      case Ast.CreateEnumTree(n, vs, ine) => createEnumType(n, vs, ine)
      case Ast.DropTypeTree(n, ife) => dropType(n, ife)
      case Ast.CreateMacroTree(n, ps, body, orReplace, isTable) =>
        if (macros.contains(n) && !orReplace)
          Left(ViewError(s"macro '$n' already exists"))
        else if (!Parser.validMacroBody(body, macros.keySet.toSet + n, isTable))
          Left(ViewError(s"macro '$n' body is not a valid " +
            (if (isTable) "SELECT" else "expression")))
        else {
          macros(n) = Parser.MacroDef(ps, body, isTable)
          saveCatalog()
          Right(Done(s"created macro $n"))
        }
      case Ast.DropMacroTree(n, ife) =>
        if (!macros.contains(n)) {
          if (ife) Right(Done(s"macro '$n' absent, skipped"))
          else Left(ViewError(s"macro '$n' does not exist"))
        } else {
          macros.remove(n); saveCatalog()
          Right(Done(s"dropped macro $n"))
        }
      case t: Ast.PivotTree          => pivotStmt(t)
      case t: Ast.UnpivotTree        => unpivotStmt(t)
      // CREATE INDEX: validated, then NO-OP'd with a notice — the
      // reference's btree index is a stub (btree.rs) and this engine's
      // index stand-in is bucketing (CLUSTERED BY), so the statement is
      // accepted for compatibility without building anything
      case t: Ast.CreateIndexTree =>
        cat.resolve(t.table) match {
          case None => Left(ViewError(s"table '${t.table}' does not exist"))
          case Some(desc) =>
            t.cols.find(c => desc.attr(c).isEmpty) match {
              case Some(c) => Left(ViewError(
                s"unknown column '" + c + "' in CREATE INDEX"))
              case None => Right(Done(
                s"index '" + t.name + "' on " + t.table + "(" +
                  t.cols.mkString(", ") + ") noted as a no-op: the " +
                  "engine's index stand-in is bucketing (CREATE TABLE " +
                  "… CLUSTERED BY)"))
            }
        }
      // ANALYZE: force-rebuild the planner statistics (rowcount + HLL
      // NDV sketches + bottom-k sample) — one pass per table
      case Ast.AnalyzeTree(tbl) =>
        val targets = tbl match {
          case Some(n) => cat.resolve(n) match {
            case Some(d) => Seq(d)
            case None => return Left(ViewError(s"table '$n' does not exist"))
          }
          case None => tables.values.toSeq
        }
        targets.foreach(d => statistics.rebuild(d, readTable(d)))
        Right(Done(s"analyzed ${targets.length} table(s): statistics " +
          "(rowcount, ndv sketches, sample) rebuilt"))
      // SET/RESET: acknowledged no-ops — execution tuning lives in the
      // SparkSession; the notice keeps scripts portable
      // SET schema / SET search_path actually change the session
      // schema (silently no-op'ing them would be a footgun — the user
      // MEANT a resolution change); search_path takes the FIRST entry,
      // the engine's fallback to main is the rest of the path
      case Ast.SetOptionTree(name, Some(Lit.LitString(s)))
          if name == "schema" || name == "search_path" =>
        dispatch(Ast.UseTree(
          s.split(',').head.trim.toLowerCase), sql)
      case Ast.SetOptionTree(name, None)
          if name == "schema" || name == "search_path" =>
        dispatch(Ast.UseTree("main"), sql)
      case Ast.SetOptionTree(name, v) =>
        Right(Done(v match {
          case Some(l) => s"SET $name noted as a no-op (execution " +
            "options live in the Spark session)"
          case None => s"RESET $name noted as a no-op"
        }))
      case Ast.ShowTablesTree        => showTables()
      case Ast.CreateSchemaTree(n, ine) =>
        if (n == "main" || schemas.contains(n)) {
          if (ine) Right(Done(s"schema '$n' already exists, skipped"))
          else Left(ViewError(s"schema '$n' already exists"))
        } else {
          schemas += n; saveCatalog()
          Right(Done(s"created schema $n"))
        }
      case Ast.DropSchemaTree(n, ife, cascade) =>
        if (n == "main") Left(ViewError("cannot drop schema 'main'"))
        else if (!schemas.contains(n)) {
          if (ife) Right(Done(s"schema '$n' absent, skipped"))
          else Left(ViewError(s"schema '$n' does not exist"))
        } else {
          val members = tables.keys.filter(_.startsWith(n + ".")).toSeq
          val vMembers = views.keys.filter(_.startsWith(n + ".")).toSeq
          val mvMembers = matviews.keys.filter(_.startsWith(n + ".")).toSeq
          val total = members.length + vMembers.length + mvMembers.length
          if (total > 0 && !cascade)
            Left(ViewError(s"schema '$n' still holds " +
              s"$total relation(s) — use DROP SCHEMA … CASCADE"))
          else {
            val firstErr = (
              vMembers.sorted.iterator.map(dropView(_, ifExists = true)) ++
              mvMembers.sorted.iterator.map(dropMatView(_, ifExists = true)) ++
              members.sorted.iterator
                .map(t => dispatch(Ast.DropTree(t, ifExists = true), sql)))
              .collectFirst { case Left(e) => e }
            firstErr match {
              case Some(e) => Left(e)
              case None =>
                schemas -= n; saveCatalog()
                Right(Done(s"dropped schema $n"))
            }
          }
        }
      case Ast.UseTree(n) =>
        if (n == "main" || schemas.contains(n)) {
          currentSchema = n
          Right(Done(s"using schema $n"))
        } else Left(ViewError(s"schema '$n' does not exist"))
      // ATTACH: import the other warehouse's main-schema tables as
      // READ-ONLY alias.t externals (every DML path already rejects
      // external names); lazily-built stats treat them like any
      // external. Session-scoped — not persisted, gone on reopen.
      case Ast.AttachTree(path, alias) =>
        if (alias == "main" || schemas.contains(alias) ||
            attached.contains(alias))
          Left(ViewError(s"name '$alias' is already in use"))
        else if (!Files.isDirectory(Paths.get(path)))
          Left(ViewError(s"cannot attach '$path': not a directory"))
        else if (Paths.get(path).toAbsolutePath.normalize ==
            Paths.get(warehouse).toAbsolutePath.normalize)
          Left(ViewError("cannot attach a warehouse to itself"))
        else {
          val other = new GraftDatabase(spark, path)
          val imported = other.catalogTables.filter {
            case (n, _) => !n.contains('.') // other's main schema only
          }
          imported.foreach { case (n, d) =>
            val key = s"$alias.$n"
            tables(key) = d.copy(name = key, bucket = None)
            external(key) = other.tableDataPath(n)
            other.tableFormat(n).foreach(externalFormat(key) = _)
          }
          attached(alias) = imported.keys.map(n => s"$alias.$n").toSeq
          Right(Done(s"attached '$path' as $alias " +
            s"(${imported.size} read-only table(s))"))
        }
      case Ast.DetachTree(alias) =>
        attached.remove(alias) match {
          case None => Left(ViewError(s"database '$alias' is not attached"))
          case Some(keys) =>
            keys.foreach { k =>
              tables.remove(k); external.remove(k)
              externalFormat.remove(k); statistics.dropTable(k)
            }
            Right(Done(s"detached $alias"))
        }
      case Ast.ExportDbTree(dir) => exportDb(dir)
      case Ast.ImportDbTree(dir) => importDb(dir)
      // SET VARIABLE: the value text evaluates through a FROM-less
      // SELECT (so constant expressions, getvariable references and
      // scalar subqueries over catalog tables all work), then stores
      // as a literal
      case Ast.SetVariableTree(n, txt) =>
        select(s"SELECT ($txt) AS __v").flatMap { df =>
          val rows = df.limit(2).collect()
          if (rows.length != 1 || rows.head.size != 1)
            Left(ViewError("SET VARIABLE value must be a single scalar"))
          else litOfValue(rows.head.get(0)) match {
            case Some(l) =>
              sessionVars(n) = l
              Right(Done(s"set variable $n"))
            case None => Left(ViewError(
              s"unsupported variable value type for '$n' (scalar " +
                "INTEGER/DOUBLE/VARCHAR/BOOLEAN/DATE/TIMESTAMP only)"))
          }
        }
      case Ast.ResetVariableTree(n) =>
        sessionVars.remove(n)
        Right(Done(s"reset variable $n"))
      case Ast.PragmaTree(name, arg) => pragma(name, arg)
      case Ast.TxnTree(kind) => kind match {
        case "begin" | "commit" => Right(Done(s"${kind.toUpperCase} " +
          "noted as a no-op (every write is an atomic copy-on-write " +
          "statement; there is no multi-statement transaction scope)"))
        case "checkpoint" | "vacuum" => Right(Done(
          s"${kind.toUpperCase} noted as a no-op (immutable parquet " +
            "storage has no WAL or dead tuples)"))
        case _ => Left(ViewError("transactions are not supported — " +
          s"${kind.toUpperCase} cannot undo already-applied statements"))
      }
      case Ast.ExecuteTree(n, ps, ns) => executeStmt(n, ps, ns)
      // CREATE TEMP TABLE: run the inner create, then mark the name
      // temp and re-save the catalog so the entry filters out
      case Ast.TempTree(inner) =>
        val created = (inner match {
          case Ast.CreateModeTree(i2, _, _) => i2
          case i2                           => i2
        }) match {
          case Ast.CreateTree(n, _, _, _, _, _, _, _) => Some(n.toLowerCase)
          case Ast.CreateAsTree(n, _, _)              => Some(n.toLowerCase)
          case _                                      => None
        }
        created match {
          case None => Left(ViewError(
            "TEMPORARY applies to CREATE TABLE only"))
          case Some(n) =>
            dispatch(inner, sql).map { r =>
              tempTables += n
              saveCatalog()
              r
            }
        }
      case Ast.CommentOnTree(kind, name0) =>
        val name = name0.toLowerCase
        val known = kind match {
          case "table" => cat.resolve(name).isDefined
          case "view"  => viewsForResolve.contains(name) ||
            matviews.contains(name)
          case "column" =>
            // t.c or schema.t.c — split the trailing column segment
            val i = name.lastIndexOf('.')
            i > 0 && {
              val (t, c) = (name.substring(0, i), name.substring(i + 1))
              cat.resolve(t).exists(_.attr(c).isDefined)
            }
          case "schema"   => name == "main" || schemas.contains(name)
          case "sequence" => sequences.contains(name)
          case "type"     => namedTypes.contains(name)
          case "macro" | "function" => macros.contains(name)
          case _ => true // index/database: accepted unchecked
        }
        if (!known) Left(ViewError(s"$kind '$name0' does not exist"))
        else Right(Done(s"COMMENT ON $kind $name0 noted as a no-op " +
          "(the engine has no catalog-comment surface)"))
      case Ast.DeallocateTree(n) =>
        if (prepared.remove(n).isDefined)
          Right(Done(s"deallocated prepared statement $n"))
        else Left(ViewError(
          s"""Prepared statement "$n" does not exist"""))
      case t: Ast.DescribeTree       => describe(t.table)
      // DESCRIBE <query>: analyze only — the schema comes from the bound
      // tree (output names + DuckDB-spelled types), nothing runs. The
      // null column is always 'YES', like DuckDB over any query.
      case t: Ast.DescribeQueryTree =>
        val sub = Parser.substituteViews(t.query, viewsForResolve)
        Analyzer.analyze(sub, cat).left.map(AnalyzeFailed).flatMap {
          case q @ (_: Analyzer.BoundSelect | _: Analyzer.BoundUnion |
                    _: Analyzer.BoundRecursive) =>
            Analyzer.outputAttributes(q).left.map(AnalyzeFailed).map(attrs =>
              Rows(localRows(describeSchema, attrs.map(a =>
                Row(a.name, Analyzer.duckTypeName(a.sqlType), "YES",
                  null, null, null)))))
          case _ => Left(ViewError("DESCRIBE takes a table or a SELECT"))
        }
      case t: Ast.SummarizeTree      => summarize(t.table)
      case t: Ast.SummarizeQueryTree =>
        val sub = Parser.substituteViews(t.query, viewsForResolve)
        Analyzer.analyze(sub, cat).left.map(AnalyzeFailed).flatMap {
          case q @ (_: Analyzer.BoundSelect | _: Analyzer.BoundUnion) =>
            Analyzer.outputAttributes(q).left.map(AnalyzeFailed)
              .map(attrs => summarizeDf(attrs, lowerQuery(q)))
          case _ => Left(ViewError("SUMMARIZE takes a table or a SELECT"))
        }
      case t: Ast.CopyToTree         => copyTo(t)
      case t: Ast.CopyFromTree       => copyFrom(t)
      case t: Ast.AlterAddColTree    => alterAddCol(t)
      case t: Ast.AlterDropColTree   => alterDropCol(t)
      case t: Ast.AlterRenameColTree => alterRenameCol(t)
      case t: Ast.AlterRenameTree    => alterRenameTable(t)
      case t: Ast.AlterColTypeTree   => alterColType(t)
      case Ast.TruncateTree(name)    => truncate(name)
      case t @ Ast.CreateTree(n, _, _, _, _, _, _, _) if views.contains(n.toLowerCase) =>
        Left(ViewError(s"relation '$n' already exists as a view"))
      case t @ Ast.CreateAsTree(n, _, _) if views.contains(n.toLowerCase) =>
        Left(ViewError(s"relation '$n' already exists as a view"))
      // schema-qualified creates require the schema to exist first
      case Ast.CreateTree(n, _, _, _, _, _, _, _)
          if missingSchemaOf(n).isDefined =>
        Left(ViewError(s"schema '${missingSchemaOf(n).get}' does not exist"))
      case Ast.CreateAsTree(n, _, _) if missingSchemaOf(n).isDefined =>
        Left(ViewError(s"schema '${missingSchemaOf(n).get}' does not exist"))
      case tree0 =>
        // sequences substitute first (nextval allocates in textual row
        // order), then stored views like CTEs, before analysis
        val tree1 = substituteSequences(tree0) match {
          case Left(e)  => return Left(e)
          case Right(t) => t
        }
        val tree = Parser.substituteViews(tree1, viewsForResolve)
        for {
          bound <- Analyzer.analyze(tree, cat).left.map(AnalyzeFailed)
          // RETURNING wraps DELETE/UPDATE — the guards below apply to
          // the inner statement
          _ <- (bound match {
            case Analyzer.BoundReturning(inner, _) => inner
            case ur: Analyzer.BoundUpsertReturning => ur.merge
            case b                                 => b
          }) match {
            case BoundInsert(d, _)       if external.contains(d.name) => Left(ReadOnlyTable(d.name))
            case BoundInsertSelect(d, _, _) if external.contains(d.name) => Left(ReadOnlyTable(d.name))
            case BoundDelete(d, _, _)    if external.contains(d.name) => Left(ReadOnlyTable(d.name))
            case BoundUpdate(d, _, _, _, _) if external.contains(d.name) => Left(ReadOnlyTable(d.name))
            case BoundMerge(d, _, _, _)  if external.contains(d.name) => Left(ReadOnlyTable(d.name))
            case BoundMerge(d, _, _, _)  if matviews.contains(d.name) =>
              Left(ViewError(s"'${d.name}' is a materialized view — use REFRESH MATERIALIZED VIEW"))
            case BoundDrop(n, _)         if external.contains(n)      => Left(ReadOnlyTable(n))
            case BoundDrop(n, _)         if views.contains(n)         =>
              Left(ViewError(s"'$n' is a view — use DROP VIEW"))
            // a materialized view's table only changes through REFRESH
            case BoundInsert(d, _)       if matviews.contains(d.name) =>
              Left(ViewError(s"'${d.name}' is a materialized view — use REFRESH MATERIALIZED VIEW"))
            case BoundInsertSelect(d, _, _) if matviews.contains(d.name) =>
              Left(ViewError(s"'${d.name}' is a materialized view — use REFRESH MATERIALIZED VIEW"))
            case BoundDelete(d, _, _)    if matviews.contains(d.name) =>
              Left(ViewError(s"'${d.name}' is a materialized view — use REFRESH MATERIALIZED VIEW"))
            case BoundUpdate(d, _, _, _, _) if matviews.contains(d.name) =>
              Left(ViewError(s"'${d.name}' is a materialized view — use REFRESH MATERIALIZED VIEW"))
            case BoundDrop(n, _)         if matviews.contains(n)      =>
              Left(ViewError(s"'$n' is a materialized view — use DROP MATERIALIZED VIEW"))
            case _                                                    => Right(())
          }
        } yield execute(bound)
    }
  }

  // ---- PIVOT / UNPIVOT statements (DuckDB's statement forms) ----

  private def readableDesc(name0: String): Either[QueryError, TableDesc] =
    cat.resolve(name0).toRight(AnalyzeFailed(RelationNotFound(name0)))

  /** PIVOT: the ON column's distinct non-NULL values (ascending) become
    * aggregate columns. The distinct-value collect is the standard
    * two-phase pivot (Spark does the same internally when values are
    * omitted) — bounded, because a pivot's OUTPUT SCHEMA must be small
    * by construction; >10k distinct values is an error, not a plan.
    */
  private def pivotStmt(t: Ast.PivotTree): Either[QueryError, QueryResult] = {
    import org.apache.spark.sql.functions.col
    readableDesc(t.table).flatMap { desc =>
      def need(c: String): Either[QueryError, String] =
        desc.attr(c).map(_.name).toRight(AnalyzeFailed(UnboundAttribute(c)))
      for {
        onC <- need(t.on)
        gbC <- t.groupBy.foldLeft[Either[QueryError, Vector[String]]](
          Right(Vector.empty)) { (acc, c) => acc.flatMap(v => need(c).map(v :+ _)) }
        arg <- t.aggCol.fold[Either[QueryError, Seq[BoundOperand]]](Right(Nil))(c =>
          desc.attr(c).map(a => Seq(BoundOperand.BCol(BoundCol(desc.name, a))))
            .toRight(AnalyzeFailed(UnboundAttribute(c))))
        // a decomposable aggregate (count(*) the only argument-less one),
        // through the catalog's lowering
        aggc <- Aggregates.lookup(t.aggFunc)
            .filter(d => d.decomposable && (arg.nonEmpty || d.name == "count")) match {
          case Some(d) => Right(d.lower(Aggregates.Call(arg),
            Lowering.lowerOperandWith(_, bc => col(bc.attr.name)), identity))
          case None => Left(AnalyzeFailed(BadFunction(
            s"PIVOT USING takes sum/count/min/max/avg, got ${t.aggFunc}")))
        }
      } yield {
        val df = readTable(desc)
        val vals = df.select(col(onC)).na.drop().distinct().orderBy(col(onC))
          .limit(10001).collect().map(_.get(0)).toSeq
        if (vals.length > 10000) throw new IllegalStateException(
          s"PIVOT: more than 10000 distinct values in ${t.on}")
        val res = df.groupBy(gbC.map(col): _*).pivot(onC, vals).agg(aggc)
        val ordered =
          if (t.orderBy.isEmpty) res
          else res.orderBy(t.orderBy.map { case (c, desc0) =>
            if (desc0) col(c).desc else col(c).asc }: _*)
        Rows(ordered)
      }
    }
  }

  /** UNPIVOT: columns to (name, value) rows; NULL values are excluded
    * (DuckDB semantics). A narrow map over the scan — no shuffle.
    */
  private def unpivotStmt(t: Ast.UnpivotTree): Either[QueryError, QueryResult] = {
    import org.apache.spark.sql.functions.col
    readableDesc(t.table).flatMap { desc =>
      t.on.foldLeft[Either[QueryError, Vector[String]]](Right(Vector.empty)) {
        (acc, c) => acc.flatMap(v => desc.attr(c).map(_.name)
          .toRight(AnalyzeFailed(UnboundAttribute(c))).map(v :+ _))
      }.map { onCols =>
        val ids = desc.attributes.map(_.name)
          .filterNot(n => onCols.exists(_.equalsIgnoreCase(n)))
        val df = readTable(desc)
        val res = df.unpivot(ids.map(col).toArray, onCols.map(col).toArray,
          t.nameCol, t.valueCol).filter(col(t.valueCol).isNotNull)
        val ordered =
          if (t.orderBy.isEmpty) res
          else res.orderBy(t.orderBy.map { case (c, desc0) =>
            if (desc0) col(c).desc else col(c).asc }: _*)
        Rows(ordered)
      }
    }
  }

  // ---- catalog introspection + export ----

  /** A frame over driver-held rows: a LocalRelation, so collecting it
    * starts no job. Values convert through the encoder
    * `createDataFrame(rdd, schema)` uses, so a value of the wrong type
    * fails here as it would there.
    */
  private def localRows(schema: org.apache.spark.sql.types.StructType,
      rows: Seq[Row]): DataFrame = {
    val toRow = ExpressionEncoder(schema).createSerializer()
    Bridge.localFrame(spark, schema, rows.map(r => toRow(r).copy()))
  }

  /** SHOW TABLES: every relation with its kind, sorted by name. */
  private def showTables(): Either[QueryError, QueryResult] = {
    import org.apache.spark.sql.types._
    val rows =
      (tables.keys.map { n =>
        val kind =
          if (matviews.contains(n)) "materialized view"
          else if (external.contains(n)) "external table"
          else "table"
        (n, kind)
      } ++ views.keys.map(n => (n, "view"))).toSeq.sortBy(_._1)
    Right(Rows(localRows(
      StructType(Seq(StructField("name", StringType, nullable = false),
        StructField("kind", StringType, nullable = false))),
      rows.map { case (n, k) => Row(n, k) })))
  }

  /** DuckDB's DESCRIBE output shape — six VARCHAR columns
    * (column_name, column_type, null, key, default, extra), with
    * DuckDB's type SPELLING (INTEGER not INT, VARCHAR without length),
    * so `DESCRIBE SELECT …` is directly oracle-comparable.
    */
  private def describeSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("column_name", StringType, nullable = false),
      StructField("column_type", StringType, nullable = false),
      StructField("null", StringType, nullable = false),
      StructField("key", StringType, nullable = true),
      StructField("default", StringType, nullable = true),
      StructField("extra", StringType, nullable = true)))
  }

  /** DESCRIBE t: one row per column in DuckDB's shape — null is
    * 'YES'/'NO' from the declared NOT NULL, default renders the
    * declared literal, key/extra stay NULL (PRIMARY KEY is
    * parse-and-ignored like the reference, parser.rs:4874-analogue).
    * Views describe their analyzed output schema (all-'YES', like
    * DuckDB's DESCRIBE over any query).
    */
  private def describe(name0: String): Either[QueryError, QueryResult] = {
    val name = name0.toLowerCase
    def litText(l: Lit): String = l match {
      case Lit.LitLong(v)      => v.toString
      case Lit.LitDouble(v)    => v.toString
      case Lit.LitString(v)    => s"'${v.replace("'", "''")}'"
      case Lit.LitBool(v)      => v.toString
      case Lit.LitDate(d)      => s"'$d'"
      case Lit.LitTimestamp(t) => s"'$t'"
      case _                   => null
    }
    cat.resolve(name) match {
      case Some(desc) => Right(Rows(localRows(describeSchema,
        desc.attributes.map(a => Row(a.name,
          Analyzer.duckTypeName(a.sqlType),
          if (a.nullable) "YES" else "NO", null,
          a.default.map(litText).orNull, null)))))
      case None if viewsForResolve.contains(name) =>
        dispatch(Ast.DescribeQueryTree(viewsForResolve(name)),
          s"DESCRIBE $name")
      case None => Left(AnalyzeFailed(RelationNotFound(name0)))
    }
  }

  /** SUMMARIZE t (DuckDB's profiling statement): per-column count /
    * nulls / ndv / min / max (rendered as strings) / avg / std
    * (numerics, rounded to 4) — ONE aggregate pass over the table, one
    * bounded driver row (9 values per column). ndv is EXACT here so the
    * DuckDB oracle matches bit-for-bit; a 100 TB profile would swap in
    * approx_count_distinct (the StatsManager HLLs already maintain the
    * approximate answer online).
    */
  private def summarize(name0: String): Either[QueryError, QueryResult] =
    readableDesc(name0).map(desc =>
      summarizeDf(desc.attributes, readTable(desc)))

  /** The per-column profile pass shared by SUMMARIZE t and
    * SUMMARIZE <query> — ONE aggregate job over the frame.
    */
  private def summarizeDf(attributes: Seq[AttributeDesc],
      df: DataFrame): QueryResult = {
    import org.apache.spark.sql.functions.{avg => favg, col,
      count => fcount, count_distinct, lit, max => fmax, min => fmin,
      stddev_samp}
    import org.apache.spark.sql.types._
    locally {
      val numeric: SqlType => Boolean = {
        case SqlType.SqlBigInt | SqlType.SqlInt | SqlType.SqlSmallInt |
             SqlType.SqlDouble | SqlType.SqlReal => true
        case _ => false
      }
      val aggs = attributes.zipWithIndex.flatMap { case (a, i) =>
        Seq(fcount(col(a.name)).as(s"c$i"),
          count_distinct(col(a.name)).as(s"d$i"),
          fmin(col(a.name)).cast("string").as(s"mn$i"),
          fmax(col(a.name)).cast("string").as(s"mx$i")) ++
        (if (numeric(a.sqlType))
          Seq(favg(col(a.name)).as(s"av$i"), stddev_samp(col(a.name)).as(s"sd$i"))
         else Nil)
      }
      val row = df.agg(fcount(lit(1)).as("n"), aggs: _*).collect().head
      val n = row.getAs[Long]("n")
      def r4(v: Any): Any = v match {
        case null      => null
        case d: Double =>
          BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        case other => other
      }
      val out = attributes.zipWithIndex.map { case (a, i) =>
        Row(a.name, a.sqlType.render, n, n - row.getAs[Long](s"c$i"),
          row.getAs[Long](s"d$i"),
          row.getAs[String](s"mn$i"), row.getAs[String](s"mx$i"),
          if (numeric(a.sqlType)) r4(row.getAs[Any](s"av$i")) else null,
          if (numeric(a.sqlType)) r4(row.getAs[Any](s"sd$i")) else null)
      }
      val schema = StructType(Seq(
        StructField("column_name", StringType, nullable = false),
        StructField("column_type", StringType, nullable = false),
        StructField("count", LongType, nullable = false),
        StructField("nulls", LongType, nullable = false),
        StructField("ndv", LongType, nullable = false),
        StructField("min", StringType, nullable = true),
        StructField("max", StringType, nullable = true),
        StructField("avg", DoubleType, nullable = true),
        StructField("std", DoubleType, nullable = true)))
      Rows(localRows(schema, out))
    }
  }

  /** COPY … TO: the distributed export — a partition-parallel write of
    * the table or query result (never a driver-side collect).
    */
  private def copyTo(t: Ast.CopyToTree): Either[QueryError, QueryResult] = {
    val dfE: Either[QueryError, DataFrame] = t.source match {
      case Left(name) => readableDesc(name).map(readTable)
      case Right(sel) =>
        val sub = Parser.substituteViews(sel, viewsForResolve)
        Analyzer.analyze(sub, cat).left.map(AnalyzeFailed).flatMap { b =>
          execute(b) match {
            case Rows(df) => Right(df)
            case Done(m)  => Left(ViewError(s"COPY source is not a query: $m"))
          }
        }
    }
    dfE.map { df =>
      val w = df.write.mode("overwrite")
      t.format match {
        case "csv"  => w.option("header", "true").csv(t.path)
        case "json" => w.json(t.path)
        case _      => w.parquet(t.path)
      }
      Done(s"copied to ${t.path} (${t.format})")
    }
  }

  /** COPY t FROM '<path>': the loading path — parquet binds target
    * columns BY NAME (missing NULL-fill, extras ignored; the files carry
    * their own schema), csv/json read under the table's schema
    * positionally; everything appends with checked casts exactly like
    * INSERT … SELECT. At scale this is a partition-parallel read +
    * append — no driver-side rows.
    */
  private def copyFrom(t: Ast.CopyFromTree): Either[QueryError, QueryResult] =
    alterable(t.table).flatMap { desc =>
      try {
        import org.apache.spark.sql.functions.{col, lit}
        val raw = t.format match {
          case "csv"  => spark.read.option("header", t.header.toString)
            .schema(desc.sparkSchema).csv(t.path)
          case "json" => spark.read.schema(desc.sparkSchema).json(t.path)
          case _      => spark.read.parquet(t.path)
        }
        val names = raw.columns.map(_.toLowerCase).toSet
        val aligned = enforceNotNull(raw.select(desc.attributes.map { a =>
          (if (names(a.name.toLowerCase)) col(a.name) else lit(null))
            .cast(a.sqlType.spark).as(a.name)
        }: _*), desc)
        val before = statistics.get(desc.name).map(_.rowCount).getOrElse(0L)
        appendTo(desc, aligned)
        val after = statistics.markStale(desc, readTable(desc))
        Right(Done(
          s"copied ${after - before} row(s) into ${desc.name} from ${t.path}"))
      } catch {
        case e: Exception => Left(ViewError(s"COPY FROM failed: ${e.getMessage}"))
      }
    }

  // ---- ALTER TABLE / TRUNCATE: copy-on-write schema evolution ----

  /** A writable warehouse table — ALTER/TRUNCATE reject views,
    * materialized views and external fixtures.
    */
  private def alterable(name0: String): Either[QueryError, TableDesc] = {
    val name = cat.resolve(name0).map(_.name).getOrElse(name0.toLowerCase)
    if (viewsForResolve.contains(name)) Left(ViewError(s"'$name' is a view"))
    else if (matviews.contains(name))
      Left(ViewError(s"'$name' is a materialized view"))
    else if (external.contains(name)) Left(ReadOnlyTable(name))
    else tables.get(name).toRight(AnalyzeFailed(RelationNotFound(name)))
  }

  /** Re-validate every stored CHECK and generated-column expression
    * against a candidate post-ALTER schema, so an ALTER that would orphan
    * a stored expression errors at the ALTER statement itself — not as an
    * IllegalStateException at the table's next write (DuckDB rejects the
    * ALTER too). Shared by drop/rename/retype column.
    */
  private def revalidateStored(nd: TableDesc): Either[QueryError, Unit] = {
    val checkErr = nd.checks.iterator.flatMap(chk =>
      Analyzer.bindCheck(nd, chk).left.toOption.map(e =>
        s"CHECK ($chk) would no longer bind: ${e.msg}")).nextOption()
    val genErr = nd.attributes.iterator.flatMap(a => a.generated.flatMap(gen =>
      Analyzer.bindGenerator(nd, gen).left.toOption.map(e =>
        s"generated column ${a.name} (${gen}) would no longer bind: ${e.msg}")))
      .nextOption()
    checkErr.orElse(genErr) match {
      case Some(m) => Left(AnalyzeFailed(BadFunction(s"ALTER rejected: $m")))
      case None    => Right(())
    }
  }

  /** The bucketed session-catalog entry carries the OLD schema — drop it
    * so the next read lazily recreates it against the new desc.
    */
  private def refreshBucketEntry(desc: TableDesc): Unit =
    if (desc.bucket.isDefined)
      spark.sql(s"DROP TABLE IF EXISTS ${catName(desc.name)}")

  /** ADD COLUMN is catalog-only: the explicit read schema makes parquet
    * yield NULL for the column in pre-ALTER files; new INSERTs write it.
    */
  private def alterAddCol(t: Ast.AlterAddColTree): Either[QueryError, QueryResult] =
    alterable(t.table).flatMap { desc =>
      if (desc.attr(t.col).isDefined)
        Left(AnalyzeFailed(DuplicateBinding(t.col)))
      else {
        val nd = desc.copy(attributes = desc.attributes :+ AttributeDesc(t.col, t.tpe))
        tables(nd.name) = nd
        refreshBucketEntry(nd)
        saveCatalog()
        statistics.markStale(nd, readTable(nd))
        Right(Done(s"added column '${t.col}' to ${nd.name}"))
      }
    }

  /** DROP COLUMN is catalog-only too — the pruned read schema hides the
    * column; the stale bytes die at the table's next rewrite.
    */
  private def alterDropCol(t: Ast.AlterDropColTree): Either[QueryError, QueryResult] =
    alterable(t.table).flatMap { desc =>
      if (desc.attr(t.col).isEmpty)
        Left(AnalyzeFailed(UnboundAttribute(t.col)))
      else if (desc.bucket.exists(_._1.equalsIgnoreCase(t.col)))
        Left(AnalyzeFailed(BadFunction(
          s"cannot drop bucket column '${t.col}'")))
      else if (desc.attributes.length == 1)
        Left(AnalyzeFailed(BadFunction("cannot drop the last column")))
      else {
        val nd = desc.copy(attributes =
          desc.attributes.filterNot(_.name.equalsIgnoreCase(t.col)))
        revalidateStored(nd).map { _ =>
          tables(nd.name) = nd
          refreshBucketEntry(nd)
          saveCatalog()
          statistics.markStale(nd, readTable(nd))
          Done(s"dropped column '${t.col}' from ${nd.name}")
        }
      }
    }

  /** RENAME COLUMN rewrites the data — parquet binds columns by NAME, so
    * a catalog-only rename would read NULLs from old files.
    */
  private def alterRenameCol(t: Ast.AlterRenameColTree): Either[QueryError, QueryResult] =
    alterable(t.table).flatMap { desc =>
      desc.attr(t.from) match {
        case None => Left(AnalyzeFailed(UnboundAttribute(t.from)))
        case Some(_) if desc.attr(t.to).isDefined =>
          Left(AnalyzeFailed(DuplicateBinding(t.to)))
        case Some(_) if desc.bucket.exists(_._1.equalsIgnoreCase(t.from)) =>
          Left(AnalyzeFailed(BadFunction(
            s"cannot rename bucket column '${t.from}'")))
        case Some(attr) =>
          val img = readTable(desc).withColumnRenamed(attr.name, t.to)
          val nd = desc.copy(attributes = desc.attributes.map(a =>
            if (a.name.equalsIgnoreCase(t.from)) a.copy(name = t.to) else a))
          revalidateStored(nd).map { _ =>
            tables(nd.name) = nd
            refreshBucketEntry(nd)
            rewriteTable(nd, img)
            saveCatalog()
            Done(s"renamed column '${t.from}' to '${t.to}' in ${nd.name}")
          }
      }
    }

  /** RENAME TO moves the table directory and re-keys catalog + stats. */
  private def alterRenameTable(t: Ast.AlterRenameTree): Either[QueryError, QueryResult] =
    alterable(t.table).flatMap { desc =>
      val to = t.to.toLowerCase
      if (tables.contains(to) || views.contains(to) || matviews.contains(to))
        Left(ViewError(s"relation '$to' already exists"))
      else {
        refreshBucketEntry(desc)
        statistics.dropTable(desc.name)
        tables.remove(desc.name)
        scans.remove(desc.name)
        val from = Paths.get(dataPath(desc.name))
        val dest = Paths.get(s"$warehouse/data/$to")
        if (Files.exists(from)) Files.move(from, dest)
        val nd = desc.copy(name = to)
        tables(to) = nd
        saveCatalog()
        statistics.markStale(nd, readTable(nd))
        Right(Done(s"renamed table '${desc.name}' to '$to'"))
      }
    }

  /** ALTER COLUMN TYPE: copy-on-write cast rewrite of the one column. */
  private def alterColType(t: Ast.AlterColTypeTree): Either[QueryError, QueryResult] =
    alterable(t.table).flatMap { desc =>
      desc.attr(t.col) match {
        case None => Left(AnalyzeFailed(UnboundAttribute(t.col)))
        case Some(_) if desc.bucket.exists(_._1.equalsIgnoreCase(t.col)) =>
          Left(AnalyzeFailed(BadFunction(
            s"cannot change the type of bucket column '${t.col}'")))
        case Some(attr) =>
          val img = readTable(desc).withColumn(attr.name,
            org.apache.spark.sql.functions.col(attr.name).cast(t.tpe.spark))
          val nd = desc.copy(attributes = desc.attributes.map(a =>
            if (a.name.equalsIgnoreCase(t.col)) a.copy(sqlType = t.tpe) else a))
          revalidateStored(nd).map { _ =>
            tables(nd.name) = nd
            refreshBucketEntry(nd)
            rewriteTable(nd, img)
            saveCatalog()
            Done(
              s"changed column '${attr.name}' to ${t.tpe.render} in ${nd.name}")
          }
      }
    }

  /** TRUNCATE: replace the image with its empty projection. */
  private def truncate(name: String): Either[QueryError, QueryResult] =
    alterable(name).map { desc =>
      rewriteTable(desc, readTable(desc).limit(0))
      Done(s"truncated ${desc.name}")
    }

  // ---- named types (CREATE TYPE … AS ENUM) ----

  private def createEnumType(name: String, values: Vector[String],
      ifNotExists: Boolean): Either[QueryError, QueryResult] = {
    if (namedTypes.contains(name)) {
      if (ifNotExists)
        return Right(Done(s"type '$name' already exists, skipped"))
      return Left(ViewError(s"type '$name' already exists"))
    }
    namedTypes(name) = SqlType.SqlEnum(values)
    saveCatalog()
    Right(Done(s"created type $name"))
  }

  private def dropType(name: String,
      ifExists: Boolean): Either[QueryError, QueryResult] = {
    if (!namedTypes.contains(name)) {
      if (ifExists) return Right(Done(s"type '$name' absent, skipped"))
      return Left(ViewError(s"type '$name' does not exist"))
    }
    // DuckDB blocks dropping a type a table still uses
    val user = tables.values.find(_.attributes.exists(a =>
      namedTypes.get(name).contains(a.sqlType)))
    user match {
      case Some(t) => Left(ViewError(
        s"type '$name' is used by table '${t.name}'"))
      case None =>
        namedTypes.remove(name)
        saveCatalog()
        Right(Done(s"dropped type $name"))
    }
  }

  // ---- schemas (CREATE SCHEMA) ----

  /** The schema part of a qualified table name, when it names a schema
    * that does not exist (creation guard).
    */
  private def missingSchemaOf(table: String): Option[String] =
    table.split('.') match {
      case Array(s, _) if !s.equalsIgnoreCase("main") &&
        !schemas.contains(s.toLowerCase) => Some(s)
      case _ => None
    }

  // ---- sequences: driver-side named counters (DuckDB surface) ----

  private def createSequence(t: Ast.CreateSequenceTree)
      : Either[QueryError, QueryResult] = {
    if (sequences.contains(t.name) && t.ifNotExists)
      return Right(Done(s"sequence '${t.name}' already exists, skipped"))
    if (sequences.contains(t.name) && !t.orReplace)
      return Left(ViewError(s"sequence '${t.name}' already exists"))
    val inc = t.inc.getOrElse(1L)
    if (inc == 0L) return Left(ViewError("INCREMENT must be non-zero"))
    // Postgres/DuckDB defaults: ascending sequences run [1, Long.Max]
    // starting at MINVALUE; descending run [Long.Min, -1] starting at
    // MAXVALUE
    val minv = t.minv.getOrElse(if (inc > 0) 1L else Long.MinValue)
    val maxv = t.maxv.getOrElse(if (inc > 0) Long.MaxValue else -1L)
    val start = t.start.getOrElse(if (inc > 0) minv else maxv)
    if (minv > maxv)
      return Left(ViewError(s"MINVALUE ($minv) cannot exceed MAXVALUE ($maxv)"))
    if (start < minv || start > maxv)
      return Left(ViewError(
        s"START value ($start) must lie in [$minv, $maxv]"))
    sequences(t.name) = SeqState(start, inc, minv, maxv, t.cycle, None)
    saveCatalog()
    Right(Done(s"created sequence ${t.name}"))
  }

  private def dropSequence(name: String,
      ifExists: Boolean): Either[QueryError, QueryResult] =
    if (sequences.remove(name).isDefined) {
      saveCatalog()
      Right(Done(s"dropped sequence $name"))
    } else if (ifExists) Right(Done(s"sequence '$name' does not exist, skipped"))
    else Left(ViewError(s"sequence '$name' does not exist"))

  private def seqNext(name: String): Either[QueryError, Long] =
    sequences.get(name.toLowerCase) match {
      case None => Left(ViewError(s"sequence '$name' does not exist"))
      case Some(s) =>
        s.next match {
          case Some(v) =>
            s.current = Some(v)
            Right(v)
          case None => Left(ViewError(
            s"nextval: reached the ${if (s.inc > 0) "maximum" else "minimum"} " +
              s"value of sequence \"$name\""))
        }
    }

  private def seqCurr(name: String): Either[QueryError, Long] =
    sequences.get(name.toLowerCase) match {
      case None => Left(ViewError(s"sequence '$name' does not exist"))
      case Some(s) => s.current match {
        case None => Left(ViewError(
          s"currval: sequence '$name' has no value yet (call nextval first)"))
        case Some(c) => Right(c)
      }
    }

  /** Substitute nextval/currval with allocated literals inside the
    * positions where row order is textual (FROM-less SELECT items —
    * which is also what INSERT … VALUES expression rows desugar to):
    * rows left-to-right, items left-to-right, exactly DuckDB's order.
    * Anywhere else the calls survive to the analyzer's pointed reject.
    * The catalog saves once per statement that allocated a value, even
    * when a later call fails, so allocated ids stay monotone across
    * reopen.
    */
  private final class SeqSubstErr(val err: QueryError) extends RuntimeException
  private def substituteSequences(tree: ParseTree)
      : Either[QueryError, ParseTree] = {
    if (sequences.isEmpty) return Right(tree)
    var allocated = false
    def walkOp(o: Ast.Operand): Ast.Operand = o match {
      case Ast.Operand.FuncCall(f,
          Seq(Ast.Operand.Literal(Lit.LitString(sn))))
          if f == "nextval" || f == "currval" =>
        val v = (if (f == "nextval") seqNext(sn) else seqCurr(sn)) match {
          case Left(e)  => throw new SeqSubstErr(e)
          case Right(x) => allocated ||= f == "nextval"; x
        }
        Ast.Operand.Literal(Lit.LitLong(v))
      case Ast.Operand.FuncCall(f, as) =>
        Ast.Operand.FuncCall(f, as.map(walkOp))
      case Ast.Operand.Arith(op, l, r) =>
        Ast.Operand.Arith(op, walkOp(l), walkOp(r))
      case Ast.Operand.Cast(x, t)    => Ast.Operand.Cast(walkOp(x), t)
      case Ast.Operand.TryCast(x, t) => Ast.Operand.TryCast(walkOp(x), t)
      case Ast.Operand.CaseWhen(bs, els) =>
        Ast.Operand.CaseWhen(bs.map { case (e, v) => (e, walkOp(v)) },
          els.map(walkOp))
      case other => other
    }
    def walkSelect(s: Ast.SelectTree): Ast.SelectTree =
      if (s.from.nonEmpty) s
      else s.copy(columns = s.columns.map(_.map {
        case Ast.SelectItem.SExpr(op, a) =>
          Ast.SelectItem.SExpr(walkOp(op), a)
        case other => other
      }))
    def walkTop(t: ParseTree): ParseTree = t match {
      case s: Ast.SelectTree => walkSelect(s)
      case u: Ast.UnionTree =>
        u.copy(first = walkSelect(u.first),
          rest = u.rest.map { case (c, s) => (c, walkSelect(s)) })
      case ins: Ast.InsertSelectTree => ins.copy(select = walkTop(ins.select))
      case other => other
    }
    try Right(walkTop(tree))
    catch { case e: SeqSubstErr => Left(e.err) }
    finally if (allocated) saveCatalog()
  }

  // ---- stored views: named queries substituted like CTEs ----

  private def createView(name: String, body: ParseTree,
      stmt: String): Either[QueryError, QueryResult] = {
    if (tables.contains(name))
      Left(ViewError(s"relation '$name' already exists as a table"))
    else if (views.contains(name))
      Left(ViewError(s"view '$name' already exists"))
    else {
      // substitute existing views (so the stored body is self-contained,
      // like CTE bodies), then validate it analyzes TODAY — a view over a
      // missing column fails at CREATE, not first use
      val substituted = Parser.substituteViews(body, viewsForResolve)
      Analyzer.analyze(substituted, cat) match {
        case Left(e) => Left(AnalyzeFailed(e))
        case Right(_) =>
          views(name) = substituted
          // persist under the QUALIFIED name so a reopen rebuilds the
          // right catalog key (a view created under USE work stores as
          // work.v, not v)
          viewSql(name) = stmtWithName(stmt, name)
          saveCatalog()
          Right(Done(s"created view $name"))
      }
    }
  }

  // ---- materialized views: CTAS + a refreshable stored definition ----

  private def createMatView(name: String, body: ParseTree,
      bucket: Option[(String, Int)], stmt: String): Either[QueryError, QueryResult] = {
    if (tables.contains(name))
      Left(ViewError(s"relation '$name' already exists as a table"))
    else if (views.contains(name))
      Left(ViewError(s"relation '$name' already exists as a view"))
    else {
      // self-contained definition (stored views substituted), validated
      // and MATERIALIZED now via the ordinary CTAS path
      val substituted = Parser.substituteViews(body, viewsForResolve)
      Analyzer.analyze(Ast.CreateAsTree(name, substituted, bucket), cat) match {
        case Left(e) => Left(AnalyzeFailed(e))
        case Right(boundCtas) =>
          val r = execute(boundCtas)
          matviews(name.toLowerCase) = substituted
          matviewSql(name.toLowerCase) = stmtWithName(stmt, name)
          saveCatalog()
          r match {
            case Done(msg) => Right(Done(msg.replace("created table",
              "created materialized view")))
            case other => Right(other)
          }
      }
    }
  }

  /** Re-run the stored definition against the CURRENT source data and
    * replace the table image atomically-enough (tmp dir + move), keeping
    * the bucket layout (rewriteTable routes bucketed images through a
    * bucketed writer).
    */
  private def refreshMatView(name: String): Either[QueryError, QueryResult] =
    matviews.get(name) match {
      case None => Left(ViewError(s"materialized view '$name' does not exist"))
      case Some(tree0) =>
        // pin to the matview's creation schema — REFRESH must not
        // re-resolve bare names under the refresher's USE state
        val tree = pinViewBody(name, tree0)
        Analyzer.analyze(tree, cat) match {
          case Left(e) => Left(AnalyzeFailed(e))
          case Right(bound) =>
            val desc = tables(name)
            val df = lowerQuery(bound)
            val named = df.toDF(desc.attributes.map(_.name): _*)
            val n = rewriteTable(desc, named)
            Right(Done(s"refreshed materialized view '$name' ($n row(s))"))
        }
    }

  private def dropMatView(name: String, ifExists: Boolean): Either[QueryError, QueryResult] =
    if (matviews.remove(name).isDefined) {
      matviewSql.remove(name)
      saveCatalog()
      // drop the backing table through the ordinary DROP path
      Right(execute(BoundDrop(name, tables.get(name))))
    } else if (ifExists) Right(Done(s"materialized view '$name' does not exist, skipped"))
    else Left(ViewError(s"materialized view '$name' does not exist"))

  private def dropView(name: String, ifExists: Boolean): Either[QueryError, QueryResult] =
    if (views.remove(name).isDefined) {
      viewSql.remove(name)
      saveCatalog()
      Right(Done(s"dropped view '$name'"))
    } else if (ifExists) Right(Done(s"view '$name' does not exist, skipped"))
    else if (tables.contains(name))
      Left(ViewError(s"'$name' is a table — use DROP TABLE"))
    else Left(ViewError(s"view '$name' does not exist"))

  /** Convenience for SELECTs in tests: query + unwrap. */
  def select(sql: String): Either[QueryError, DataFrame] = query(sql).map {
    case Rows(df)  => df
    case Done(msg) => sys.error(s"not a SELECT: $msg")
  }

  /** Register an existing parquet table (e.g. a driver fixture) read-only. */
  def registerParquet(name: String, path: String): Unit =
    registerExternal(name, path, "parquet")

  /** Bulk-import an external parquet file into a warehouse table,
    * optionally hash-bucketed — the distributed ingest path (INSERT …
    * VALUES is for REPL-scale rows; an import is a partition-parallel
    * write). Creates the table from the file's schema if absent, appends
    * otherwise, and rebuilds statistics. Returns the table's row count.
    */
  def importParquet(name: String, path: String,
      bucket: Option[(String, Int)] = None): Long = {
    val df = spark.read.parquet(path)
    val desc = tables.getOrElse(name.toLowerCase, {
      val d = TableDesc(name.toLowerCase,
        df.schema.fields.toSeq.map(f =>
          AttributeDesc(f.name, SqlType.fromSpark(f.dataType), f.nullable)),
        bucket.map { case (c, n) => (c.toLowerCase, n) })
      tables(d.name) = d
      Files.createDirectories(Paths.get(s"$warehouse/data/${d.name}"))
      statistics.initTable(d)
      saveCatalog()
      d
    })
    appendTo(desc, df)
    statistics.markStale(desc, readTable(desc))
  }

  /** Register external read-only tables in other formats. Non-columnar
    * sources (csv/json) get no column pruning or pushdown at the file
    * level — they exist for ingest; convert to parquet for anything hot.
    */
  def registerCsv(name: String, path: String): Unit =
    registerExternal(name, path, "csv")
  def registerJson(name: String, path: String): Unit =
    registerExternal(name, path, "json")

  private val externalFormat = mutable.Map.empty[String, String]

  private def registerExternal(name: String, path: String, format: String): Unit = {
    val reader = format match {
      case "csv" => spark.read.option("header", "true").option("inferSchema", "true")
      case "json" => spark.read
      case _ => spark.read
    }
    val schema = reader.format(format).load(path).schema
    val desc = TableDesc(name.toLowerCase, schema.fields.toSeq.map(f =>
      AttributeDesc(f.name, SqlType.fromSpark(f.dataType), f.nullable)))
    tables(desc.name) = desc
    external(desc.name) = path
    externalFormat(desc.name) = format
  }

  def tableNames: Seq[String] = tables.keys.toSeq

  private def dataPath(name: String): String =
    external.getOrElse(name, s"$warehouse/data/$name")

  // ---- bucketed warehouse tables ----
  // Spark's bucketed scan (outputPartitioning = HashPartitioning(col, n),
  // so joins/aggs on the bucket column skip the Exchange) only activates
  // through a session-catalog table, so each bucketed warehouse table gets
  // a catalog entry pointing at its warehouse directory. The identifier is
  // namespaced by warehouse so databases sharing a session don't collide.

  private def catName(table: String): String =
    // schema-qualified names sanitize for the Spark identifier
    s"graft_bkt_${math.abs(warehouse.hashCode).toHexString}_" +
      table.replace('.', '_')

  private def bucketDdl(cat: String, desc: TableDesc, location: String): String = {
    val (col, n) = desc.bucket.get
    s"CREATE TABLE $cat (${desc.sparkSchema.toDDL}) USING parquet " +
      s"CLUSTERED BY ($col) SORTED BY ($col) INTO $n BUCKETS LOCATION '$location'"
  }

  private def ensureCatalogTable(desc: TableDesc): Unit =
    if (desc.bucket.isDefined && !spark.catalog.tableExists(catName(desc.name)))
      spark.sql(bucketDdl(catName(desc.name), desc, dataPath(desc.name)))

  /** Append a frame to a warehouse table: catalog-routed when bucketed,
    * so the new files are hash-bucketed on disk; plain parquet files
    * otherwise.
    */
  private def appendTo(desc: TableDesc, df: DataFrame): Unit =
    if (desc.bucket.isDefined) {
      ensureCatalogTable(desc)
      df.write.mode("append").insertInto(catName(desc.name))
    } else df.write.mode("append").parquet(dataPath(desc.name))

  /** INSERT … VALUES: all rows land in one parquet file (SURVEY.md §7.4 —
    * per-row writes would be pathological). Literal NULLs were
    * analysis-checked, but generated columns arrive as NULL placeholders,
    * materialize (and NOT NULL over them re-checks) and CHECK constraints
    * evaluate in the frame pass, so the input is nullable throughout. The
    * pass runs on the driver before any file exists, so a failing row
    * leaves none; a plain table's file is then written by the driver with
    * no Spark job, a bucketed table's by Spark's bucketed write. Returns
    * the rows as written (the RETURNING image).
    */
  private def insertValues(desc: TableDesc, rows: Seq[Seq[Any]]): DataFrame = {
    val input = org.apache.spark.sql.types.StructType(desc.sparkSchema.map(_.copy(nullable = true)))
    val (schema, written) = Bridge.collectRows(
      enforceNotNull(localRows(input, rows.map(Row.fromSeq)), desc))
    if (desc.bucket.isDefined) appendTo(desc, Bridge.localFrame(spark, schema, written))
    else Bridge.writeParquet(spark, dataPath(desc.name), schema, written)
    statistics.recordInsert(desc, Bridge.externalRows(schema, written))
    Bridge.localFrame(spark, schema, written)
  }

  private def readTable(desc: TableDesc): DataFrame =
    externalFormat.get(desc.name) match {
      case Some("csv") =>
        spark.read.option("header", "true").schema(desc.sparkSchema)
          .csv(dataPath(desc.name))
      case Some("json") =>
        spark.read.schema(desc.sparkSchema).json(dataPath(desc.name))
      case _ if desc.bucket.isDefined =>
        // catalog-backed read so the scan carries the bucket spec
        ensureCatalogTable(desc)
        spark.table(catName(desc.name))
      case _ if external.contains(desc.name) => readParquet(desc)
      case _ =>
        // a hit is the last read's relation with fresh attribute ids, so
        // a self-join's two sides stay distinct; a miss stores the key of
        // the files the new relation itself listed
        Option(scans.get(desc.name)) match {
          case Some((k, rel)) if scanKey(desc).contains(k) => Bridge.frameOver(spark, rel)
          case _ =>
            val df = readParquet(desc)
            for ((rel, files) <- Bridge.fileRelation(df))
              scans.put(desc.name, ((desc.sparkSchema, files), rel))
            df
        }
    }

  // Explicit schema: works even when the table has zero parquet files
  // yet, and skips footer merging on every query.
  private def readParquet(desc: TableDesc): DataFrame =
    spark.read.schema(desc.sparkSchema).parquet(dataPath(desc.name))

  /** The resolved scan of each warehouse parquet table, from its last
    * read: resolving `spark.read` again (data source lookup, Hadoop
    * configuration copies, file listing) costs more than planning a
    * point query. The entry holds while its key does, the table's
    * schema and its visible data files (name, length, modification
    * time), so every writer invalidates it without a hook: INSERT, DML,
    * TRUNCATE, ALTER, another database on the same warehouse, a file
    * dropped in from outside. One entry per table, removed with it.
    */
  private val scans = new java.util.concurrent.ConcurrentHashMap[
    String, (ScanKey, LogicalRelation)]
  private type ScanKey = (org.apache.spark.sql.types.StructType, Seq[(String, Long, Long)])

  /** `desc`'s scan key, listed as Spark's file index lists the
    * directory (names starting with `.` or `_` are hidden); None when
    * the directory cannot be listed.
    */
  private def scanKey(desc: TableDesc): Option[ScanKey] =
    try {
      val listing = Files.list(Paths.get(dataPath(desc.name)))
      try Some((desc.sparkSchema, listing.iterator.asScala.flatMap { p =>
        val n = p.getFileName.toString
        if (n.startsWith(".") || n.startsWith("_")) None
        else {
          val a = Files.readAttributes(p,
            classOf[java.nio.file.attribute.BasicFileAttributes])
          Some((n, a.size, a.lastModifiedTime.toMillis))
        }
      }.toSeq.sorted))
      finally listing.close()
    } catch { case _: java.io.IOException => None }

  /** The one table-source lambda per top-level query — the lowering's
    * CTE-reuse memo recognizes it as the root scope (fixpoint steps
    * rebind sources per round and bypass the memo).
    */
  private def lowerOneSelect(s: BoundSelect,
      source: Analyzer.BoundTable => DataFrame): DataFrame = {
    val ests = estimateBindings(s)
    Lowering.lowerSelect(spark, s, source,
      chooseBroadcastSides(ests), planJoinOrder(s, ests))
  }

  /** One SELECT lowered in its own query scope over `source` (the DML
    * paths' rewritten selects).
    */
  private def lowerScoped(s: BoundSelect,
      source: Analyzer.BoundTable => DataFrame): DataFrame =
    Lowering.withQueryScope(s, source, scopeStats) { lowerOneSelect(s, source) }

  /** Lower any readable query form (SELECT or set-op chain) to a frame —
    * shared by the Rows path and the INSERT…SELECT / CTAS write paths.
    * Every branch gets its own stats-driven plan; a chain is
    * per-connector union/intersect/except (one shuffle per dedup step).
    * The whole lowering runs in one query scope, so a CTE (recursive or
    * plain) referenced twice materializes once.
    */
  /** Stats feed the ASOF lowering choice the same way they feed
    * broadcast/build sides — avg step rows per key group decides
    * union-merge vs candidate join. External tables rebuild lazily on
    * first need, exactly like estimateBindings; the filtered row
    * estimate rides the same bottom-k sample as every cardinality.
    * Scope-carried through withQueryScope (per-database, not a global).
    */
  private val asofHook: Lowering.AsofStatsHook =
    (t, c, pred) => tables.get(t.toLowerCase).map { desc =>
      ensureStats(desc)
      val st = statistics.get(desc.name).get
      (math.max(statistics.estimateCard(desc, pred), 1L),
        st.ndv(c).getOrElse(math.max(st.rowCount, 1L)))
    }

  /** The statistics one query's lowering reads. A table's row count is
    * exact even while its statistics are stale (every write keeps it),
    * so the window choice reads it and never starts a Spark job.
    */
  private val scopeStats = Lowering.ScopeStats(asofHook,
    t => statistics.get(t).map(_.rowCount))

  /** Statistics an estimator can use: a table without any (external
    * parquet) gets a one-pass rebuild — rowcount + HLL sketches + bottom-k
    * sample — and one left stale by a rewrite rebuilds once.
    */
  private def ensureStats(desc: TableDesc): Unit =
    if (statistics.get(desc.name).isEmpty) statistics.rebuild(desc, readTable(desc))
    else statistics.ensureFresh(desc)

  private def lowerQuery(q: BoundQuery): DataFrame = {
    val source: Analyzer.BoundTable => DataFrame = bt => readTable(bt.desc)
    Lowering.withQueryScope(q, source, scopeStats) {
      q match {
        case s: BoundSelect => lowerOneSelect(s, source)
        case u: BoundUnion =>
          Lowering.lowerUnion(lowerOneSelect(u.first, source),
            u.rest.map { case (conn, b) => (conn, lowerOneSelect(b, source)) },
            u.orderBy, u.limit, u.offset)
        case other => sys.error(s"not a readable query: $other")
      }
    }
  }

  private def execute(q: BoundQuery): QueryResult = q match {
    case s: BoundSelect => Rows(lowerQuery(s))
    case u: BoundUnion  => Rows(lowerQuery(u))

    case BoundExplain(inner, doRun) =>
      // the reference's plan printer analogue: Catalyst's formatted
      // physical plan, one line per row (REPL show() renders it readably).
      // For the write statements the plan shown is their SELECT source —
      // the distributed part worth explaining. ANALYZE executes first,
      // so AQE's FINAL plan (isFinalPlan=true, runtime re-plans applied)
      // is what prints.
      val frame = inner match {
        case s: BoundSelect               => lowerQuery(s)
        case u: BoundUnion                => lowerQuery(u)
        case BoundInsertSelect(_, sel, _) => lowerQuery(sel)
        case BoundCreateAs(_, sel, _)     => lowerQuery(sel)
        case other => sys.error(s"unreachable EXPLAIN target $other")
      }
      val (header, metricTail) =
        if (doRun) {
          // materialize THIS queryExecution's plan (a count() would build
          // a separate execution whose metrics we could not read)
          val exec0 = frame.queryExecution.executedPlan
          val t0 = System.nanoTime()
          val n = exec0.execute().count()
          val ms = (System.nanoTime() - t0) / 1000000
          // per-operator runtime metrics from the EXECUTED (AQE-final)
          // plan tree — output rows, spill and shuffle sizes per node
          val exec = exec0 match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              a.executedPlan
            case p => p
          }
          def walk(p: org.apache.spark.sql.execution.SparkPlan,
              depth: Int): Seq[String] = {
            val shown = p.metrics.toSeq
              .filter { case (k, m) => m.value > 0 && (k == "numOutputRows" ||
                k.contains("spill") || k.contains("shuffle") || k.contains("Bytes")) }
              .sortBy(_._1)
              .map { case (k, m) => s"$k=${m.value}" }
            val line = ("  " * depth) + p.nodeName +
              (if (shown.nonEmpty) shown.mkString("  [", ", ", "]") else "")
            line +: p.children.flatMap(c => walk(c, depth + 1))
          }
          (Seq(s"== Analyzed: $n row(s) in $ms ms =="),
            "== Runtime metrics ==" +: walk(exec, 0))
        } else (Nil, Nil)
      val text = frame.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      import spark.implicits._
      Rows((header ++ text.split("\n").toSeq ++ metricTail).toDF("plan"))

    case bis: BoundInsertSelect => runInsertSelect(bis, returning = false)

    case other1 => executeTail2(other1)
  }

  /** INSERT … SELECT append, optionally RETURNING the inserted rows
    * (materialized via localCheckpoint before the append so a
    * self-referencing insert and the returned frame both read the
    * PRE-append files).
    */
  private def runInsertSelect(bis: BoundInsertSelect,
      returning: Boolean): QueryResult = {
      val BoundInsertSelect(desc, sel, colsOpt) = bis
      val raw = lowerQuery(sel)
      // positional alignment with checked casts to the target schema;
      // an explicit column list permutes into table order, unlisted
      // columns NULL-fill (the VALUES column-list semantics)
      val aligned = colsOpt match {
        case None =>
          // positional over the NON-generated columns (generated ones
          // take no position; the write pass materializes them)
          val plain = desc.attributes.filter(_.generated.isEmpty)
          val named = raw.toDF(plain.map(_.name): _*)
          named.select(desc.attributes.map { a =>
            (if (a.generated.isDefined)
              org.apache.spark.sql.functions.lit(null)
            else org.apache.spark.sql.functions.col(a.name))
              .cast(a.sqlType.spark).as(a.name)
          }: _*)
        case Some(cols) =>
          val named = raw.toDF(cols: _*)
          named.select(desc.attributes.map { a =>
            (if (cols.contains(a.name))
              org.apache.spark.sql.functions.col(a.name)
            // unlisted columns fill their DEFAULT (NULL when none)
            else a.default.fold(
              org.apache.spark.sql.functions.lit(null): org.apache.spark.sql.Column)(
              Lowering.lowerLit))
              .cast(a.sqlType.spark).as(a.name)
          }: _*)
      }
      // a self-referencing insert (INSERT INTO t SELECT … FROM t) must
      // materialize before the append starts rewriting the very files the
      // scan reads; localCheckpoint pins the input partitions first
      val src =
        if (returning ||
            Analyzer.referencedTables(sel).contains(desc.name))
          aligned.localCheckpoint()
        else aligned
      val before = statistics.get(desc.name).map(_.rowCount).getOrElse(0L)
      val srcW = enforceNotNull(src, desc)
      appendTo(desc, srcW)
      val after = statistics.markStale(desc, readTable(desc))
      if (returning) Rows(srcW) // post-materialization image
      else Done(s"inserted ${after - before} row(s) into ${desc.name}")
  }

  private def executeTail2(q: Analyzer.BoundQuery): QueryResult = q match {
    case BoundCreateAs(name, sel, bucket) =>
      val df = lowerQuery(sel)
      val attrs = df.schema.fields.toSeq.map(f =>
        AttributeDesc(f.name.toLowerCase, SqlType.fromSpark(f.dataType), f.nullable))
      bucket.foreach { case (col, _) =>
        if (!attrs.exists(_.name.equalsIgnoreCase(col)))
          throw new IllegalArgumentException(
            s"CLUSTERED BY column '$col' is not in the query's output")
      }
      val desc = TableDesc(name, attrs, bucket)
      tables(desc.name) = desc
      Files.createDirectories(Paths.get(s"$warehouse/data/${desc.name}"))
      statistics.initTable(desc)
      saveCatalog()
      appendTo(desc, df.toDF(attrs.map(_.name): _*))
      val n = statistics.markStale(desc, readTable(desc))
      Done(s"created table ${desc.name} with $n row(s)")

    case BoundInsert(desc, rows) =>
      insertValues(desc, rows)
      Done(s"inserted ${rows.length} row(s) into ${desc.name}")

    case BoundCreate(desc) =>
      tables(desc.name) = desc
      // a fresh CREATE starts empty: wipe orphaned data files (a TEMP
      // table from a prior session leaves its directory behind because
      // it is filtered out of the catalog document, not dropped)
      val createDirP = Paths.get(s"$warehouse/data/${desc.name}")
      FileUtils.deleteDirectory(createDirP.toFile)
      Files.createDirectories(createDirP)
      ensureCatalogTable(desc)
      statistics.initTable(desc)
      saveCatalog()
      Done(s"created table ${desc.name}")

    // DELETE/UPDATE (beyond the reference, which lists them as TODO —
    // README.md:51): copy-on-write parquet rewrite. At scale this is the
    // standard non-transactional form: rewrite only what a real table
    // format would rewrite per-file; here the whole table is one rewrite
    // since the warehouse has no file-level manifest.
    case BoundDelete(desc, pred, matched) =>
      runDelete(desc, pred, matched, returning = false)

    case Analyzer.BoundReturning(BoundDelete(desc, pred, matched), proj) =>
      applyReturning(runDelete(desc, pred, matched, returning = true), proj)

    case Analyzer.BoundReturning(u: BoundUpdate, proj) =>
      applyReturning(runUpdate(u, returning = true), proj)

    // INSERT … RETURNING: the inserted rows as written (generated
    // columns materialized) as the result
    case Analyzer.BoundReturning(BoundInsert(desc, rows), proj) =>
      applyReturning(Rows(insertValues(desc, rows)), proj)

    case Analyzer.BoundReturning(bis: BoundInsertSelect, proj) =>
      applyReturning(runInsertSelect(bis, returning = true), proj)

    // INSERT … ON CONFLICT … RETURNING: snapshot the pre-existing
    // conflict keys, run the merge, then read the affected set back as
    // post-merge rows whose conflict-key tuple appears in the VALUES
    // source — inserted + updated for DO UPDATE; DO NOTHING anti-joins
    // the untouched pre-existing conflicts away, leaving the inserted
    // rows only. Null-safe key equality throughout (a NULL conflict key
    // never matches, so its row always inserts — and is returned).
    case ur: Analyzer.BoundUpsertReturning =>
      import org.apache.spark.sql.functions.{broadcast, col}
      val kN = ur.conflictCols.indices.map(i => s"__urk$i")
      val keysDf = lowerQuery(ur.src)
        .select(ur.conflictCols.zipWithIndex.map { case (c, i) =>
          col(c).as(kN(i)) }: _*)
        .distinct().localCheckpoint()
      def keyCond(df: DataFrame, keys: DataFrame,
          names: Seq[String]): org.apache.spark.sql.Column =
        ur.conflictCols.zipWithIndex.map { case (c, i) =>
          df(c) <=> keys(names(i)) }.reduce(_ && _)
      val preKeys =
        if (!ur.doNothing) None
        else {
          val pre = readTable(ur.desc)
          Some(pre.join(broadcast(keysDf), keyCond(pre, keysDf, kN), "left_semi")
            .select(ur.conflictCols.zipWithIndex.map { case (c, i) =>
              col(c).as(s"__prk$i") }: _*)
            .distinct().localCheckpoint())
        }
      execute(ur.merge) match {
        case Done(_) =>
          val post = readTable(ur.desc)
          val aff0 = post.join(broadcast(keysDf),
            keyCond(post, keysDf, kN), "left_semi")
          val aff = preKeys match {
            case None => aff0
            case Some(pk) => aff0.join(broadcast(pk),
              ur.conflictCols.zipWithIndex.map { case (c, i) =>
                aff0(c) <=> pk(s"__prk$i") }.reduce(_ && _), "left_anti")
          }
          applyReturning(Rows(aff.localCheckpoint()), ur.proj)
        case other => other
      }

    case BoundDrop(name, None) =>
      Done(s"table '$name' does not exist, skipped")

    case BoundDrop(name, Some(desc)) =>
      // metadata first (session-catalog entry for bucketed tables), then
      // catalog + statistics, then the data files
      if (desc.bucket.isDefined)
        spark.sql(s"DROP TABLE IF EXISTS ${catName(name)}")
      tables.remove(name)
      tempTables -= name
      statistics.dropTable(name)
      scans.remove(name)
      FileUtils.deleteDirectory(new java.io.File(dataPath(name)))
      saveCatalog()
      Done(s"dropped table '$name'")

    case u: BoundUpdate => runUpdate(u, returning = false)

    case other0 => executeTail(other0)
  }

  /** A RETURNING column list projects the affected frame through the
    * pre-analyzed synthetic select (row-level, so the lowering is one
    * narrow projection over the already-materialized rows).
    */
  private def applyReturning(r: QueryResult,
      proj: Option[Analyzer.BoundSelect]): QueryResult = (r, proj) match {
    case (Rows(df), Some(bs)) =>
      val src: Analyzer.BoundTable => DataFrame = _ => df
      Rows(lowerScoped(bs, src))
    case _ => r
  }

  /** The pre-image a subquery-bearing DML statement matches against:
    * `df` with a row id `__lkrid`, checkpointed (the checkpoint pins the
    * nondeterministic id assignment, and subqueries see the pre-statement
    * image), and the source its row-id match select lowers over — the
    * target's row-id'd binding reads the image, every other table its
    * files.
    */
  private def rowIdImage(df: DataFrame)
      : (DataFrame, Analyzer.BoundTable => DataFrame) = {
    val withId = df.withColumn("__lkrid",
      org.apache.spark.sql.functions.monotonically_increasing_id()).localCheckpoint()
    (withId, bt =>
      if (bt.desc.attr("__lkrid").isDefined) withId else readTable(bt.desc))
  }

  /** DELETE, optionally RETURNING the removed rows' pre-image
    * (materialized via localCheckpoint BEFORE the rewrite overwrites
    * the files).
    */
  private def runDelete(desc: TableDesc, pred: Option[Analyzer.BoundExpr],
      matched: Option[Analyzer.BoundSelect],
      returning: Boolean): QueryResult = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val df = readTable(desc)
    val before = statistics.get(desc.name).map(_.rowCount).getOrElse(df.count())
    // kept = the complement of the delete set; for RETURNING the delete
    // set itself also materializes (pre-rewrite image)
    val (kept, deleted) = (pred, matched) match {
      case (None, None) => (df.limit(0), df)
      // keep rows where the predicate is NOT TRUE — a NULL predicate
      // must keep the row (SQL 3VL), so coalesce before negating
      case (Some(p), _) =>
        val c = Lowering.lowerExprBare(p)
        (df.filter(!coalesce(c, lit(false))), df.filter(coalesce(c, lit(false))))
      // subquery WHERE: run the full WHERE through the SELECT
      // machinery over the row-id'd image to a matched-row-id set and
      // anti-join back. Row multiplicity is exact (ids are unique) and
      // the anti join is a distributed hash join on a long key.
      case (None, Some(ms)) =>
        val (withId, src) = rowIdImage(df)
        val rids = lowerScoped(ms, src)
          .withColumnRenamed("__lkrid", "__delrid")
        (withId.join(rids, col("__lkrid") === col("__delrid"), "left_anti")
          .drop("__lkrid"),
         withId.join(rids, col("__lkrid") === col("__delrid"), "left_semi")
          .drop("__lkrid"))
    }
    val returned = if (returning) Some(deleted.localCheckpoint()) else None
    val keptN = rewriteTable(desc, kept)
    returned match {
      case Some(r) => Rows(r)
      case None    => Done(s"deleted ${before - keptN} row(s) from ${desc.name}")
    }
  }

  private def runUpdate(bu: BoundUpdate, returning: Boolean): QueryResult = {
      val BoundUpdate(desc, sets, pred, matchedSel, subSets) = bu
      import org.apache.spark.sql.functions.{coalesce, col, lit, sum, when}
      // a subquery anywhere (WHERE or a SET value) needs the row-id'd
      // pre-update image; both consumers share ONE checkpointed frame
      val needRid = matchedSel.isDefined || subSets.nonEmpty
      val base = readTable(desc)
      val (withId, src) =
        if (needRid) rowIdImage(base)
        else (base, (bt: Analyzer.BoundTable) => readTable(bt.desc))
      // subquery WHERE: the same row-id rewrite as DELETE — the matched
      // id set left-joins back as a boolean condition column
      val (df0, cond, helperCols0) = matchedSel match {
        case None =>
          (withId, pred.map(Lowering.lowerExprBare).getOrElse(lit(true)),
            if (needRid) Seq("__lkrid") else Seq.empty[String])
        case Some(ms) =>
          val rids = lowerScoped(ms, src)
            .withColumnRenamed("__lkrid", "__updrid").withColumn("__upd", lit(true))
          val joined = withId.join(rids,
            col("__lkrid") === col("__updrid"), "left_outer")
          (joined, coalesce(col("__upd"), lit(false)),
            Seq("__lkrid", "__updrid", "__upd"))
      }
      // SET x = <operand with a subquery>: each value select computes (__lkrid, __sv)
      // over the pre-update image — uncorrelated forms broadcast one
      // guarded row, correlated aggregates join per key — and the value
      // joins back on the row id
      var df = df0
      val helperCols = Seq.newBuilder[String]
      helperCols ++= helperCols0
      val subVals: Seq[(AttributeDesc, org.apache.spark.sql.Column)] =
        subSets.zipWithIndex.map { case ((attr, vs), i) =>
          val vdf = lowerScoped(vs, src)
            .withColumnRenamed("__lkrid", s"__svrid_$i")
            .withColumnRenamed("__sv", s"__sv_$i")
          df = df.join(vdf, col("__lkrid") === col(s"__svrid_$i"), "left_outer")
          helperCols ++= Seq(s"__svrid_$i", s"__sv_$i")
          (attr, col(s"__sv_$i"))
        }
      // all SET values evaluate against the PRE-update row (SQL rule:
      // SET a = b, b = a swaps), so every when() reads the original
      // columns, and the withColumns apply in one batch
      def applySets(frame: DataFrame): DataFrame =
        frame.withColumns((sets.map { case (attr, v) =>
          attr.name -> when(cond, Lowering.lowerOperandBare(v).cast(attr.sqlType.spark))
            .otherwise(org.apache.spark.sql.functions.col(attr.name))
        } ++ subVals.map { case (attr, vcol) =>
          attr.name -> when(cond, vcol.cast(attr.sqlType.spark))
            .otherwise(org.apache.spark.sql.functions.col(attr.name))
        }).toMap).drop(helperCols.result(): _*)
      // RETURNING: the updated rows' post-image, materialized from the
      // PRE-rewrite files (localCheckpoint) before the rewrite runs —
      // computed off the un-observed frame so the metric stays exact
      val returned =
        if (returning) Some(applySets(df.filter(cond)).localCheckpoint())
        else None
      // matched-row count rides the rewrite pass as an observed metric —
      // no separate count() job over the table
      val obs = new org.apache.spark.sql.Observation()
      val observed = df.observe(obs,
        coalesce(sum(when(cond, 1L).otherwise(0L)), lit(0L)).as("matched"))
      rewriteTable(desc, applySets(observed))
      val matched = obs.get("matched").asInstanceOf[Long]
      returned match {
        case Some(r) => Rows(r)
        case None    => Done(s"updated $matched row(s) in ${desc.name}")
      }
  }

  private def executeTail(q: Analyzer.BoundQuery): QueryResult = q match {
    case BoundMerge(desc, matchedSel, insertSel, plans) =>
      import org.apache.spark.sql.functions.{coalesce, col, lit, sum, when}
      import Analyzer.MergePlan._
      val (withId, src) = rowIdImage(readTable(desc))
      val m = lowerScoped(matchedSel, src)
      // SQL standard: more than one source row matching one target row
      // is an error — one bounded probe over the join's key multiset
      val dup = m.filter(col("__msrc").isNotNull)
        .groupBy(col("__lkrid")).agg(sum(lit(1L)).as("__n"))
        .filter(col("__n") > 1L).limit(1).count()
      if (dup > 0) throw new IllegalStateException(
        "MERGE: a target row matched more than one source row")
      val matched = col("__msrc").isNotNull
      val mPlans = plans.filter(!_.isInstanceOf[MPInsert])
      // first-match-wins: the clause index is the first WHEN whose
      // condition holds on a matched row, -1 otherwise
      val clauseIdx: org.apache.spark.sql.Column =
        mPlans.foldLeft(Option.empty[org.apache.spark.sql.Column]) { (acc, p) =>
          // NOT MATCHED BY SOURCE clauses fire on the complement rows
          val gate = p match {
            case MPUpdate(_, _, true) | MPDelete(_, true) => !matched
            case _                                        => matched
          }
          val active = gate && col(s"__mcnd_${p.idx}") === 1L
          Some(acc.fold(when(active, lit(p.idx)))(_.when(active, lit(p.idx))))
        }.map(_.otherwise(lit(-1))).getOrElse(lit(-1))
      val obs = new org.apache.spark.sql.Observation()
      val m2 = m.withColumn("__mclause", clauseIdx).observe(obs,
        coalesce(sum(when(col("__mclause") >= 0, 1L).otherwise(0L)), lit(0L))
          .as("changed"))
      // SET values evaluate against the PRE-merge row (they were
      // computed as helper columns next to the original ones)
      val colUpdates: Map[String, org.apache.spark.sql.Column] =
        desc.attributes.flatMap { attr =>
          val hits = mPlans.collect {
            case MPUpdate(i, sets, _) if sets.exists(_.name.equalsIgnoreCase(attr.name)) =>
              (i, sets.indexWhere(_.name.equalsIgnoreCase(attr.name)))
          }
          if (hits.isEmpty) None
          else Some(attr.name -> hits.foldLeft(Option.empty[org.apache.spark.sql.Column]) {
            case (acc, (i, j)) =>
              val c = when(col("__mclause") === i,
                col(s"__mval_${i}_$j").cast(attr.sqlType.spark))
              Some(acc.fold(c)(_.when(col("__mclause") === i,
                col(s"__mval_${i}_$j").cast(attr.sqlType.spark))))
          }.get.otherwise(col(attr.name)))
        }.toMap
      val deleteFlag = mPlans.collect { case MPDelete(i, _) =>
        col("__mclause") === i }.reduceOption(_ || _).getOrElse(lit(false))
      val survivors = (if (colUpdates.isEmpty) m2 else m2.withColumns(colUpdates))
        .filter(!deleteFlag)
        .select(desc.attributes.map(a => col(a.name)): _*)
      // NOT MATCHED inserts: unmatched source rows take their first
      // holding insert clause; values cast to the target schema,
      // unlisted columns insert NULL
      val iPlans = plans.collect { case p: MPInsert => p }
      val obs2 = new org.apache.spark.sql.Observation()
      val image =
        if (iPlans.isEmpty || insertSel.isEmpty) survivors
        else {
          val ins0 = lowerScoped(insertSel.get, src)
          val notMatched = col("__mtgt").isNull
          val iIdx = iPlans.foldLeft(Option.empty[org.apache.spark.sql.Column]) {
            (acc, p) =>
              val active = notMatched && col(s"__icnd_${p.idx}") === 1L
              Some(acc.fold(when(active, lit(p.idx)))(_.when(active, lit(p.idx))))
          }.map(_.otherwise(lit(-1))).getOrElse(lit(-1))
          val rows = ins0.withColumn("__iclause", iIdx)
            .filter(col("__iclause") >= 0)
            .observe(obs2, coalesce(sum(lit(1L)), lit(0L)).as("inserted"))
          val insImage = rows.select(desc.attributes.map { attr =>
            iPlans.foldLeft(Option.empty[org.apache.spark.sql.Column]) { (acc, p) =>
              val k = p.cols.indexWhere(_.name.equalsIgnoreCase(attr.name))
              val v = if (k >= 0) col(s"__ival_${p.idx}_$k").cast(attr.sqlType.spark)
                      else lit(null).cast(attr.sqlType.spark)
              Some(acc.fold(when(col("__iclause") === p.idx, v))(
                _.when(col("__iclause") === p.idx, v)))
            }.get.as(attr.name)
          }: _*)
          survivors.unionByName(insImage)
        }
      rewriteTable(desc, image)
      val changed = obs.get("changed").asInstanceOf[Long]
      val inserted =
        if (iPlans.isEmpty || insertSel.isEmpty) 0L
        else obs2.get("inserted").asInstanceOf[Long]
      Done(s"merged ${desc.name}: $changed matched row(s) changed, " +
        s"$inserted row(s) inserted")
  }

  /** Copy-on-write swap: write the new image to a tmp dir, then replace
    * the table dir; statistics rebuild from the new image (distributed).
    * Returns the new row count.
    */
  /** Runtime NOT NULL enforcement for frame writes (INSERT … SELECT,
    * COPY FROM, UPDATE/MERGE rewrites): each non-nullable column wraps
    * in a raise-on-NULL — codegen'd inside the write's own pass, zero
    * extra jobs. Literal INSERT rows are checked at analysis instead.
    */
  /** Generated-column materialization: every write recomputes each
    * generated column from the row's non-generated columns (read-
    * equivalent to VIRTUAL; UPDATE/MERGE rewrites pick up dependent
    * changes automatically). Codegen'd in the write's own pass.
    */
  private def materializeGenerated(df: DataFrame, desc: TableDesc): DataFrame =
    if (desc.attributes.forall(_.generated.isEmpty)) df
    else {
      import org.apache.spark.sql.functions.col
      df.select(desc.attributes.map { a =>
        a.generated match {
          case None => col(a.name)
          case Some(gen) =>
            val bound = Analyzer.bindGenerator(desc, gen).fold(
              e => throw new IllegalStateException(
                s"stored generator no longer binds (${e.msg}) — " +
                  "an ALTER may have invalidated it"),
              identity)
            Lowering.lowerOperandBare(bound).cast(a.sqlType.spark).as(a.name)
        }
      }: _*)
    }

  private def enforceNotNull(df: DataFrame, desc: TableDesc): DataFrame = {
    val df0 = materializeGenerated(df, desc)
    val base =
      if (desc.attributes.forall(_.nullable)) df0
      else {
        import org.apache.spark.sql.functions.{col, lit, raise_error, when}
        df0.select(desc.attributes.map { a =>
          if (a.nullable) col(a.name)
          else when(col(a.name).isNull, raise_error(lit(
            s"NOT NULL constraint failed: ${desc.name}.${a.name}")))
            .otherwise(col(a.name)).as(a.name)
        }: _*)
      }
    enforceChecks(base, desc)
  }

  /** CHECK enforcement: each stored constraint re-binds against the
    * schema and wraps the FIRST written column in a raise-on-violation
    * (a NULL check result PASSES — SQL standard; the wrap rides a
    * column that is definitely written, so Catalyst cannot prune the
    * evaluation away). Codegen'd inside the write's own pass.
    */
  private def enforceChecks(df: DataFrame, desc: TableDesc): DataFrame =
    if (desc.checks.isEmpty) df
    else {
      import org.apache.spark.sql.functions.{coalesce, col, lit, not,
        raise_error, when}
      val guards = desc.checks.map { chk =>
        val bound = Analyzer.bindCheck(desc, chk).fold(
          e => throw new IllegalStateException(
            s"stored CHECK no longer binds (${e.msg}) — " +
              "an ALTER may have invalidated it"),
          identity)
        (chk, Lowering.lowerExprBare(bound))
      }
      val first = desc.attributes.head
      val wrapped = guards.foldLeft(col(first.name)) { case (c, (chk, g)) =>
        when(not(coalesce(g, lit(true))), raise_error(lit(
          s"CHECK constraint failed: ${desc.name} CHECK ($chk)")))
          .otherwise(c)
      }
      df.select((wrapped.as(first.name)) +:
        desc.attributes.tail.map(a => col(a.name)): _*)
    }

  private def rewriteTable(desc: TableDesc, img0: DataFrame): Long = {
    val img = enforceNotNull(img0, desc)
    val dir = dataPath(desc.name)
    val tmp = s"$dir.tmp"
    desc.bucket match {
      case Some(_) =>
        // bucketed rewrite: route through a throwaway catalog table over
        // the tmp dir so the new image is written hash-bucketed (a plain
        // parquet write would silently drop the bucket layout), then drop
        // only its metadata (LOCATION tables are external — files stay)
        val tmpCat = s"${catName(desc.name)}_tmp"
        spark.sql(s"DROP TABLE IF EXISTS $tmpCat")
        spark.sql(bucketDdl(tmpCat, desc, tmp))
        img.write.mode("append").insertInto(tmpCat)
        spark.sql(s"DROP TABLE IF EXISTS $tmpCat")
      case None =>
        // File-count control (small-files guard): the rewrite image is
        // often a UNION of map-side branches with no final shuffle, so
        // AQE's partition coalescing never sees it and a 100-row table
        // rewrite wrote ~96 near-empty files — which every subsequent
        // readTable then paid as ~96 scan tasks. Target file count from
        // the pre-rewrite row count (~4M rows ≈ hundreds of MB per file);
        // coalesce never increases partitioning, so large images keep
        // their parallelism and only the tiny-table case collapses.
        // The pre-rewrite count can UNDERSTATE a growing image (a MERGE
        // inserting millions into a tiny table): that rewrite writes one
        // oversized file once, and the NEXT rewrite re-targets from the
        // post-rewrite count markStale recorded — self-correcting
        // without an extra pre-write count job. When prior stats are
        // absent entirely (no markStale/rebuild ever ran), skip the
        // coalesce rather than collapse an unknown-size image to one
        // task (ADVICE r15).
        statistics.get(desc.name).map(_.rowCount) match {
          case Some(prevRows) =>
            val targetFiles = math.max(1L, prevRows / 4000000L + 1L).toInt
            img.coalesce(targetFiles).write.mode("overwrite").parquet(tmp)
          case None =>
            img.write.mode("overwrite").parquet(tmp)
        }
    }
    val dirP = Paths.get(dir)
    FileUtils.deleteDirectory(dirP.toFile)
    Files.move(Paths.get(tmp), dirP)
    if (desc.bucket.isDefined) spark.sql(s"REFRESH TABLE ${catName(desc.name)}")
    val fresh = readTable(desc)
    // lazy stats: the rewrite keeps an exact row count; sketches/sample
    // rebuild on first estimator use (2-3 Spark jobs saved per DML)
    statistics.markStale(desc, fresh)
  }

  /** Statistics-driven planning (the reference's sample-based cardinality
    * estimation, planner/bottomup.rs:111-168): for a multi-table SELECT,
    * make sure every FROM table has statistics (ensureStats), then
    * estimate each table's post-selection cardinality by running its
    * pushed-down conjuncts against the driver-resident sample — with
    * fresh statistics this fires no Spark job.
    */
  private def estimateBindings(s: BoundSelect): Seq[(String, Long)] = {
    // derived tables have no maintained statistics (their cardinality is
    // the subquery's, unknown without running it) — leave join order and
    // build sides to Catalyst/AQE for those queries
    if (s.tables.length < 2 || s.derived.nonEmpty) return Nil
    s.tables.foreach(bt => ensureStats(bt.desc))
    val perTable: Map[String, Seq[Analyzer.BoundExpr]] =
      s.predicate.map(BoundExpr.conjuncts).getOrElse(Nil)
        .flatMap(c => Lowering.singleBinding(c).map(_ -> c))
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    s.tables.map { bt =>
      val conjs = perTable.getOrElse(bt.binding, Nil)
      val pred =
        if (conjs.isEmpty) None
        else Some(conjs.map(Lowering.lowerExprBare).reduce(_ && _))
      val sampleEst = statistics.estimateCard(bt.desc, pred)
      // bucketed table + point equality on the bucket column: refine with
      // the bucket-local estimate rows(bucket)/ndv(bucket) — the bucket
      // the scan prunes to — which sees local skew the 1024-row global
      // sample cannot (its zero-hit floor is rows/2048)
      val bucketEst = bt.desc.bucket.flatMap { case (bcol, _) =>
        conjs.collectFirst {
          case BoundExpr.BCmp(Ast.CmpOp.Eq, BoundOperand.BCol(c), BoundOperand.BLit(l))
              if c.attr.name.equalsIgnoreCase(bcol) && l != Lit.LitNull => l
          case BoundExpr.BCmp(Ast.CmpOp.Eq, BoundOperand.BLit(l), BoundOperand.BCol(c))
              if c.attr.name.equalsIgnoreCase(bcol) && l != Lit.LitNull => l
        }.flatMap { l =>
          Convert(l, bt.desc.attr(bcol).get.sqlType).toOption
            .flatMap(v => statistics.estimateBucketPoint(bt.desc, v))
        }
      }
      bt.binding -> bucketEst.fold(sampleEst)(b => math.min(sampleEst, b))
    }
  }

  /** Build-side choice from the estimates (the reference picks hash-join
    * build sides the same way, optimizer/optimizer.rs:177-180): every
    * table except the largest gets a broadcast hint when its estimate is
    * below the threshold.
    */
  private def chooseBroadcastSides(ests: Seq[(String, Long)]): Set[String] = {
    if (ests.length < 2) return Set.empty
    val largest = ests.maxBy(_._2)._1
    ests.filter { case (b, est) => b != largest && est <= BroadcastRowThreshold }
      .map(_._1).toSet
  }

  /** Join-ORDER choice — DPccp parity with the reference's optimizer
    * (optimizer/optimizer.rs:60-104): exact DP over the join graph using
    * the sample-based per-table estimates and HLL-sketch NDVs for
    * equi-join selectivities (1 / max NDV). The chosen tree is emitted as
    * an explicit join tree, which Catalyst preserves. Exposed for tests
    * via `lastJoinOrder` (binding names in left-to-right leaf order).
    */
  @volatile var lastJoinOrder: Option[Seq[String]] = None

  private def planJoinOrder(s: BoundSelect,
      ests: Seq[(String, Long)]): Option[JoinOrder.Tree] = {
    if (ests.length < 2) { lastJoinOrder = None; return None }
    val cards = ests.map(_._2.toDouble).toArray
    val idx = s.tables.map(_.binding).zipWithIndex.toMap
    def ndvOf(bc: BoundCol): Long = {
      val t = s.tables.find(_.binding == bc.binding).get
      val st = statistics.get(t.desc.name)
      st.flatMap(_.ndv(bc.attr.name))
        .getOrElse(st.map(x => math.max(x.rowCount, 1L)).getOrElse(1L))
    }
    val edges = s.predicate.map(BoundExpr.conjuncts).getOrElse(Nil).flatMap {
      // only edges inside the inner-join group: a conjunct touching an
      // outer-joined (or correlated) binding is not DP-reorderable
      case BoundExpr.BCmp(Ast.CmpOp.Eq, BoundOperand.BCol(a), BoundOperand.BCol(b))
          if a.binding != b.binding && idx.contains(a.binding) && idx.contains(b.binding) =>
        // selectivity from joining the two bottom-k samples (sees real key
        // overlap/skew); 1/max(NDV) only when a sample is missing (e.g.
        // injected test stats)
        val da = s.tables.find(_.binding == a.binding).get.desc
        val dbb = s.tables.find(_.binding == b.binding).get.desc
        val sel = statistics.estimateJoinSel(da, a.attr.name, dbb, b.attr.name)
          .getOrElse(1.0 / math.max(1L, math.max(ndvOf(a), ndvOf(b))).toDouble)
        Some(JoinOrder.Edge(idx(a.binding), idx(b.binding), sel))
      case _ => None
    }
    val tree = JoinOrder.plan(s.tables.length, i => cards(i), edges)
    lastJoinOrder = tree.map(t =>
      JoinOrder.leafOrder(t).map(i => s.tables(i).binding))
    tree
  }

  // ---- catalog persistence: one document, warehouse.json ----

  private def catalogPath = Paths.get(s"$warehouse/warehouse.json")
  // lazy: the constructor's loadCatalog call runs before this line would
  private lazy val catalogJson = new ObjectMapper()

  /** DEFAULT literals as (kind, text) pairs. */
  private def litKV(l: Lit): (String, String) = l match {
    case Lit.LitLong(v)        => ("long", v.toString)
    case Lit.LitDouble(v)      => ("double", v.toString)
    case Lit.LitString(s)      => ("string", s)
    case Lit.LitDate(s)        => ("date", s)
    case Lit.LitTimestamp(s)   => ("timestamp", s)
    case Lit.LitTime(s)        => ("time", s)
    case Lit.LitTimestampTz(s) => ("timestamptz", s)
    case Lit.LitBool(v)        => ("bool", v.toString)
    case Lit.LitNull           => ("null", "")
  }
  private def litOfKV(k: String, v: String): Lit = k match {
    case "long"        => Lit.LitLong(v.toLong)
    case "double"      => Lit.LitDouble(v.toDouble)
    case "string"      => Lit.LitString(v)
    case "date"        => Lit.LitDate(v)
    case "timestamp"   => Lit.LitTimestamp(v)
    case "time"        => Lit.LitTime(v)
    case "timestamptz" => Lit.LitTimestampTz(v)
    case "bool"        => Lit.LitBool(v.toBoolean)
    case "null"        => Lit.LitNull
    case other => throw new IllegalArgumentException(s"unknown DEFAULT kind '$other'")
  }

  /** Write the whole catalog — every mutation calls this — to a temp
    * file moved into place, so an interrupted write leaves the previous
    * document intact. Column types are `SqlType.render` text; views and
    * materialized views are their statements, replayed at open.
    * Temporary, external and attached tables are left out.
    */
  private def saveCatalog(): Unit = {
    val doc = catalogJson.createObjectNode()
    val schemaArr = doc.putArray("schemas")
    schemas.toSeq.sorted.foreach(n => schemaArr.add(n))
    val typeArr = doc.putArray("types")
    namedTypes.foreach { case (n, e) =>
      val vs = typeArr.addObject().put("name", n).putArray("values")
      e.values.foreach(v => vs.add(v))
    }
    val tableArr = doc.putArray("tables")
    tables.values.filterNot(t => external.contains(t.name) ||
        tempTables.contains(t.name)).foreach { t =>
      val o = tableArr.addObject().put("name", t.name)
      val cols = o.putArray("columns")
      t.attributes.foreach { a =>
        val c = cols.addObject().put("name", a.name)
          .put("type", a.sqlType.render).put("nullable", a.nullable)
        a.default.map(litKV).foreach { case (k, v) =>
          c.putObject("default").put("kind", k).put("value", v) }
        a.generated.foreach(g => c.put("generated", g))
      }
      t.bucket.foreach { case (col, n) =>
        o.putObject("bucket").put("column", col).put("buckets", n) }
      val checkArr = o.putArray("checks")
      t.checks.foreach(c => checkArr.add(c))
    }
    val viewArr = doc.putArray("views")
    viewSql.values.foreach(v => viewArr.add(v))
    val matviewArr = doc.putArray("matviews")
    matviewSql.values.foreach(v => matviewArr.add(v))
    val macroArr = doc.putArray("macros")
    macros.foreach { case (n, m) =>
      val ps = macroArr.addObject().put("name", n).put("table", m.table)
        .put("body", m.body).putArray("params")
      m.params.foreach { case (pn, d) =>
        val po = ps.addObject().put("name", pn)
        d.foreach(x => po.put("default", x))
      }
    }
    val seqArr = doc.putArray("sequences")
    sequences.foreach { case (n, q) =>
      val o = seqArr.addObject().put("name", n).put("start", q.start)
        .put("increment", q.inc).put("min", q.minv).put("max", q.maxv)
        .put("cycle", q.cycle)
      q.current.foreach(c => o.put("current", c))
    }
    val tmp = Paths.get(s"$catalogPath.tmp")
    catalogJson.writerWithDefaultPrettyPrinter().writeValue(tmp.toFile, doc)
    Files.move(tmp, catalogPath, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Read the catalog document at open. An entry that does not decode
    * fails the open, naming the file and the entry. A warehouse holding
    * only the per-kind catalog files of earlier versions fails naming
    * them: no reader for those formats is kept.
    */
  private def loadCatalog(): Unit = {
    if (!Files.exists(catalogPath)) {
      val legacy = Seq("catalog.json", "types.json", "schemas.txt",
        "macros.json", "sequences.json", "views.json", "matviews.json")
        .filter(f => Files.exists(Paths.get(s"$warehouse/$f")))
      if (legacy.nonEmpty) throw new IllegalStateException(
        s"warehouse '$warehouse' holds catalog files of an earlier format " +
          s"(${legacy.mkString(", ")}) and no $catalogPath; only the one " +
          "catalog document is read")
      return
    }
    def fail(what: String, e: Throwable): Nothing =
      throw new IllegalStateException(
        s"cannot open catalog $catalogPath: $what: ${e.getMessage}", e)
    def field(o: JsonNode, k: String, ok: JsonNode => Boolean,
        kind: String): JsonNode = {
      val v = o.get(k)
      require(v != null && ok(v), s"field '$k' is missing or not $kind")
      v
    }
    def str(v: JsonNode): String = {
      require(v.isTextual, s"$v is not a string")
      v.textValue
    }
    def text(o: JsonNode, k: String) = field(o, k, _.isTextual, "a string").textValue
    def optText(o: JsonNode, k: String) = Option(o.get(k)).map(_ => text(o, k))
    def long(o: JsonNode, k: String) = field(o, k,
      v => v.isIntegralNumber && v.canConvertToLong, "an integer").longValue
    def bool(o: JsonNode, k: String) = field(o, k, _.isBoolean, "a boolean").booleanValue
    def items(o: JsonNode, k: String): Seq[JsonNode] =
      field(o, k, _.isArray, "an array").asScala.toSeq
    val doc =
      try catalogJson.readTree(catalogPath.toFile)
      catch { case NonFatal(e) => fail("not a JSON document", e) }
    def each(k: String)(decode: JsonNode => Unit): Unit = {
      val entries =
        try items(doc, k) catch { case NonFatal(e) => fail(s"section '$k'", e) }
      entries.zipWithIndex.foreach { case (e, i) =>
        val label = Option(if (e.isTextual) e else e.get("name"))
          .filter(_.isTextual).map(n => s" '${n.textValue.take(60)}'").getOrElse("")
        try decode(e) catch { case NonFatal(x) => fail(s"$k[$i]$label", x) }
      }
    }
    def replayed(stmt: String): ParseTree = Parser.parse(stmt) match {
      case Right(Ast.CreateModeTree(inner, _, _)) => inner // the plain create
      case Right(t) => t
      case Left(err) => throw new IllegalArgumentException(err.toString)
    }
    each("schemas")(e => schemas += str(e))
    each("types")(e => namedTypes(text(e, "name")) =
      SqlType.SqlEnum(items(e, "values").map(str).toVector))
    each("macros")(e => macros(text(e, "name")) = Parser.MacroDef(
      items(e, "params").map(p => text(p, "name") -> optText(p, "default")).toVector,
      text(e, "body"), bool(e, "table")))
    each("tables") { e =>
      val name = text(e, "name")
      val attrs = items(e, "columns").map { c =>
        val tpe = text(c, "type")
        AttributeDesc(text(c, "name"), Parser.parseTypeText(tpe).fold(err =>
          throw new IllegalArgumentException(
            s"column '${text(c, "name")}' type '$tpe': ${err.msg}"), identity),
          bool(c, "nullable"),
          Option(c.get("default")).map(d => litOfKV(text(d, "kind"), text(d, "value"))),
          optText(c, "generated"))
      }
      // a bucketed table's session-catalog entry re-registers lazily on
      // first read
      tables(name) = TableDesc(name, attrs,
        Option(e.get("bucket")).map(b =>
          (text(b, "column"), long(b, "buckets").toInt)),
        items(e, "checks").map(str))
    }
    // view bodies may name CREATE TYPE types; a stale thread-local from
    // another database on this thread must not resolve them instead
    Parser.setNamedTypes(namedTypes.toMap)
    each("views")(e => replayed(str(e)) match {
      case Ast.CreateViewTree(name, body) =>
        // replay in creation order; earlier views substitute into
        // later. A schema-qualified view also resolves its schema's
        // views by BARE name (its creation search path).
        val s = if (name.contains('.'))
          name.substring(0, name.indexOf('.')) else "main"
        val extra =
          if (s == "main") Map.empty[String, ParseTree]
          else views.collect {
            case (k, v) if k.startsWith(s + ".") =>
              k.stripPrefix(s + ".") -> pinViewBody(k, v)
          }.toMap
        views(name) = Parser.substituteViews(body, viewsForResolve ++ extra)
        viewSql(name) = str(e)
      case _ => throw new IllegalArgumentException("not a CREATE VIEW statement")
    })
    // materialized views reload their definitions only — the data is on
    // disk under the table entry the original CTAS wrote
    each("matviews")(e => replayed(str(e)) match {
      case Ast.CreateMatViewTree(name, body, _) =>
        matviews(name) = Parser.substituteViews(body, viewsForResolve)
        matviewSql(name) = str(e)
      case _ => throw new IllegalArgumentException(
        "not a CREATE MATERIALIZED VIEW statement")
    })
    each("sequences")(e => sequences(text(e, "name")) = SeqState(
      long(e, "start"), long(e, "increment"), long(e, "min"), long(e, "max"),
      bool(e, "cycle"), Option(e.get("current")).map(_ => long(e, "current"))))
  }
}

/** Interactive REPL — the analogue of the reference's rustyline shell
  * (reference main.rs:50-74). `show()` is the Print operator (#5 in
  * SURVEY.md §2.1): formatted table with headers.
  */
object Repl {
  def main(args: Array[String]): Unit = {
    val warehouse = args.headOption.getOrElse(
      Files.createTempDirectory("graft-warehouse").toString)
    // SPARK_MASTER points the shell at another deployment
    val spark = graft.LocalSession("4", "ERROR",
      sys.env.get("SPARK_MASTER").map("spark.master" -> _).toSeq)
    val db = new GraftDatabase(spark, warehouse)
    println(s"graft SQL repl — warehouse: $warehouse (exit with \\q)")
    Iterator.continually(scala.io.StdIn.readLine("graft> "))
      .takeWhile(l => l != null && l.trim != "\\q")
      .filter(_.trim.nonEmpty)
      .foreach(step(db, _))
    spark.stop()
  }

  /** Run one statement and print its result, or `error: <message>` when
    * it is rejected or throws: a failing statement never ends the shell.
    */
  def step(db: GraftDatabase, line: String): Unit =
    try db.query(line) match {
      case Left(err)           => println(s"error: ${err.msg}")
      case Right(db.Done(msg)) => println(msg)
      case Right(db.Rows(df))  => df.show(100, truncate = false)
    } catch { case NonFatal(e) => println(s"error: ${e.getMessage}") }
}
