package graft.sql

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.Base64
import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnsafeRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{StructField, StructType}

import graft.stats.CountingHll
import Analyzer._

/** Online table statistics, mirroring the reference's statistics subsystem
  * (SURVEY.md §4.3): per-column counting-HLL NDV sketches and a
  * deterministic bottom-k sample per table, both maintained on every
  * INSERT (reference access/heap.rs:245-292). The planner estimates
  * cardinalities and join selectivities from the sample (reference
  * planner/bottomup.rs:111-168) and picks join order and build sides from
  * them (reference optimizer/optimizer.rs:60-104, 177-180).
  *
  * The sample is resident: ≤ SampleSize UnsafeRows per table, held by the
  * driver like the reference's in-memory reservoir. Each estimate
  * (predicate hit fraction, sample-join selectivity, bucket id) resolves
  * its expression once with the session's analyzer and evaluates it
  * interpreted over those rows, so planning with fresh statistics runs no
  * Spark job. INSERTs merge their batch in-process; a full rebuild makes
  * one distributed top-k pass and collects it. initTable/rebuild replace
  * and dropTable removes a table's sample — nothing else is cached.
  *
  * One key on both paths: md5 of the row's string image, columns joined by
  * U+0001 and NULL as U+0000 (bottom-k of a union = bottom-k of bottom-k's).
  * It replaces the reference's AES-CTR skip-list reservoir: equally
  * uniform, but deterministic and mergeable.
  *
  * Persistence, outside data/: stats.json (row counts, base64 sketches,
  * stale flags), bucketstats.json and one sidecar per table,
  * samples/<table>.rows — [field count][row count], then [length][UnsafeRow
  * bytes] per row, which covers every SqlType. A non-empty table without a
  * sidecar (a warehouse that kept _samples/<table> parquet) reopens stale;
  * its first estimator use rebuilds it.
  *
  * A stale table holds no sample: markStale drops it (the rewrite may have
  * changed the columns), INSERTs skip the merge, and ensureFresh rebuilds
  * it before any read. Resident rows therefore always have the layout of
  * the table's current descriptor.
  */
final class StatsManager(spark: SparkSession, warehouse: String) {

  val SampleSize = 1024 // reference SAMPLE_SIZE (catalog/mod.rs:37)

  final case class TableStats(
      rowCount: Long,
      sketches: Map[String, CountingHll.Sketch],
      ndvOverride: Map[String, Long] = Map.empty) {
    def ndv(column: String): Option[Long] =
      ndvOverride.get(column.toLowerCase)
        .orElse(sketches.get(column.toLowerCase).map(CountingHll.estimate))
  }

  /** Per-bucket statistics for CLUSTERED BY tables: bucket → (rowcount,
    * bucket-column sketch). Lets a point predicate on the bucket column
    * estimate rows(bucket)/ndv(bucket) — the bucket the scan will prune
    * to — instead of the sample floor (TODO round-3 item: bucket-local
    * sketches for pruning-aware NDV).
    */
  final case class BucketStats(rows: Map[Int, Long],
      sketches: Map[Int, CountingHll.Sketch]) {
    def ndv(bucket: Int): Option[Long] =
      sketches.get(bucket).map(CountingHll.estimate)
  }

  private val stats = mutable.Map.empty[String, TableStats]
  private val bstats = mutable.Map.empty[String, BucketStats]
  // table → its bottom-k sample rows (≤ SampleSize, table column order):
  // the only per-table row state the driver keeps (sidecar-persisted)
  private val samples = mutable.Map.empty[String, IndexedSeq[UnsafeRow]]
  // Tables whose sketches/sample predate the last copy-on-write rewrite:
  // the row count is exact, the estimation artifacts are deferred until
  // an estimator needs them (ensureFresh). Persisted, so a reopened
  // warehouse doesn't trust pre-rewrite sketches as fresh.
  private val staleTables = mutable.Set.empty[String]
  // descriptor at markStale time, so name-keyed readers (bucketStats) can
  // run the deferred rebuild too
  private val staleDescs = mutable.Map.empty[String, TableDesc]
  /** Wired by the owning database: how to read a table's current image
    * for a deferred (ensureFresh) rebuild.
    */
  @volatile var tableReader: TableDesc => DataFrame = null
  load()

  def get(table: String): Option[TableStats] = stats.get(table.toLowerCase)

  def isStale(table: String): Boolean = staleTables.contains(table.toLowerCase)

  /** Lazy replacement for rebuild() after a copy-on-write rewrite: keep an
    * EXACT row count (DML notices and before/after affected-row diffs read
    * it) but DEFER the per-column sketch aggregate, the bottom-k sample
    * rewrite and the per-bucket stats — 2-3 Spark jobs per DML statement —
    * until an estimator actually needs them. DML-only statement sequences
    * (the common OLTP shape) never pay for estimation artifacts they never
    * read; the first multi-table SELECT after a rewrite pays once.
    * Returns the fresh row count.
    */
  def markStale(desc: TableDesc, df: DataFrame): Long = {
    val n = df.count()
    val prev = stats.getOrElse(desc.name, TableStats(0L, Map.empty))
    stats(desc.name) = TableStats(n, prev.sketches, prev.ndvOverride)
    staleTables += desc.name
    staleDescs(desc.name) = desc
    setSample(desc.name, None)
    save()
    n
  }

  /** Run the deferred rebuild if (and only if) the table is stale. */
  def ensureFresh(desc: TableDesc): Unit =
    if (staleTables.contains(desc.name)) {
      require(tableReader != null,
        "StatsManager.tableReader must be wired before estimator use")
      rebuild(desc, tableReader(desc))
    }

  def bucketStats(table: String): Option[BucketStats] = {
    val key = table.toLowerCase
    staleDescs.get(key) match {
      case Some(d) => ensureFresh(d)
      case None =>
        // after a warehouse reopen the stale FLAG is persisted but the
        // descriptor map is in-memory only: never serve possibly
        // pre-rewrite bucket stats for a table load() marked stale —
        // callers fall back conservatively on None (ADVICE r15)
        if (staleTables.contains(key)) return None
    }
    bstats.get(key)
  }

  /** ANALYZE-style external injection (tests / tuning): override a table's
    * cardinality and per-column NDVs without rescanning. Not persisted.
    */
  def injectStats(table: String, rowCount: Long, ndv: Map[String, Long] = Map.empty): Unit = {
    val prev = stats.getOrElse(table.toLowerCase, TableStats(0L, Map.empty))
    stats(table.toLowerCase) = TableStats(rowCount, prev.sketches,
      prev.ndvOverride ++ ndv.map { case (k, v) => k.toLowerCase -> v })
  }

  def initTable(desc: TableDesc): Unit = {
    stats(desc.name) = TableStats(0L,
      desc.attributes.map(a => a.name.toLowerCase -> CountingHll.emptySketch).toMap)
    setSample(desc.name, None)
    save()
  }

  /** DROP TABLE: forget the table's statistics (persisted). */
  def dropTable(name: String): Unit = {
    stats.remove(name.toLowerCase)
    setSample(name.toLowerCase, None)
    bstats.remove(name.toLowerCase)
    staleTables.remove(name.toLowerCase)
    staleDescs.remove(name.toLowerCase)
    save()
  }

  /** Fold an inserted batch, as written (generated columns
    * materialized), into rowcount + sketches + sample. Batch sizes are
    * REPL-scale here; the per-value add loop is the same cost the
    * reference pays on its write path.
    */
  def recordInsert(desc: TableDesc, rows: Seq[Seq[Any]]): Unit = {
    val prev = stats.getOrElse(desc.name, TableStats(0L,
      desc.attributes.map(a => a.name.toLowerCase -> CountingHll.emptySketch).toMap))
    val sketches = prev.sketches.map { case (k, v) => k -> v.clone() }
    for (row <- rows; (attr, v) <- desc.attributes.zip(row)) {
      // values hash via their string image so incremental sketches stay
      // consistent with full-table rebuilds (which cast columns to string)
      val sv = if (v == null) null else String.valueOf(v)
      sketches.get(attr.name.toLowerCase).foreach(s => CountingHll.add(s, sv))
    }
    stats(desc.name) = TableStats(prev.rowCount + rows.length, sketches)
    updateSample(desc, rows)
    recordBucketInsert(desc, rows)
    save()
  }

  // ---- bucket-local statistics ----

  /** (bucket id, string image) of bucket-column values, evaluated
    * in-process: pmod(murmur3(v), n) is the engine's own `hash` expression
    * — the same Murmur3/seed-42 the bucketed write used — so an estimate
    * points at the file the scan will prune to. Values must already have
    * the column's type.
    */
  private def bucketed(desc: TableDesc, values: Seq[Any]): Seq[(Int, String)] = {
    val (bcol, n) = desc.bucket.get
    val schema = StructType(Seq(StructField("v", desc.attr(bcol).get.sqlType.spark)))
    val Seq(id, image) = bind(schema, pmod(hash(col("v")), lit(n)), col("v").cast("string"))
    Bridge.unsafeRows(schema, values.map(Row(_))).map(r =>
      (id.eval(r).asInstanceOf[Int], Option(image.eval(r)).map(_.toString).orNull))
  }

  def bucketIdOf(desc: TableDesc, value: Any): Int = bucketed(desc, Seq(value)).head._1

  /** Incremental per-bucket fold on the INSERT path: counts and sketches
    * update driver-side (REPL-scale batches, same cost class as
    * recordInsert).
    */
  private def recordBucketInsert(desc: TableDesc, rows: Seq[Seq[Any]]): Unit =
    desc.bucket.foreach { case (bcol, _) =>
      val idx = desc.attributes.indexWhere(_.name.equalsIgnoreCase(bcol))
      val prev = bstats.getOrElse(desc.name, BucketStats(Map.empty, Map.empty))
      val rowsM = mutable.Map(prev.rows.toSeq: _*).withDefaultValue(0L)
      val sksM = mutable.Map(prev.sketches.map { case (k, v) => k -> v.clone() }.toSeq: _*)
      bucketed(desc, rows.map(_(idx))).foreach { case (b, image) =>
        rowsM(b) = rowsM(b) + 1
        CountingHll.add(sksM.getOrElseUpdate(b, CountingHll.emptySketch), image)
      }
      bstats(desc.name) = BucketStats(rowsM.toMap, sksM.toMap)
    }

  /** Distributed per-bucket rebuild (import / copy-on-write rewrites):
    * one (bucket) aggregate — counts plus a merged sketch per bucket
    * cross the shuffle, never rows.
    */
  private def rebuildBucketStats(desc: TableDesc, df: DataFrame): Unit =
    desc.bucket.foreach { case (bcol, n) =>
      import org.apache.spark.sql.functions.udaf
      val agg = df.groupBy(pmod(hash(col(bcol)), lit(n)).as("b"))
        .agg(count(lit(1)).as("n"),
          udaf(new CountingHll.SketchAggregator)
            .apply(col(bcol).cast("string")).as("sk"))
        .collect()
      bstats(desc.name) = BucketStats(
        agg.map(r => r.getInt(0) -> r.getLong(1)).toMap,
        agg.map(r => r.getInt(0) -> CountingHll.sketchFromBytes(r.getAs[Array[Byte]](2))).toMap)
    }

  /** Point-lookup estimate on the bucket column from bucket-local stats:
    * rows(bucket) / ndv(bucket) — the scan prunes to that bucket, and the
    * bucket's own NDV sees local skew the global sample cannot. A value
    * hashing to an empty bucket estimates 1 (the floor; zero would
    * destabilize the join-order DP). None for non-bucketed tables or
    * when bucket stats are absent.
    */
  def estimateBucketPoint(desc: TableDesc, value: Any): Option[Long] =
    desc.bucket.flatMap { _ =>
      ensureFresh(desc)
      bstats.get(desc.name).map { bs =>
        val b = bucketIdOf(desc, value)
        bs.rows.get(b) match {
          case None    => 1L
          case Some(r) =>
            val ndv = bs.ndv(b).filter(_ > 0).getOrElse(1L)
            math.max(1L, math.round(r.toDouble / ndv))
        }
      }
    }

  // ---- resident bottom-k sample ----

  private def bind(schema: StructType, cols: Column*): Seq[Expression] =
    Bridge.bindOver(spark, schema, cols)

  /** The sample rows of `rows` by the bottom-k md5 key: a uniform k-sample
    * that any engine reproduces and that merges associatively (min-k of a
    * union = min-k of min-k's) — the property the reference's reservoir
    * skip machinery exists to provide.
    */
  private def bottomK(desc: TableDesc, rows: IndexedSeq[UnsafeRow]): IndexedSeq[UnsafeRow] = {
    val k = bind(desc.sparkSchema, sampleKey(desc)).head
    rows.map(r => k.eval(r).toString -> r).sortBy(_._1).take(SampleSize).map(_._2)
  }

  /** The one bottom-k key, for the INSERT merge and the full rebuild
    * alike: md5 of the row's string image, columns joined by U+0001 and
    * NULL written as U+0000, so no two different rows share an image by
    * concatenation (("a","bc") vs ("ab","c")) or by NULL vs a literal.
    */
  private def sampleKey(desc: TableDesc): Column =
    md5(concat_ws("\u0001",
      desc.attributes.map(a => coalesce(col(a.name).cast("string"), lit("\u0000"))): _*))

  /** Merge an inserted batch into the resident sample, in-process. A
    * stale table has no sample to merge into; its rebuild covers the batch.
    */
  private def updateSample(desc: TableDesc, rows: Seq[Seq[Any]]): Unit =
    if (!staleTables.contains(desc.name))
      setSample(desc.name, Some(bottomK(desc,
        samples.getOrElse(desc.name, IndexedSeq.empty) ++
          Bridge.unsafeRows(desc.sparkSchema, rows.map(Row.fromSeq)))))

  private def sampleRows(desc: TableDesc): IndexedSeq[UnsafeRow] = {
    ensureFresh(desc)
    samples.getOrElse(desc.name, IndexedSeq.empty)
  }

  /** The table's sample as a DataFrame over the resident rows (a
    * LocalRelation: reading it runs no Spark job).
    */
  def sample(desc: TableDesc): DataFrame =
    Bridge.localFrame(spark, desc.sparkSchema, sampleRows(desc))

  /** Sample rows held per table (resident-state introspection for specs). */
  private[sql] def residentSampleRows: Map[String, Int] =
    samples.view.mapValues(_.length).toMap

  /** Estimated cardinality of (table WHERE predicate): matching sample
    * fraction × row count, floored at 1 — the reference's estimator
    * (planner/bottomup.rs:111-168, incl. its base/(2·SAMPLE) floor idea).
    * The predicate resolves once against the sample schema and runs as an
    * interpreted predicate over the resident rows: no Spark job.
    */
  def estimateCard(desc: TableDesc, predicate: Option[Column]): Long = {
    val rows = sampleRows(desc)
    val total = stats.get(desc.name).map(_.rowCount).getOrElse(0L)
    predicate match {
      case Some(p) if rows.nonEmpty =>
        val pred = Predicate.createInterpreted(bind(desc.sparkSchema, p).head)
        pred.initialize(0)
        val hit = rows.count(pred.eval)
        val n = rows.length
        val frac = if (hit == 0) 1.0 / (2.0 * n) else hit.toDouble / n
        math.max(1L, math.round(frac * total))
      case _ => total
    }
  }

  // ---- join selectivity from joined samples ----

  /** A column's non-null sample values, as strings. */
  private def sampleColumn(desc: TableDesc, column: String): Seq[String] = {
    val rows = sampleRows(desc)
    if (rows.isEmpty) Nil
    else {
      val v = bind(desc.sparkSchema, col(column).cast("string")).head
      rows.flatMap(r => Option(v.eval(r)).map(_.toString))
    }
  }

  /** Equi-join selectivity estimated by JOINING the two tables' bottom-k
    * samples: |sampleA ⋈ sampleB| / (|A|·|B|) — an unbiased estimate of
    * P(a.x = b.y) that sees actual key overlap and skew, where the
    * 1/max(NDV) formula assumes containment and uniformity (it reports
    * the same selectivity for disjoint and perfectly-overlapping
    * domains). Zero sample hits floor at half a hit — the reference's
    * zero-hit-floor idea (planner/bottomup.rs:111-168) applied to pairs.
    * None when either sample is missing (caller falls back to NDV).
    * Both samples are resident (≤ SampleSize rows), so the multiset
    * intersection is an in-process hash lookup — the same place the
    * reference evaluates its reservoir sample.
    */
  def estimateJoinSel(a: TableDesc, colA: String,
      b: TableDesc, colB: String): Option[Double] = {
    val va = sampleColumn(a, colA)
    val vb = sampleColumn(b, colB)
    if (va.isEmpty || vb.isEmpty) None
    else {
      val countsA = va.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val hits = vb.iterator.map(countsA.getOrElse(_, 0L)).sum
      val denom = va.size.toDouble * vb.size.toDouble
      Some(if (hits == 0L) 0.5 / denom else hits / denom)
    }
  }

  /** Full rebuild after a copy-on-write rewrite (DELETE/UPDATE): rowcount,
    * per-column sketches (distributed, via SketchAggregator — sketches
    * merge map-side, only ~15 KB per column crosses the shuffle) and the
    * deterministic sample (one distributed top-k, collected to the driver).
    */
  def rebuild(desc: TableDesc, df: DataFrame): Unit = {
    import org.apache.spark.sql.functions.udaf
    val n = df.count()
    val sketchAggs = desc.attributes.map(a =>
      udaf(new graft.stats.CountingHll.SketchAggregator)
        .apply(col(a.name).cast("string")).as(a.name.toLowerCase))
    val sketches: Map[String, CountingHll.Sketch] =
      if (n == 0) desc.attributes.map(a => a.name.toLowerCase -> CountingHll.emptySketch).toMap
      else {
        val row = df.agg(sketchAggs.head, sketchAggs.tail: _*).head()
        desc.attributes.zipWithIndex.map { case (a, i) =>
          a.name.toLowerCase -> CountingHll.sketchFromBytes(row.getAs[Array[Byte]](i))
        }.toMap
      }
    stats(desc.name) = TableStats(n, sketches)
    val top = df.withColumn("__k", sampleKey(desc)).orderBy("__k")
      .limit(SampleSize).drop("__k").collect()
    setSample(desc.name, Some(Bridge.unsafeRows(desc.sparkSchema, top.toSeq)))
    rebuildBucketStats(desc, df)
    staleTables.remove(desc.name)
    staleDescs.remove(desc.name)
    save()
  }

  // ---- persistence ----

  private def statsPath = Paths.get(s"$warehouse/stats.json")
  private def bucketStatsPath = Paths.get(s"$warehouse/bucketstats.json")
  private def sidecarPath(name: String) = Paths.get(s"$warehouse/samples/$name.rows")

  /** Replace (Some) or forget (None) a table's resident sample and its
    * sidecar: [field count][row count] then per row [length][UnsafeRow
    * bytes], written to a temp file and moved into place.
    */
  private def setSample(name: String, rows: Option[IndexedSeq[UnsafeRow]]): Unit = {
    val path = sidecarPath(name)
    rows match {
      case None =>
        samples.remove(name)
        Files.deleteIfExists(path)
      case Some(rs) =>
        samples(name) = rs
        Files.createDirectories(path.getParent)
        val tmp = path.resolveSibling(s"$name.rows.tmp")
        val out = new DataOutputStream(new BufferedOutputStream(Files.newOutputStream(tmp)))
        try {
          out.writeInt(rs.headOption.map(_.numFields).getOrElse(0))
          out.writeInt(rs.length)
          rs.foreach { r => val b = r.getBytes; out.writeInt(b.length); out.write(b) }
        } finally out.close()
        Files.move(tmp, path, StandardCopyOption.REPLACE_EXISTING,
          StandardCopyOption.ATOMIC_MOVE)
    }
  }

  private def readSidecar(path: java.nio.file.Path): IndexedSeq[UnsafeRow] = {
    val in = new DataInputStream(new BufferedInputStream(Files.newInputStream(path)))
    try {
      val fields = in.readInt()
      IndexedSeq.fill(in.readInt()) {
        val b = new Array[Byte](in.readInt())
        in.readFully(b)
        val r = new UnsafeRow(fields)
        r.pointTo(b, b.length)
        r
      }
    } finally in.close()
  }

  private def save(): Unit = {
    val enc = Base64.getEncoder
    def b64(sk: CountingHll.Sketch): String = {
      val bb = java.nio.ByteBuffer.allocate(sk.length * 4)
      sk.foreach(bb.putInt)
      enc.encodeToString(bb.array())
    }
    val lines = stats.map { case (name, ts) =>
      val cols = ts.sketches.map { case (c, sk) => s""""$c":"${b64(sk)}"""" }
        .mkString("{", ",", "}")
      val staleTag = if (staleTables.contains(name)) ""","stale":true""" else ""
      s"""{"table":"$name","rows":${ts.rowCount},"sketches":$cols$staleTag}"""
    }
    Files.createDirectories(statsPath.getParent)
    Files.write(statsPath, lines.mkString("\n").getBytes("UTF-8"))
    val blines = bstats.toSeq.flatMap { case (name, bs) =>
      bs.rows.keys.toSeq.sorted.map { b =>
        val sk = bs.sketches.get(b).map(b64).getOrElse("")
        s"""{"table":"$name","bucket":$b,"rows":${bs.rows(b)},"sketch":"$sk"}"""
      }
    }
    Files.write(bucketStatsPath, blines.mkString("\n").getBytes("UTF-8"))
  }

  private def load(): Unit = {
    val dec = Base64.getDecoder
    def unb64(s: String): CountingHll.Sketch = {
      val bytes = dec.decode(s)
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val arr = new Array[Int](bytes.length / 4)
      (0 until arr.length).foreach(i => arr(i) = bb.getInt())
      arr
    }
    if (Files.exists(statsPath)) {
      val tableRe =
        """\{"table":"([^"]+)","rows":(\d+),"sketches":\{(.*)\}(,"stale":true)?\}""".r
      val colRe = """"([^"]+)":"([^"]*)"""".r
      Files.readAllLines(statsPath).forEach {
        case tableRe(name, rows, cols, staleTag) =>
          val sketches = colRe.findAllMatchIn(cols)
            .map(m => m.group(1) -> unb64(m.group(2))).toMap
          stats(name) = TableStats(rows.toLong, sketches)
          if (staleTag != null) staleTables += name
        case line if line.nonEmpty => sys.error(s"bad stats line: $line")
        case _ =>
      }
    }
    // a non-empty table without a sidecar (a warehouse written before the
    // sidecar existed keeps its sample as _samples/<t> parquet) reopens
    // stale: the first estimator use rebuilds it through ensureFresh
    stats.foreach { case (name, ts) =>
      val path = sidecarPath(name)
      if (Files.exists(path)) samples(name) = readSidecar(path)
      else if (ts.rowCount > 0) staleTables += name
    }
    if (Files.exists(bucketStatsPath)) {
      val bRe = """\{"table":"([^"]+)","bucket":(\d+),"rows":(\d+),"sketch":"([^"]*)"\}""".r
      val rowsB = mutable.Map.empty[String, mutable.Map[Int, Long]]
      val sksB = mutable.Map.empty[String, mutable.Map[Int, CountingHll.Sketch]]
      Files.readAllLines(bucketStatsPath).forEach {
        case bRe(name, b, rows, sk) =>
          rowsB.getOrElseUpdate(name, mutable.Map.empty)(b.toInt) = rows.toLong
          if (sk.nonEmpty)
            sksB.getOrElseUpdate(name, mutable.Map.empty)(b.toInt) = unb64(sk)
        case line if line.nonEmpty => sys.error(s"bad bucket stats line: $line")
        case _ =>
      }
      rowsB.foreach { case (name, rows) =>
        bstats(name) = BucketStats(rows.toMap,
          sksB.get(name).map(_.toMap).getOrElse(Map.empty))
      }
    }
  }
}
