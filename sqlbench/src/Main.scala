package sqlbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.sql.{GraftDatabase, Parser}

/** One statement as the closed loop saw it. */
final class Rec(val stmt: Stmt, val seq: Int) {
  /** No exception; for a SELECT also the expected answer, once checked. */
  var ok = false
  var got: RowHash.Fingerprint = null
  var err: String = null
  var wallMs, parserMs, buildMs, catalystMs, execMs = 0.0
  var rowsOut, files, bytes = 0L
  var cells: Seq[((String, String), Counters)] = Nil
}

/** JVM side of the benchmark: set-up, the timed closed loop (one client
  * thread), the check against expected answers and, when traced, spans and
  * Spark counters.
  * Writes raw samples as JSON; run.py turns them into metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE
  *        (the workload's input parquet, if any, is already under DIR/input)
  */
object Main {
  val SetupReps = 3
  /** The timed phase stops after this many times `--seconds`, even if it
    * has not run all its statements (a much slower host or engine). */
  val CapFactor = 3.0

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    RowHash.selfTest()
    val work = new File(opts("work")).getAbsolutePath
    val wl = Workloads(opts("workload"), opts("seed").toLong)
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/tmp")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      // Spark's status store keeps recent jobs and SQL executions on the
      // heap; a short history keeps live_heap_mb about the engine.
      .config("spark.ui.retainedJobs", "10")
      .config("spark.ui.retainedStages", "10")
      .config("spark.ui.retainedTasks", "100")
      .config("spark.sql.ui.retainedExecutions", "10")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try new Main(spark, wl, work, opts).run()
    finally spark.stop()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  /** (files, bytes) under a directory. */
  def du(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val fs = Files.walk(p).iterator.asScala.filter(Files.isRegularFile(_)).toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    }

  /** Heap in use after a full GC. The first GC lets Spark's ContextCleaner
    * see dropped broadcasts and shuffles; it frees their blocks on its own
    * thread, so the second GC comes after a pause.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def json(v: Any): String = v match {
    case null          => "null"
    case s: String     => "\"" + s.flatMap {
        case '"'  => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c    => c.toString
      } + "\""
    case b: Boolean    => b.toString
    case d: Double     => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number     => n.toString
    case m: Map[_, _]  => m.map { case (k, x) => json(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other         => json(other.toString)
  }
}

final class Main(spark: SparkSession, wl: Workload, work: String,
    opts: Map[String, String]) {
  import Main._
  private val sc = spark.sparkContext
  private val input = s"$work/input"
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  private def ms(n: Long): Double = epoch0 + (n - nano0) / 1e6
  private var seqs = 0
  private var warehouse: Path = _

  /** Runs one statement. A SELECT's wall time runs from the `select`
    * call to its last row read; inside it, build (`select`), catalyst
    * (`executedPlan`) and exec (`collect`) are timed as intervals of their
    * own, so the job-group switches between them are the part no layer
    * owns.
    */
  private def execute(db: GraftDatabase, st: Stmt, traced: Boolean): Rec = {
    seqs += 1
    val r = new Rec(st, seqs)
    if (traced && !st.isInsert) {
      val p0 = System.nanoTime()
      Parser.parse(st.sql)
      r.parserMs = (System.nanoTime() - p0) / 1e6
    }
    val before = if (traced && st.isInsert) du(warehouse) else (0L, 0L)
    val t0 = System.nanoTime()
    sc.setJobGroup(LayerListener.group(r.seq, if (st.isInsert) "insert" else "build"), "")
    val b0 = System.nanoTime()
    var b1, c0, c1 = b0
    try {
      if (st.isInsert) db.query(st.sql) match {
        case Left(e)  => r.err = e.msg
        case Right(_) => r.ok = true
      }
      else db.select(st.sql) match {
        case Left(e) => r.err = e.msg
        case Right(df) =>
          b1 = System.nanoTime()
          sc.setJobGroup(LayerListener.group(r.seq, "exec"), "")
          c0 = System.nanoTime()
          df.queryExecution.executedPlan
          c1 = System.nanoTime()
          val rows = df.collect()
          val t1 = System.nanoTime()
          r.wallMs = (t1 - t0) / 1e6
          r.buildMs = (b1 - b0) / 1e6
          r.catalystMs = (c1 - c0) / 1e6
          r.execMs = (t1 - c1) / 1e6
          r.rowsOut = rows.length
          r.got = RowHash.ofRows(rows)
          r.ok = true
      }
    } catch { case NonFatal(e) => r.err = e.toString }
    finally sc.clearJobGroup()
    val t3 = System.nanoTime()
    if (st.isInsert) r.wallMs = (t3 - t0) / 1e6
    if (traced) {
      if (st.isInsert) {
        val after = du(warehouse)
        r.files = after._1 - before._1
        r.bytes = after._2 - before._2
        phaseSpans((r.seq, "insert")) = span(r.seq, 0, "insert", ms(t0), ms(t3))
      } else if (r.ok) {
        span(r.seq, 0, "parser", ms(t0) - r.parserMs, ms(t0))
        val root = span(r.seq, 0, "stmt", ms(t0), ms(t0) + r.wallMs)
        phaseSpans((r.seq, "build")) = span(r.seq, root, "build", ms(b0), ms(b1))
        span(r.seq, root, "catalyst", ms(c0), ms(c1))
        phaseSpans((r.seq, "exec")) = span(r.seq, root, "exec", ms(c1), ms(t0) + r.wallMs)
      }
    }
    r
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  /** (statement seq, phase) → span id, the parent of that phase's jobs. */
  private val phaseSpans = mutable.Map.empty[(Int, String), Long]
  private def span(seq: Int, parent: Long, name: String, start: Double, end: Double): Long = {
    spans += Span(seq, spans.size + 1L, parent, name, start, end)
    spans.size.toLong
  }

  final case class Phase(traced: Boolean, elapsedS: Double, gcMs: Long, recs: Seq[Rec])

  /** The closed loop over the first `count` statements of the pool, the
    * same work on every run; it stops early only past `capSeconds`.
    * Untraced: one plain phase. Traced: blocks of one template cycle
    * alternate between plain and traced (listener attached), so drift
    * within the run does not bias trace.overhead_ms; returns (plain, traced).
    */
  private def timedPhases(db: GraftDatabase, count: Int, capSeconds: Double, trace: Boolean,
      listener: LayerListener): Seq[Phase] = {
    val pool = wl.pool
    val recs = Array.fill(2)(mutable.ArrayBuffer.empty[Rec])
    val elapsed = Array(0.0, 0.0)
    val gc = Array(0L, 0L)
    val deadline = System.nanoTime() + (capSeconds * 1e9).toLong
    var next = 0
    def more = next < count && System.nanoTime() < deadline
    var mode = 0
    while (more) {
      val traced = mode == 1
      if (traced) sc.addSparkListener(listener)
      val gc0 = gcMs()
      val t0 = System.nanoTime()
      var n = 0
      while (more && (!trace || n < wl.cycle)) {
        recs(mode) += execute(db, pool(next), traced)
        next += 1
        n += 1
      }
      elapsed(mode) += (System.nanoTime() - t0) / 1e9
      gc(mode) += gcMs() - gc0
      if (traced) {
        org.apache.spark.SqlbenchListenerBus.drain(sc)
        sc.removeSparkListener(listener)
      }
      if (trace) mode = 1 - mode
    }
    if (next < count) log(f"cap of $capSeconds%.0f s reached after $next%d of $count%d statements")
    val phases = (0 to 1).map(m => Phase(m == 1, elapsed(m), gc(m), recs(m).toSeq))
    if (trace) phases else phases.take(1)
  }

  private val runStart = System.nanoTime()
  private def log(what: String): Unit =
    System.err.println(f"[sqlbench] ${(System.nanoTime() - runStart) / 1e9}%7.2f s  $what")

  def run(): Unit = {
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"

    // Set-up is repeated on fresh warehouses; the last one serves the run,
    // and only it stays reachable (live_heap_mb).
    var db: GraftDatabase = null
    val setupS = (1 to SetupReps).map { rep =>
      warehouse = Paths.get(s"$work/warehouse$rep")
      val t0 = System.nanoTime()
      db = new GraftDatabase(spark, warehouse.toString)
      wl.load(db, input)
      val loadS = (System.nanoTime() - t0) / 1e9
      wl.warmup.foreach { st =>
        val r = execute(db, st, traced = false)
        if (r.err != null) log(s"warm-up statement failed: ${st.sql}: ${r.err}")
        if (r.err != null && st.isInsert)
          throw new IllegalStateException(s"set-up statement failed: ${st.sql}: ${r.err}")
      }
      val s = (System.nanoTime() - t0) / 1e9
      log(f"set-up $rep: $s%.2f s (load $loadS%.2f s)")
      if (rep < SetupReps) deleteTree(warehouse)
      s
    }

    val listener = new LayerListener
    val count = wl.statements(seconds)
    val phases = timedPhases(db, count, CapFactor * seconds, trace, listener)
    val heapMb = liveHeapMb()

    // Expected answers are computed after the timed phase, so that nothing
    // the oracle leaves in the JVM (Spark's generated-code cache) serves
    // the engine's statements while they are timed.
    val e0 = System.nanoTime()
    val selects = phases.flatMap(_.recs).filter(r => !r.stmt.isInsert && r.got != null)
    wl.computeExpected(spark, input, selects.map(_.stmt).distinct)
    selects.foreach { r =>
      r.ok = r.got == r.stmt.expected
      if (!r.ok) r.err = s"result ${r.got}, expected ${r.stmt.expected}"
    }
    val expectedS = (System.nanoTime() - e0) / 1e9
    log("results checked")
    if (trace) listener.synchronized {
      val bySeq = listener.cells.toSeq.groupBy(_._1._1)
      phases(1).recs.foreach(r => r.cells = bySeq.getOrElse(r.seq, Nil)
        .map { case ((_, phase, site), c) => ((phase, site), c) })
      listener.jobs.foreach { case (seq, phase, site, s, e) =>
        span(seq, phaseSpans.getOrElse((seq, phase), 0L), s"job:$site", s.toDouble, e.toDouble)
      }
    }
    // table data only: catalog, sample and sketch files have a fixed size,
    // so counting them would tie the ratio to how many INSERTs a run made
    val (whFiles, whBytes) = du(warehouse.resolve("data"))
    val inserted = (wl.warmup ++ phases.flatMap(_.recs).filter(_.ok).map(_.stmt))
      .filter(_.isInsert)
    val insertedRows = inserted.groupBy(_.table).map { case (t, ss) => t -> ss.map(_.insertRows).sum }

    val spansFile = s"$work/spans.jsonl"
    Files.write(Paths.get(spansFile), spans.map(s => json(Map("stmt" -> s.stmt,
      "span" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs))).asJava)

    def cellJson(c: ((String, String), Counters)) = Map(
      "phase" -> c._1._1, "site" -> c._1._2, "jobs" -> c._2.jobs, "job_ms" -> c._2.jobMs,
      "stages" -> c._2.stages, "tasks" -> c._2.tasks, "task_run_ms" -> c._2.taskRunMs,
      "shuffle_write" -> c._2.shuffleWrite, "shuffle_read" -> c._2.shuffleRead,
      "spill" -> c._2.spill, "input_rows" -> c._2.inputRows)
    val out = Map(
      "workload" -> opts("workload"), "seed" -> opts("seed").toLong, "cpus" -> sc.defaultParallelism,
      "planned_statements" -> count,
      "inserted_rows" -> insertedRows, "setup_s" -> setupS,
      "expected_s" -> expectedS, "live_heap_mb" -> heapMb,
      "warehouse_files" -> whFiles, "warehouse_bytes" -> whBytes,
      "inserted_user_bytes" -> inserted.map(_.userBytes).sum,
      "spans_file" -> spansFile,
      "phases" -> phases.map(p => Map("traced" -> p.traced, "elapsed_s" -> p.elapsedS,
        "gc_ms" -> p.gcMs, "records" -> p.recs.map(r => Map(
          "seq" -> r.seq, "id" -> r.stmt.id, "insert" -> r.stmt.isInsert, "ok" -> r.ok,
          "err" -> r.err, "sql" -> (if (r.ok) null else r.stmt.sql),
          "wall_ms" -> r.wallMs, "parser_ms" -> r.parserMs, "build_ms" -> r.buildMs,
          "catalyst_ms" -> r.catalystMs, "exec_ms" -> r.execMs, "rows_out" -> r.rowsOut,
          "insert_rows" -> r.stmt.insertRows, "files" -> r.files, "bytes" -> r.bytes,
          "cells" -> r.cells.map(cellJson))))))
    Files.write(Paths.get(opts("out")), json(out).getBytes("UTF-8"))
  }
}
