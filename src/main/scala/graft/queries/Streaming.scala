package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Tables.t
import graft.streaming.StreamingDedup

/** Batch-replay gates for the Structured Streaming surface: each gate
  * executes the REAL streaming pipeline (readStream → stateful
  * transform → memory sink, Trigger.AvailableNow) over a bounded copy
  * of a fixture table, so the driver's DuckDB oracle finally sees the
  * streaming code paths (they were spec-proven stream==batch before,
  * but carried no gate entry).
  *
  * Replay mechanics, shared by both gates:
  *  - the fixture slice is written ONCE per (fixture dir) to a
  *    deterministic temp dir as ONE parquet file — a single file means
  *    a single micro-batch, so watermark-based state eviction can
  *    never race the bounded input (eviction semantics are covered by
  *    the streaming specs with multi-batch MemoryStream feeds);
  *  - each invocation starts a FRESH streaming query (no persistent
  *    checkpoint → the memory sink replays from scratch, so bench reps
  *    time the streaming execution, not a warm resume);
  *  - results come back through a uniquely-named in-memory table and
  *    are aggregated/ordered into a deterministic relation.
  */
object Streaming {

  /** Write df as `nFiles` parquet files under a deterministic per-key
    * temp dir (idempotent across invocations; the driver may call a
    * gate many times — bench reps must not re-pay the write).
    *
    * The file count is PER GATE: a streaming file source reads ONE
    * FILE PER TASK, so the file count IS the map-side parallelism —
    * with a single file the whole per-row signature computation of the
    * dedup replay ran in one task (StreamProf measured it at 5.5 of
    * the replay's 7.8 s; 32 files cut the replay to 2.0 s). The
    * events-based replays are the opposite case: their per-row map
    * work is trivial, and 32 files only add file-source listing and
    * task overhead per micro-batch — the r15 driver measured all three
    * regress 0.66-0.82× under a blanket 32 (the stream-stream join
    * pays it twice, once per side). A production stream sizes this to
    * its real per-file work. The single micro-batch the replays rely
    * on is file-count-independent: with no maxFilesPerTrigger the file
    * source admits ALL available files into one batch (replay()
    * asserts it loudly — multi-batch would let the watermark evict
    * state mid-replay and silently change results; the stateful
    * transforms sort within the batch, so cross-file arrival order is
    * immaterial).
    */
  private[queries] def boundedSource(df: DataFrame, key: String, d: String,
      nFiles: Int): String = {
    val tmp = System.getProperty("java.io.tmpdir")
    val fixture = Integer.toHexString(d.hashCode)
    val name = s"graft_stream_${key}_p${nFiles}_$fixture"
    val dir = Paths.get(tmp, name)
    def published: Boolean = Files.exists(dir.resolve("_SUCCESS"))
    if (!published) {
      // a copy of the same slice under another file count is never read
      // again: remove it rather than accumulate (copies of other fixture
      // dirs stay — another scale factor still reads them)
      val sibling = s"graft_stream_${java.util.regex.Pattern.quote(key)}_p\\d+_$fixture"
      Option(new java.io.File(tmp).listFiles()).toSeq.flatten
        .filter(f => f.getName != name && f.getName.matches(sibling))
        .foreach(f => FileUtils.deleteDirectory(f))
      // each writer writes its own copy, then publishes it with one
      // atomic rename: concurrent writers (two processes, or two threads
      // of one) never share a half-written directory, and a writer that
      // finds the copy already published keeps that one
      val own = Files.createTempDirectory(Paths.get(tmp), s".$name-")
      try {
        df.repartition(nFiles).write.mode("overwrite").parquet(own.toString)
        // a copy left without _SUCCESS by an interrupted writer is replaced
        if (Files.exists(dir) && !published) FileUtils.deleteDirectory(dir.toFile)
        try Files.move(own, dir, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.io.IOException if published => () }
      } finally FileUtils.deleteDirectory(own.toFile)
    }
    dir.toString
  }

  private val runSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Run a bounded streaming query to completion and return the sink
    * table. Append-mode sinks hold every emitted row; complete-mode
    * sinks hold the final aggregate state.
    */
  private def replay(s: SparkSession, out: DataFrame, mode: String): DataFrame = {
    val qn = s"graft_replay_${runSeq.incrementAndGet()}"
    // a bounded replay is small by construction — every shuffle
    // partition spins up a state-store instance per stateful operator
    // (×4 for a stream-stream join), so 32 partitions mean ~128 store
    // setups per run. 8 partitions cut that 4× with identical results;
    // a production stream sizes this to its real key cardinality.
    val before = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = out.writeStream.format("memory").queryName(qn)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // the 32-file bounded source must land in ONE data micro-batch
      // (no maxFilesPerTrigger is set, so the file source admits every
      // available file at once) — a multi-batch replay would advance
      // the watermark between batches and evict state mid-stream,
      // silently changing stateful results. Fail loudly instead.
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches <= 1,
        s"bounded replay split into $dataBatches data micro-batches; " +
          "state eviction may have raced the input")
      s.table(qn)
    } finally s.conf.set("spark.sql.shuffle.partitions", before)
  }

  def defs: Map[String, QueryDef] = QueryDef.gate(

    // Streaming MinHash near-dup detection (StreamingDedup.detect:
    // per-row 16-hash signatures, 4-band bucketing, candidate compare
    // inside flatMapGroupsWithState) replayed over the documents table
    // with a synthetic event time (doc_id seconds past a fixed epoch).
    // A pair sharing several band buckets emits once per bucket —
    // max() collapses the duplicates (the matches count is the same
    // full-signature agreement each time). The oracle recomputes the
    // identical pipeline in SQL: same shingle hash family, same affine
    // minhashes, same band keys, same ≥8/16 floor.
    "q_stream_dedup_replay" -> QueryDef(
      (s, d) => {
        import s.implicits._
        val src = boundedSource(
          t(s, d, "documents").select(col("doc_id"),
            expr("timestamp_seconds(1704067200 + doc_id)").as("ts"),
            col("text")),
          "docs", d, nFiles = 32)
        val docs = s.readStream
          .schema(org.apache.spark.sql.Encoders.product[StreamingDedup.Doc].schema)
          .parquet(src).as[StreamingDedup.Doc]
        replay(s, StreamingDedup.detect(docs).toDF(), "append")
          .groupBy("a_id", "b_id").agg(max("matches").as("matches"))
          .orderBy("a_id", "b_id")
      },
      Some("""WITH sh0 AS (
             |  SELECT DISTINCT doc_id,
             |    ('0x' || substring(md5(substring(text, i, 8)), 1, 15))::bigint
             |      % 999999937 AS hnum
             |  FROM (SELECT doc_id, text,
             |        unnest(range(1, length(text)-6)) AS i FROM documents)
             |), sigs AS (
             |  SELECT doc_id, s.seed,
             |    min((hnum * (s.seed + 1) + s.seed * 1000003) % 999999937) AS minh
             |  FROM sh0, (SELECT unnest(range(0, 16)) AS seed) s
             |  GROUP BY doc_id, s.seed
             |), bands AS (
             |  SELECT doc_id, cast(seed // 4 AS int) AS band,
             |    md5(string_agg(cast(minh AS varchar), ',' ORDER BY seed)) AS bkey
             |  FROM sigs GROUP BY doc_id, seed // 4
             |), cand AS (
             |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
             |  FROM bands a JOIN bands b USING (band, bkey)
             |  WHERE a.doc_id < b.doc_id
             |), m AS (
             |  SELECT c.a_id, c.b_id,
             |    cast(sum(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END) AS int)
             |      AS matches
             |  FROM cand c JOIN sigs sa ON sa.doc_id = c.a_id
             |              JOIN sigs sb ON sb.doc_id = c.b_id
             |                          AND sb.seed = sa.seed
             |  GROUP BY 1, 2
             |)
             |SELECT a_id, b_id, matches FROM m WHERE matches >= 8
             |ORDER BY a_id, b_id""".stripMargin)),

    // Tumbling-window streaming aggregate (the EventsStreaming.hourlyAgg
    // shape: window() + groupBy under the streaming engine) replayed
    // over the events table. Complete output mode: on a bounded input,
    // append mode would hold back every window inside the final
    // watermark horizon — the tail of the stream would simply be
    // missing. The value sum accumulates in DECIMAL (exact on both
    // engines; a double sum's last cent depends on summation order).
    "q_stream_hourly_replay" -> QueryDef(
      (s, d) => {
        val src = boundedSource(
          graft.Tables.events(s, d)
            .select(col("event_id"), col("ts"), col("event_type"),
              col("value")),
          "events", d, nFiles = 1)
        val ev = s.readStream.schema(
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("event_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("ts",
              org.apache.spark.sql.types.TimestampType),
            org.apache.spark.sql.types.StructField("event_type",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("value",
              org.apache.spark.sql.types.DoubleType))))
          .parquet(src)
        val agg = ev
          .withWatermark("ts", "2 hours")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            // exact decimal accumulation, then ONE cast to double —
            // deterministic on both engines (the driver's pandas
            // channel narrows DuckDB decimals to float64, so the
            // Spark side must land in the float category too)
            sum(col("value").cast("decimal(18,6)")).cast("double")
              .as("sum_value"))
          .select(col("window.start").as("hour_start"), col("event_type"),
            col("n"), col("sum_value"))
        replay(s, agg, "complete").orderBy("hour_start", "event_type")
      },
      Some("""SELECT date_trunc('hour', ts) AS hour_start, event_type,
             |  cast(count(*) AS bigint) AS n,
             |  cast(sum(cast("value" AS DECIMAL(18,6))) AS double) AS sum_value
             |FROM events GROUP BY 1, 2
             |ORDER BY hour_start, event_type""".stripMargin)),

    // Custom-state sessionization (EventsStreaming.sessionize:
    // flatMapGroupsWithState, ≥30-min inactivity gap) replayed over the
    // events table. The streaming operator only emits CLOSED sessions —
    // each user's final session stays in state on a bounded input — so
    // the oracle recomputes batch sessionization and drops each user's
    // last session (QUALIFY sid < max sid). Timestamps compare at
    // microsecond precision; no doubles in the output.
    "q_stream_session_replay" -> QueryDef(
      (s, d) => {
        import s.implicits._
        import graft.streaming.EventsStreaming
        val src = boundedSource(
          graft.Tables.events(s, d).select(col("user_id"), col("ts"),
            col("event_type"), col("value")),
          "sess", d, nFiles = 1)
        val ev = s.readStream
          .schema(org.apache.spark.sql.Encoders.product[EventsStreaming.Event].schema)
          .parquet(src).as[EventsStreaming.Event]
        replay(s, EventsStreaming.sessionize(ev, 30).toDF(), "append")
          .select(col("user_id"),
            expr("unix_micros(start)").as("start_us"),
            expr("unix_micros(end)").as("end_us"),
            col("n_events"))
          .orderBy("user_id", "start_us")
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS ts_us
             |  FROM events),
             |x AS (
             |  SELECT user_id, ts_us,
             |    CASE WHEN lag(ts_us) OVER w IS NULL
             |           OR ts_us - lag(ts_us) OVER w > 1800000000
             |         THEN 1 ELSE 0 END AS ns
             |  FROM e
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_type)),
             |y AS (
             |  SELECT user_id, ts_us,
             |    sum(ns) OVER (PARTITION BY user_id ORDER BY ts_us
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |  FROM x),
             |sess AS (
             |  SELECT user_id, sid, min(ts_us) AS start_us,
             |    max(ts_us) AS end_us, cast(count(*) AS int) AS n_events
             |  FROM y GROUP BY user_id, sid)
             |SELECT user_id, start_us, end_us, n_events FROM sess
             |QUALIFY sid < max(sid) OVER (PARTITION BY user_id)
             |ORDER BY user_id, start_us""".stripMargin)),

    // Stream-stream interval join (EventsStreaming.attribution:
    // purchases ← clicks by the same user within the preceding hour,
    // both sides watermarked so the join state is bounded) replayed
    // over the events table. The oracle is the equivalent batch
    // interval self-join; p_value passes through untouched (no
    // arithmetic → bit-identical doubles on both engines).
    "q_stream_join_replay" -> QueryDef(
      (s, d) => {
        import graft.streaming.EventsStreaming
        val src = boundedSource(
          graft.Tables.events(s, d).select(col("event_id"), col("ts"),
            col("user_id"), col("event_type"), col("value")),
          "attr", d, nFiles = 1)
        val ev = s.readStream.schema(
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("event_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("ts",
              org.apache.spark.sql.types.TimestampType),
            org.apache.spark.sql.types.StructField("user_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("event_type",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("value",
              org.apache.spark.sql.types.DoubleType))))
          .parquet(src)
        replay(s, EventsStreaming.attribution(ev), "append")
          .select(col("p_id"), col("user_id"), col("c_id"),
            expr("unix_micros(p_ts)").as("p_us"),
            expr("unix_micros(c_ts)").as("c_us"),
            col("p_value"))
          .orderBy("p_id", "c_id")
      },
      Some("""WITH e AS (
             |  SELECT event_id, user_id, event_type,
             |    epoch_ns(ts) // 1000 AS ts_us, "value"
             |  FROM events)
             |SELECT p.event_id AS p_id, p.user_id AS user_id,
             |  c.event_id AS c_id, p.ts_us AS p_us, c.ts_us AS c_us,
             |  p."value" AS p_value
             |FROM e p JOIN e c
             |  ON c.user_id = p.user_id AND c.event_type = 'click'
             |WHERE p.event_type = 'purchase'
             |  AND c.ts_us <= p.ts_us AND c.ts_us >= p.ts_us - 3600000000
             |ORDER BY p_id, c_id""".stripMargin)))
}
