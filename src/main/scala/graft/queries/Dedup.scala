package graft.queries

import graft.operators.Fixpoint

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.t

/** Document deduplication — the beyond-reference surface a training-data
  * pipeline needs (builder prompt): exact, n-gram Jaccard, MinHash+LSH and
  * SimHash near-dup detection over the `documents` fixture table.
  *
  * Every hash bottoms out in md5 so the DuckDB oracle reproduces results
  * bit-for-bit (Spark's murmur/xxhash64 have no DuckDB counterpart); the
  * 16 MinHash functions are an affine family over ONE md5 per shingle
  * (h*(s+1)+s·c mod p) rather than 16 md5 calls.
  *
  * Scale design (100 TB): nothing here ever materializes the O(n²) pair
  * space. Candidates come from inverted-index joins (shared shingle, shared
  * MinHash band, shared SimHash band) with a document-frequency cap on the
  * join key as the skew guard. Known tradeoff, hit at sf0.1: a near-dup
  * CLUSTER larger than the df cap pushes its own shingles over the cap, so
  * the inverted-index channel (q_dedup_ngram) can only see those pairs via
  * incidental rare shingles — which is exactly why MinHash/SimHash
  * signatures (per-doc, frequency-independent) are the scale path and the
  * n-gram join is the small-scale exact baseline.
  */
object Dedup {

  /** Distinct char-8-gram shingles per document, represented as 60-bit
    * md5-derived longs (`sh`): every downstream join/shuffle moves 8-byte
    * keys instead of strings, and the md5 is computed once here. The
    * repartition matters: the fixture is a single parquet file (one scan
    * task), and without it the ~300× explode below runs on one core;
    * spreading the narrow rows first costs a trivial shuffle and
    * parallelizes the expansion.
    */
  private val shingleCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  /** Memoize + cache a derived frame per (session, fixture dir, key). Each
    * cached frame is one-row-per-doc or one-row-per-shingle — linear in the
    * corpus, so caching stays viable at scale (MEMORY_AND_DISK spills).
    * Without this, every DataFrame reference re-runs its aggregation over
    * the shingle stream (Spark reuses exchanges only within one plan).
    *
    * NOT computeIfAbsent: memoized builders call each other (wide sigs →
    * shingles), and a nested computeIfAbsent on one ConcurrentHashMap
    * throws "Recursive update" whenever the keys share a bin. Build
    * outside the map update; a rare concurrent double-build loses the
    * race and unpersists.
    */
  private def memo(s: SparkSession, d: String, key: String)(build: => DataFrame): DataFrame = {
    val k = (s, d, key)
    val existing = shingleCache.get(k)
    if (existing != null) existing
    else {
      val df = build.cache()
      val prev = shingleCache.putIfAbsent(k, df)
      if (prev != null) { df.unpersist(blocking = false); prev } else df
    }
  }

  /** Per-doc distinct shingle SETS + sizes — the ROOT materialization the
    * whole dedup family shares. A document's set is pure per-row column
    * algebra — array_distinct over one transform/md5 pass — computed
    * MAP-SIDE: the former explode → collect_set shape pushed the whole
    * ~2000×-exploded shingle stream through a set-merging shuffle to
    * rebuild rows that one row already held. The only shuffle left is
    * the compact per-doc repartition (hash by doc_id, BEFORE the md5
    * work so it distributes off the single-file scan partition, and
    * preserved through the select so downstream doc_id
    * aggregations/joins reuse the partitioning). (A corpus with
    * pathological multi-MB single documents would switch to the
    * exploded row-level shape; per-row arrays are the right shape for
    * normal document lengths.)
    */
  private def docSets(s: SparkSession, d: String): DataFrame =
    memo(s, d, "sets") {
      // graft_md5p60 = the md5/conv triple natively from the digest
      // bytes (bit-identical values, ~3 string allocations fewer per
      // shingle on the family's hottest pass — see Md5Prefix60)
      graft.GraftExtensions.ensure(s)
      t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"),
          expr("array_distinct(transform(sequence(1, length(text)-7), i -> " +
            "graft_md5p60(substring(text, i, 8))))")
            .as("set"))
        .select(col("doc_id"), col("set"), size(col("set")).cast("long").as("sz"))
    }

  /** The distinct (doc_id, shingle) stream, derived narrowly from the
    * cached sets — no md5 recompute, no distinct shuffle.
    */
  private def shingles(s: SparkSession, d: String): DataFrame =
    memo(s, d, "shingles") {
      docSets(s, d).select(col("doc_id"), explode(col("set")).as("sh"))
    }

  /** Explicit cache lifecycle: unpersist + drop every shingle
    * materialization owned by session `s`, returning how many were
    * released. The dedup family shares one cached frame per (session,
    * fixture dir); a library must release it when the family is done or
    * it pins executor memory for the rest of the session (Verify/Bench
    * call this; QueriesSpec asserts the release happens and is complete).
    */
  def releaseShingles(s: SparkSession): Int = {
    var released = 0
    val it = shingleCache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq s) {
        e.getValue.unpersist(blocking = true)
        it.remove()
        released += 1
      }
    }
    released
  }

  /** Rare-shingle inverted index for the n-gram channel (df ≤ cap). */
  private def rareIndex(s: SparkSession, d: String, cap: Int): DataFrame =
    memo(s, d, s"rare$cap") {
      val sh = shingles(s, d)
      val freq = sh.groupBy("sh").agg(count(lit(1)).as("df")).filter(col("df") <= cap)
      sh.join(freq.select("sh"), Seq("sh"))
    }

  /** 16 min-hashes per doc as one wide row (m0..m15). */
  private def minhashWide(s: SparkSession, d: String): DataFrame =
    memo(s, d, "minhash_wide") {
      val hashed = shingles(s, d).withColumn("hnum", col("sh") % 999999937)
      val minCols = (0 until 16).map(s0 =>
        min(expr(s"(hnum * ${s0 + 1} + $s0 * 1000003) % 999999937")).as(s"m$s0"))
      hashed.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
    }

  /** Exact Jaccard for candidate pairs, computed against the cached
    * per-doc shingle SETS (collect_set + array_intersect): the pair table
    * joins two 1-row-per-doc array columns instead of re-joining the
    * exploded shingle stream — for k candidate pairs this is k fused
    * intersections, not a k×|doc| row shuffle.
    */
  private def verifyJaccard(s: SparkSession, d: String, cand: DataFrame): DataFrame = {
    val sets = docSets(s, d)
    cand
      .join(sets.select(col("doc_id").as("a_id"), col("set").as("sa"), col("sz").as("sza")), Seq("a_id"))
      .join(sets.select(col("doc_id").as("b_id"), col("set").as("sb"), col("sz").as("szb")), Seq("b_id"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", round(col("inter") / (col("sza") + col("szb") - col("inter")), 4))
      .filter(col("jaccard") >= 0.8)
      .select("a_id", "b_id", "jaccard")
      .orderBy("a_id", "b_id")
  }

  /** Connected components over an undirected pair list (a_id, b_id) by
    * min-label propagation WITH pointer jumping: each round every node
    * adopts the smallest label among itself and its neighbors, then
    * compresses one level through the label graph (lbl ← lbl[lbl]) —
    * path halving, so convergence takes O(log diameter) rounds instead
    * of diameter rounds (a transitive near-dup chain of length d would
    * otherwise cost d shuffle rounds). Each round is two equi-joins +
    * one aggregate; the driver only ever moves a single convergence
    * `count` per round. Returns (id, cluster) where cluster = min doc id
    * of the component. Singleton documents (no pairs) are not emitted —
    * a dup-cluster report covers dup members.
    */
  /** Rounds the last connectedComponents call took (observability/specs). */
  @volatile var lastCcRounds: Int = 0

  /** @param reliable checkpoint to the session's checkpoint dir
    *   (`sparkContext.setCheckpointDir`) instead of localCheckpoint —
    *   survives executor loss, so it is the knob for long production
    *   jobs; requires the caller to have set a checkpoint dir.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
      reliable: Boolean = false, hopsPerRound: Int = 1): DataFrame = {
    val debug = sys.env.contains("GRAFT_CC_DEBUG")
    val hops = sys.env.get("GRAFT_CC_HOPS").map(v =>
      v.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"GRAFT_CC_HOPS must be an integer (got '$v')")))
      .getOrElse(hopsPerRound)
    // hops = 0 would make the propagation fold the identity: `changed`
    // reads 0 on round 0 and every node silently becomes its own
    // singleton cluster — a wrong result with no error (ADVICE r15)
    require(hops >= 1, s"connectedComponents needs hopsPerRound >= 1 " +
      s"(got $hops — check GRAFT_CC_HOPS)")
    if (reliable)
      require(pairs.sparkSession.sparkContext.getCheckpointDir.isDefined,
        "reliable connectedComponents needs sparkContext.setCheckpointDir")
    // Checkpoint (NOT cache) on every iteration product: the jump
    // self-joins reference the previous round's frame repeatedly, so with
    // lazy lineage the LOGICAL plan doubles per round and Catalyst
    // re-optimization time explodes exponentially even though execution
    // would hit the caches — the classic iterative-algorithm trap.
    // Checkpointing truncates the plan to the materialized partitions, so
    // every round optimizes a constant-size plan. localCheckpoint trades
    // executor-loss recovery for speed (the gate/bench default); reliable
    // jobs checkpoint to the fault-tolerant dir — same plan shape.
    //
    // Checkpoints are EAGER (lazy chains measured slower here), and the
    // new leaf's inherited size estimate is CAPPED: checkpoint copies the
    // origin plan's estimated stats in, Catalyst's join estimate is the
    // PRODUCT of child sizes, so a fixpoint compounds sizeInBytes into a
    // BigInt whose digit count quadruples per round — by round ~9 the
    // OPTIMIZER was the measured bottleneck (77 s in BigInteger.multiply
    // on 1,100 label rows). See graftbridge.Bridge.capStats.
    def ckpt(df: DataFrame): DataFrame =
      org.apache.spark.sql.graftbridge.Bridge.capStats(
        if (reliable) df.checkpoint() else df.localCheckpoint())
    // The loop runs with adaptive execution OFF (saved/restored around the
    // fixpoint): with AQE on, EVERY Exchange is a separately scheduled
    // query-stage job with its own re-optimization round-trip, and this
    // loop's wall clock is job-count-dominated, not data-dominated
    // (measured: 113 jobs ≈ one per exchange — ~50 ms each — for a
    // 12-round CC over 1,100 labels; statically planned it is ~3 jobs per
    // round). AQE's runtime benefits don't apply here: every per-round
    // plan is the same bounded two-join shape over already-materialized
    // leaves, partition counts are fixed by the session, and there is
    // nothing for runtime re-planning to discover that the next round
    // wouldn't rediscover from scratch. (An explicit co-partitioning
    // variant — edges by v, labels by id, shared partition count — was
    // measured WORSE under AQE: 130 jobs, the extra repartitions became
    // stages of their own.)
    // The conf is scoped by Fixpoint.withConfRestored (restored also when
    // an action fails; see there for the single-threaded assumption).
    val session = pairs.sparkSession
    Fixpoint.withConfRestored(session, Fixpoint.AqeKey, Fixpoint.PartitionsKey) {
    session.conf.set(Fixpoint.AqeKey, "false")
    val edges = ckpt(pairs.select(col("a_id").as("u"), col("b_id").as("v"))
      .union(pairs.select(col("b_id").as("u"), col("a_id").as("v"))))
    // Static stand-in for AQE's partition coalescing: the loop's shuffle
    // width derives from the MEASURED edge count (~2M edge rows ≈ 100 MB
    // per partition), capped at the session's parallelism — a 1B-edge
    // graph keeps the cluster-default width, the gate's 1,800-edge graph
    // gets 1, so the statically-planned rounds don't run a fleet of
    // empty tasks per exchange. Scale-adaptive, never a local constant.
    session.conf.set(Fixpoint.PartitionsKey,
      Fixpoint.loopWidth(session, edges.count()).toString)
    var labels = ckpt(edges.select(col("u").as("id")).distinct()
      .withColumn("lbl", col("id")))
    // One full propagation hop: adopt the min label among self+neighbors,
    // then compress one level through the label graph (pointer jumping —
    // labels are node ids and only ever decrease, so lbl[lbl[x]] ≤ lbl[x]).
    // The `old` column (round-start label) threads through for the
    // convergence count. Alias names are per-hop so the nested self-joins
    // resolve unambiguously.
    def hop(l: DataFrame, h: Int): DataFrame = {
      val nbrMin = edges
        .join(l.select(col("id").as("v"), col("lbl").as(s"vlbl$h")), Seq("v"))
        .groupBy(col("u").as("id")).agg(min(s"vlbl$h").as(s"nlbl$h"))
      val stepped = l.join(nbrMin, Seq("id"), "left_outer")
        .select(col("id"), col("old"),
          least(col("lbl"), coalesce(col(s"nlbl$h"), col("lbl"))).as("lbl"))
      stepped.as(s"x$h")
        .join(stepped.select(col("id").as(s"pid$h"), col("lbl").as(s"plbl$h")),
          col(s"x$h.lbl") === col(s"pid$h"), "left_outer")
        .select(col(s"x$h.id").as("id"), col(s"x$h.old").as("old"),
          least(col(s"x$h.lbl"),
            coalesce(col(s"plbl$h"), col(s"x$h.lbl"))).as("lbl"))
    }
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val t0 = System.nanoTime()
      // hopsPerRound chains extra propagation hops into one materialized
      // round — same total shuffle work, fewer materializations and
      // convergence counts per unit of propagation; the un-checkpointed
      // intermediate frames sit between two materialized leaves, so the
      // per-round plan stays constant-size either way.
      val start = labels.select(col("id"), col("lbl").as("old"), col("lbl"))
      val next = ckpt((1 to hops).foldLeft(start)(hop))
      changed = next.filter(col("lbl") =!= col("old")).count()
      if (debug) System.err.println(
        f"[cc] round $iter changed=$changed ${(System.nanoTime() - t0) / 1e9}%.2f s")
      labels = next.select("id", "lbl")
      iter += 1
    }
    lastCcRounds = iter
    labels.select(col("id"), col("lbl").as("cluster"))
    }
  }

  /** The minhash dup-cluster assignment (connected components over the
    * verified pair list), memoized so the cluster and canonical-selection
    * queries run the fixpoint ONCE per session — the pipeline shape
    * (clusters materialize once, many consumers read them).
    */
  private def minhashClusters(s: SparkSession, d: String): DataFrame =
    memo(s, d, "minhash_clusters") {
      connectedComponents(minhashPairs(s, d).select("a_id", "b_id"))
    }

  /** The verified MinHash near-dup pair list (the q_dedup_minhash result),
    * memoized so the cluster query shares it within a session.
    */
  private def minhashPairs(s: SparkSession, d: String): DataFrame =
    memo(s, d, "minhash_pairs") {
      val wide = minhashWide(s, d)
      val bandExprs = (0 until 4).map(b =>
        s"$b, md5(concat_ws(',', m${4 * b}, m${4 * b + 1}, m${4 * b + 2}, m${4 * b + 3}))")
        .mkString(", ")
      val bands = wide.select(col("doc_id"),
        expr(s"stack(4, $bandExprs)").as(Seq("band", "bkey")))
      val cand = bands.as("a").join(bands.as("b"), Seq("band", "bkey"))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .distinct()
      val matchesExpr = (0 until 16)
        .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")
      val est = cand
        .join(wide.as("a"), col("a.doc_id") === col("a_id"))
        .join(wide.as("b"), col("b.doc_id") === col("b_id"))
        .filter(expr(s"($matchesExpr) >= 8"))
        .select("a_id", "b_id")
      verifyJaccard(s, d, est)
    }

  def defs: Map[String, QueryDef] = QueryDef.gate(

    // Exact dedup: hash-groupBy on content digest. One shuffle on md5(text);
    // at 100 TB this is a plain aggregate, no pair expansion at all.
    "q_dedup_exact" -> QueryDef(
      (s, d) => t(s, d, "documents")
        .groupBy(md5(col("text")).as("h"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("h"),
      Some("""SELECT md5(text) AS h, min(doc_id) AS keep_id, cast(count(*) AS bigint) AS n_copies
             |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin)),

    // N-gram Jaccard near-dup: inverted-index candidates (rare shingles,
    // df<=50, plus a >=5-common-rare-shingles floor that cuts the candidate
    // set ~200x), then exact Jaccard |A∩B| / (|A|+|B|-|A∩B|) over ALL
    // shingles — computed only for surviving candidates.
    "q_dedup_ngram" -> QueryDef(
      (s, d) => {
        val rare = rareIndex(s, d, 50)
        val cand = rare.as("a").join(rare.as("b"), Seq("sh"))
          .filter(col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
          .agg(count(lit(1)).as("c"))
          .filter(col("c") >= 5)
          .select("a_id", "b_id")
        verifyJaccard(s, d, cand)
      },
      Some("""WITH sh AS (
             |  SELECT DISTINCT doc_id,
             |    ('0x' || substring(md5(substring(text, i, 8)), 1, 15))::bigint AS sh
             |  FROM (SELECT doc_id, text, unnest(range(1, length(text)-6)) AS i FROM documents)
             |), sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
             |rare AS (SELECT * FROM sh WHERE sh IN (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= 50)),
             |cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
             |         FROM rare a JOIN rare b USING (sh) WHERE a.doc_id < b.doc_id
             |         GROUP BY 1, 2 HAVING count(*) >= 5),
             |inter AS (SELECT s1.doc_id AS a_id, s2.doc_id AS b_id, count(*) AS inter
             |          FROM cand c JOIN sh s1 ON s1.doc_id = c.a_id
             |                      JOIN sh s2 ON s2.doc_id = c.b_id AND s2.sh = s1.sh
             |          GROUP BY 1, 2)
             |SELECT a_id, b_id, round(inter*1.0/(sa.sz + sb.sz - inter), 4) AS jaccard
             |FROM inter JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
             |WHERE round(inter*1.0/(sa.sz + sb.sz - inter), 4) >= 0.8
             |ORDER BY a_id, b_id""".stripMargin)),

    // MinHash + LSH: 16 affine min-hashes per doc (one md5 per shingle,
    // h·(s+1)+s·1000003 mod 999999937), banded 4×4; candidate pairs = docs
    // sharing a band key, then VERIFIED with exact Jaccard ≥ 0.8 over the
    // full shingle sets — the textbook LSH dedup pipeline. Signature
    // computation is one aggregate over (doc, seed); the band join touches
    // 4 long keys per doc; verification touches only band-collision pairs.
    // Unlike the inverted-index channel (q_dedup_ngram), signatures are
    // per-doc and frequency-independent, so recall does not degrade when a
    // dup cluster outgrows any df cap — this is the 100 TB path.
    // (Pipeline notes live on minhashPairs: 16 min-hashes as one wide
    // aggregate, md5 band keys — distinct tuples collide only as md5
    // collides — and a ≥ 8/16 sketch prefilter whose wide-signature join
    // is a fused 16-column compare before the exact verification.)
    "q_dedup_minhash" -> QueryDef(
      (s, d) => minhashPairs(s, d),
      Some("""WITH sh AS (
             |  SELECT DISTINCT doc_id,
             |    ('0x' || substring(md5(substring(text, i, 8)), 1, 15))::bigint AS sh
             |  FROM (SELECT doc_id, text, unnest(range(1, length(text)-6)) AS i FROM documents)
             |), sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
             |sh2 AS (
             |  SELECT doc_id, sh % 999999937 AS hnum FROM sh
             |), sigs AS (
             |  SELECT doc_id, s.seed,
             |    min((hnum * (s.seed + 1) + s.seed * 1000003) % 999999937) AS minh
             |  FROM sh2, (SELECT unnest(range(0, 16)) AS seed) s
             |  GROUP BY doc_id, s.seed
             |), bands AS (
             |  SELECT doc_id, cast(seed // 4 AS int) AS band,
             |    md5(string_agg(cast(minh AS varchar), ',' ORDER BY seed)) AS bkey
             |  FROM sigs GROUP BY doc_id, seed // 4
             |), cand AS (
             |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
             |  FROM bands a JOIN bands b USING (band, bkey)
             |  WHERE a.doc_id < b.doc_id
             |), est AS (
             |  SELECT c.a_id, c.b_id
             |  FROM cand c JOIN sigs sa ON sa.doc_id = c.a_id
             |              JOIN sigs sb ON sb.doc_id = c.b_id AND sb.seed = sa.seed
             |  GROUP BY 1, 2
             |  HAVING sum(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END) >= 8
             |), inter AS (
             |  SELECT s1.doc_id AS a_id, s2.doc_id AS b_id, count(*) AS inter
             |  FROM est c JOIN sh s1 ON s1.doc_id = c.a_id
             |             JOIN sh s2 ON s2.doc_id = c.b_id AND s2.sh = s1.sh
             |  GROUP BY 1, 2
             |)
             |SELECT a_id, b_id, round(inter*1.0/(sa.sz + sb.sz - inter), 4) AS jaccard
             |FROM inter JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
             |WHERE round(inter*1.0/(sa.sz + sb.sz - inter), 4) >= 0.8
             |ORDER BY a_id, b_id""".stripMargin)),

    // Dup CLUSTERS from the verified MinHash pairs: connected components
    // by iterative min-label propagation (diameter-bounded rounds, two
    // shuffles each — the standard distributed CC; dup clusters are
    // near-cliques, so it closes in 2-3 rounds). cluster = min doc_id of
    // the component — the canonical "keep one representative" key a
    // pipeline dedups on. Oracle: the same pair list closed with a
    // DuckDB recursive CTE — a completely different transitive-closure
    // formulation that must land on identical clusters.
    "q_dedup_cluster" -> QueryDef(
      (s, d) => minhashClusters(s, d)
        .select(col("id").as("doc_id"), col("cluster").as("cluster_id"))
        .orderBy("doc_id"),
      Some("""WITH RECURSIVE sh AS (
             |  SELECT DISTINCT doc_id,
             |    ('0x' || substring(md5(substring(text, i, 8)), 1, 15))::bigint AS sh
             |  FROM (SELECT doc_id, text, unnest(range(1, length(text)-6)) AS i FROM documents)
             |), sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
             |sh2 AS (
             |  SELECT doc_id, sh % 999999937 AS hnum FROM sh
             |), sigs AS (
             |  SELECT doc_id, s.seed,
             |    min((hnum * (s.seed + 1) + s.seed * 1000003) % 999999937) AS minh
             |  FROM sh2, (SELECT unnest(range(0, 16)) AS seed) s
             |  GROUP BY doc_id, s.seed
             |), bands AS (
             |  SELECT doc_id, cast(seed // 4 AS int) AS band,
             |    md5(string_agg(cast(minh AS varchar), ',' ORDER BY seed)) AS bkey
             |  FROM sigs GROUP BY doc_id, seed // 4
             |), cand AS (
             |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
             |  FROM bands a JOIN bands b USING (band, bkey)
             |  WHERE a.doc_id < b.doc_id
             |), est AS (
             |  SELECT c.a_id, c.b_id
             |  FROM cand c JOIN sigs sa ON sa.doc_id = c.a_id
             |              JOIN sigs sb ON sb.doc_id = c.b_id AND sb.seed = sa.seed
             |  GROUP BY 1, 2
             |  HAVING sum(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END) >= 8
             |), inter AS (
             |  SELECT s1.doc_id AS a_id, s2.doc_id AS b_id, count(*) AS inter
             |  FROM est c JOIN sh s1 ON s1.doc_id = c.a_id
             |             JOIN sh s2 ON s2.doc_id = c.b_id AND s2.sh = s1.sh
             |  GROUP BY 1, 2
             |), pairs AS (
             |  SELECT a_id, b_id FROM inter
             |  JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
             |  WHERE round(inter*1.0/(sa.sz + sb.sz - inter), 4) >= 0.8
             |), sym AS (
             |  SELECT a_id AS u, b_id AS v FROM pairs
             |  UNION ALL SELECT b_id, a_id FROM pairs
             |), reach AS (
             |  SELECT u AS id, v AS r FROM sym
             |  UNION
             |  SELECT s.u, reach.r FROM sym s JOIN reach ON s.v = reach.id
             |)
             |SELECT id AS doc_id, least(id, min(r)) AS cluster_id
             |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin)),

    // CANONICAL SELECTION: the pipeline step after clustering — per dup
    // cluster keep ONE representative (longest text, ties to the lowest
    // doc_id) and mark the rest as drops. One row_number window over the
    // cluster key on top of the CC output; the documents join is
    // key-bounded. The oracle replays the full minhash->LSH->verify->CC
    // pipeline in DuckDB and applies the same window.
    "q_dedup_canonical" -> QueryDef(
      (s, d) => {
        val cl = minhashClusters(s, d)
          .select(col("id").as("doc_id"), col("cluster").as("cluster_id"))
        val docs = t(s, d, "documents").select(col("doc_id"), col("n_chars"))
        val w = Window.partitionBy("cluster_id")
          .orderBy(col("n_chars").desc, col("doc_id"))
        cl.join(docs, "doc_id")
          .withColumn("rk", row_number().over(w))
          .select(col("doc_id"), col("cluster_id"), (col("rk") === 1).as("keep"))
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE sh AS (
             |  SELECT DISTINCT doc_id,
             |    ('0x' || substring(md5(substring(text, i, 8)), 1, 15))::bigint AS sh
             |  FROM (SELECT doc_id, text, unnest(range(1, length(text)-6)) AS i FROM documents)
             |), sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
             |sh2 AS (
             |  SELECT doc_id, sh % 999999937 AS hnum FROM sh
             |), sigs AS (
             |  SELECT doc_id, s.seed,
             |    min((hnum * (s.seed + 1) + s.seed * 1000003) % 999999937) AS minh
             |  FROM sh2, (SELECT unnest(range(0, 16)) AS seed) s
             |  GROUP BY doc_id, s.seed
             |), bands AS (
             |  SELECT doc_id, cast(seed // 4 AS int) AS band,
             |    md5(string_agg(cast(minh AS varchar), ',' ORDER BY seed)) AS bkey
             |  FROM sigs GROUP BY doc_id, seed // 4
             |), cand AS (
             |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
             |  FROM bands a JOIN bands b USING (band, bkey)
             |  WHERE a.doc_id < b.doc_id
             |), est AS (
             |  SELECT c.a_id, c.b_id
             |  FROM cand c JOIN sigs sa ON sa.doc_id = c.a_id
             |              JOIN sigs sb ON sb.doc_id = c.b_id AND sb.seed = sa.seed
             |  GROUP BY 1, 2
             |  HAVING sum(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END) >= 8
             |), inter AS (
             |  SELECT s1.doc_id AS a_id, s2.doc_id AS b_id, count(*) AS inter
             |  FROM est c JOIN sh s1 ON s1.doc_id = c.a_id
             |             JOIN sh s2 ON s2.doc_id = c.b_id AND s2.sh = s1.sh
             |  GROUP BY 1, 2
             |), pairs AS (
             |  SELECT a_id, b_id FROM inter
             |  JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
             |  WHERE round(inter*1.0/(sa.sz + sb.sz - inter), 4) >= 0.8
             |), sym AS (
             |  SELECT a_id AS u, b_id AS v FROM pairs
             |  UNION ALL SELECT b_id, a_id FROM pairs
             |), reach AS (
             |  SELECT u AS id, v AS r FROM sym
             |  UNION
             |  SELECT s.u, reach.r FROM sym s JOIN reach ON s.v = reach.id
             |)
             |, cl AS (SELECT id AS doc_id, least(id, min(r)) AS cluster_id
             |  FROM reach GROUP BY id)
             |SELECT cl.doc_id, cl.cluster_id,
             |  (row_number() OVER (PARTITION BY cl.cluster_id
             |    ORDER BY d.n_chars DESC, cl.doc_id) = 1) AS keep
             |FROM cl JOIN documents d ON d.doc_id = cl.doc_id
             |ORDER BY cl.doc_id""".stripMargin)),

    // Benchmark DECONTAMINATION: flag corpus documents whose shingle
    // CONTAINMENT in some "benchmark" document is ≥ 0.5 — i.e. half the
    // doc's distinct char-8-grams appear verbatim in one benchmark doc
    // (the stand-in benchmark set is doc_id < 20; in production it is
    // the held-out eval suite). Containment — |doc ∩ bench| / |doc| —
    // is the right measure here, NOT a raw shared count: on any corpus
    // common shingles make small absolute overlaps ubiquitous (measured
    // at sf0.01: background 25-100 shared of ~271 per doc, the planted
    // contamination 200+). Scale shape: the benchmark side is tiny by
    // nature, so its shingle set BROADCASTS and the corpus side streams
    // map-side through the join — the only shuffle is the per-(doc,
    // bench) count; the corpus is never re-partitioned by shingle.
    "q_text_contamination" -> QueryDef(
      (s, d) => {
        val sets = docSets(s, d)
        val sh = shingles(s, d)
        val bench = sh.filter(col("doc_id") < 20)
          .select(col("sh"), col("doc_id").as("bench_id"))
        val hits = sh.filter(col("doc_id") >= 20)
          .join(broadcast(bench), Seq("sh"))
          .groupBy("doc_id", "bench_id").agg(count(lit(1)).as("shared"))
          .join(sets.select(col("doc_id"), col("sz")), Seq("doc_id"))
          .withColumn("containment", round(col("shared") / col("sz"), 4))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("containment").desc, col("bench_id"))
        hits.withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1 && col("containment") >= 0.5)
          .select(col("doc_id"), col("bench_id"), col("containment"))
          .orderBy("doc_id")
      },
      Some("""WITH sh AS (
             |  SELECT DISTINCT doc_id,
             |    ('0x' || substring(md5(substring(text, i, 8)), 1, 15))::bigint AS sh
             |  FROM (SELECT doc_id, text, unnest(range(1, length(text)-6)) AS i FROM documents)
             |), sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
             |bench AS (SELECT sh, doc_id AS bench_id FROM sh WHERE doc_id < 20),
             |hits AS (
             |  SELECT c.doc_id, b.bench_id,
             |    round(count(*) * 1.0 / any_value(z.sz), 4) AS containment
             |  FROM sh c JOIN bench b USING (sh) JOIN sizes z ON z.doc_id = c.doc_id
             |  WHERE c.doc_id >= 20
             |  GROUP BY 1, 2
             |)
             |SELECT doc_id, bench_id, containment FROM (
             |  SELECT doc_id, bench_id, containment,
             |    row_number() OVER (PARTITION BY doc_id ORDER BY containment DESC, bench_id) AS rk
             |  FROM hits) x
             |WHERE rk = 1 AND containment >= 0.5
             |ORDER BY doc_id""".stripMargin)),

    // SimHash: 60-bit signature from tf·idf-WEIGHTED word hashes
    // (md5 → first 15 hex chars → 60-bit int; each occurrence contributes
    // ±w, so tf rides the row count and w is an integer idf class:
    // w = greatest(1, 16 − length(bin(df))) — rare tokens weigh 15,
    // ubiquitous ones 1. The weight is INTEGER-EXACT on both engines
    // (bin() is identical in Spark and DuckDB), so the bit-sums stay
    // deterministic — a float idf could flip a near-zero sign between
    // engines' summation orders and break the gate hash. Plain tf
    // weighting collapses on realistic head-heavy (zipf) corpora: the
    // stop-token mass dominates every tf vector, signatures concentrate,
    // and the hamming≤3 OUTPUT itself turns quadratic (measured on the
    // 50k-token zipf fixture: 3.4% of ALL pairs qualified; idf weighting
    // cuts that 58× to 0.06% — SCALE.md round-10 re-measurement).
    // Bit-sums run as 60 parallel aggregate columns (no 60× row
    // explosion); df joins on the token (shuffle by tok — the df table
    // scales with vocabulary, not corpus, but is not forced broadcast).
    //
    // Banding (round-3 rework): 4 bands × 15-bit keys (32,768 keys per
    // band — bucket occupancy is key-space-bounded at n/32768; the old
    // 8-bit keys gave n/256 buckets whose self-join turns quadratic at
    // 100× data), with Hamming-1 multi-probe inside each band (16 probe
    // keys: identity + 15 single-bit flips, expanded on one join side
    // only — xor symmetry makes that cover Hamming ≤ 1 both ways).
    // Detection is DETERMINISTIC, not probabilistic: by pigeonhole, any
    // pair within Hamming ≤ 3 of the emitted threshold shares an exact
    // band key (recall 1.0), and the multi-probe extends the guaranteed
    // window to Hamming ≤ 7 (some band then carries ≤ 1 differing bit).
    // Near-dups = candidate pairs within signature Hamming distance ≤ 3.
    "q_dedup_simhash" -> QueryDef(
      (s, d) => {
        graft.GraftExtensions.ensure(s)
        val toks = t(s, d, "documents")
          .repartition(s.sparkContext.defaultParallelism)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .withColumn("h", expr("graft_md5p60(tok)"))
        val dfs = toks.select("doc_id", "tok").distinct()
          .groupBy("tok").agg(count(lit(1)).as("df"))
        val wtoks = toks.join(dfs, "tok")
          .withColumn("w", expr("greatest(1, 16 - length(bin(df)))"))
        val bitCols = (0 until 60).map(j =>
          sum(expr(s"CASE WHEN (shiftright(h, $j) & 1) = 1 THEN w ELSE -w END")).as(s"s$j"))
        val simExpr = (0 until 60)
          .map(j => s"(CASE WHEN s$j > 0 THEN ${1L << j}L ELSE 0L END)")
          .mkString(" + ")
        val sims = wtoks.groupBy("doc_id")
          .agg(bitCols.head, bitCols.tail: _*)
          .select(col("doc_id"), expr(s"cast($simExpr AS bigint)").as("simhash"))
        val bands = sims.select(col("doc_id"), col("simhash"),
          explode(expr("sequence(0, 3)")).as("b"))
          .withColumn("key", expr("shiftright(simhash, 15 * b) & 32767"))
        val probes = bands.select(col("doc_id"), col("simhash"), col("b"),
          explode(array(col("key") +:
            (0 until 15).map(j => col("key").bitwiseXOR(lit(1L << j))): _*)).as("key"))
        probes.as("a").join(bands.as("b2"), Seq("b", "key"))
          .filter(col("a.doc_id") < col("b2.doc_id"))
          .select(col("a.doc_id").as("a_id"), col("b2.doc_id").as("b_id"),
            expr("bit_count(a.simhash ^ b2.simhash)").as("hamming"))
          .distinct()
          .filter(col("hamming") <= 3)
          .orderBy("a_id", "b_id")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, tok FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
             |), dfs AS (
             |  SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok
             |), th AS (
             |  SELECT t.doc_id, ('0x' || substring(md5(t.tok), 1, 15))::bigint AS h,
             |    greatest(1, 16 - length(bin(d.df))) AS w
             |  FROM toks t JOIN dfs d USING (tok)
             |), bitsums AS (
             |  SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN w ELSE -w END) AS s
             |  FROM th, (SELECT unnest(range(0, 60)) AS j) GROUP BY doc_id, j
             |), sims AS (
             |  SELECT doc_id, cast(sum(CASE WHEN s > 0 THEN 1::bigint ELSE 0::bigint END << j) AS bigint) AS simhash
             |  FROM bitsums GROUP BY doc_id
             |), bands AS (
             |  SELECT doc_id, simhash, b, (simhash >> (15 * b)) & 32767 AS key
             |  FROM sims, (SELECT unnest(range(0, 4)) AS b)
             |), probes AS (
             |  SELECT doc_id, simhash, b,
             |    CASE WHEN j = 0 THEN key ELSE xor(key, cast(1 << (j - 1) AS bigint)) END AS key
             |  FROM bands, (SELECT unnest(range(0, 16)) AS j) flips
             |)
             |SELECT DISTINCT a.doc_id AS a_id, b2.doc_id AS b_id,
             |  cast(bit_count(xor(a.simhash, b2.simhash)) AS int) AS hamming
             |FROM probes a JOIN bands b2 USING (b, key)
             |WHERE a.doc_id < b2.doc_id AND bit_count(xor(a.simhash, b2.simhash)) <= 3
             |ORDER BY a_id, b_id""".stripMargin))
  )
}
