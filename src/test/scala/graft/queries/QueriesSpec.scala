package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkTestSession}

/** Smoke + semantics tests for the SparkEntry query surface at sf0.001.
  * (Full value-level verification against DuckDB runs through
  * graft.Verify + tools/check_oracle.py — see .claude/skills/verify.)
  */
class QueriesSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf0001

  test("every query has a well-formed name and builds a plan") {
    for ((name, build) <- SparkEntry.queries) {
      assert(name.matches("q_[a-z0-9_]+"), name)
      val df = build(spark, sf)
      assert(df.schema.fields.nonEmpty, s"$name has empty schema")
    }
  }

  test("every oracle key references an existing query") {
    val qs = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs))
  }

  test("gate construction rejects duplicate keys loudly") {
    // Round-10 verdict: two duplicate Map-literal keys silently shadowed
    // full query batches (later entry wins). QueryDef.gate must make any
    // such collision a construction-time failure, and every module plus
    // Registry must build through it.
    val qd = QueryDef((s, _) => s.range(1).toDF(), None)
    val err = intercept[IllegalArgumentException] {
      QueryDef.gate("q_a" -> qd, "q_b" -> qd, "q_a" -> qd)
    }
    assert(err.getMessage.contains("q_a"))
    // Registry.all itself constructs through gate() — building it proves
    // the whole surface is collision-free.
    assert(Registry.all.size ==
      Seq(Relational.defs, Dedup.defs, TextOps.defs, Vectors.defs,
        Multimodal.defs, Dialect.defs, Stats.defs, Corpus.defs,
        TimeSeries.defs, Streaming.defs).map(_.size).sum)
  }

  test("a bounded stream source removes its copies under other file counts") {
    import java.nio.file.{Files, Paths}
    val tmp = System.getProperty("java.io.tmpdir")
    val fixture = Integer.toHexString(sf.hashCode)
    val stale = Paths.get(tmp, s"graft_stream_docs_p7_$fixture")
    val otherFixture = Paths.get(tmp, "graft_stream_docs_p7_0")
    Files.createDirectories(stale)
    Files.createDirectories(otherFixture)
    // without its _SUCCESS marker the current copy is written again
    val current = Paths.get(tmp, s"graft_stream_docs_p32_$fixture")
    Files.deleteIfExists(current.resolve("_SUCCESS"))
    try {
      assert(SparkEntry.queries("q_stream_dedup_replay")(spark, sf).count() > 0)
      assert(Files.exists(current.resolve("_SUCCESS")))
      assert(!Files.exists(stale))
      assert(Files.exists(otherFixture)) // another scale factor's copy stays
    } finally Files.deleteIfExists(otherFixture)
  }

  test("two concurrent writers of one bounded stream source both read the full fixture") {
    import java.nio.file.{Files, Paths}
    val rows = spark.range(1000).toDF()
    val fixture = s"concurrent-writers-${System.nanoTime}"
    val start = new java.util.concurrent.CountDownLatch(1)
    val read = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
    val writers = (1 to 2).map(_ => new Thread(() => {
      start.await()
      val dir = Streaming.boundedSource(rows, "conc", fixture, 4)
      val r = spark.read.parquet(dir).agg(
        org.apache.spark.sql.functions.count("id"),
        org.apache.spark.sql.functions.sum("id")).head()
      read.add((dir, r.getLong(0), r.getLong(1)))
    }))
    writers.foreach(_.start())
    start.countDown()
    writers.foreach(_.join())
    val got = read.toArray.toSeq.map(_.asInstanceOf[(String, Long, Long)])
    try {
      assert(got.length == 2, "a writer failed")
      assert(got.map(_._1).distinct.length == 1)
      assert(got.forall { case (_, n, s) => n == 1000L && s == 999L * 1000L / 2 })
      // each writer's own copy is gone: published or deleted
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
      assert(!tmp.list().exists(n => n.startsWith(".graft_stream_conc_")))
      assert(Files.exists(Paths.get(got.head._1, "_SUCCESS")))
    } finally got.headOption.foreach(g =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(g._1)))
  }

  test("entry (flagship) returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q_agg matches hand-computed group count") {
    val rows = SparkEntry.queries("q_agg")(spark, sf).collect()
    assert(rows.length == 6) // 3 returnflags × 2 linestatus
    assert(rows.map(_.getAs[Long]("count_order")).sum > 0)
  }

  test("dedup finds the planted near-duplicate pairs consistently across methods") {
    val ngram = SparkEntry.queries("q_dedup_ngram")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val minhash = SparkEntry.queries("q_dedup_minhash")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ngram.nonEmpty, "fixture should contain planted near-dups")
    // LSH candidates must cover (almost all of) the exact-Jaccard pairs;
    // with 16 sigs / 4 bands, P(miss @ j>=0.8) is small but nonzero.
    val recall = (ngram & minhash).size.toDouble / ngram.size
    assert(recall >= 0.8, s"minhash recall $recall over ${ngram.size} pairs")
  }

  test("brute-force topk and LSH ANN agree inside shared buckets") {
    val brute = SparkEntry.queries("q_embed_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val lsh = SparkEntry.queries("q_ann_lsh")(spark, sf).collect()
    assert(lsh.nonEmpty)
    // every LSH neighbor's similarity ordering is consistent: rank 1 in LSH
    // must not beat brute-force rank 1 (it searches a subset)
    for (q <- lsh.map(_.getLong(0)).distinct) {
      val bruteTop = brute.collectFirst { case ((`q`, n), 1) => n }
      assert(bruteTop.isDefined)
    }
  }

  test("multimodal feature stub emits fixed-dimension deterministic features") {
    val df = SparkEntry.queries("q_multimodal_features")(spark, sf)
    assert(df.columns.toSeq == Seq("media_id", "n_bytes", "f0", "f1", "f2", "f3"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    // md5-derived unit features: each slice lands in [0, 1)
    for (r <- rows; i <- 2 to 5) {
      val f = r.getDouble(i)
      assert(f >= 0.0 && f < 1.0, s"feature out of range: $f")
    }
    val again = SparkEntry.queries("q_multimodal_features")(spark, sf).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("neardup LSH: no cartesian in the plan; pairs verified against brute force") {
    val lshDf = SparkEntry.queries("q_embed_neardup")(spark, sf)
    val physical = lshDf.queryExecution.executedPlan.toString
    assert(!physical.contains("CartesianProduct"), physical)
    assert(!physical.contains("BroadcastNestedLoopJoin"), physical)
    val lsh = lshDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Vectors.bruteNeardup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "fixture should contain near-dup pairs")
    // LSH searches a candidate subset: everything it returns must be a true
    // pair, and it must catch nearly all of them (measured 61/66 at sf0.001
    // with the 16×8-bit + Hamming-1 multi-probe geometry)
    assert(lsh.subsetOf(brute), s"false positives: ${lsh -- brute}")
    val recall = (lsh & brute).size.toDouble / brute.size
    assert(recall >= 0.9, s"LSH neardup recall $recall over ${brute.size} pairs")
  }

  test("prefix-rerank ANN: top-5 recall vs exact brute-force top-5") {
    // q_embed_topk IS the exact brute-force cosine top-5 per query;
    // the two-stage 8-dim coarse pass + exact re-rank must recover
    // nearly all of it (the r8 VERDICT gap: the gate's oracle replays
    // the same algorithm, so recall was asserted nowhere)
    def pairs(name: String): Set[(Long, Long)] =
      SparkEntry.queries(name)(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact  = pairs("q_embed_topk")
    val staged = pairs("q_ann_prefix_rerank")
    assert(exact.nonEmpty)
    val recall = (staged & exact).size.toDouble / exact.size
    assert(recall >= 0.9,
      s"prefix-rerank recall $recall over ${exact.size} exact top-k pairs")
  }

  test("connected components: transitive chains close, separate components stay apart") {
    import spark.implicits._
    // chain 1-2-3 (transitive through 2), pair 10-11, triangle 20-21-22
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("a_id", "b_id")
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
    // gate query shape: clusters over the fixture's minhash pairs agree
    // with the pair relation (both endpoints of every pair share a cluster)
    val pairRows = SparkEntry.queries("q_dedup_minhash")(spark, sf)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val clusters = SparkEntry.queries("q_dedup_cluster")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pairRows.nonEmpty)
    pairRows.foreach { case (a, b) =>
      assert(clusters(a) == clusters(b), s"pair ($a,$b) split across clusters")
    }
    // every cluster id is the min member id
    clusters.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keys.min == cid, s"cluster $cid min is ${members.keys.min}")
    }
  }

  test("connected components: reliable-checkpoint variant yields identical clusters") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("a_id", "b_id")
    // without a checkpoint dir the reliable variant refuses up front
    if (spark.sparkContext.getCheckpointDir.isEmpty)
      intercept[IllegalArgumentException] {
        Dedup.connectedComponents(pairs, reliable = true)
      }
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    val reliable = Dedup.connectedComponents(pairs, reliable = true).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reliable == local)
  }

  test("dedup shingle cache has an explicit lifecycle (nothing stays persisted)") {
    SparkEntry.queries("q_dedup_minhash")(spark, sf).count()
    // the family had a live cache, and the release drops ALL of it — a
    // second release finds nothing (other suites share this session, so
    // the assertion is scoped to the dedup cache, not the whole context)
    assert(Dedup.releaseShingles(spark) >= 1,
      "dedup family should have had a cached shingle frame")
    assert(Dedup.releaseShingles(spark) == 0,
      "releaseShingles must drop every cached shingle frame")
    // the vector family has the same discipline
    SparkEntry.queries("q_embed_neardup")(spark, sf).count()
    assert(Vectors.releaseCaches(spark) >= 1,
      "vector family should have had a cached pair frame")
    assert(Vectors.releaseCaches(spark) == 0,
      "releaseCaches must drop every cached vector frame")
  }

  test("langid predictions are deterministic and cover the fixture languages") {
    val rows = SparkEntry.queries("q_text_langid")(spark, sf).collect()
    assert(rows.nonEmpty)
    val preds = rows.map(_.getAs[String]("pred_lang")).toSet
    assert(preds.subsetOf(Set("en", "de", "fr", "es")))
  }
}
