package graft.tools

import org.apache.spark.sql.functions._

/** Decompose the streaming-replay floor (VERDICT r14 item 8): time the
  * pieces of q_stream_dedup_replay separately — signature computation
  * (batch, no streaming), band explosion, the full streaming replay
  * under different state-store providers / shuffle-partition counts /
  * no-data-batch settings — so the committed replay configuration is a
  * measurement, not a guess.
  *
  * Usage: StreamProf [sfDir]
  */
object StreamProf {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = graft.LocalSession.cpus("32")
    val spark = graft.LocalSession(cpus, "ERROR")
    graft.GraftExtensions.ensure(spark)
    import spark.implicits._

    def time(label: String)(body: => Any): Unit = {
      val reps = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      println(f"$label%-46s median=${reps.sorted.apply(1)}%6.2f  " +
        s"all=${reps.map(t => f"$t%.2f").mkString(",")}")
    }

    val docs0 = graft.Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"),
        expr("timestamp_seconds(1704067200 + doc_id)").as("ts"), col("text"))
    println(s"documents rows: ${docs0.count()}")

    // 1. signature column alone (batch, no streaming machinery) — the
    // sf0.1 documents table is ONE 0.6 MB parquet file, so without an
    // explicit repartition every byte of signature work runs in one task
    time("signature (batch fold, 1 partition)") {
      docs0.withColumn("sig", graft.streaming.StreamingDedup.signature)
        .select(sum(element_at(col("sig"), 1))).collect()
    }
    time("signature (batch fold, 32 partitions)") {
      docs0.repartition(32)
        .withColumn("sig", graft.streaming.StreamingDedup.signature)
        .select(sum(element_at(col("sig"), 1))).collect()
    }
    // 3. full streaming replay under config variants. nFiles controls the
    // bounded-source file count: streaming file sources read one file per
    // task, so the map-side signature parallelism IS the file count.
    def replayOnce(parts: String, nFiles: Int, provider: Option[String],
        noData: Boolean): Unit = {
      val qn = s"prof_${System.nanoTime()}"
      val before = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      provider.foreach(p =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", p))
      spark.conf.set(
        "spark.sql.streaming.noDataMicroBatches.enabled", noData.toString)
      try {
        val src = s"${System.getProperty("java.io.tmpdir")}/graft_stream_docs_" +
          s"${nFiles}_" + Integer.toHexString(sfDir.hashCode)
        if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$src/_SUCCESS")))
          docs0.repartition(nFiles).write.mode("overwrite").parquet(src)
        val ds = spark.readStream
          .schema(org.apache.spark.sql.Encoders
            .product[graft.streaming.StreamingDedup.Doc].schema)
          .parquet(src).as[graft.streaming.StreamingDedup.Doc]
        val q = graft.streaming.StreamingDedup.detect(ds).toDF()
          .writeStream.format("memory").queryName(qn)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val batches = q.recentProgress.count(_.numInputRows > 0)
        println(s"    [$qn rows=${spark.table(qn).count()} dataBatches=$batches]")
      } finally {
        spark.conf.set("spark.sql.shuffle.partitions", before)
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
      }
    }
    time("replay parts=8 files=1 (committed)") { replayOnce("8", 1, None, noData = true) }
    time("replay parts=8 files=8") { replayOnce("8", 8, None, noData = true) }
    time("replay parts=8 files=32") { replayOnce("8", 32, None, noData = true) }
    time("replay parts=32 files=32") { replayOnce("32", 32, None, noData = true) }
    spark.stop()
  }
}
