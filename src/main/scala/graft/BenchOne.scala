package graft

/** Focused bench for regression attribution: run ONLY the named queries,
  * in the given order, REPS timed passes after one warm-up pass, with the
  * shared operator caches released between passes exactly like Bench.
  * Usage: runMain graft.BenchOne q_a,q_b[,…] [reps]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same as Bench).
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(',').toSeq)
      .getOrElse(sys.error("usage: BenchOne q_a,q_b[,…] [reps]"))
    val reps = args.lift(1).map(_.toInt).getOrElse(5)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSession.cpus("32")
    val spark = LocalSession(cpus, "WARN")
    val qs = names.map(n => n -> SparkEntry.queries(n))
    def releaseCaches(): Unit = {
      graft.queries.Dedup.releaseShingles(spark)
      graft.queries.Vectors.releaseCaches(spark)
    }
    // warm-up pass (JIT + codegen), then timed passes
    qs.foreach { case (_, fn) => fn(spark, sfDir).count() }
    releaseCaches()
    val runs = (1 to reps).map { _ =>
      val r = qs.map { case (name, fn) =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        name -> (System.nanoTime() - t0) / 1e9
      }
      releaseCaches()
      r
    }
    names.foreach { n =>
      val ts = runs.map(_.collectFirst { case (`n`, t) => t }.get).sorted
      println(f"$n%-24s median=${ts(ts.length / 2)}%6.2f  all=${ts.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
