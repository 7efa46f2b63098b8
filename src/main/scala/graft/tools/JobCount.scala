package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler._

/** Dev utility: HOST-NOISE-FREE cost attribution. Runs SparkEntry queries
  * and reports scheduled jobs, stages, tasks and shuffle bytes — all
  * deterministic functions of the plan, unlike wall clock on a box that
  * oscillates ±35%. Fewer jobs/stages/shuffled bytes at equal results is
  * the optimization evidence the wall clock can't give reliably here.
  * Usage: runMain graft.tools.JobCount <q1,q2,...> [sfDir] [warm]
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = graft.LocalSession("32", "ERROR")
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val shufW = new AtomicLong; val shufR = new AtomicLong
    val verbose = sys.env.contains("GRAFT_JOBCOUNT_VERBOSE")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (verbose) {
          val desc = Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
          val nt = j.stageInfos.map(_.numTasks).sum
          // the fattest stage's name carries the RDD call site — the
          // fastest way to attribute an anonymous AQE query-stage job
          val site = j.stageInfos.sortBy(-_.numTasks).headOption
            .map(s => s"${s.name} [${s.numTasks}t]").getOrElse("")
          System.err.println(f"JOB ${j.jobId}%4d stages=${j.stageInfos.length}%3d tasks=$nt%5d  $desc $site")
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
        shufW.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        shufR.addAndGet(s.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
        // deep attribution for fat stages: the first graft frame in the
        // stage's call-site stack names the operator that built the RDD
        if (verbose && s.stageInfo.numTasks >= 64)
          System.err.println("  FATSTAGE " + s.stageInfo.numTasks + "t  rdds=" +
            s.stageInfo.rddInfos.map(r =>
              s"${r.name}@${r.scope.map(_.name).getOrElse("?")}:" +
                r.callSite.take(60)).mkString(" | "))
      }
    })
    def releaseCaches(): Unit = {
      graft.queries.Dedup.releaseShingles(spark)
      graft.queries.Vectors.releaseCaches(spark)
    }
    // warm pass: codegen + any shared family memos, NOT counted.
    // GRAFT_JOBCOUNT_COLD releases the family memos after it, so the
    // timed pass pays (and attributes) the shared build.
    names.foreach(n => graft.SparkEntry.queries(n)(spark, sfDir).count())
    if (sys.env.contains("GRAFT_JOBCOUNT_COLD")) releaseCaches()
    Thread.sleep(300)
    for (n <- names) {
      jobs.set(0); stages.set(0); tasks.set(0); shufW.set(0); shufR.set(0)
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let async listener events drain
      println(f"JOBCOUNT $n%-28s jobs=${jobs.get}%4d stages=${stages.get}%4d " +
        f"tasks=${tasks.get}%6d shufW=${shufW.get / 1024}%8d KiB " +
        f"shufR=${shufR.get / 1024}%8d KiB wall=$dt%.2f s")
    }
    releaseCaches()
    spark.stop()
  }
}
