package sqlbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spark counters for one (statement, phase, site) cell. `phase` is the
  * call the job ran under (build, exec or insert, from the job group the
  * benchmark sets); `site` is the program file the job was submitted
  * from: StatsManager, Lowering, or anything else.
  */
final class Counters {
  var jobs, jobMs, stages, tasks, taskRunMs = 0L
  var shuffleWrite, shuffleRead, spill, inputRows = 0L
}

/** A traced interval; `stmt` ties the spans of one statement together. */
final case class Span(stmt: Int, id: Long, parent: Long, name: String,
    startMs: Double, endMs: Double)

/** Records jobs, stages and tasks by job group. Lives only in the
  * benchmark: the program under test is not changed to feed it.
  */
final class LayerListener extends SparkListener {
  import LayerListener._
  val cells = mutable.Map.empty[(Int, String, String), Counters]
  /** (stmt, phase, site, startMs, endMs) in completion order. */
  val jobs = mutable.ArrayBuffer.empty[(Int, String, String, Long, Long)]
  private val jobKey = mutable.Map.empty[Int, (Int, String, String)]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageKey = mutable.Map.empty[Int, (Int, String, String)]
  private val executionSite = mutable.Map.empty[String, String]

  private def cell(k: (Int, String, String)) = cells.getOrElseUpdate(k, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    parseGroup(group).foreach { case (stmt, phase) =>
      // Jobs that Spark SQL submits from its own threads (adaptive stages,
      // broadcasts) carry no program frame; their SQL execution's does.
      val execution = Option(e.properties.getProperty("spark.sql.execution.id"))
      val site = execution.flatMap(executionSite.get)
        .getOrElse(siteOf(e.stageInfos.map(_.details)))
      val key = (stmt, phase, site)
      jobKey(e.jobId) = key
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(s => stageKey(s) = key)
      cell(key).jobs += 1
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => synchronized {
      executionSite(s.executionId.toString) = siteOf(Seq(s.details))
    }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobKey.remove(e.jobId).foreach { key =>
      val start = jobStart.remove(e.jobId).getOrElse(e.time)
      cell(key).jobMs += e.time - start
      jobs += ((key._1, key._2, key._3, start, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageKey.get(e.stageInfo.stageId).foreach(k => cell(k).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageKey.get(e.stageId).foreach { k =>
      val c = cell(k)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled + m.memoryBytesSpilled
        c.inputRows += m.inputMetrics.recordsRead
      }
    }
  }
}

object LayerListener {
  val Prefix = "sqlbench:"

  def group(stmt: Int, phase: String): String = s"$Prefix$stmt:$phase"

  def parseGroup(g: String): Option[(Int, String)] =
    if (g == null || !g.startsWith(Prefix)) None
    else g.stripPrefix(Prefix).split(':') match {
      case Array(s, p) => s.toIntOption.map(_ -> p)
      case _ => None
    }

  private val Frame = """\(([A-Za-z0-9_$]+)\.scala:\d+\)""".r
  private val Internal = Seq("org.apache.spark.", "scala.", "java.", "jdk.", "sun.")

  /** The program file behind a job: the first stack frame of its call
    * site (stage `details`) outside Spark and the JDK.
    */
  def siteOf(details: Seq[String]): String =
    details.iterator.flatMap(_.split('\n')).map(_.trim)
      .find(l => l.nonEmpty && !Internal.exists(l.startsWith))
      .flatMap(l => Frame.findFirstMatchIn(l).map(_.group(1))) match {
        case Some("StatsManager") => "stats"
        case Some("Lowering")     => "lowering"
        case _                    => "other"
      }
}
