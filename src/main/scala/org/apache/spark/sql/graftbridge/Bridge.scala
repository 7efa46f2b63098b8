package org.apache.spark.sql.graftbridge

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow, QueryPlanningTracker}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeSeq, BindReferences,
  BoundReference, Expression, InterpretedUnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.optimizer.{ComputeCurrentTime, ReplaceExpressions}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Column ⇄ Expression bridge. `ExpressionUtils` is private[sql] in Spark 4,
  * so custom native Expressions (graft.functions.DotProduct) get their
  * Column wrapper through this package-located shim — the standard pattern
  * for Spark extension libraries that ship Catalyst expressions. The same
  * access lets the statistics evaluate Columns over driver-held rows.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Resolve `cols` over a relation of `schema` with the session's own
    * analyzer, that session active — time zone, ANSI mode, type coercion
    * and registered functions behave exactly as in a query — and bind them
    * to row ordinals for interpreted evaluation on the driver.
    * Runtime-replaceable and current-time expressions are replaced as the
    * optimizer would.
    */
  def bindOver(spark: org.apache.spark.sql.SparkSession, schema: StructType,
      cols: Seq[Column]): Seq[Expression] = {
    val (rel, analyzed) = analyzeOver(spark, schema, cols)
    ComputeCurrentTime(ReplaceExpressions(analyzed)) match {
      case Project(list, _) => list.map {
        case a: Alias => BindReferences.bindReference(a.child, AttributeSeq(rel.output))
        case other    => BindReferences.bindReference(other, AttributeSeq(rel.output))
      }
      case other => sys.error(s"unexpected analyzed projection: $other")
    }
  }

  /** `cols` projected over a relation of `schema`, resolved and checked
    * by the session's analyzer as a query's would be, but with no
    * Dataset built, so no query execution event fires. Returns the
    * relation and the analyzed plan; throws what the analyzer throws.
    */
  def analyzeOver(spark: org.apache.spark.sql.SparkSession, schema: StructType,
      cols: Seq[Column]): (LocalRelation, LogicalPlan) = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val rel = LocalRelation(DataTypeUtils.toAttributes(schema))
    val plan = Project(cols.zipWithIndex.map { case (c, i) =>
      Alias(session.expression(c), s"_$i")() }, rel)
    (rel, session.withActive(
      session.sessionState.analyzer.executeAndCheck(plan, new QueryPlanningTracker)))
  }

  /** External rows (the values a DataFrame of `schema` accepts or yields)
    * as compact UnsafeRows, converted in-process.
    */
  def unsafeRows(schema: StructType,
      rows: Seq[org.apache.spark.sql.Row]): IndexedSeq[UnsafeRow] = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val project = InterpretedUnsafeProjection.createProjection(
      schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
        BoundReference(i, f.dataType, nullable = true) })
    rows.iterator.map(r =>
      project(toCatalyst(r).asInstanceOf[InternalRow]).copy()).toIndexedSeq
  }

  /** Driver-held rows as external Scala / Java values (java.sql.Date,
    * java.math.BigDecimal, …): the inverse of `unsafeRows`' conversion.
    */
  def externalRows(schema: StructType, rows: Seq[InternalRow]): Seq[Seq[Any]] = {
    val toScala = CatalystTypeConverters.createToScalaConverter(schema)
    rows.map(r => toScala(r).asInstanceOf[org.apache.spark.sql.Row].toSeq)
  }

  /** A DataFrame over driver-held rows (a LocalRelation: no Spark job). */
  def localFrame(spark: org.apache.spark.sql.SparkSession, schema: StructType,
      rows: Seq[InternalRow]): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** The resolved file scan a `spark.read` frame is, if it is one, with
    * the files its index listed as (name, length, modification time),
    * sorted: exactly the files the scan reads.
    */
  def fileRelation(df: org.apache.spark.sql.DataFrame)
      : Option[(LogicalRelation, Seq[(String, Long, Long)])] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed match {
      case r: LogicalRelation => r.relation match {
        case h: HadoopFsRelation => h.location match {
          case index: PartitioningAwareFileIndex => Some((r, index.allFiles().map(f =>
            (f.getPath.getName, f.getLen, f.getModificationTime)).sorted))
          case _ => None
        }
        case _ => None
      }
      case _ => None
    }

  /** A new frame over `rel` with fresh attribute ids: Spark resolves
    * nothing again, and the frame can meet another over `rel` in a join.
    */
  def frameOver(spark: org.apache.spark.sql.SparkSession,
      rel: LogicalRelation): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], rel.newInstance())

  /** Run `df` on the driver and return its physical plan's schema with
    * its rows. A frame over a LocalRelation (driver rows under a foldable
    * projection) collects without a Spark job.
    */
  def collectRows(df: org.apache.spark.sql.DataFrame): (StructType, Array[InternalRow]) = {
    val plan = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.executedPlan
    (plan.schema, plan.executeCollect())
  }

  /** Write driver-held `rows` into the directory `dir` as one parquet
    * file, on the calling thread, through Spark's own parquet writer set
    * up as a write task sets it up: the same footer and bytes as a
    * one-task `df.write.parquet` append of a frame with this `schema`
    * (whose nullability a Spark write puts in the footer). The file is
    * written under a hidden temp name and published by one rename, which
    * carries its `.crc` along; file listings skip names starting with
    * `.`, so a reader never sees a partial file, nor one a failed write
    * left behind.
    */
  def writeParquet(spark: org.apache.spark.sql.SparkSession, dir: String,
      schema: StructType, rows: Seq[InternalRow]): Unit = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val job = Job.getInstance(session.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(session, job, Map.empty, schema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val name = s"part-00000-${UUID.randomUUID()}-c000${factory.getFileExtension(ctx)}"
    val tmp = new Path(dir, s".$name.tmp")
    val writer = factory.newInstance(tmp.toString, schema, ctx)
    try rows.foreach(writer.write) finally writer.close()
    if (!tmp.getFileSystem(job.getConfiguration).rename(tmp, new Path(dir, name)))
      throw new java.io.IOException(s"could not publish $tmp")
  }

  /** Cap a checkpointed DataFrame's inherited size/rowCount estimates at
    * Long.MaxValue — the identity for every sane estimate, a bound for the
    * multiplicative garbage above. Join estimates are PRODUCTS of child
    * sizes, so an iterative fixpoint whose leaves inherit origin stats
    * (see dropOriginStats) compounds the BigInt geometrically; capping at
    * the leaf keeps every round's estimation constant-cost while real,
    * small statistics (and the broadcast decisions they enable) pass
    * through untouched. Constraints are preserved.
    */
  def capStats(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    ds.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        val cap = BigInt(Long.MaxValue)
        val s = l.computeStats()
        if (s.sizeInBytes <= cap && s.rowCount.forall(_ <= cap)) df
        else {
          val capped = org.apache.spark.sql.catalyst.plans.logical.Statistics(
            sizeInBytes = s.sizeInBytes.min(cap),
            rowCount = s.rowCount.map(_.min(cap)),
            attributeStats = s.attributeStats,
            isRuntime = s.isRuntime)
          org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession,
            new org.apache.spark.sql.execution.LogicalRDD(
              l.output, l.rdd, l.outputPartitioning, l.outputOrdering,
              l.isStreaming, l.stream)(
              ds.sparkSession, Some(capped), Some(l.constraints)))
        }
      case _ => df
    }
  }

  /** Pre-checkpoint parents by checkpointed RDD (weak, identity keys). */
  private val lineage = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.rdd.RDD[_], Seq[org.apache.spark.rdd.RDD[_]]]())

  /** Keep the lineage under a lazily checkpointed frame reachable for as
    * long as the frame's RDD is. The first job over the frame truncates
    * that lineage; tasks of a query stage submitted before then still
    * carry the lineage's SQL metrics, and once the driver has collected
    * those it logs "Failed to update accumulator … non-existent
    * accumulator" for each as the tasks report.
    */
  def retainLineage(df: org.apache.spark.sql.DataFrame): Unit =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        lineage.put(l.rdd, l.rdd.dependencies.map(_.rdd))
      case _ => ()
    }
}
