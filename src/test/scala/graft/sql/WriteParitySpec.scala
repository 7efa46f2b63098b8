package graft.sql

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.FileMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The driver-side parquet writer (`Bridge.writeParquet`, the INSERT …
  * VALUES route) against Spark's own one-task `df.write.parquet` of the
  * same rows: the same footer schema, the same Spark key-value metadata,
  * the same bytes and the same rows read back, over every column type a warehouse table
  * stores and a NULL in every column.
  */
class WriteParitySpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val schema = StructType(Seq(
    StructField("i", IntegerType),
    StructField("l", LongType),
    StructField("d", DoubleType),
    StructField("m", DecimalType(12, 2)),
    StructField("b", BooleanType),
    StructField("s", StringType),
    StructField("dt", DateType),
    StructField("ts", TimestampType),
    StructField("t", TimeType(6)),
    StructField("nn", IntegerType, nullable = false)))

  private val rows = Seq(
    Row(1, 10L, 1.5, new java.math.BigDecimal("12.34"), true, "plain",
      java.sql.Date.valueOf("2024-02-29"), java.sql.Timestamp.valueOf("2024-03-01 12:34:56.789"),
      java.time.LocalTime.of(23, 59, 59, 123456000), 7),
    Row(-2, Long.MinValue, -0.0, new java.math.BigDecimal("-9999999999.99"), false,
      "Grüße, 東京 🚀", java.sql.Date.valueOf("1900-01-01"),
      java.sql.Timestamp.valueOf("1899-12-31 23:59:59"), java.time.LocalTime.MIDNIGHT, 8),
    Row(null, null, null, null, null, null, null, null, null, 9))

  private def files(dir: Path): Seq[Path] =
    Files.list(dir).iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq

  private def footer(file: Path): FileMetaData = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new HPath(file.toString), spark.sparkContext.hadoopConfiguration))
    try reader.getFooter.getFileMetaData finally reader.close()
  }

  /** Sets `kvs` in the session conf around `body`, then restores them. */
  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private val rebase = Seq("spark.sql.parquet.datetimeRebaseModeInWrite",
    "spark.sql.parquet.int96RebaseModeInWrite")

  for (mode <- Seq("CORRECTED", "LEGACY"))
    test(s"driver-written parquet matches Spark's own write ($mode datetime rebase)") {
      withConf(rebase.map(_ -> mode): _*)(checkParity(mode))
    }

  private def checkParity(mode: String): Unit = {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    val toRow = ExpressionEncoder(schema).createSerializer()
    // a NOT NULL column under the guard INSERT wraps it in
    val frame = Bridge.localFrame(spark, schema, rows.map(r => toRow(r).copy()))
      .select(schema.fieldNames.toSeq.map(n =>
        if (n != "nn") col(n)
        else when(col(n).isNull, raise_error(lit("NOT NULL"))).otherwise(col(n)).as(n)): _*)
    val sparkDir = Files.createTempDirectory("graft-parity-spark")
    val driverDir = Files.createTempDirectory("graft-parity-driver")
    frame.coalesce(1).write.mode("append").parquet(sparkDir.toString)
    val (written, collected) = Bridge.collectRows(frame)
    Bridge.writeParquet(spark, driverDir.toString, written, collected.toSeq)

    val Seq(sparkFile) = files(sparkDir)
    val Seq(driverFile) = files(driverDir)
    assert(driverFile.getFileName.toString.matches(
      "part-00000-[0-9a-f-]{36}-c000\\.snappy\\.parquet"), driverFile)
    // the rename carried the checksum and left no temp file behind
    assert(Files.exists(driverDir.resolve(s".${driverFile.getFileName}.crc")))
    assert(Files.list(driverDir).iterator.asScala.forall(
      !_.getFileName.toString.endsWith(".tmp")))

    val (a, b) = (footer(sparkFile), footer(driverFile))
    assert(b.getSchema == a.getSchema)
    val (kvA, kvB) = (a.getKeyValueMetaData.asScala.toMap, b.getKeyValueMetaData.asScala.toMap)
    assert(kvB == kvA)
    assert(kvA.contains("org.apache.spark.sql.parquet.row.metadata"))
    assert(kvA.contains("org.apache.spark.version"))
    // the session's rebase modes reach the writer
    assert(kvA.contains("org.apache.spark.legacyDateTime") == (mode == "LEGACY"), kvA)
    assert(kvA.contains("org.apache.spark.legacyINT96") == (mode == "LEGACY"), kvA)
    assert(b.getCreatedBy == a.getCreatedBy)
    assert(Files.readAllBytes(driverFile).sameElements(Files.readAllBytes(sparkFile)))

    def back(dir: Path): Seq[Row] = spark.read.parquet(dir.toString).collect().toSeq
    assert(back(driverDir) == back(sparkDir))
    assert(back(driverDir) == frame.collect().toSeq)
  }
}
