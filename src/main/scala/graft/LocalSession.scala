package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession configuration of the engine's mains (Bench,
  * Verify and the dev tools) and of the tests, so a tool times, explains
  * and checks exactly the configuration the tests run.
  */
object LocalSession {
  /** A local session over `cpus` cores with as many shuffle partitions;
    * `extra` settings go on top of the shared ones.
    */
  def apply(cpus: String, logLevel: String,
      extra: Seq[(String, String)] = Nil): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.timeType.enabled", "true")
      // events.ts is parquet timestamp[ns]; Spark has no nanos timestamp —
      // read as long and let graft.Tables.events() convert to micros.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    val spark = extra.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** The core count: SPARK_GRAFT_CPUS, else `default`. */
  def cpus(default: String): String = sys.env.getOrElse("SPARK_GRAFT_CPUS", default)
}
