package graft.operators

import org.apache.spark.sql.SparkSession

/** Session-conf plumbing shared by the statically planned fixpoint loops
  * (connected components, recursive CTEs, KMeans).
  */
object Fixpoint {

  /** Run `body`, then restore each of `keys` to exactly what it was
    * before — also when `body` throws; a key that was unset before is
    * unset again. The body sets the keys it scopes. Mutation assumes the
    * single-threaded driver of the gate/bench shape: a query planned
    * concurrently on this session would see the loop's values. Callers
    * that plan from several threads isolate the loop in a cloned session
    * (`spark.newSession()` shares state, isolates conf).
    */
  def withConfRestored[T](spark: SparkSession, keys: String*)(body: => T): T = {
    val set = spark.conf.getAll
    val before = keys.map(k => k -> set.get(k))
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Shuffle width of a fixpoint round over `rows` rows: a static stand-in
    * for AQE's partition coalescing, ~2M rows per partition, capped at
    * the session's parallelism — a 1B-row input keeps the cluster
    * default, a few hundred rows get one partition instead of a fleet of
    * empty tasks per exchange.
    */
  def loopWidth(spark: SparkSession, rows: Long): Int = math.max(1L, math.min(
    spark.sparkContext.defaultParallelism.toLong, rows / 2000000L + 1L)).toInt

  val AqeKey = "spark.sql.adaptive.enabled"
  val PartitionsKey = "spark.sql.shuffle.partitions"
}
