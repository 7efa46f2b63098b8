package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.dot

/** Deterministic Lloyd k-means over an array<double> column — the trainer
  * for IVF coarse quantizers (q_ann_ivf ships a training-free quantizer so
  * its DuckDB oracle can rebuild the index; this is the production path).
  *
  * Determinism: seeds are the k rows with smallest md5(id) (reproducible
  * on any engine / any partitioning); assignment ties break by centroid
  * id (array_min over (dist, cid) structs). Each iteration is one narrow
  * assignment map (k fused dot products per vector — centroids travel as
  * literal arrays, never a join) plus one (cid, dim) partial aggregate:
  * at 100 TB the shuffle carries k×dim running sums, not vectors.
  */
object KMeans {

  final case class Model(centroids: Array[(Int, Array[Double])]) {
    /** Squared-distance argmin expression: |c|² - 2·v·c (|v|² constant). */
    def assignExpr(e: Column): Column = {
      val arr = array(centroids.map { case (cid, w) =>
        val c2 = w.map(x => x * x).sum
        struct((lit(c2) - lit(2.0) * dot(e, array(w.map(lit): _*))).as("d"),
          lit(cid).as("cid"))
      }: _*)
      array_min(arr).getField("cid")
    }

    /** Assignments plus exact squared distance to the chosen centroid. */
    def assign(df: DataFrame, idCol: String, eCol: String): DataFrame = {
      val vnorm2 = org.apache.spark.sql.functions.aggregate(
        col(eCol), lit(0.0), (acc, v) => acc + v * v)
      val arr = array(centroids.map { case (cid, w) =>
        val c2 = w.map(x => x * x).sum
        struct((vnorm2 + lit(c2) - lit(2.0) * dot(col(eCol), array(w.map(lit): _*))).as("d2"),
          lit(cid).as("cid"))
      }: _*)
      df.withColumn("__m", array_min(arr))
        .withColumn("cid", col("__m.cid"))
        .withColumn("d2", col("__m.d2"))
        .drop("__m")
    }
  }

  /** @param df    input with an id column and an array<double> vector column
    * @param k     number of centroids
    * @param iters Lloyd iterations (each = one pass over the data)
    * @param roundTo round every centroid mean to this many decimals
    *   (HALF_UP, matching SQL round): collapses the ~1e-15 accumulation-
    *   order noise of the distributed mean so an independent engine
    *   re-running the trainer (e.g. the DuckDB oracle) derives
    *   bit-identical centroids
    */
  def train(df: DataFrame, idCol: String, eCol: String, k: Int, iters: Int,
      roundTo: Option[Int] = None): Model = {
    require(k > 0, s"KMeans.train needs k >= 1 (got $k)")
    // deterministic seeding: smallest md5(id). The seed rows also carry
    // the dimensionality — no separate size() probe job over the data.
    val seeds = df
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(k)
      .select(col(eCol)).collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](0).toArray) }
    require(seeds.nonEmpty, "KMeans.train needs a non-empty training input")
    val dim = seeds.headOption.map(_._2.length).getOrElse(0)
    var model = Model(seeds)
    // The Lloyd loop runs statically planned (AQE off, saved/restored):
    // every iteration is the same bounded shape — k fused dot products
    // per row into a (cid, dim) partial aggregate of k·dim groups — so
    // runtime re-planning discovers nothing and only costs one
    // separately scheduled query-stage job per exchange (the CC /
    // recursive-CTE fixpoint recipe), scoped by Fixpoint.withConfRestored.
    val spark = df.sparkSession
    Fixpoint.withConfRestored(spark, Fixpoint.AqeKey) {
      spark.conf.set(Fixpoint.AqeKey, "false")
      for (_ <- 1 to iters) {
        val assigned = df.withColumn("cid", model.assignExpr(col(eCol)))
        val sums = assigned
          .select(col("cid"), posexplode(col(eCol)).as(Seq("pos", "x")))
          .groupBy("cid", "pos")
          .agg(sum("x").as("s"), count(lit(1)).as("n"))
          .collect()
        val byC = sums.groupBy(_.getInt(0))
        val next = model.centroids.map { case (cid, old) =>
          byC.get(cid) match {
            case None => (cid, old) // empty cluster keeps its centroid
            case Some(rows) =>
              val c = new Array[Double](dim)
              rows.foreach { r =>
                val m = r.getAs[Double](2) / r.getLong(3)
                c(r.getInt(1)) = roundTo.fold(m)(s =>
                  BigDecimal(m).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble)
              }
              (cid, c)
          }
        }
        model = Model(next)
      }
    }
    model
  }

  /** Mean squared distance to assigned centroid — the k-means objective. */
  def cost(df: DataFrame, idCol: String, eCol: String, m: Model): Double = {
    val r = m.assign(df, idCol, eCol).agg(avg("d2")).head
    r.getDouble(0)
  }
}
