package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession

class KMeansSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private lazy val emb = spark.read
    .parquet(s"${SparkTestSession.sf0001}/embeddings.parquet")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    .cache()

  test("lloyd iterations monotonically improve the objective") {
    val m0 = KMeans.train(emb, "vec_id", "e", k = 8, iters = 0)
    val m2 = KMeans.train(emb, "vec_id", "e", k = 8, iters = 2)
    val m5 = KMeans.train(emb, "vec_id", "e", k = 8, iters = 5)
    val (c0, c2, c5) = (KMeans.cost(emb, "vec_id", "e", m0),
      KMeans.cost(emb, "vec_id", "e", m2), KMeans.cost(emb, "vec_id", "e", m5))
    assert(c2 < c0, s"c0=$c0 c2=$c2")
    assert(c5 <= c2 + 1e-9, s"c2=$c2 c5=$c5")
  }

  test("training is deterministic") {
    val a = KMeans.train(emb, "vec_id", "e", k = 4, iters = 2)
    val b = KMeans.train(emb, "vec_id", "e", k = 4, iters = 2)
    assert(a.centroids.map(_._2.toSeq).toSeq == b.centroids.map(_._2.toSeq).toSeq)
  }

  test("assignments cover multiple clusters and every vector gets one") {
    val m = KMeans.train(emb, "vec_id", "e", k = 8, iters = 2)
    val assigned = m.assign(emb, "vec_id", "e")
    assert(assigned.count() == emb.count())
    val used = assigned.select("cid").distinct().count()
    assert(used >= 4, s"only $used of 8 clusters used")
  }

  test("centroid rounding: roundTo collapses means to the decimal grid") {
    val m = KMeans.train(emb, "vec_id", "e", k = 4, iters = 1, roundTo = Some(6))
    m.centroids.foreach { case (_, w) =>
      w.foreach { x =>
        val r = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(r == x, s"centroid value $x not on the 1e-6 grid")
      }
    }
  }

  test("IVF with learned centroids: top-k recall vs brute force") {
    import graft.functions.VectorFunctions.{dot, l2norm}
    val sf = SparkTestSession.sf0001
    val ivf = graft.SparkEntry.queries("q_ann_ivf_kmeans")(spark, sf)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val allv = emb.withColumn("nrm", l2norm(col("e")))
    val q = allv.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn"))
    val sim = q.join(allv, col("vec_id") =!= col("qid"))
      .withColumn("sim", dot(col("qe"), col("e")) / (col("qn") * col("nrm")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
    val brute = sim.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    // 2-probe over 8 coarse lists on near-uniform vectors: partial recall
    // by design; the probe structure must still find a solid fraction
    assert(recall >= 0.4, s"recall $recall (${ivf.size} ivf vs ${brute.size} brute)")
  }

  test("empty input or k <= 0 fails at the call with a clear message") {
    val empty = emb.filter(lit(false))
    val e1 = intercept[IllegalArgumentException](
      KMeans.train(empty, "vec_id", "e", k = 4, iters = 2))
    assert(e1.getMessage.contains("non-empty training input"))
    val e2 = intercept[IllegalArgumentException](
      KMeans.train(emb, "vec_id", "e", k = 0, iters = 2))
    assert(e2.getMessage.contains("k >= 1"))
  }
}
