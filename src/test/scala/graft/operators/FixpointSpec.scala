package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class FixpointSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("a throwing body leaves the session conf exactly as it found it") {
    val unsetKey = "spark.graft.test.fixpoint.unset"
    val before = spark.conf.getAll
    assert(spark.conf.getOption(unsetKey).isEmpty)
    intercept[IllegalStateException] {
      Fixpoint.withConfRestored(spark, Fixpoint.AqeKey, Fixpoint.PartitionsKey,
          unsetKey) {
        spark.conf.set(Fixpoint.AqeKey, "false")
        spark.conf.set(Fixpoint.PartitionsKey, "1")
        spark.conf.set(unsetKey, "true")
        throw new IllegalStateException("round failed")
      }
    }
    assert(spark.conf.getAll == before)
    assert(spark.conf.getOption(unsetKey).isEmpty)
  }

  test("loop width: one partition per ~2M rows, capped at the parallelism") {
    val cores = spark.sparkContext.defaultParallelism
    assert(Fixpoint.loopWidth(spark, 0L) == 1)
    assert(Fixpoint.loopWidth(spark, 1999999L) == 1)
    assert(Fixpoint.loopWidth(spark, 2000000L) == math.min(2, cores))
    assert(Fixpoint.loopWidth(spark, Long.MaxValue / 2) == cores)
  }
}
