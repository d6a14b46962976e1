package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class FixpointSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("requireMaterialized: throws on an uncounted lazy checkpoint, passes once counted") {
    // a lazy checkpoint holds no blocks until an action scans it: freeing
    // the previous round then would leave its partitions unrecomputable
    val round = spark.range(0, 100, 1, 4).select((col("id") % 7).as("k"))
      .localCheckpoint(false)
    val err = intercept[IllegalStateException](Fixpoint.requireMaterialized(round, 3))
    assert(err.getMessage.startsWith("round 3:"), err.getMessage)
    assert(round.filter(col("k") > 0).count() > 0L)
    Fixpoint.requireMaterialized(round, 3)
    Blocks.free(round)
  }

  test("materializedBytes: a subquery over a non-checkpoint source makes the size unknown") {
    val cp = spark.range(0, 100, 1, 2).toDF().localCheckpoint()
    assert(Blocks.materializedBytes(cp.filter(col("id") > 10)).exists(_ > 0L))
    val bound = spark.range(0, 50).select(max(col("id"))).scalar()
    assert(Blocks.materializedBytes(cp.filter(col("id") < bound)).isEmpty)
    Blocks.free(cp)
  }
}
