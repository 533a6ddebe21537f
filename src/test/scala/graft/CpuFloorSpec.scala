package graft

import org.apache.spark.sql.functions._

import graft.util.CpuFloor

/** CpuFloor probes its input's partition count, which executes any
  * exchange under it, so it takes narrow frames only and names the
  * operator that makes a frame wide. */
class CpuFloorSpec extends SparkSpec {

  test("a narrow frame is floored to the default parallelism, rows unchanged") {
    val narrow = spark.range(0, 100, 1, 1)
      .select(col("id"), (col("id") % 7).as("k")).filter(col("k") =!= 3)
    val floored = CpuFloor(narrow)
    assert(floored.rdd.getNumPartitions === spark.sparkContext.defaultParallelism)
    assert(floored.collect().map(_.getLong(0)).sorted.toSeq ===
      (0L until 100L).filter(_ % 7 != 3))
  }

  test("a frame with a join or an aggregate fails with the operator named") {
    val a = spark.range(10).toDF("id")
    val b = spark.range(5).toDF("id")
    val join = intercept[IllegalArgumentException](CpuFloor(a.join(b, "id").select(col("id"))))
    assert(join.getMessage.contains("found Join"), join.getMessage)
    val agg = intercept[IllegalArgumentException](CpuFloor(a.groupBy(col("id") % 2).count()))
    assert(agg.getMessage.contains("found Aggregate"), agg.getMessage)
  }
}
