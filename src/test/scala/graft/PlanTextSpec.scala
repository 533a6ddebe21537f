package graft

import org.apache.spark.sql.functions._

/** Pins the bench fingerprint's cached-subtree visibility (ADVICE r14):
  * `PlanText.fingerprintText` must CHANGE when a plan changes INSIDE a
  * shareLazily-cached subtree, even though the InMemoryRelation leaf's own
  * line (output schema) is identical — the reprint-stripping alone was
  * blind there, letting floors min-merge across a real regression. Also
  * pins that the mixed-in text is the declared LOGICAL plan: two
  * constructions of the SAME query fingerprint identically (no runtime
  * AQE artifacts leak in; ConfigInvarianceSpec checks results, not
  * fingerprints, across configs), and that a session's shuffle-partition
  * count does not reach the fingerprint.
  */
class PlanTextSpec extends SparkSpec {
  import spark.implicits._

  private def fpOf(probeLen: Int): String = {
    val docs = (1 to 50).map(i => (i.toLong, s"some document text payload number $i with a tail"))
      .toDF("doc_id", "text")
    val base = org.apache.spark.sql.graft.Bridge.shareLazily(
      docs.select(col("doc_id").as("id"), substring(col("text"), 1, probeLen).as("probe")))
    val q = base.groupBy(substring(col("probe"), 1, 4).as("blk"))
      .agg(count(lit(1)).as("n"))
    val fp = graft.util.PlanText.fingerprint(q)
    org.apache.spark.sql.graft.Bridge.releaseShared()
    fp
  }

  test("a change inside a cached subtree changes the fingerprint; identical plans don't") {
    val fp64a = fpOf(64)
    val fp64b = fpOf(64)
    val fp32 = fpOf(32)
    // same declared query -> same fingerprint across constructions
    assert(fp64a === fp64b)
    // the cached projection differs ONLY inside the InMemoryRelation (the
    // leaf's output schema is identical: same column names/types), so the
    // strip-only text is blind to it...
    assert(fp64a !== fp32, "fingerprint must see inside the cached subtree")
    // ...and the difference comes from the mixed-in cached LOGICAL plan,
    // which both fingerprints must carry
    assert(fp64a.contains("== cached logical ==") && fp32.contains("== cached logical =="))
  }

  test("the fingerprint does not depend on the shuffle-partition count") {
    // dedup_simhash64_pairs' kernel repartitions the banded frame to
    // spark.sql.shuffle.partitions explicitly, so its logical plan prints
    // the count (RepartitionByExpression [band, bk], 8): a session
    // setting, not declared plan shape
    val docs = (1 to 50).map(i => (i.toLong, s"some document text payload number $i with a tail"))
      .toDF("doc_id", "text")
    def fpAt(parts: Int): String = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      try graft.util.PlanText.fingerprint(graft.dedup.Dedup.simhashPairs64(
        docs, col("doc_id"), col("text"), numBands = 4, maxHamming = 3, maxBucketSize = 1000L))
      finally {
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        org.apache.spark.sql.graft.Bridge.releaseShared()
      }
    }
    val (fp8, fp32) = (fpAt(8), fpAt(32))
    assert(fp8.contains("RepartitionByExpression"), fp8)
    assert(fp8 === fp32)
  }
}
