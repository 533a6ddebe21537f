package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
import org.apache.spark.sql.functions._

import graft.dedup.{CapCounters, Dedup}

/** Pins two rules of the observed (ride-along) kernels that cut across
  * their families:
  *  - two observed outputs over different inputs combine in ONE query (a
  *    union of two sources' linkage pairs, say): each call's metrics node
  *    has its own name, so Spark does not reject the plan, and each
  *    handle reports its own input's counters;
  *  - each metrics node runs once per action: an observed linkage plan
  *    holds one CollectMetrics node per blocking pass, an observed simhash
  *    plan one, and the plain kernels none.
  */
class ObservedMetricsSpec extends SparkSpec {
  import spark.implicits._

  private def tuple(o: CapCounters, names: Seq[String]): Seq[Long] = {
    val m = o.get
    names.map(n => m(n).asInstanceOf[Long])
  }

  private val blockNames = Seq("n_blocks", "max_occupancy", "blocks_dropped", "rows_dropped")
  private val bucketNames = Seq("n_buckets", "max_bucket", "buckets_dropped", "rows_dropped")

  /** A corpus with one hot block/bucket of `nHot` identical-prefix docs
    * plus two healthy near-pairs; ids start at `base`. */
  private def corpus(base: Long, nHot: Int, boiler: String): DataFrame = {
    val hot = (1 to nHot).map(i => (base + i, f"$boiler body $i%03d unique tail ${i * 7}%04d"))
    val healthy = Seq(
      (base + 101, "alpha bravo charlie delta echo"),
      (base + 102, "alpha bravo charlie delta echo!"),
      (base + 201, s"zulu yankee xray whiskey victor $base"),
      (base + 202, s"zulu yankee xray whiskey victor $base!"))
    (hot ++ healthy).toDF("doc_id", "text")
  }

  private def collectMetricsNodes(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case c: CollectMetrics => c }.size

  test("two observed linkage outputs over different corpora union into one query") {
    val a = corpus(0L, 30, "BOILERPLATE HDR")
    val b = corpus(1000L, 12, "OTHER PREAMBLE!!")
    val (pa, pA, sA) = Dedup.jaroWinklerLinkageObserved(
      a, col("doc_id"), col("text"), 16, 64, 0.9, maxBlock = 10)
    val (pb, pB, sB) = Dedup.jaroWinklerLinkageObserved(
      b, col("doc_id"), col("text"), 16, 64, 0.9, maxBlock = 10)
    val pairs = pa.union(pb).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((101L, 102L)) && pairs.contains((1101L, 1102L)))
    def report(df: DataFrame) = Dedup.linkageBlockReport(df, col("doc_id"), col("text"), 16, 64, 10)
      .collect().map(r => r.getString(0) -> (1 to 4).map(r.getLong)).toMap
    val (ra, rb) = (report(a), report(b))
    assert(ra !== rb, "the two corpora must account differently")
    assert(tuple(pA, blockNames) === ra("prefix"))
    assert(tuple(sA, blockNames) === ra("sorted_tokens"))
    assert(tuple(pB, blockNames) === rb("prefix"))
    assert(tuple(sB, blockNames) === rb("sorted_tokens"))
    org.apache.spark.sql.graft.Bridge.releaseShared()
  }

  test("two observed simhash outputs over different corpora union into one query") {
    // identical texts share one simhash, so nHot copies fill 4 buckets of nHot
    def simCorpus(base: Long, nHot: Int): DataFrame =
      ((1 to nHot).map(i => (base + i, s"identical boilerplate body $base repeated verbatim")) ++
        Seq((base + 101, s"a perfectly ordinary document about planning $base"),
          (base + 102, s"a perfectly ordinary document about planning $base")))
        .toDF("doc_id", "text")
    val (a, b) = (simCorpus(0L, 25), simCorpus(1000L, 14))
    val (pa, cA) = Dedup.simhashPairs64Observed(a, col("doc_id"), col("text"), 4, 3, 10L)
    val (pb, cB) = Dedup.simhashPairs64Observed(b, col("doc_id"), col("text"), 4, 3, 10L)
    val pairs = pa.union(pb).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((101L, 102L)) && pairs.contains((1101L, 1102L)))
    def report(df: DataFrame) =
      Dedup.simhashBucketReport(df, col("doc_id"), col("text"), 4, 10L).collect().head
    val (ra, rb) = (report(a), report(b))
    assert(ra !== rb, "the two corpora must account differently")
    assert(tuple(cA, bucketNames) === (0 to 3).map(ra.getLong))
    assert(tuple(cB, bucketNames) === (0 to 3).map(rb.getLong))
    org.apache.spark.sql.graft.Bridge.releaseShared()
  }

  test("two observed curation exports over different corpora union into one query") {
    // n docs over three sources: every ninth too short for the quality
    // filter, and texts repeating with period n - 10, so every stage bites
    def curationCorpus(base: Long, n: Int): DataFrame = (1 to n).map { i =>
      val k = i % (n - 10)
      val text = if (i % 9 == 0) s"short text $i"
        else s"the report number $k describes a measured change in the river basin of region ${base + k}"
      (base + i, text, Seq("en", "fr", "de")(i % 3))
    }.toDF("doc_id", "text", "lang")
    val weights = Map("en" -> 100, "fr" -> 50, "de" -> 10)
    val (a, b) = (curationCorpus(0L, 40), curationCorpus(1000L, 25))
    val (sa, oa) = graft.curation.Curation.curationSurvivorsObserved(
      a, col("doc_id"), col("text"), col("lang"), weights)
    val (sb, ob) = graft.curation.Curation.curationSurvivorsObserved(
      b, col("doc_id"), col("text"), col("lang"), weights)
    sa.union(sb).write.format("noop").mode("overwrite").save()
    def funnel(df: DataFrame) = graft.curation.Curation.curationFunnel(
        df, col("doc_id"), col("text"), col("lang"), weights)
      .collect().map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3)))).toMap
    val (fa, fb) = (funnel(a), funnel(b))
    assert(fa("ingested") !== fb("ingested"), "the two corpora must account differently")
    Seq(oa -> fa, ob -> fb).foreach { case (o, f) =>
      val m = o.get
      assert((m("ingested_docs"), m("ingested_tokens")) == f("ingested"))
      assert((m("quality_docs"), m("quality_tokens")) == f("quality_filter"))
      assert((m("dedup_docs"), m("dedup_tokens")) == f("exact_dedup"))
      assert((m("mixture_docs"), m("mixture_tokens")) == f("mixture"))
    }
  }

  test("each metrics node runs once: one per blocking pass, none in the plain kernels") {
    val docs = corpus(0L, 30, "BOILERPLATE HDR")
    val (jw, _, _) = Dedup.jaroWinklerLinkageObserved(
      docs, col("doc_id"), col("text"), 16, 64, 0.9, maxBlock = 10)
    val (dl, _, _) = Dedup.damerauLinkageObserved(
      docs, col("doc_id"), col("text"), 16, 64, 8, maxBlock = 10)
    val (sim, _) = Dedup.simhashPairs64Observed(docs, col("doc_id"), col("text"), 4, 3, 10L)
    assert(collectMetricsNodes(jw) === 2)
    assert(collectMetricsNodes(dl) === 2)
    assert(collectMetricsNodes(sim) === 1)
    assert(collectMetricsNodes(Dedup.jaroWinklerLinkage(
      docs, col("doc_id"), col("text"), 16, 64, 0.9, maxBlock = 10)) === 0)
    assert(collectMetricsNodes(Dedup.damerauLinkage(
      docs, col("doc_id"), col("text"), 16, 64, 8, maxBlock = 10)) === 0)
    assert(collectMetricsNodes(Dedup.simhashPairs64(
      docs, col("doc_id"), col("text"), 4, 3, 10L)) === 0)
    org.apache.spark.sql.graft.Bridge.releaseShared()
  }
}
