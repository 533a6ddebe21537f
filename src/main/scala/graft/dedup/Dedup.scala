package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication family for LLM training-data pipelines.
  *
  * Design for 100 TB (SURVEY.md §5): sketches (fingerprints, minhash
  * signatures, simhash) are computed PER ROW with array expressions — zero
  * shuffle, fully inside codegen — so the corpus scan is embarrassingly
  * parallel. Only the candidate-pair joins shuffle, and those only touch
  * hash buckets (band keys / shared shingles), never the n² cross product.
  *
  * Hash functions are md5-derived so the DuckDB oracle can reproduce every
  * signature byte-for-byte (no engine-private hash). MinHash permutations
  * are affine maps of one 32-bit base hash (1 md5 per shingle instead of
  * numPerms md5s).
  */
/** Handle on occupancy-cap accounting that RIDES a linkage/simhash action
  * as observed metrics ([[org.apache.spark.sql.Observation]]): the caller
  * acts on the pairs it was computing anyway and reads the drop counters
  * for free — no second corpus scan at 100 TB.
  *
  * The ride has one structural gap (probed, round 15): when the query's
  * result is provably EMPTY mid-flight, AQE's empty-relation propagation
  * folds the plan before the observed stage runs — the CollectMetrics node
  * vanishes and its stage is skipped, which is exactly the
  * everything-was-dropped case where the caller most needs the accounting.
  * [[get]] therefore falls back to the standalone report scan whenever the
  * riding metrics never materialized (empty metrics map, or a null
  * row-count sum from a never-updated accumulator): the second scan is
  * paid ONLY in that degenerate corner, never on the healthy path.
  */
final class CapCounters private[dedup] (obs: org.apache.spark.sql.Observation,
                                        presenceKey: String,
                                        fallback: () => Map[String, Any]) {
  /** Blocks until the first action on the observed frame (the Observation
    * contract), then returns the counters — from the ride when it ran,
    * from the fallback report scan when the plan folded empty. */
  def get: Map[String, Any] = {
    val m = obs.get
    if (m.nonEmpty && m.getOrElse(presenceKey, null) != null) m else fallback()
  }
}

object Dedup {
  // oracle-compared 6-decimal rounding uses the portable floor arithmetic
  // (Portable.round6): engine round() implementations disagree on
  // knife-edge quotients, and both sides of the oracle contract must run
  // the identical IEEE op sequence
  private val r6 = graft.util.Portable.round6 _

  /** The four metrics of one occupancy cap, in report order: groups, max
    * occupancy, groups dropped, rows dropped. */
  private val bucketMetrics = Seq("n_buckets", "max_bucket", "buckets_dropped", "rows_dropped")
  private val blockMetrics = Seq("n_blocks", "max_occupancy", "blocks_dropped", "rows_dropped")

  /** Ride-along accounting for one occupancy cap: an Observation plus the
    * cap's metric names. The Observation name carries a per-call suffix:
    * Spark rejects two metrics nodes of one name in one plan, so a fixed
    * name would fail every query that unions two observed outputs. */
  private final class CapObs(prefix: String, val names: Seq[String]) {
    val obs = org.apache.spark.sql.Observation(s"${prefix}_${java.util.UUID.randomUUID()}")
    /** The caller's handle; `report` (one row holding the metric columns)
      * is the fallback scan, run only when the ride never materialized. */
    def counters(report: => DataFrame): CapCounters =
      new CapCounters(obs, names.head, () => {
        val r = report.collect().head
        names.map(n => n -> r.getAs[Any](n)).toMap
      })
  }

  /** The one occupancy-cap step of the blocking joins (simhash band
    * buckets, linkage blocks, shared shingles): rows whose `keys` group
    * holds more than `limit` rows are dropped before the self-join. A
    * group that hot is low-information and quadratic to join; real
    * matches live in discriminative groups. The count window partitions
    * on the join keys, so the cap adds no exchange.
    *
    * With a [[CapObs]] the cap is not silent: its four metrics ride the
    * caller's own action as observed metrics instead of costing a second
    * corpus scan. Observation metrics cannot hold DISTINCT aggregates, so
    * a `row_number` representative (same partition and order spec as the
    * count, so both fold into ONE Window node) turns per-group counts into
    * per-row sums, observed BEFORE the filter drops the hot groups.
    * Callers pass the CapObs on ONE side of a self-join only (A/X): a
    * metrics node duplicated across a self-join risks one copy never
    * executing under exchange reuse, and its empty accumulator could
    * shadow the real one, so each node runs exactly once per action. When
    * the query's result is provably empty mid-flight, AQE folds the plan
    * before the observed stage runs; [[CapCounters.get]] then falls back
    * to the [[capReport]] scan.
    */
  private def capOccupancy(frame: DataFrame, keys: Seq[Column], limit: Long,
                           cap: Option[CapObs] = None): DataFrame = cap match {
    case None =>
      frame.withColumn("__occ", count(lit(1)).over(Window.partitionBy(keys: _*)))
        .filter(col("__occ") <= limit)
        .drop("__occ")
    case Some(c) =>
      val Seq(groups, maxOcc, groupsDropped, rowsDropped) = c.names
      val w = Window.partitionBy(keys: _*).orderBy(keys: _*)
      val rep = col("__rn") === 1
      val hot = col("__occ") > limit
      frame
        .withColumn("__occ", count(lit(1))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("__rn", row_number().over(w))
        .observe(c.obs,
          sum(when(rep, 1L).otherwise(0L)).as(groups),
          max(col("__occ")).as(maxOcc),
          sum(when(rep && hot, 1L).otherwise(0L)).as(groupsDropped),
          sum(when(hot, 1L).otherwise(0L)).as(rowsDropped))
        .filter(col("__occ") <= limit)
        .drop("__occ", "__rn")
  }

  /** Standalone accounting for one occupancy cap: ONE row of the cap's
    * four metrics (`names`) over `frame`, equal to [[capOccupancy]]'s
    * observed sums. One map-side-combinable groupBy on `keys`, folded by a
    * global aggregate. */
  private def capReport(frame: DataFrame, keys: Seq[Column], limit: Long,
                        names: Seq[String]): DataFrame = {
    val Seq(groups, maxOcc, groupsDropped, rowsDropped) = names
    val hot = col("__occ") > limit
    frame.groupBy(keys: _*).agg(count(lit(1)).as("__occ"))
      .agg(count(lit(1)).as(groups),
        max(col("__occ")).as(maxOcc),
        sum(when(hot, 1L).otherwise(0L)).as(groupsDropped),
        sum(when(hot, col("__occ")).otherwise(0L)).as(rowsDropped))
  }

  /** Exact dedup: group by full-content hash; emit group size and the id to
    * keep (minimum). The output IS the dedup decision table. Single hash
    * shuffle on the content key.
    */
  def exact(df: DataFrame, id: Column, text: Column): DataFrame =
    df.groupBy(md5(text).as("text_hash"))
      .agg(count(lit(1)).as("n_dups"), min(id).as("keep_id"))

  /** Distinct word n-gram shingles, per row (no shuffle). Codegen-fallback
    * single-pass expression (graft.functions.DistinctShingles) — the
    * higher-order-function formulation evaluates interpreted and is ~20x
    * slower on the corpus scan.
    */
  private def distinctShingles(text: Column, n: Int): Column =
    graft.functions.ShingleExpressions.distinctShingles(text, n)

  /** EXACT all-pairs Jaccard-threshold self-join via prefix filtering
    * (Chaudhuri et al.'s SSJoin / Xiao et al.'s PPJoin candidate rule) —
    * the zero-false-negative sibling of the MinHash-LSH family: LSH trades
    * recall for speed probabilistically; prefix filtering is lossless.
    *
    * Rule: order every document's shingles by ONE global total order
    * (corpus df ascending, shingle ascending — rarest first) and keep only
    * the first sz − ⌈τ·sz⌉ + ℓ as its "ℓ-extended prefix". Two sets with
    * J ≥ τ MUST share at least min(ℓ, α) prefix elements (α their
    * required overlap; proof at the ext definition below) — so joining on
    * prefix shingles and counting matches per pair generates a complete
    * candidate set with far fewer coincidence pairs than the classic
    * 1-match rule. Rarest-first ordering makes those
    * join keys the LEAST frequent shingles in the corpus: candidate volume
    * shrinks both because prefixes are short (factor ~1−τ) and because hot
    * boilerplate shingles sort LAST, out of every prefix — at 100 TB the
    * stop-shingle that would pair everything with everything never becomes
    * a join key.
    *
    * Verification is candidate-confined: shingle ARRAYS ride a join onto
    * the (a<b, distinct) candidate pairs and intersect row-locally — no
    * second explode, never corpus-quadratic. Oracle equality against the
    * brute-force shared-shingle formulation IS the completeness proof.
    *
    * Scan accounting (honest): the shingled-docs subtree is referenced by
    * the df pass, the prefix ranking, and both verification sides, so the
    * text column is read and re-shingled ~4×. At corpus scale persist the
    * shingled frame (or pre-materialize shingles next to the text) before
    * calling — the candidate REDUCTION is where this operator wins, not
    * scan count (PrefixProbe, SURVEY §5).
    *
    * Output: (doc_a, doc_b, jaccard r6) for all pairs with J ≥ tau.
    */
  def prefixFilterJoin(df: DataFrame, id: Column, text: Column, n: Int,
                       tau: Double): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"prefixFilterJoin needs 0 < tau <= 1, got $tau")
    val docs = df.select(id.as("doc_id"), distinctShingles(text, n).as("shingles"))
      .withColumn("sz", size(col("shingles")))
      .filter(col("sz") > 0)
    val ex = docs.select(col("doc_id"), col("sz"), explode(col("shingles")).as("sh"))
    val freq = ex.groupBy(col("sh")).agg(count(lit(1)).as("__df"))
    // prefix length sz − ⌈τ·sz⌉ + 1. The ceiling must never overshoot the
    // TRUE ⌈τ·sz⌉: if fl(τ·sz) lands an ulp above an integral product the
    // prefix comes out one SHORTER and boundary pairs get lost. Nudging
    // down by 1e-9 before ceil can only lengthen the prefix (more
    // candidates, still complete) — the knife-edge goes the safe way.
    // ℓ-extended prefix (Adapt-Join's generalization of the prefix rule):
    // with prefix length sz − ⌈τ·sz⌉ + ℓ under ONE global shingle order,
    // any pair with J ≥ τ shares at least min(ℓ, α) prefix elements,
    // where α = ⌈τ/(1+τ)·(za+zb)⌉ is the pair's required overlap. Proof
    // shape: if the ℓ-th smallest common element sat outside A's prefix,
    // the ≥ i−ℓ+1 commons at-or-after it would all fit in A's suffix of
    // ⌈τ·za⌉−ℓ slots, forcing i < ⌈τ·za⌉ ≤ i. Requiring ℓ=3 shared
    // prefix shingles (not ≥1) is what kills the coincidence pairs — at
    // τ=0.4 the 1-match rule over-generates ~1700× on the benchmark
    // corpus (444k candidates for 256 true pairs), and the verification
    // joins ship full shingle arrays to every false candidate. Small sets
    // whose REQUIRED overlap α is below ℓ only need α matches (a pair of
    // identical 1-shingle docs must survive) — hence the min(ℓ, α) floor.
    val ext = 3
    val ranked = ex.join(freq, Seq("sh"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("__df"), col("sh"))))
      .filter(col("__rn") <=
        (col("sz") - ceil(lit(tau) * col("sz") - lit(1e-9)) + ext).cast("int"))
      .select(col("doc_id"), col("sz"), col("sh"))
    // PPJoin length filter: J = i/(za+zb−i) ≤ min(za,zb)/max(za,zb), so a
    // pair whose sizes differ by more than the τ ratio can NEVER verify —
    // pruned in the shingle join itself, before the match-count exchange
    // and the two verification joins ever see it. Every 1e-9 nudge here
    // and below moves the knife edge toward MORE candidates — the
    // completeness-safe direction.
    val cand = ranked.as("a")
      .join(ranked.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id") &&
        least(col("a.sz"), col("b.sz")).cast("double") >=
          lit(tau) * greatest(col("a.sz"), col("b.sz")).cast("double") - lit(1e-9))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sz").as("__za0"), col("b.sz").as("__zb0"))
      .agg(count(lit(1)).as("__m"))
      .filter(col("__m") >= least(lit(ext),
        ceil(lit(tau / (1.0 + tau)) * (col("__za0") + col("__zb0")) - lit(1e-9))))
      .select(col("doc_a"), col("doc_b"))
    val verified = cand
      .join(docs.select(col("doc_id").as("doc_a"), col("shingles").as("__sa"),
        col("sz").as("__za")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("shingles").as("__sb"),
        col("sz").as("__zb")), Seq("doc_b"))
      .withColumn("__i", size(array_intersect(col("__sa"), col("__sb"))))
      .withColumn("__j", col("__i").cast("double")
        / (col("__za") + col("__zb") - col("__i")).cast("double"))
    // threshold on the UNROUNDED quotient (one IEEE division of exact ints
    // on either engine), r6 only at emission — the ngramJaccard discipline
    verified.filter(col("__j") >= tau)
      .select(col("doc_a"), col("doc_b"), r6(col("__j")).as("jaccard"))
  }

  /** Bottom-k sketch fingerprint over word n-gram shingles (winnowing-style):
    * the k lexicographically-smallest shingle hashes, joined. Documents with
    * equal fingerprints are near-dup candidates. Pure map — no shuffle,
    * one fused expression per row.
    */
  def bottomKFingerprint(df: DataFrame, id: Column, text: Column, n: Int, k: Int): DataFrame =
    df.select(id.as("doc_id"),
      graft.functions.ShingleExpressions.bottomKFingerprint(text, n, k).as("fingerprint"))

  /** MinHash permutation constants (odd multipliers), shared with the oracle
    * SQL — see SparkEntry. Affine perm of a 32-bit base hash modulo a prime
    * just above 2^32; products stay < 2^52, exact in int64 on any engine.
    */
  val minhashA: Seq[Long] = Seq(
    179424673L, 179425457L, 179426549L, 179428399L,
    179430413L, 179432351L, 179434223L, 179436179L,
    179438057L, 179440031L, 179441911L, 179443847L,
    179445761L, 179447681L, 179449633L, 179451589L).map(a => (a | 1L) % 1048576L)
  val minhashB: Seq[Long] = Seq(
    982451653L, 982451707L, 982451789L, 982451827L,
    982451921L, 982452007L, 982452091L, 982452161L,
    982452253L, 982452343L, 982452433L, 982452527L,
    982452613L, 982452701L, 982452791L, 982452871L).map(_ % 1048576L)
  val minhashPrime: Long = 4294967311L

  /** MinHash signatures: numPerms affine permutations of the per-shingle
    * 32-bit md5 base hash; each signature row is the min over the document's
    * distinct shingles. One fused expression per row (split/shingle/md5/
    * permute/min in a single pass) — zero shuffle. Documents with no
    * shingles (shorter than n words) are dropped (they have no signature).
    */
  def minhashSignatures(df: DataFrame, id: Column, text: Column, n: Int, numPerms: Int): DataFrame = {
    require(numPerms <= minhashA.length)
    // CpuFloor BEFORE the kernel projection (guide §2.5, round 16): the
    // per-doc shingle/md5/permute pass is the most CPU-dense kernel in the
    // dedup family, and on a single-row-group input it ran as ONE task —
    // flooring the raw rows moves the kernel post-exchange onto every core.
    // No-op (no exchange) when the scan already carries enough partitions.
    val raw = graft.util.CpuFloor(df.select(id.as("doc_id"), text.as("__mh_text")))
    val sigs = raw
      .select(col("doc_id"),
        graft.functions.ShingleExpressions.minhashSig(
          col("__mh_text"), n, minhashA.take(numPerms), minhashB.take(numPerms),
          minhashPrime).as("sigs"))
      .filter(size(col("sigs")) > 0)
    val sigCols = (0 until numPerms).map(p => element_at(col("sigs"), p + 1).as(s"sig_$p"))
    sigs.select((col("doc_id") +: sigCols): _*)
  }

  /** (doc_id, band, bk) band keys from a signature frame: the LSH index
    * representation. Persist this (bucketed by `bk` at scale) to get an
    * incremental-dedup index the daily ingest joins against without ever
    * re-hashing the archive.
    */
  def bandKeys(signatures: DataFrame, numPerms: Int, bandSize: Int): DataFrame = {
    require(numPerms % bandSize == 0)
    val numBands = numPerms / bandSize
    val bandStructs = (0 until numBands).map { b =>
      val keyCols = (0 until bandSize).map(i => col(s"sig_${b * bandSize + i}"))
      struct(lit(b).as("band"), concat_ws("|", keyCols: _*).as("bk"))
    }
    signatures
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.bk").as("bk"))
  }

  /** LSH candidate pairs: split the signature into bands of `bandSize` rows;
    * two documents sharing any full band are candidates. Pairs come from a
    * self-join on (band_id, band_key) — i.e. only within hash buckets, never
    * a cross join. Returns distinct (doc_a, doc_b) with doc_a < doc_b.
    */
  def lshCandidatePairs(signatures: DataFrame, numPerms: Int, bandSize: Int): DataFrame = {
    val banded = bandKeys(signatures, numPerms, bandSize)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Incremental dedup against an indexed archive: candidates for the NEW
    * batch only, by joining its band keys against a persisted band-key
    * index (`bandKeys` of the historical corpus). This is how LSH dedup
    * actually runs day over day at 100 TB — the archive is hashed ONCE and
    * only each (small) incoming batch pays signature cost; the join is
    * new-batch-sized on one side, so it broadcasts while the batch fits and
    * hash-joins on the shared `bk` buckets otherwise. Returns distinct
    * (new_doc, index_doc) candidates.
    */
  def incrementalCandidates(newSignatures: DataFrame, bandIndex: DataFrame,
                            numPerms: Int, bandSize: Int): DataFrame =
    bandKeys(newSignatures, numPerms, bandSize).as("n")
      .join(bandIndex.as("i"),
        col("n.band") === col("i.band") && col("n.bk") === col("i.bk"))
      .select(col("n.doc_id").as("new_doc"), col("i.doc_id").as("index_doc"))
      .distinct()

  /** The full incremental-ingest dedup decision: new batch vs archive
    * candidates, verified with exact Jaccard over the two frames' shingle
    * sets (archive shingles are joined only for candidate index docs).
    * Emits (new_doc, index_doc, jaccard) for verified near-dups — the rows
    * an ingest pipeline drops (or routes to keeper logic) before insert.
    */
  def incrementalDedupVerified(newDf: DataFrame, indexDf: DataFrame,
                               id: Column, text: Column, n: Int,
                               numPerms: Int, bandSize: Int, minJaccard: Double): DataFrame = {
    val newSigs = minhashSignatures(newDf, id, text, n, numPerms)
    val index = bandKeys(minhashSignatures(indexDf, id, text, n, numPerms), numPerms, bandSize)
    val pairs = incrementalCandidates(newSigs, index, numPerms, bandSize)
    val newSets = newDf.select(id.as("new_doc"), distinctShingles(text, n).as("sh_a"))
    // archive shingles are computed AFTER the candidate join (projection on
    // the joined rows), so each run pays shingle cost only for candidate
    // index docs — shingling the whole archive per sync is exactly the
    // O(archive) work the band-key index exists to avoid
    pairs
      .join(newSets, "new_doc")
      .join(indexDf.select(id.as("index_doc"), text.as("__tb")), "index_doc")
      .withColumn("sh_b", distinctShingles(col("__tb"), n))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("new_doc"), col("index_doc"), r6(col("jaccard")).as("jaccard"))
  }

  /** 32-bit SimHash as a bit-string: each distinct token votes its md5 bits
    * (+1/-1) per position; the sign of the per-position sum is the hash bit.
    * Emitted as a 32-char '0'/'1' string so the oracle can reproduce it
    * without engine-specific integer hashing.
    *
    * One fused expression per row (graft.functions.SimHash32) — zero
    * shuffle; the exploded token x position formulation cost two groupBys
    * over |tokens| x 32 rows.
    */
  def simhash32(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("doc_id"),
      graft.functions.ShingleExpressions.simhash32(text).as("simhash"))

  /** 64-bit SimHash — the production width. Twice the band discrimination of
    * the 32-bit hash: band keys are 16 bits instead of 8 at numBands=4, so
    * random collisions drop ~256x and hot buckets on low-diversity corpora
    * shrink accordingly (see the width comparison in DedupSpec).
    */
  def simhash64(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("doc_id"),
      graft.functions.ShingleExpressions.simhash64(text).as("simhash"))

  /** SimHash near-dup pairs: band the 32-bit hash into `numBands` blocks;
    * documents sharing any full block are candidates (a hamming distance
    * <= numBands-1 match is guaranteed to share a block by pigeonhole);
    * candidates are then verified against the exact hamming bound. Same
    * bucket-join shape as minhash LSH — never n².
    *
    * Note on candidate volume: on low-diversity corpora simhashes cluster,
    * so band buckets can grow hot and candidate counts approach pairwise
    * within the hot buckets. The production lever is the 64-bit variant
    * (`simhashPairs64`) for more discrimination; 32 bits kept for the
    * width-tradeoff comparison.
    */
  def simhashPairs(df: DataFrame, id: Column, text: Column, numBands: Int, maxHamming: Int,
                   maxBucketSize: Long = 0L): DataFrame =
    simhashPairsImpl(simhash32(cpuFlooredText(df, id, text), col("doc_id"), col("__sh_text")),
      32, numBands, maxHamming, maxBucketSize)

  /** Shared CpuFloor prelude for the simhash kernels: raw (doc_id, text)
    * floored to core-count partitions so the per-doc vote kernel runs
    * post-exchange (guide §2.5; see CpuFloor). */
  private def cpuFlooredText(df: DataFrame, id: Column, text: Column): DataFrame =
    graft.util.CpuFloor(df.select(id.as("doc_id"), text.as("__sh_text")))

  /** 64-bit SimHash near-dup pairs — same banded pigeonhole + exact-hamming
    * verify as `simhashPairs`, over the production-width hash. At equal
    * numBands the pigeonhole guarantee (hamming <= numBands-1 always shares
    * a band) is identical; what changes is collision rate: 16-bit band keys
    * make random bucket collisions ~2^-16 instead of 2^-8, so the candidate
    * join touches far fewer false pairs.
    */
  def simhashPairs64(df: DataFrame, id: Column, text: Column, numBands: Int, maxHamming: Int,
                     maxBucketSize: Long = 0L): DataFrame =
    simhashPairsImpl(simhash64(cpuFlooredText(df, id, text), col("doc_id"), col("__sh_text")),
      64, numBands, maxHamming, maxBucketSize)

  /** The (band, bk) structs of a `width`-bit simhash string split into
    * `numBands` equal blocks — explode this to band the hash. */
  private def simhashBands(width: Int, numBands: Int): Column = {
    require(width % numBands == 0)
    val bandLen = width / numBands
    array((0 until numBands).map { b =>
      struct(lit(b).as("band"), substring(col("simhash"), b * bandLen + 1, bandLen).as("bk"))
    }: _*)
  }

  /** The banded bucket self-join behind every simhash pairs kernel; `cap`
    * observes the bucket cap on the A side (see [[capOccupancy]]). */
  private def simhashPairsImpl(hashes0: DataFrame, width: Int, numBands: Int, maxHamming: Int,
                               maxBucketSize: Long, cap: Option[CapObs] = None): DataFrame = {
    val bands = simhashBands(width, numBands)
    // ONE evaluation of the hash kernel (round 16): the banded frame feeds
    // BOTH sides of the bucket self-join, and the probe showed the build
    // side re-running the scan+simhash subtree single-task (~1.3 s of the
    // query's ~2 s). The shared frame is (doc_id, simhash) — N small rows,
    // drained by the caller's releaseShared like every other shared kernel
    // frame.
    val hashes = org.apache.spark.sql.graft.Bridge.shareLazily(hashes0)
    // Explicit hash repartition on the bucket keys (round 16): the banded
    // frame's BYTES are tiny but the bucket self-join's CPU is quadratic in
    // bucket occupancy, and AQE's byte-based coalescing collapsed the join
    // stage to ONE task (probed: ~1.1 s single-task stage = the whole
    // pair-expansion + hamming verify serialized). A REPARTITION_BY_NUM
    // shuffle is exempt from coalescing, provides exactly the clustering
    // the window and join require (no extra exchange), and spreads buckets
    // over the session's shuffle partitions at any scale.
    val parts = hashes.sparkSession.sessionState.conf.numShufflePartitions
    val allBanded = hashes.select(col("doc_id"), col("simhash"), explode(bands).as("bs"))
      .select(col("doc_id"), col("simhash"), col("bs.band").as("band"), col("bs.bk").as("bk"))
      .repartition(parts, col("band"), col("bk"))
    // frequent-bucket suppression: a band value shared by a large fraction of
    // the corpus is low-information and quadratic to join — drop those
    // buckets (a near-dup pair usually still shares a rarer band; standard
    // LSH recall/cost trade). 0 disables the cap.
    def capped(c: Option[CapObs]) =
      if (maxBucketSize <= 0) allBanded
      else capOccupancy(allBanded, Seq(col("band"), col("bk")), maxBucketSize, c)
    val b = capped(None)
    val a = cap.fold(b)(c => capped(Some(c)))
    // verify (cheap fused hamming) BEFORE deduplicating: the filter drops
    // the bulk of the multi-band duplicates, so only survivors shuffle
    a.as("a").join(b.as("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        graft.functions.ShingleExpressions.hammingDistance(
          col("a.simhash"), col("b.simhash")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** [[simhashPairs64]] with the frequent-bucket cap made visible: when
    * `maxBucketSize` is enabled it drops hot (band, bucket) groups, which
    * changes answers, so the cap must never be silent. The same kernel,
    * with the cap observed on the A side of the bucket self-join
    * ([[capOccupancy]]); after the first action on the returned frame the
    * counters yield (n_buckets, max_bucket, buckets_dropped, rows_dropped)
    * over the banded frame, equal to [[simhashBucketReport]]. Zero drops
    * on gate data; nonzero means the corpus needs a boilerplate look.
    * Requires the cap enabled — the uncapped kernel drops nothing.
    */
  def simhashPairs64Observed(df: DataFrame, id: Column, text: Column, numBands: Int,
                             maxHamming: Int, maxBucketSize: Long)
      : (DataFrame, CapCounters) = {
    require(maxBucketSize > 0,
      s"simhashPairs64Observed observes the bucket cap — needs maxBucketSize > 0, got $maxBucketSize")
    val cap = new CapObs("simhash_bucket_cap", bucketMetrics)
    (simhashPairsImpl(simhash64(cpuFlooredText(df, id, text), col("doc_id"), col("__sh_text")),
        64, numBands, maxHamming, maxBucketSize, Some(cap)),
      cap.counters(simhashBucketReport(df, id, text, numBands, maxBucketSize)))
  }

  /** Standalone accounting for the simhash frequent-bucket cap — the
    * [[linkageBlockReport]] sibling over the banded 64-bit frame: ONE row
    * (n_buckets, max_bucket, buckets_dropped, rows_dropped) where
    * *_dropped count the (band, bucket) groups / banded rows a
    * `maxBucketSize` guard excludes. Serves as the pre-flight check when
    * the cap is enabled, and as [[CapCounters]]' fallback. */
  def simhashBucketReport(df: DataFrame, id: Column, text: Column, numBands: Int,
                          maxBucketSize: Long): DataFrame = {
    val bands = simhashBands(64, numBands)
    require(maxBucketSize > 0,
      s"simhashBucketReport accounts for an enabled cap — needs maxBucketSize > 0, got $maxBucketSize")
    val banded = simhash64(cpuFlooredText(df, id, text), col("doc_id"), col("__sh_text"))
      .select(explode(bands).as("bs"))
      .select(col("bs.band").as("band"), col("bs.bk").as("bk"))
    capReport(banded, Seq(col("band"), col("bk")), maxBucketSize, bucketMetrics)
  }

  /** Full production dedup flow: MinHash-LSH candidate generation, then
    * exact Jaccard verification on the candidates only. At 100 TB the
    * verification join touches just the candidate pairs (bounded by band
    * collisions), never the corpus cross product.
    */
  def minhashDedupVerified(df: DataFrame, id: Column, text: Column, n: Int,
                           numPerms: Int, bandSize: Int, minJaccard: Double): DataFrame = {
    val pairs = lshCandidatePairs(minhashSignatures(df, id, text, n, numPerms), numPerms, bandSize)
    // shingles are computed AFTER the candidate joins, as projections over
    // the joined (candidate-only) rows — the incrementalDedupVerified
    // discipline (round 16, guide §3.2): the former pre-shingled `sets`
    // frame re-shingled the ENTIRE corpus once per join side, when only
    // band-collision candidates ever reach the intersection. The joins ship
    // raw text for matching docs only; identical arithmetic on identical
    // arrays, so the output is unchanged (oracle-pinned).
    pairs
      .join(df.select(id.as("doc_a"), text.as("__ta")), "doc_a")
      .join(df.select(id.as("doc_b"), text.as("__tb")), "doc_b")
      .withColumn("sh_a", distinctShingles(col("__ta"), n))
      .withColumn("sh_b", distinctShingles(col("__tb"), n))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), r6(col("jaccard")).as("jaccard"))
  }

  /** Fuzzy dedup by edit distance: MinHash-LSH candidate pairs verified with
    * Levenshtein similarity (1 - dist / max(len)) on the raw text. Catches
    * small in-place edits (typo fixes, token substitutions) that keep the
    * shingle sets similar but are easier to threshold in character space
    * than in Jaccard space.
    *
    * Scale: Levenshtein is O(len_a * len_b) per pair — by far the most
    * expensive verifier here — so it only ever runs on the LSH-bounded
    * candidate pairs (band-bucket collisions), never the corpus cross
    * product, and each pair ships just its two texts through the join.
    */
  def editSimilarityVerified(df: DataFrame, id: Column, text: Column, n: Int,
                             numPerms: Int, bandSize: Int, minSim: Double): DataFrame = {
    val pairs = lshCandidatePairs(minhashSignatures(df, id, text, n, numPerms), numPerms, bandSize)
    val txts = df.select(id.as("doc_id"), text.as("__t"))
    pairs
      .join(txts.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("__t", "__ta"), "doc_a")
      .join(txts.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("__t", "__tb"), "doc_b")
      .withColumn("__raw_sim", lit(1.0) -
        levenshtein(col("__ta"), col("__tb")).cast("double") /
          greatest(length(col("__ta")), length(col("__tb"))).cast("double"))
      .filter(col("__raw_sim") >= minSim)
      .select(col("doc_a"), col("doc_b"), r6(col("__raw_sim")).as("edit_sim"))
  }

  /** Estimated Jaccard from signature agreement: the fraction of minhash
    * positions on which two candidate documents agree is an unbiased
    * estimator of their Jaccard similarity. This is the scale path when
    * exact verification is too expensive — the estimate needs only the
    * numPerms-int signatures already computed for banding, so the shingle
    * sets are never materialized or joined. Estimator stderr is
    * ~sqrt(j(1-j)/numPerms) (±0.125 at numPerms=16, j=0.5); production
    * raises numPerms, not the verify cost.
    */
  def minhashJaccardEstimate(df: DataFrame, id: Column, text: Column, n: Int,
                             numPerms: Int, bandSize: Int): DataFrame = {
    val sigs = minhashSignatures(df, id, text, n, numPerms)
    val pairs = lshCandidatePairs(sigs, numPerms, bandSize)
    def renamed(tag: String) = (0 until numPerms)
      .foldLeft(sigs.withColumnRenamed("doc_id", s"doc_$tag")) { (d, p) =>
        d.withColumnRenamed(s"sig_$p", s"${tag}_$p")
      }
    val matches = (0 until numPerms)
      .map(p => when(col(s"a_$p") === col(s"b_$p"), 1).otherwise(0))
      .reduce(_ + _)
    pairs
      .join(renamed("a"), "doc_a")
      .join(renamed("b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        r6(matches.cast("double") / lit(numPerms.toDouble)).as("est_jaccard"))
  }

  /** Containment-scored pairs — the subset-duplication verifier Jaccard
    * structurally misses: a 10-shingle excerpt quoted verbatim inside a
    * 2000-shingle article has Jaccard ≈ 0.005 but containment
    * |A∩B|/min(|A|,|B|) = 1.0 — exactly the duplication (quotes, partial
    * scrapes, mirrors plus boilerplate) a curation pipeline wants caught.
    * Candidates come from SHARED SHINGLES, not minhash bands: a subset's
    * minhash almost never shares a full band with its superset (each
    * position's min survives with probability |A|/|B|), so band-bucket
    * candidacy would drop precisely the pairs this operator exists for.
    * Same explode/cap/pair-join machinery as ngramJaccard (shared core).
    */
  def ngramContainment(df: DataFrame, id: Column, text: Column, n: Int,
                       leftPred: Column, minContainment: Double,
                       maxShingleFreq: Long = 0L): DataFrame =
    pairOverlaps(df, id, text, n, leftPred, maxShingleFreq)
      // filter on the RAW score, round only for output — the same
      // borderline semantics as ngramJaccard and the incremental verifier
      .withColumn("containment",
        col("inter").cast("double") / least(col("sz_a"), col("sz_b")).cast("double"))
      .filter(col("containment") >= minContainment)
      .select(col("doc_a"), col("doc_b"), r6(col("containment")).as("containment"))

  /** Connected components over a near-dup pair table — the step that turns
    * pairwise similarity into a dedup DECISION (every document in a
    * component keeps `component` = the minimum doc id reachable through
    * near-dup edges; keep that one, drop the rest).
    *
    * Iterative min-label propagation with POINTER JUMPING: each round every
    * node takes the min label among itself and its neighbors, then labels
    * shortcut one hop (l ← min(l, label(l))). The shortcut makes the label
    * distance roughly double per round, so convergence is O(log diameter)
    * rounds rather than O(diameter) — a 200-link chain of near-dup edits
    * (a long revision history) converges in ~8 rounds instead of blowing
    * the round cap at 20. Each round is two keyed joins + one aggregation;
    * lineage is truncated per round so round N never recomputes rounds
    * 1..N-1. Label propagation is the Spark-native formulation of
    * union-find: no driver-side state at any corpus size.
    *
    * Below `localEdgeCap` directed edges (default 2²⁰: a few hundred MB of
    * boxed rows at the cap, more for string ids) the edges are solved by
    * driver-side union-find instead — see [[graft.util.DriverDispatch]].
    */
  def connectedComponents(pairs: DataFrame, a: String, b: String,
                          maxIters: Int = 20, localEdgeCap: Int = 1 << 20): DataFrame = {
    // both edge directions from ONE evaluation of the (possibly expensive)
    // pair plan: a union of two references would recompute it twice before
    // the checkpoint cuts the lineage
    val edges = pairs.select(explode(array(
        struct(col(a).as("src"), col(b).as("dst")),
        struct(col(b).as("src"), col(a).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint()
    // size dispatch: see graft.util.DriverDispatch
    for (ord <- graft.util.DriverDispatch.nodeOrdering(edges, "src", "dst");
         sample <- graft.util.DriverDispatch.collect(edges, localEdgeCap, "src", "dst"))
      return localComponents(sample, ord, edges.schema("src"), pairs.sparkSession)
    // initialize with the first propagation hop already folded in:
    // component0 = min(self, neighbors) comes free from one aggregation
    // over the edge list (which replaces the distinct-nodes scan), so
    // diameter-d components converge in d-1 loop rounds instead of d
    var labels = edges.groupBy(col("src").as("node"))
      .agg(min(col("dst")).as("__mind"))
      .select(col("node"), least(col("node"), col("__mind")).as("component"))
    var iters = 0
    var changed = true
    while (changed && iters < maxIters) {
      // EAGER checkpoint BEFORE the self-join: truncates lineage (round N
      // never recomputes rounds 1..N-1) and, materialized, lets the jump
      // self-join run over a plain scan — Catalyst's constraint rewrite
      // mishandles a self-joined Union (AttributeMap key-not-found), so
      // the union must be gone from the analyzed plan, not just deferred
      val propagated = labels.join(edges, col("node") === col("src"))
        .select(col("dst").as("node"), col("component"))
        .union(labels)
        .groupBy(col("node")).agg(min(col("component")).as("component"))
        .localCheckpoint()
      // pointer jump: follow the label one hop (a label is always a node id
      // in the same component, so the shortcut stays inside the component
      // and labels only decrease). This is what turns O(diameter) rounds
      // into O(log diameter).
      // the parent side gets FRESH attributes from the already-materialized
      // RDD (createDataFrame, not a self-join): Catalyst's Union/self-join
      // constraint rewrite trips over a shared checkpointed subplan
      // (AttributeMap key-not-found in rewriteConstraints), and a fresh
      // relation over the same RDD sidesteps it with zero recompute
      val parent = propagated.sparkSession
        .createDataFrame(propagated.rdd, propagated.schema)
        .toDF("p_node", "p_comp")
      val jumped = propagated
        .join(parent, col("component") === col("p_node"))
        .select(col("node"),
          least(col("component"), col("p_comp")).as("component"))
        .localCheckpoint()
      changed = jumped.as("n").join(labels.as("o"),
          col("n.node") === col("o.node") && col("n.component") =!= col("o.component"))
        .limit(1).count() > 0
      labels = jumped
      iters += 1
    }
    // Returning unconverged labels would silently split a component into
    // several ids; near-dup components are shallow, so hitting the cap
    // means something is wrong (or maxIters is genuinely too small).
    if (changed) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIters rounds; " +
        "raise maxIters (component diameter exceeds the cap)")
    labels.select(col("node").as("doc_id"), col("component"))
  }

  /** Driver-side union-find over a collected (src, dst) edge list — the
    * small-graph half of [[connectedComponents]]'s size dispatch. Same
    * semantics as the pointer-jumping loop: every node appearing in an
    * edge is labeled with the minimum member id of its component
    * (normalized after the unions, so link order cannot leak a non-min
    * root). Output sorted by node for deterministic run order. */
  private def localComponents(edgeRows: Array[org.apache.spark.sql.Row],
                              ord: Ordering[Any],
                              srcField: org.apache.spark.sql.types.StructField,
                              spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    val parent = new java.util.HashMap[Any, Any]()
    def find(x0: Any): Any = {
      var x = x0
      var p = parent.get(x)
      while (p != null && p != x) { // path halving
        val gp = parent.get(p)
        if (gp != null && gp != p) { parent.put(x, gp); x = gp }
        else x = p
        p = parent.get(x)
      }
      x
    }
    edgeRows.foreach { r =>
      val (s, d) = (r.get(0), r.get(1))
      if (!parent.containsKey(s)) parent.put(s, s)
      if (!parent.containsKey(d)) parent.put(d, d)
      val (rs, rd) = (find(s), find(d))
      if (rs != rd) {
        if (ord.lt(rs, rd)) parent.put(rd, rs) else parent.put(rs, rd)
      }
    }
    // normalize every root to the minimum member id of its component
    val minOf = new java.util.HashMap[Any, Any]()
    val it0 = parent.keySet().iterator()
    while (it0.hasNext) {
      val n = it0.next()
      val r = find(n)
      val cur = minOf.get(r)
      if (cur == null || ord.lt(n, cur)) minOf.put(r, n)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Any, Any)]
    val it1 = parent.keySet().iterator()
    while (it1.hasNext) {
      val n = it1.next()
      out += ((n, minOf.get(find(n))))
    }
    val rows = out.sortBy(_._1)(ord).map { case (n, c) => Row(n, c) }
    val schema = StructType(Seq(srcField.copy(name = "doc_id"),
      srcField.copy(name = "component")))
    spark.createDataFrame(java.util.Arrays.asList(rows.toSeq: _*), schema)
  }

  /** Quality-aware dedup decision: within each near-dup component keep the
    * HIGHEST-quality member (production pipelines keep the best duplicate,
    * not an arbitrary one; min-id keepers discard the cleaner copy
    * whenever it arrived later). `quality` is (doc_id, qscore) and MUST
    * cover every component member — a member with no quality row raises
    * (a silently pre-filtered quality frame would otherwise undercount
    * n_members and could elect a worse keeper). The keeper is
    * argmax(qscore) with the min doc id breaking ties — one max-of-struct
    * aggregation, so the whole decision is a single shuffle over
    * component members.
    */
  def keepBestPerComponent(components: DataFrame, quality: DataFrame): DataFrame =
    components.join(quality, Seq("doc_id"), "left")
      .withColumn("qscore", when(col("qscore").isNotNull, col("qscore"))
        .otherwise(raise_error(concat(
          lit("keepBestPerComponent: no quality row for doc "),
          col("doc_id").cast("string")))))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("qscore").as("q"), (-col("doc_id")).as("nid"))).as("__best"))
      .select(col("component"), (-col("__best.nid")).as("keeper_id"), col("n_members"))

  /** N-gram Jaccard similarity for candidate pairs sharing at least one
    * shingle. `leftPred` bounds the left side (query set or LSH candidates) —
    * the join itself only touches shared-shingle buckets. Set sizes ride
    * along with the exploded rows, so the only shuffles are the pair join
    * and the pair-count aggregation.
    *
    * `maxShingleFreq` (0 = off) drops shingles shared by more than that many
    * documents BEFORE the pair join — the same hot-bucket lever as the
    * simhash/LSH bucket caps: one ubiquitous n-gram ("of the and") otherwise
    * makes a quadratic bucket at corpus scale. Dropping a shingle from the
    * intersection can only LOWER a pair's Jaccard (set sizes are computed
    * before the cap), so the filter trades recall on pairs whose overlap is
    * mostly stop-shingles — the standard LSH recall/cost trade.
    */
  def ngramJaccard(df: DataFrame, id: Column, text: Column, n: Int,
                   leftPred: Column, minJaccard: Double,
                   maxShingleFreq: Long = 0L): DataFrame =
    pairOverlaps(df, id, text, n, leftPred, maxShingleFreq)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), r6(col("jaccard")).as("jaccard"))

  /** Shared-shingle pair overlaps — the one owner of the explode/cap/pair
    * machinery (ngramJaccard and ngramContainment score the same
    * (doc_a, doc_b, sz_a, sz_b, inter) rows differently).
    */
  private def pairOverlaps(df: DataFrame, id: Column, text: Column, n: Int,
                           leftPred: Column, maxShingleFreq: Long): DataFrame = {
    val exploded = df
      .select(id.as("doc_id"), distinctShingles(text, n).as("shingles"))
      .select(col("doc_id"), size(col("shingles")).as("sz"), explode(col("shingles")).as("sh"))
    val capped =
      if (maxShingleFreq <= 0) exploded
      else capOccupancy(exploded, Seq(col("sh")), maxShingleFreq)
    val sets = capped.withColumn("__q", leftPred)
    // query docs keep all shared-shingle partners: query-query pairs once
    // (smaller id left), query-nonquery pairs regardless of id order
    sets.filter(col("__q")).as("a")
      .join(sets.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") =!= col("b.doc_id") &&
        (col("a.doc_id") < col("b.doc_id") || !col("b.__q")))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(max(col("a.sz")).as("sz_a"), max(col("b.sz")).as("sz_b"), count(lit(1)).as("inter"))
  }

  /** Blocked Jaro-Winkler record linkage: candidate pairs share a blocking
    * key (the blocking join — an EQUI-join, never a cross product), then
    * the native [[graft.functions.JaroWinkler]] expression verifies the
    * first `probeLen` chars and keeps pairs whose r6-rounded similarity
    * reaches `threshold`. Rounding BEFORE the threshold compare is the
    * contract: jw's last ulp may differ across engines, the 6-decimal
    * quantization may not.
    *
    * TWO blocking passes (round 14), unioned then deduped before the one
    * verification: (1) the `blockLen`-char key PREFIX — the classic
    * names/titles block; (2) the SORTED-TOKEN key of the probe region —
    * so word-order/first-char variants ("Smith, John" vs "John Smith"),
    * invisible to any prefix block, still become candidates. Candidates
    * are verified once (the probe columns ride the candidate rows, so no
    * join back to the corpus).
    *
    * The fuzzy-entity-match sibling of prefixFilterJoin (token-set J) and
    * fuzzyEditDedup (Levenshtein): JW weights prefix agreement, the right
    * verifier for names/titles. Scale: each pass confines candidates to
    * equal-key blocks, and blocks past `maxBlock` members are DROPPED per
    * pass — the banded-simhash hot-bucket discipline (round 13): a
    * boilerplate-heavy corpus (many records opening with the same 16
    * chars) otherwise makes within-block pairs quadratic in the hot
    * block's occupancy — the sf1 replica measured pair volume growing 74x
    * for 10x docs from exactly this mechanism. A block that hot carries no
    * linkage signal anyway; real matches live in discriminative blocks.
    * The cap never binds on the gate data (max occupancy 14 at the 100x
    * replica), so the oracle carries the same guard and results are
    * unchanged at every tested SF. The cap is NOT silent: run
    * [[linkageBlockReport]] over the same (key, blockLen, probeLen,
    * maxBlock) to get per-pass (blocks_dropped, rows_dropped,
    * max_occupancy) accounting — the registered `linkage_block_report`
    * query is exactly that companion — or run [[jaroWinklerLinkageObserved]]
    * to get the same counters on the linkage job itself. Remaining sub-cap hot blocks are
    * AQE skew-split (same caveat as the LSH band joins). Output:
    * (doc_a, doc_b, jw) with doc_a < doc_b.
    */
  def jaroWinklerLinkage(df: DataFrame, id: Column, key: Column,
                         blockLen: Int, probeLen: Int, threshold: Double,
                         maxBlock: Int = 1000): DataFrame =
    linkage(df, id, key, blockLen, probeLen, maxBlock, jaroWinklerVerifier(threshold), None)

  /** Blocked Damerau-Levenshtein linkage: the transposition-aware edit
    * verifier for typo-heavy sources ("teh"/"the" is ONE edit here, two
    * for plain Levenshtein). Same two-pass blocking (and per-pass
    * hot-block `maxBlock` guard — see [[jaroWinklerLinkage]]); keeps pairs
    * whose unrestricted DL distance over the `probeLen`-char probe is ≤
    * `maxDist`. Integer distances — no rounding contract needed at the
    * threshold.
    *
    * Scale (round 15): the verifier is threshold-bounded at `maxDist`
    * instead of running the full O(probeLen²) DP per pair — a banded DP
    * with row-min early abandonment that is EXACT for every pair the
    * filter keeps and proves `> maxDist` for the rest (see
    * [[graft.functions.DamerauLevenshtein.boundedDistance]]). Candidate
    * pairs additionally carry the PPJoin-style length gate
    * |len_a − len_b| ≤ maxDist in the blocking join itself (every edit op
    * changes length by at most 1, so the gate is recall-free at the
    * threshold); on probes shorter than the corpus norm it prunes before
    * any verification work. The r14 kernel spent pair-volume × 4096 DP
    * cells at sf1 (11.9x for 10x data — the slowest non-contract row);
    * both guards attack exactly that product.
    */
  def damerauLinkage(df: DataFrame, id: Column, key: Column,
                     blockLen: Int, probeLen: Int, maxDist: Int,
                     maxBlock: Int = 1000): DataFrame =
    linkage(df, id, key, blockLen, probeLen, maxBlock, damerauVerifier(maxDist), None)

  /** [[jaroWinklerLinkage]] with the hot-block cap made visible: the same
    * kernel, with each pass's cap observed on the X side of its self-join
    * ([[capOccupancy]]). After the first action on the returned frame the
    * (prefix-pass, sorted-token-pass) [[CapCounters]] each yield the
    * matching [[linkageBlockReport]] row's (n_blocks, max_occupancy,
    * blocks_dropped, rows_dropped). Production callers act on the pairs
    * they were computing anyway and read the drop counters for free;
    * `linkage_block_report` stays the standalone (oracle-gated) rendering
    * of the same accounting. */
  def jaroWinklerLinkageObserved(df: DataFrame, id: Column, key: Column,
                                 blockLen: Int, probeLen: Int, threshold: Double,
                                 maxBlock: Int = 1000)
      : (DataFrame, CapCounters, CapCounters) =
    linkageObserved(df, id, key, blockLen, probeLen, maxBlock, jaroWinklerVerifier(threshold))

  /** [[damerauLinkage]] with observed cap accounting — see
    * [[jaroWinklerLinkageObserved]]. */
  def damerauLinkageObserved(df: DataFrame, id: Column, key: Column,
                             blockLen: Int, probeLen: Int, maxDist: Int,
                             maxBlock: Int = 1000)
      : (DataFrame, CapCounters, CapCounters) =
    linkageObserved(df, id, key, blockLen, probeLen, maxBlock, damerauVerifier(maxDist))

  /** What distinguishes the linkage kernels: a pair gate applied inside
    * the blocking join, and the scoring of the deduped
    * (doc_a, doc_b, __pa, __pb) candidates. */
  private final case class LinkageVerifier(pairFilter: (Column, Column) => Column,
                                           score: DataFrame => DataFrame)

  private def jaroWinklerVerifier(threshold: Double): LinkageVerifier = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"jaroWinklerLinkage needs threshold in (0, 1], got $threshold")
    LinkageVerifier((_, _) => lit(true),
      _.select(col("doc_a"), col("doc_b"),
          r6(graft.functions.JaroWinkler.jaroWinkler(col("__pa"), col("__pb"))).as("jw"))
        .filter(col("jw") >= threshold))
  }

  private def damerauVerifier(maxDist: Int): LinkageVerifier = {
    require(maxDist >= 0, s"damerauLinkage needs maxDist >= 0, got $maxDist")
    LinkageVerifier((pa, pb) => abs(length(pa) - length(pb)) <= maxDist,
      _.select(col("doc_a"), col("doc_b"),
          graft.functions.DamerauLevenshtein
            .damerauLevenshteinBounded(col("__pa"), col("__pb"), maxDist).as("dl"))
        .filter(col("dl") <= maxDist))
  }

  /** The sorted-token block key: tokens of the probe region, sorted and
    * re-joined — word-order-insensitive, the recall pass prefix blocking
    * cannot provide. Dialect twin: array_to_string(list_sort(
    * string_split(substr(k,1,n), ' ')), ' ') in DuckDB (both engines
    * split on the literal space keeping empties, sort bytewise). */
  private def sortedTokenKey(key: Column, probeLen: Int): Column =
    array_join(array_sort(split(substring(key, 1, probeLen), " ")), " ")

  /** The linkage kernel: the prefix pass unioned with the sorted-token
    * pass, deduped on the id pair BEFORE the (more expensive) scoring. The
    * base (id, probe) projection is shareLazily-bound: both passes and
    * their self-joins read one materialization instead of re-scanning the
    * corpus. Each pass caps its blocks at `maxBlock` members on both join
    * sides; `caps` (prefix, sorted-token) observes them on the X side. */
  private def linkage(df: DataFrame, id: Column, key: Column,
                      blockLen: Int, probeLen: Int, maxBlock: Int,
                      v: LinkageVerifier, caps: Option[(CapObs, CapObs)]): DataFrame = {
    require(blockLen >= 1 && probeLen >= blockLen,
      s"linkage needs 1 <= blockLen <= probeLen, got $blockLen/$probeLen")
    require(maxBlock >= 1, s"linkage needs maxBlock >= 1, got $maxBlock")
    val base = org.apache.spark.sql.graft.Bridge.shareLazily(
      df.select(id.as("__id"), substring(key, 1, probeLen).as("__probe")))
    def pass(blockKey: Column, cap: Option[CapObs]) = {
      val keyed = base.select(col("__id"), blockKey.as("__blk"), col("__probe"))
      val y = capOccupancy(keyed, Seq(col("__blk")), maxBlock)
      val x = cap.fold(y)(c => capOccupancy(keyed, Seq(col("__blk")), maxBlock, Some(c)))
      x.as("x").join(y.as("y"),
          col("x.__blk") === col("y.__blk") && col("x.__id") < col("y.__id") &&
            v.pairFilter(col("x.__probe"), col("y.__probe")))
        .select(col("x.__id").as("doc_a"), col("y.__id").as("doc_b"),
          col("x.__probe").as("__pa"), col("y.__probe").as("__pb"))
    }
    // blockLen <= probeLen, so the prefix key is a prefix of the probe —
    // both keys derive from the cached projection, never the raw corpus
    v.score(pass(substring(col("__probe"), 1, blockLen), caps.map(_._1))
      .union(pass(sortedTokenKey(col("__probe"), probeLen), caps.map(_._2)))
      .distinct())
  }

  /** The observed linkage entry: the plain kernel with both passes' caps
    * observed, plus the two counters with their report-row fallbacks. */
  private def linkageObserved(df: DataFrame, id: Column, key: Column,
                              blockLen: Int, probeLen: Int, maxBlock: Int,
                              v: LinkageVerifier): (DataFrame, CapCounters, CapCounters) = {
    val prefix = new CapObs("linkage_block_prefix", blockMetrics)
    val sorted = new CapObs("linkage_block_sorted_tokens", blockMetrics)
    def report(kind: String) = linkageBlockReport(df, id, key, blockLen, probeLen, maxBlock)
      .filter(col("block_kind") === kind)
    (linkage(df, id, key, blockLen, probeLen, maxBlock, v, Some((prefix, sorted))),
      prefix.counters(report("prefix")), sorted.counters(report("sorted_tokens")))
  }

  /** Occupancy accounting for the linkage hot-block cap — the cap must
    * never be silent (a dropped block CHANGES ANSWERS for callers whose
    * hot prefixes hold true matches). One row per blocking pass:
    * (block_kind, n_blocks, max_occupancy, blocks_dropped, rows_dropped)
    * where *_dropped count the blocks/rows the linkage kernels' guard
    * excludes at this `maxBlock`. Run it beside [[jaroWinklerLinkage]] /
    * [[damerauLinkage]] with the same parameters — or ship it as the
    * pre-flight check, the way `key_skew_report` fronts a join. One
    * [[capReport]] per pass. */
  def linkageBlockReport(df: DataFrame, id: Column, key: Column,
                         blockLen: Int, probeLen: Int, maxBlock: Int): DataFrame = {
    require(blockLen >= 1 && probeLen >= blockLen,
      s"linkage needs 1 <= blockLen <= probeLen, got $blockLen/$probeLen")
    require(maxBlock >= 1, s"linkage needs maxBlock >= 1, got $maxBlock")
    def report(kind: String, blockKey: Column) =
      capReport(df.select(blockKey.as("__blk")), Seq(col("__blk")), maxBlock, blockMetrics)
        .select(lit(kind).as("block_kind") +: blockMetrics.map(col): _*)
    report("prefix", substring(key, 1, blockLen))
      .union(report("sorted_tokens", sortedTokenKey(key, probeLen)))
  }
}
