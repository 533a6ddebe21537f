package graft.curation

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ShingleExpressions

/** Corpus-curation operators for a training-data pipeline: benchmark
  * decontamination, cross-document line dedup, sequence packing, and
  * weighted source mixing. Each is a pure DataFrame plan — deterministic,
  * shuffle-minimal, no driver-side state — so the same code path holds from
  * the sf0.01 oracle fixtures to a 100 TB corpus.
  */
object Curation {
  // oracle-compared 6-decimal rounding uses the portable floor arithmetic
  // (Portable.round6): engine round() implementations disagree on
  // knife-edge quotients, and both sides of the oracle contract must run
  // the identical IEEE op sequence
  private val r6 = graft.util.Portable.round6 _


  /** Benchmark decontamination: flag corpus documents that share at least
    * one n-gram with an evaluation/benchmark set (the standard guard against
    * test-set leakage into training data).
    *
    * Scale shape: the benchmark side is always small relative to the corpus
    * (eval sets are thousands of documents), so its distinct shingle set is
    * BROADCAST — the corpus-side scan stays embarrassingly parallel and the
    * only shuffle is the per-document overlap count, which is map-side
    * combinable. Shingling uses the fused single-pass expression (the HOF
    * formulation evaluates interpreted).
    *
    * Returns one row per corpus document: (doc_id, n_overlap, contaminated)
    * where n_overlap counts the document's DISTINCT shingles that appear
    * anywhere in the benchmark.
    */
  /** (doc_id, __s) rows: one per distinct shingle per document. */
  private def explodedShingles(df: DataFrame, id: Column, text: Column, n: Int): DataFrame =
    df.select(id.as("doc_id"), explode(ShingleExpressions.distinctShingles(text, n)).as("__s"))

  /** Left-join per-doc hit counts back onto the full corpus so clean
    * documents get an explicit (0, false) verdict row. */
  private def perDocVerdict(corpus: DataFrame, id: Column, hits: DataFrame,
                            cnt: String, flag: String): DataFrame =
    corpus.select(id.as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col(cnt), lit(0L)).as(cnt),
        (coalesce(col(cnt), lit(0L)) > 0).as(flag))

  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    id: Column, text: Column, n: Int): DataFrame = {
    val benchShingles = benchmark
      .select(explode(ShingleExpressions.distinctShingles(text, n)).as("__s"))
      .distinct()
    val hits = explodedShingles(corpus, id, text, n)
      .join(broadcast(benchShingles), "__s")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlap"))
    perDocVerdict(corpus, id, hits, "n_overlap", "contaminated")
  }

  /** Cross-document line deduplication (C4-style): a line is kept only at
    * its first occurrence in the corpus — the occurrence with the smallest
    * (doc_id, position) — and removed everywhere else; documents are then
    * reassembled in original line order.
    *
    * `lines` must be an array<string> column with positional semantics and
    * NON-NULL elements (split output). The first occurrence per line is a
    * `min(struct(doc_id, pos))` AGGREGATION, not a window: partial
    * aggregation combines map-side, so a boilerplate line repeated across
    * millions of documents costs one row per task instead of one hot
    * window partition (the skew cliff a row_number formulation would
    * have).
    *
    * The winners of that aggregation ARE the complete kept set, so they
    * fold straight into per-doc position arrays (ints only) and the
    * document reassembles ROW-LOCALLY with an indexed array filter —
    * line text shuffles exactly once (the distinct-line aggregation);
    * the old join-back-and-regroup shape moved the full corpus text
    * through two more exchanges to make the same decision. The one
    * remaining doc-keyed join moves each document once to meet its
    * kept-position row — the floor for an exact global first-keeper.
    *
    * Returns (doc_id, n_lines, n_kept, text_kept) with kept lines joined by
    * '\n' — empty string when every line of a document was a repeat.
    */
  def lineDedup(df: DataFrame, id: Column, lines: Column): DataFrame = {
    val base = df.select(id.as("doc_id"), lines.as("__lines"))
      .filter(size(col("__lines")) > 0)
    val exploded = base.select(col("doc_id"),
      posexplode(col("__lines")).as(Seq("pos", "line")))
    val firsts = exploded.groupBy(col("line"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("__first"))
    base.join(keptPositions(firsts), Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("__lines")).cast("long").as("n_lines"),
        coalesce(size(col("__kept")), lit(0)).cast("long").as("n_kept"),
        array_join(filter(col("__lines"),
          (_, i) => array_contains(col("__kept"), i)), "\n").as("text_kept"))
  }

  /** Fold first-occurrence winners (line/chunk-keyed `min(struct(doc_id,
    * pos))` rows) into per-doc kept-position arrays: (doc_id, __kept
    * array<int>). Ints only — the deduped text never travels past its
    * first aggregation; per-doc array size is bounded by the document's
    * own line/chunk count. */
  private def keptPositions(firsts: DataFrame): DataFrame =
    firsts.select(col("__first.doc_id").as("doc_id"), col("__first.pos").as("pos"))
      .groupBy(col("doc_id"))
      .agg(collect_list(col("pos")).as("__kept"))

  /** Surgical decontamination: excise the individual lines whose content
    * appears in the benchmark and keep the rest of the document in order —
    * the alternative to dropping contaminated documents wholesale (which
    * loses an entire book over one quoted test question). Returns per doc
    * the clean reassembled text plus line/removal counts, so the caller
    * can still drop documents that were MOSTLY benchmark (high
    * n_removed/n_lines) rather than lightly contaminated.
    *
    * Scale shape: the benchmark's distinct line set is benchmark-sized —
    * broadcast, so the hit decision never shuffles the corpus; only HIT
    * positions aggregate (contamination-sized, typically a sliver of the
    * corpus) and the document reassembles ROW-LOCALLY with an indexed
    * array filter. The removed-position frame carries no size hint: when
    * contamination is rare AQE broadcasts it from measured size and the
    * corpus text never shuffles at all; a pathologically contaminated
    * corpus degrades to one doc-keyed exchange, never more. Line identity
    * is the exact text here; at 100 TB hash the line first so the
    * broadcast ships digests, not benchmark text.
    */
  def decontaminateSurgical(corpus: DataFrame, id: Column, lines: Column,
                            benchmark: DataFrame, benchLines: Column): DataFrame = {
    val base = corpus.select(id.as("doc_id"), lines.as("__lines"))
      .filter(size(col("__lines")) > 0)
    val ex = base.select(col("doc_id"),
      posexplode(col("__lines")).as(Seq("pos", "line")))
    val bench = benchmark.select(explode(benchLines).as("line")).distinct()
    val removed = ex.join(broadcast(bench), Seq("line"))
      .groupBy(col("doc_id"))
      .agg(collect_list(col("pos")).as("__removed"))
    base.join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("__lines")).cast("long").as("n_lines"),
        coalesce(size(col("__removed")), lit(0)).cast("long").as("n_removed"),
        array_join(filter(col("__lines"),
          (_, i) => coalesce(!array_contains(col("__removed"), i), lit(true))),
          "\n").as("text_clean"))
  }

  /** Exact-substring dedup REWRITE at chunk granularity (the ExactSubstr
    * remove step of Lee et al.'s "Deduplicating Training Data Makes
    * Language Models Better", chunk-aligned): split each document into
    * non-overlapping `window`-token chunks, keep every chunk only at its
    * first (doc_id, chunk_id) occurrence corpus-wide, and reassemble the
    * survivors in order. dup_span_stats MEASURES span duplication; this
    * removes it — boilerplate paragraphs die everywhere but their first
    * home while the rest of each document survives (vs dropping whole
    * near-dup docs).
    *
    * Scale shape is lineDedup's: one explode, first occurrence as a
    * map-side-combinable min(struct) agg (no per-chunk window ⇒ no
    * hot-boilerplate skew cliff), winners folded to per-doc kept-position
    * int arrays, ROW-LOCAL reassembly on the recomputed chunk array —
    * chunk text shuffles exactly once (as its md5 digest). The
    * first-keeper key is md5(chunk), not the raw 16-token string — the
    * agg side stays fixed-width and a million-fold hot chunk is an
    * AQE-splittable 32-char key (the curationStages digest convention).
    * Trailing partial chunks (< window tokens) are always kept: they
    * cannot be attested verbatim repeats at this granularity.
    *
    * Output: doc_id, n_chunks, n_removed, text_kept (space-rejoined).
    */
  def spanDedupRewrite(df: DataFrame, id: Column, text: Column, window: Int): DataFrame = {
    val base = df.select(id.as("doc_id"),
        wordChunks(text, window, window).as("__chunks"))
      .filter(size(col("__chunks")) > 0)
    val chunks = base.select(col("doc_id"),
      posexplode(col("__chunks")).as(Seq("pos", "ws")))
    val firsts = chunks.filter(size(col("ws")) === window)
      .groupBy(md5(array_join(col("ws"), " ")).as("__digest"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("__first"))
    val nFull = size(filter(col("__chunks"), c => size(c) === window))
    base.join(keptPositions(firsts), Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("__chunks")).cast("long").as("n_chunks"),
        (nFull - coalesce(size(col("__kept")), lit(0))).cast("long").as("n_removed"),
        array_join(transform(filter(col("__chunks"),
            (c, i) => size(c) =!= window ||
              coalesce(array_contains(col("__kept"), i), lit(false))),
          c => array_join(c, " ")), " ").as("text_kept"))
  }

  /** Deterministic, dialect-portable [0, 100) hash percentile of a key —
    * the sampling coin for mixture weighting. Built from md5 hex so any SQL
    * engine reproduces it bit-for-bit (engine-native hash functions don't
    * agree across systems). `offset` selects one of 8 NON-OVERLAPPING
    * 16-bit windows of the digest, so decisions at different offsets are
    * genuinely independent (a sliding window would share 12 of 16 bits
    * with its neighbor). Offset 3 is the window hashShard draws from —
    * avoid it when the decision must be independent of shard assignment.
    */
  def hashPct(key: Column, offset: Int = 1): Column = {
    require(offset >= 1 && offset <= 8, "offset must select one of the 8 digest windows")
    conv(substring(md5(key.cast("string")), 1 + 4 * (offset - 1), 4), 16, 10).cast("long") % 100
  }

  /** Deterministic shard assignment from the same portable hash family —
    * used to scatter documents into independent packing shards. Draws the
    * digest window at offset 3 (hex chars 9-12), disjoint from hashPct's
    * default window. */
  def hashShard(key: Column, numShards: Int): Column =
    conv(substring(md5(key.cast("string")), 9, 4), 16, 10).cast("long") % numShards

  /** Deterministic k-fold cross-validation assignment — membership is a
    * pure function of the key, so every engine, run and team member
    * reproduces the same folds (the dataset_split contract, generalized
    * past train/val/test). Draws digest window offset 7 (hex chars
    * 25-28), disjoint from the split/shard/mixture windows, so fold
    * membership is independent of every other hash decision. */
  def cvFold(key: Column, k: Int): Column = {
    require(k >= 2 && k <= 100, s"cvFold needs k in [2, 100], got $k")
    conv(substring(md5(key.cast("string")), 25, 4), 16, 10).cast("long") % k
  }

  /** Deterministic exactly-k-per-stratum sample (eval sets, human-review
    * batches, per-source probes) — the fixed-size sibling of data_mixture's
    * Bernoulli coin. Each stratum keeps its k smallest salted digests:
    * uniform without replacement over the digest randomness, reproducible
    * across runs/engines, and growth-stable in expectation (a new row only
    * displaces the current worst pick).
    *
    * Batch plan: a digest-ordered `row_number` window with the rank filter
    * — Catalyst inserts WindowGroupLimit on BOTH sides of the shuffle, so
    * each input partition forwards at most k rows per stratum and a hot
    * stratum never sorts its full membership (measured 7× faster than the
    * typed bottom-k aggregate at 20M rows — the aggregate's interpreted
    * per-row path loses to the codegen'd projection + bounded limit; see
    * SURVEY §5). The same bottom-k ([[graft.functions.BottomKAgg]])
    * remains the STREAMING twin's engine, where per-window state must
    * live in an aggregation buffer and windows aren't available. The
    * digest salt is its own namespace, independent of the mixture coin
    * and the packing shard windows (full-digest order vs 16-bit windows).
    *
    * Output: stratum, rank (1-based within the stratum's digest order), id.
    */
  def stratifiedSample(df: DataFrame, stratum: Column, id: Column, k: Int,
                       salt: String): DataFrame = {
    require(k >= 1, s"stratifiedSample needs k >= 1, got $k")
    val w = Window.partitionBy(col("__stratum"))
      .orderBy(col("__dig"), col("__id"))
    df.select(stratum.as("__stratum"), id.as("__id"))
      .withColumn("__dig", md5(concat(lit(salt + ":"), col("__id").cast("string"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("__stratum").as("stratum"), col("rank"), col("__id").as("id"))
  }

  /** Deterministic weighted sampling WITHOUT replacement, exactly k per
    * stratum (Efraimidis–Spirakis A-Res): each row draws u ∈ (0,1) from
    * the salted portable digest and ranks by key = −ln(u)/w — the k
    * smallest keys are a weighted sample where selection probability is
    * proportional to weight. The importance-sampling sibling of
    * [[stratifiedSample]] (uniform) and mixtureKeep (Bernoulli): "give me
    * exactly 1000 docs per source, high-quality ones more often".
    *
    * Same WindowGroupLimit plan as stratifiedSample (rank filter bounds
    * both shuffle sides). u is the first 13 hex digits of the digest
    * (52 bits — full double mantissa), never exactly 0, so ln is finite.
    * Reproducible run-to-run; NOT oracle-bound: the ORDER of −ln(u)/w
    * keys sits on pow/ln ulps that different engines may flip, so the
    * contract is pinned by property tests (determinism, exhaustiveness,
    * and the ~w selection-frequency law) instead of SQL equality.
    *
    * Output: stratum, rank, id (ascending key order within stratum).
    */
  def weightedSample(df: DataFrame, stratum: Column, id: Column,
                     weight: Column, k: Int, salt: String): DataFrame = {
    require(k >= 1, s"weightedSample needs k >= 1, got $k")
    val u = (conv(substring(md5(concat(lit(salt + ":"), col("__id").cast("string"))),
      1, 13), 16, 10).cast("double") + lit(1.0)) / lit(4.503599627370496e15) // 16^13
    val w = Window.partitionBy(col("__stratum")).orderBy(col("__key"), col("__id"))
    df.select(stratum.as("__stratum"), id.as("__id"), weight.as("__w"))
      .filter(col("__w") > 0.0)
      .withColumn("__key", -log(u) / col("__w"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("__stratum").as("stratum"), col("rank"), col("__id").as("id"))
  }

  /** Weighted source mixing: each document is kept with probability
    * weight(source)/100, decided by a deterministic per-document hash coin —
    * reruns, resumes, and the oracle all agree on exactly which documents
    * survive. Returns per-source accounting (n_total, n_kept, rate).
    *
    * The decision itself is row-local (zero shuffle); only the audit
    * aggregation shuffles, map-side combined on the small source key.
    */
  def mixtureStats(df: DataFrame, id: Column, source: Column,
                   weights: Map[String, Int], defaultWeight: Int = 100): DataFrame = {
    // the audit MUST use the same coin as the row-level decision
    df.select(source.as("source"), mixtureKeep(id, source, weights, defaultWeight).as("__keep"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"))
      .withColumn("rate",
        r6(col("n_kept").cast("double") / col("n_total").cast("double")))
  }

  /** The row-level mixture decision (for building the filtered corpus
    * rather than the audit): keep iff hashPct(id) < weight(source). */
  def mixtureKeep(id: Column, source: Column, weights: Map[String, Int],
                  defaultWeight: Int = 100): Column = {
    val w = weights.foldLeft(lit(defaultWeight)) { case (acc, (k, v)) =>
      when(source === k, lit(v)).otherwise(acc)
    }
    hashPct(id) < w
  }

  /** Temperature-sampled mixing (the multilingual-pretraining rule:
    * sample source i with probability ∝ p_i^alpha, p_i its natural
    * share): per-source keep RATE ∝ p_i^(alpha-1), scaled so the
    * smallest source keeps everything — alpha < 1 flattens the mixture
    * toward low-resource sources by downsampling the heads, alpha = 1 is
    * the natural distribution (all rates 1). Unlike `mixtureStats` the
    * weights are DERIVED from the corpus itself, so one job both
    * calibrates and applies the mixture.
    *
    * The decision stays row-local after one tiny per-source aggregation
    * (source-count rows, broadcast back): keep iff hashPct(id) <
    * rate*100, the same portable md5 coin as data_mixture — reruns and
    * the oracle agree on exactly which documents survive. Rates are
    * rounded (portable floor) before the comparison so a pow() ulp
    * cannot flip a keep decision across engines.
    *
    * Returns per-source accounting: (source, n_total, rate, n_kept).
    */
  def temperatureMixtureStats(df: DataFrame, id: Column, source: Column,
                              alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"need 0 < alpha <= 1, got $alpha")
    val counts = df.groupBy(source.as("source")).agg(count(lit(1)).as("n_total"))
    val wFrame = counts
      .crossJoin(broadcast(counts.agg(sum(col("n_total")).as("n_all"))))
      .withColumn("w", pow(col("n_total").cast("double") / col("n_all").cast("double"),
        lit(alpha - 1.0)))
    val rates = wFrame
      .crossJoin(broadcast(wFrame.agg(max(col("w")).as("w_max"))))
      .select(col("source"), col("n_total"), r6(col("w") / col("w_max")).as("rate"))
    df.select(source.as("source"), hashPct(id).as("__h"))
      .join(broadcast(rates), Seq("source"))
      .groupBy(col("source"), col("n_total"), col("rate"))
      .agg(sum(when(col("__h").cast("double") < col("rate") * lit(100.0), 1L)
        .otherwise(0L)).as("n_kept"))
      .select(col("source"), col("n_total"), col("rate"), col("n_kept"))
  }

  /** Overlapping token-window chunking (retrieval / long-document prep):
    * each document is cut into `window`-word chunks starting every `stride`
    * words, so consecutive chunks overlap by `window - stride`. Entirely
    * row-local (the chunk array is built per document, then exploded) —
    * zero shuffle, embarrassingly parallel at any corpus size.
    *
    * Chunk starts run 0, stride, 2*stride, ... up to the last start that
    * still adds new words; every document produces at least one chunk, and
    * the final chunk may be shorter than `window`.
    */
  /** array<array<string>> of word chunks: starts every `stride` words,
    * `window` words each (last may be short). The one chunk-math owner —
    * chunkDocs and wordLines both build on it. */
  private def wordChunks(text: Column, window: Int, stride: Int): Column = {
    require(stride > 0 && window >= stride,
      "need stride > 0 and window >= stride (otherwise words are skipped)")
    // LET-BIND the split once via a single-element transform: a lambda
    // body re-evaluates captured subexpressions PER ELEMENT, so slicing
    // `split(text)` directly inside the per-chunk lambda re-tokenizes the
    // whole document for every chunk it yields — measured as 5x the cost
    // of the entire chunk stage at the 100x replica. Binding the token
    // array as a lambda variable evaluates the split exactly once per row.
    element_at(
      transform(array(split(text, " ", -1)), w => {
        // ceil((len - window) / stride) extra chunks after the first, floored at 0
        val nExtra = floor((greatest(lit(0), size(w) - window) + (stride - 1))
          / lit(stride.toDouble)).cast("int")
        transform(sequence(lit(0), nExtra), i =>
          slice(w, (i * stride + 1).cast("int"), lit(window)))
      }),
      1)
  }

  /** Fixed-width "lines" derived by chunking words — how a corpus without
    * newlines gets a positional lines column for lineDedup. */
  def wordLines(text: Column, width: Int): Column =
    transform(wordChunks(text, width, width), ws => array_join(ws, " "))

  def chunkDocs(df: DataFrame, id: Column, text: Column,
                window: Int, stride: Int): DataFrame =
    df.select(id.as("doc_id"),
        posexplode(wordChunks(text, window, stride)).as(Seq("chunk_id", "ws")))
      .select(col("doc_id"), col("chunk_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        array_join(col("ws"), " ").as("chunk"))

  /** Per-document stage flags for the composed pipeline: q (quality kept),
    * d (also the exact-dup first keeper), m (also survives the mixture
    * coin). Shared by the funnel accounting and the survivor selector so
    * the report can never disagree with the dataset it describes.
    *
    * The first-keeper aggregation and its join back are keyed on
    * md5(text), never the raw text (same identity convention as
    * Dedup.exact): the `firsts` side stays fixed-width regardless of
    * document size, shuffle sort/compare cost is per 32-char digest
    * rather than per document, and a boilerplate-heavy corpus (one text
    * duplicated millions of times) leaves a hot key that AQE's skew-join
    * splitting can divide on the probe side cheaply — with raw-text keys
    * every comparison in the split partitions would still pay full
    * document length.
    */
  private def curationStages(df: DataFrame, id: Column, text: Column, source: Column,
                             weights: Map[String, Int], defaultWeight: Int): DataFrame = {
    // CpuFloor before the flag kernels (guide §2.5, round 16): this frame
    // is referenced by both sides of the first-keeper join, so on a
    // single-row-group input the tokenCount/filterDecision/md5 pass ran
    // TWICE single-task; flooring the raw rows runs it post-exchange on
    // every core (no-op at scale — see CpuFloor)
    val flagged = graft.util.CpuFloor(
        df.select(id.as("doc_id"), text.as("text"), source.as("source")))
      .withColumn("n_tok", graft.functions.TokenCount.tokenCount(col("text")))
      .withColumn("q", graft.text.TextFeatures.filterDecision(col("text")) === "kept")
      .withColumn("__digest", md5(col("text")))
    val firsts = flagged.filter(col("q"))
      .groupBy(col("__digest")).agg(min(col("doc_id")).as("__first"))
    flagged.join(firsts, Seq("__digest"), "left")
      .withColumn("d", col("q") && col("doc_id") === col("__first"))
      .withColumn("m", col("d") && mixtureKeep(col("doc_id"), col("source"), weights, defaultWeight))
      .drop("__digest", "__first")
  }

  /** The curated OUTPUT corpus: documents surviving every funnel stage
    * (quality, exact dedup, mixture), ready for chunking/packing/export.
    * Exactly the rows the funnel's final stage counts.
    */
  def curationSurvivors(df: DataFrame, id: Column, text: Column, source: Column,
                        weights: Map[String, Int], defaultWeight: Int = 100): DataFrame =
    survivorProjection(curationStages(df, id, text, source, weights, defaultWeight))

  /** The one owner of the exported survivor shape — plain and observed
    * exports must stay column-identical. */
  private def survivorProjection(staged: DataFrame): DataFrame =
    staged.filter(col("m"))
      .select(col("doc_id"), col("text"), col("source"), col("n_tok"))

  /** The survivor selection with funnel accounting attached as OBSERVED
    * metrics: per-stage doc/token counts ride the caller's own action
    * (typically the export write) instead of costing a second corpus scan.
    * At 100 TB that second scan is the difference between "accounting is
    * free" and "accounting doubles the job". The returned Observation
    * yields (ingested_docs/ingested_tokens, q/d/m per stage) after the
    * FIRST action on the returned frame; the counts agree with
    * `curationFunnel` on the same input by construction (same stage
    * flags, observed pre-filter).
    *
    * NOTE (round 15): ride-along metrics have one structural corner —
    * when a query's result is provably EMPTY mid-flight, AQE
    * empty-propagation can fold the plan before the observed stage runs
    * (probed on the linkage kernels; see `graft.dedup.CapCounters`).
    * Here the metrics sit UNDER the survivor filter in the same stage as
    * the corpus scan, and the only join above them (the first-keeper
    * join) folds empty only when the corpus itself is empty — in which
    * case the Observation yields an empty map and the funnel is
    * trivially all-zero. Callers running over possibly-empty inputs
    * should treat an empty metrics map as the zero funnel (or run
    * `curationFunnel` standalone, the CapCounters fallback pattern).
    */
  def curationSurvivorsObserved(df: DataFrame, id: Column, text: Column, source: Column,
                                weights: Map[String, Int], defaultWeight: Int = 100)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    // a per-call name: Spark rejects two metrics nodes of one name in one
    // plan, so a fixed name would fail a union of two observed exports
    val obs = org.apache.spark.sql.Observation(s"curation_funnel_${java.util.UUID.randomUUID()}")
    val staged = curationStages(df, id, text, source, weights, defaultWeight)
      .observe(obs,
        count(lit(1)).as("ingested_docs"),
        sum(col("n_tok")).as("ingested_tokens"),
        sum(when(col("q"), 1L).otherwise(0L)).as("quality_docs"),
        sum(when(col("q"), col("n_tok")).otherwise(0L)).as("quality_tokens"),
        sum(when(col("d"), 1L).otherwise(0L)).as("dedup_docs"),
        sum(when(col("d"), col("n_tok")).otherwise(0L)).as("dedup_tokens"),
        sum(when(col("m"), 1L).otherwise(0L)).as("mixture_docs"),
        sum(when(col("m"), col("n_tok")).otherwise(0L)).as("mixture_tokens"))
    (survivorProjection(staged), obs)
  }

  /** The composed curation DECISION pipeline — what a user actually runs
    * over an ingested corpus: Gopher-style quality filter, then exact dedup
    * (keep the minimum doc id per identical text, judged among quality
    * survivors), then weighted mixture sampling. Returns the funnel
    * accounting: one row per stage with surviving docs and tokens.
    *
    * Every stage flag is computed in one projection pass (the filters are
    * row-local; the dedup first-keeper is a map-side-combinable
    * min-aggregation joined back), and a single explode + groupBy produces
    * all stage counts. The first-keeper join does reference the flagged
    * corpus from both sides, so the row-local signal expressions evaluate
    * twice per document — the deliberate trade against persisting the full
    * corpus between the two branches (2x scan CPU is cheaper than corpus-
    * sized storage at scale; callers that already have the corpus cached
    * pay the scan only once).
    */
  /** The NEAR-DUP variant of [[curationFunnel]]: quality → connected-
    * component near-dup dedup keeping each component's BEST-quality
    * member → mixture, with the same per-stage doc/token accounting. The
    * exact funnel kills only verbatim copies; real corpora mostly contain
    * near-copies, and the production decision keeps the best one — this
    * composes the verified-pair table, pointer-jumping components, and
    * the quality-keeper rule into the one report that shows what that
    * policy costs per stage.
    *
    * Semantics: components form over the WHOLE corpus, the keeper is the
    * best-quality member among the component's QUALITY-KEPT members
    * (max (qscore, −doc_id)) — a component whose best member failed
    * quality still keeps its best surviving member; docs outside any
    * component are their own singleton. One corpus flag pass + the pair
    * machinery the caller already paid for; the stage explode/agg is the
    * shared funnel shape.
    *
    * @param pairs verified near-dup pairs (doc_a, doc_b) — from
    *              `Dedup.minhashDedupVerified` or any pair producer
    */
  def fuzzyCurationFunnel(df: DataFrame, id: Column, text: Column, source: Column,
                          pairs: DataFrame, qscore: Column,
                          weights: Map[String, Int], defaultWeight: Int = 100): DataFrame = {
    val staged = fuzzyCurationStages(df, id, text, source, pairs, qscore,
      weights, defaultWeight)
    def stage(n: Int, name: String, pass: Column) = struct(
      lit(n).as("stage"), lit(name).as("stage_name"),
      pass.as("pass"), col("n_tok").as("n_tok"))
    staged
      .select(explode(array(
        stage(0, "ingested", lit(true)),
        stage(1, "quality_filter", col("q")),
        stage(2, "neardup_dedup", col("d")),
        stage(3, "mixture", col("m")))).as("s"))
      .filter(col("s.pass"))
      .groupBy(col("s.stage").as("stage"), col("s.stage_name").as("stage_name"))
      .agg(count(lit(1)).as("n_docs"), sum(col("s.n_tok")).as("n_tokens"))
  }

  /** The corpus the fuzzy funnel's terminal stage counts, in export shape
    * (doc_id, source, n_tok of mixture survivors) — shares the stage
    * builder with [[fuzzyCurationFunnel]], so report and dataset cannot
    * disagree (the training_pipeline/training_export contract, applied to
    * the near-dup flow). */
  def fuzzyCurationExport(df: DataFrame, id: Column, text: Column, source: Column,
                          pairs: DataFrame, qscore: Column,
                          weights: Map[String, Int], defaultWeight: Int = 100): DataFrame =
    fuzzyCurationStages(df, id, text, source, pairs, qscore, weights, defaultWeight)
      .filter(col("m"))
      .select(col("doc_id"), col("source"), col("n_tok"))

  /** Shared stage-flag builder for the fuzzy flow: q (quality kept),
    * d (also the component's best-quality kept member), m (also survives
    * the mixture coin). */
  private def fuzzyCurationStages(df: DataFrame, id: Column, text: Column,
                                  source: Column, pairs: DataFrame, qscore: Column,
                                  weights: Map[String, Int], defaultWeight: Int): DataFrame = {
    // CpuFloor before the flag kernels — see curationStages (the keeper
    // aggregation references this frame from both sides of its join-back).
    // The floor takes the caller's frame unprojected, so the caller-bound
    // `qscore` resolves against any of its columns; column pruning still
    // shuffles only the referenced ones.
    val flagged = graft.util.CpuFloor(df)
      .select(id.as("doc_id"), source.as("source"),
        graft.functions.TokenCount.tokenCount(text).as("n_tok"),
        (graft.text.TextFeatures.filterDecision(text) === "kept").as("q"),
        qscore.as("__qs"))
    val comps = graft.dedup.Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .withColumnRenamed("node", "doc_id")
    val st = flagged.join(comps, Seq("doc_id"), "left")
      .withColumn("__comp", coalesce(col("component"), col("doc_id")))
    val keepers = st.filter(col("q"))
      .groupBy(col("__comp"))
      .agg(max(struct(col("__qs").as("q"), (-col("doc_id")).as("nid"))).as("__best"))
      .select(col("__comp"), (-col("__best").getField("nid")).as("__keeper"))
    st.join(keepers, Seq("__comp"), "left")
      .withColumn("d", col("q") && col("doc_id") === col("__keeper"))
      .withColumn("m", col("d") && mixtureKeep(col("doc_id"), col("source"), weights, defaultWeight))
  }

  def curationFunnel(df: DataFrame, id: Column, text: Column, source: Column,
                     weights: Map[String, Int], defaultWeight: Int = 100): DataFrame = {
    val staged = curationStages(df, id, text, source, weights, defaultWeight)
    def stage(n: Int, name: String, pass: Column) = struct(
      lit(n).as("stage"), lit(name).as("stage_name"),
      pass.as("pass"), col("n_tok").as("n_tok"))
    staged
      .select(explode(array(
        stage(0, "ingested", lit(true)),
        stage(1, "quality_filter", col("q")),
        stage(2, "exact_dedup", col("d")),
        stage(3, "mixture", col("m")))).as("s"))
      .filter(col("s.pass"))
      .groupBy(col("s.stage").as("stage"), col("s.stage_name").as("stage_name"))
      .agg(count(lit(1)).as("n_docs"), sum(col("s.n_tok")).as("n_tokens"))
  }

  /** The 100-TB decontamination lever: when the benchmark's distinct
    * shingle set is too large to broadcast as rows (hundreds of millions of
    * n-grams), compress it into a Bloom filter — `numBits/8` bytes shipped
    * once, instead of the raw strings — and screen the corpus against it.
    * Built from Spark's own bloom aggregate + might_contain expressions
    * (the runtime-filter machinery), with xxhash64 applied identically on
    * the build and probe sides.
    *
    * One-sided error: every truly-overlapping shingle is flagged (no false
    * negatives), a ~fpp fraction of clean shingles is flagged spuriously —
    * so `n_candidates` is an upper bound and `maybe_contaminated` a
    * screening verdict; the exact `decontaminate` join over the candidate
    * subset is the verification stage, now at 1/fpp the cost.
    */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame,
                         id: Column, text: Column, n: Int,
                         expectedItems: Long, numBits: Long): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.Bridge

    val benchSh = benchmark
      .select(explode(ShingleExpressions.distinctShingles(text, n)).as("__s"))
    val bloomAgg = Bridge.column(new BloomFilterAggregate(
        XxHash64(Seq(Bridge.expression(col("__s"))), 42L),
        Bridge.expression(lit(expectedItems)), Bridge.expression(lit(numBits)))
      .toAggregateExpression())
    val bloom = benchSh.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)
    require(bloom != null, "benchmark produced no shingles to build a filter from")
    val mightContain = Bridge.column(BloomFilterMightContain(
      Bridge.expression(lit(bloom)),
      XxHash64(Seq(Bridge.expression(col("__s"))), 42L)))
    val hits = explodedShingles(corpus, id, text, n)
      .filter(mightContain)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_candidates"))
    perDocVerdict(corpus, id, hits, "n_candidates", "maybe_contaminated")
  }

  /** Cross-document verbatim-span duplication signal (the Spark-shaped
    * stand-in for suffix-array exact-substring dedup): slide a
    * `window`-token span every `stride` tokens, and report per document how
    * many of its full spans appear verbatim in at least one other document.
    *
    * NO text travels and NO un-shared span joins: per-doc span counts are
    * row-local (size of the full-window chunk array), span identity is the
    * md5 digest (the curationStages convention — fixed-width agg keys, AQE
    * can split a million-fold boilerplate span), the (digest → distinct
    * doc) aggregation is partial-agg combinable, and only digests seen in
    * MORE THAN ONE document survive to the membership join — which AQE
    * broadcasts from measured size when duplication is rare. Candidate
    * work is proportional to shared spans, never a doc×doc product.
    *
    * Returns one row per document: (doc_id, n_spans, n_shared,
    * shared_frac); shared_frac is NULL for documents too short for a full
    * window.
    */
  def dupSpanStats(df: DataFrame, id: Column, text: Column,
                   window: Int, stride: Int): DataFrame = {
    val base = df.select(id.as("doc_id"),
      wordChunks(text, window, stride).as("__chunks"))
    val spans = base
      .select(col("doc_id"), explode(col("__chunks")).as("ws"))
      .filter(size(col("ws")) === window) // partial spans can't be verbatim repeats
      .select(col("doc_id"), md5(array_join(col("ws"), " ")).as("__digest"))
    val sharedDigests = spans.groupBy(col("__digest"))
      .agg(countDistinct(col("doc_id")).as("__ndocs"))
      .filter(col("__ndocs") > 1)
      .select(col("__digest"))
    val shared = spans.join(sharedDigests, Seq("__digest"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    // coalesce matches the exploded formulation: a null text produced no
    // span rows there, so it reports 0 spans (not NULL) here too
    val nSpans = coalesce(
      size(filter(col("__chunks"), c => size(c) === window)).cast("long"), lit(0L))
    base.select(col("doc_id"), nSpans.as("n_spans"))
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        when(col("n_spans") > 0,
          r6(coalesce(col("n_shared"), lit(0L)).cast("double")
            / col("n_spans").cast("double")))
          .as("shared_frac"))
  }

  /** Token-budget fill: per slice (source / language), keep the BEST
    * documents — ordered by quality desc, id asc for determinism — until
    * the slice's token budget is reached; the op every "build an N-token
    * training mix" run ends with. A document is kept iff the running token
    * total INCLUDING it still fits the budget (documents after the cut are
    * reported, not silently dropped, so budget accounting is auditable).
    *
    * Scale shape: one window per slice (running sum), one shuffle. A slice
    * is typically source×language — millions of rows, not the whole
    * corpus, and never a global sort. For a pathologically large slice,
    * pre-band it with `LangModel.perplexityBuckets`-style cutpoints and
    * window only the band that straddles the budget boundary; the bands
    * fully below it are kept wholesale.
    */
  def budgetFill(df: DataFrame, id: Column, slice: Column, tokens: Column,
                 quality: Column, budgetTokens: Long): DataFrame = {
    val w = Window.partitionBy(col("slice"))
      .orderBy(col("quality").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(id.as("doc_id"), slice.as("slice"),
        tokens.cast("long").as("n_tok"), quality.as("quality"))
      .withColumn("cum_tok", sum(col("n_tok")).over(w))
      .withColumn("kept", col("cum_tok") <= budgetTokens)
  }

  /** Cross-source leakage matrix: for every pair of sources, how many
    * distinct verbatim `window`-token spans they share. The
    * corpus-diagnostic twin of benchmark decontamination — it answers
    * "which of my sources are copies of each other" before mixture weights
    * are chosen (a scraped mirror inflating one source's weight is a
    * classic training-data bug). Span-level rather than whole-document so
    * partial mirrors (same article, different boilerplate) still register.
    *
    * Shape: spans come from the same chunker as dupSpanStats; ONE
    * digest-keyed aggregation folds each span's distinct sources into a
    * set (collect_set buffers are bounded by |sources|, the partial agg
    * combines map-side), the unordered source pairs are enumerated
    * ROW-LOCALLY from the sorted set (≤ |sources|²/2 structs per digest),
    * and a tiny pair-keyed count finishes. No self-join: the previous
    * formulation shuffled the (digest, source) frame twice more to join
    * it with itself and re-derive exactly the per-digest source sets this
    * aggregation produces directly. The span is md5'd before aggregating
    * so everything after the chunk scan shuffles 32-char digests, not raw
    * text.
    */
  def crossSourceLeakage(df: DataFrame, text: Column, source: Column,
                         window: Int, stride: Int): DataFrame = {
    // source rides along with the exploded chunks — no join back to the corpus
    val srcSets = df.select(source.as("__src"),
        explode(wordChunks(text, window, stride)).as("ws"))
      .filter(size(col("ws")) === window)
      .groupBy(md5(array_join(col("ws"), " ")).as("__h"))
      .agg(array_sort(collect_set(col("__src"))).as("__srcs"))
      .filter(size(col("__srcs")) > 1)
    val pairs = flatten(transform(col("__srcs"), (a, i) =>
      transform(slice(col("__srcs"), i + lit(2), size(col("__srcs"))),
        b => struct(a.as("source_a"), b.as("source_b")))))
    srcSets.select(explode(pairs).as("__p"))
      .groupBy(col("__p.source_a").as("source_a"),
        col("__p.source_b").as("source_b"))
      .agg(count(lit(1)).as("n_shared_spans"))
  }

  /** Sequence packing (concat-and-chunk): within each shard, documents are
    * laid end-to-end in deterministic doc-id order and cut into fixed
    * `ctxLen`-token training chunks; a document belongs to the chunk its
    * first token lands in. Returns per-chunk packing stats
    * (shard, chunk_id, n_docs, n_tokens).
    *
    * The running token offset is a windowed prefix sum PARTITIONED BY SHARD
    * — the global-order formulation would serialize the whole corpus into
    * one sort partition, which is exactly the plan that dies at 100 TB.
    * Sharding is how training data is materialized anyway (one output file
    * per shard), and each shard's window sorts only its own slice. One
    * shuffle on the shard key; the chunk aggregation reuses the same
    * partitioning modulo the chunk sub-key (map-side combinable).
    */
  def packStats(df: DataFrame, id: Column, tokens: Column, shard: Column,
                ctxLen: Int): DataFrame = {
    require(ctxLen > 0, "ctxLen must be positive")
    val cum = Window.partitionBy(col("shard")).orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(id.as("doc_id"), tokens.cast("long").as("n_tok"), shard.as("shard"))
      .withColumn("__start", sum(col("n_tok")).over(cum) - col("n_tok"))
      // integral division (Spark's `/` would detour through DOUBLE and lose
      // exactness past 2^53 — a real bound for a corpus-scale prefix sum)
      .withColumn("chunk_id", expr(s"__start div ${ctxLen}"))
      .groupBy(col("shard"), col("chunk_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
  }

  /** Per-document stage flags for the COMPOSED training-data pipeline —
    * the pretraining-curation order a production corpus actually runs:
    * language filter → quality → exact dedup → benchmark decontamination
    * → mixture. Each flag conditions on every previous stage:
    * l (langid agrees with the declared language), q (l ∧ Gopher-kept),
    * d (q ∧ exact-dup first keeper AMONG q survivors — a quality-dropped
    * doc must not shadow a kept duplicate), c (d ∧ no benchmark n-gram
    * overlap), m (c ∧ mixture coin). Stage-ORDER semantics live here;
    * unit parity on the individual operators cannot catch an ordering
    * regression, which is why the funnel and the export share this one
    * flag builder.
    *
    * Cost shape: three corpus passes — flags, the digest-keyed
    * first-keeper aggregation (see curationStages for why a join, not a
    * window: AQE skew-splits joins), and the contamination shingling.
    * The shingling runs on QUALITY survivors, not keepers: d ⊆ q and c
    * only consults the hit set where d holds, so the semantics are
    * identical while the hits branch stays independent of the
    * first-keeper join — rebuilding keepers there would re-execute both
    * the flag scan and the firsts exchange (a fourth and fifth corpus
    * pass, the multi-consumer re-execution trap). Benchmark shingles are
    * broadcast.
    */
  private def trainingStages(corpus: DataFrame, benchmark: DataFrame,
                             id: Column, text: Column, source: Column,
                             declaredLang: Column, weights: Map[String, Int],
                             defaultWeight: Int, n: Int,
                             archiveDigests: Option[DataFrame] = None): DataFrame = {
    val flagged = corpus
      .select(id.as("doc_id"), text.as("text"), source.as("source"),
        declaredLang.as("lang"))
      .withColumn("n_tok", graft.functions.TokenCount.tokenCount(col("text")))
      .withColumn("l",
        graft.text.TextFeatures.langIdColumns(col("text")).last === col("lang"))
      .withColumn("q", col("l") &&
        (graft.text.TextFeatures.filterDecision(col("text")) === "kept"))
      .withColumn("__digest", md5(col("text")))
    val firsts = flagged.filter(col("q"))
      .groupBy(col("__digest")).agg(min(col("doc_id")).as("__first"))
    // incremental mode: a doc whose digest is already in the persisted
    // archive index dies at the dedup stage like an in-batch duplicate
    val keepers = archiveDigests match {
      case None =>
        flagged.join(firsts, Seq("__digest"), "left")
          .withColumn("d", col("q") && col("doc_id") === col("__first"))
      case Some(arch) =>
        val seen = arch.select(col(arch.columns.head).as("__digest"))
          .distinct().withColumn("__seen", lit(true))
        flagged.join(firsts, Seq("__digest"), "left")
          .join(seen, Seq("__digest"), "left")
          .withColumn("d", col("q") && col("doc_id") === col("__first") &&
            !coalesce(col("__seen"), lit(false)))
          .drop("__seen")
    }
    val benchShingles = benchmark
      .select(explode(ShingleExpressions.distinctShingles(text, n)).as("__s"))
      .distinct()
    val hits = flagged.filter(col("q"))
      .select(col("doc_id"),
        explode(ShingleExpressions.distinctShingles(col("text"), n)).as("__s"))
      .join(broadcast(benchShingles), "__s")
      .select(col("doc_id")).distinct()
      .withColumn("__hit", lit(true))
    keepers.join(hits, Seq("doc_id"), "left")
      .withColumn("c", col("d") && !coalesce(col("__hit"), lit(false)))
      .withColumn("m", col("c") &&
        mixtureKeep(col("doc_id"), col("source"), weights, defaultWeight))
      .drop("__digest", "__first", "__hit")
  }

  /** The one owner of the staged-flags → per-stage funnel aggregation. */
  private def trainingFunnel(staged: DataFrame): DataFrame = {
    def stage(i: Int, name: String, pass: Column) = struct(
      lit(i).as("stage"), lit(name).as("stage_name"),
      pass.as("pass"), col("n_tok").as("n_tok"))
    staged
      .select(explode(array(
        stage(0, "ingested", lit(true)),
        stage(1, "langid", col("l")),
        stage(2, "quality_filter", col("q")),
        stage(3, "exact_dedup", col("d")),
        stage(4, "decontaminate", col("c")),
        stage(5, "mixture", col("m")))).as("s"))
      .filter(col("s.pass"))
      .groupBy(col("s.stage").as("stage"), col("s.stage_name").as("stage_name"))
      .agg(count(lit(1)).as("n_docs"), sum(col("s.n_tok")).as("n_tokens"))
  }

  /** Funnel accounting for the composed training-data pipeline: one row
    * per stage with surviving doc/token counts. Same single-explode shape
    * as curationFunnel — the stage flags are computed once, never
    * re-scanned per stage.
    */
  def trainingPipeline(corpus: DataFrame, benchmark: DataFrame,
                       id: Column, text: Column, source: Column,
                       declaredLang: Column, weights: Map[String, Int],
                       defaultWeight: Int = 100, n: Int = 3): DataFrame =
    trainingFunnel(trainingStages(corpus, benchmark, id, text, source,
      declaredLang, weights, defaultWeight, n))

  /** The composed pipeline's OUTPUT corpus: exactly the rows the funnel's
    * final stage counts, in export shape. */
  def trainingSurvivors(corpus: DataFrame, benchmark: DataFrame,
                        id: Column, text: Column, source: Column,
                        declaredLang: Column, weights: Map[String, Int],
                        defaultWeight: Int = 100, n: Int = 3): DataFrame =
    trainingStages(corpus, benchmark, id, text, source, declaredLang,
      weights, defaultWeight, n)
      .filter(col("m"))
      .select(col("doc_id"), col("source"), col("n_tok"))

  /** The ALWAYS-ON formulation of the composed pipeline: today's batch
    * runs the same staged flags, but exact dedup additionally checks the
    * PERSISTED archive digest index (every text ever ingested), so a doc
    * that duplicates history dies exactly like a doc that duplicates its
    * own batch — the daily-ingest shape (same contract as
    * Dedup.incrementalDedupVerified: the archive pays its cost once, the
    * join side is batch-sized).
    *
    * `archiveDigests` is a one-column frame of md5(text) digests — the
    * persisted artifact itself, not recomputed corpus text. The anti
    * lookup is a plain hash join on the fixed-width digest (broadcast
    * when the index fits, shuffle-on-digest when it doesn't — AQE picks);
    * everything else is identical to trainingStages, so funnel rows mean
    * the same thing in both formulations.
    */
  def trainingIngest(batch: DataFrame, archiveDigests: DataFrame,
                     benchmark: DataFrame, id: Column, text: Column,
                     source: Column, declaredLang: Column,
                     weights: Map[String, Int], defaultWeight: Int = 100,
                     n: Int = 3): DataFrame =
    trainingFunnel(trainingStages(batch, benchmark, id, text, source,
      declaredLang, weights, defaultWeight, n, Some(archiveDigests)))

  /** The incremental run's OUTPUT rows — what a daily (or foreachBatch
    * streaming) ingest APPENDS to the training corpus; the caller then
    * appends the batch's digests to the archive index so the next batch
    * dedups against this one. Same flag builder as the funnel.
    */
  def trainingIngestSurvivors(batch: DataFrame, archiveDigests: DataFrame,
                              benchmark: DataFrame, id: Column, text: Column,
                              source: Column, declaredLang: Column,
                              weights: Map[String, Int], defaultWeight: Int = 100,
                              n: Int = 3): DataFrame =
    trainingStages(batch, benchmark, id, text, source, declaredLang,
      weights, defaultWeight, n, Some(archiveDigests))
      .filter(col("m"))
      .select(col("doc_id"), col("source"), col("n_tok"))

  /** Deterministic train/val/test assignment from the portable hash coin:
    * a document's split is a pure function of its id, so reruns, resumed
    * jobs, and downstream consumers all agree, and no document can migrate
    * between splits when the corpus grows (the leakage mode of
    * count-based splitting). Row-local — zero shuffle.
    *
    * Draws digest window 5, disjoint from the mixture coin (window 1) and
    * the packing shard (window 3), so split membership is independent of
    * both decisions.
    */
  def datasetSplit(df: DataFrame, id: Column,
                   trainPct: Int = 90, valPct: Int = 5): DataFrame =
    df.select(id.as("doc_id"), datasetSplitCol(id, trainPct, valPct).as("split"))

  /** The split assignment as a row-local COLUMN — a pure function of the
    * id digest, so a caller that already holds the frame attaches it with
    * a projection instead of a self-join (the configured export formerly
    * re-evaluated its whole fuzzy pipeline as the join's build side). */
  def datasetSplitCol(id: Column, trainPct: Int = 90, valPct: Int = 5): Column = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      "need trainPct > 0, valPct >= 0, trainPct + valPct <= 100")
    val h = hashPct(id, offset = 5)
    when(h < trainPct, lit("train"))
      .when(h < trainPct + valPct, lit("val"))
      .otherwise(lit("test"))
  }

  /** Deterministic global training order WITHOUT a global sort: documents
    * scatter into `numShards` shards by one digest window, and each shard
    * orders its slice by an independent salted digest. Consuming shards
    * round-robin reproduces a uniform shuffle of the corpus; changing the
    * salt reshuffles every epoch, bit-reproducibly.
    *
    * Scale shape: one shuffle on the shard key; each row_number window
    * sorts only its own shard (numShards bounds the largest sort at
    * corpus/numShards — the global-window single-partition cliff never
    * appears). This is the query twin of the trainingShards writer.
    */
  def shuffleOrder(df: DataFrame, id: Column, salt: String,
                   numShards: Int): DataFrame = {
    require(numShards > 0, "numShards must be positive")
    val byOrd = Window.partitionBy(col("shard"))
      .orderBy(col("__ord").asc, col("doc_id").asc)
    df.select(id.as("doc_id"), hashShard(id, numShards).as("shard"),
        md5(concat_ws(":", lit(salt), id.cast("string"))).as("__ord"))
      .withColumn("pos", row_number().over(byOrd))
      .drop("__ord")
  }

  /** Scored twin of `decontaminate`: instead of a boolean verdict, report
    * per document WHAT FRACTION of its distinct n-grams appear in the
    * benchmark — the signal a pipeline thresholds when deciding between
    * dropping a document and surgically excising spans. Same shape as
    * decontaminate (benchmark shingles broadcast, one map-side-combinable
    * count per document); the denominator is row-local.
    */
  def contaminationScore(corpus: DataFrame, benchmark: DataFrame,
                         id: Column, text: Column, n: Int): DataFrame = {
    val benchShingles = benchmark
      .select(explode(ShingleExpressions.distinctShingles(text, n)).as("__s"))
      .distinct()
    // ONE corpus scan: shingle once, carry the denominator alongside the
    // exploded rows (explode_outer keeps shingle-less documents), count
    // hits and recover the size in the same aggregation — shingling text
    // twice would double the dominant cost of this operator
    corpus
      .select(id.as("doc_id"),
        ShingleExpressions.distinctShingles(text, n).as("__sh"))
      .select(col("doc_id"), size(col("__sh")).cast("long").as("n_shingles"),
        explode_outer(col("__sh")).as("__s"))
      .join(broadcast(benchShingles.withColumn("__hit", lit(1L))), Seq("__s"), "left")
      .groupBy(col("doc_id"))
      .agg(max(col("n_shingles")).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_overlap"))
      .select(col("doc_id"), col("n_shingles"), col("n_overlap"),
        when(col("n_shingles") > 0,
          r6(col("n_overlap").cast("double")
            / col("n_shingles").cast("double"))).as("contamination"))
  }
}
