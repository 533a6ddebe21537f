package graft.analysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-tab dependence, outlier, and concentration statistics — the
  * numeric audits an analyst runs before trusting a demographic crosstab
  * or a mixture weight table.
  *
  * The reference computes crosstabs and per-group distributions for its
  * automated analysis (engagement_db_to_analysis/automated_analysis.py:46's
  * theme/demographic tables); these operators close the loop with the
  * dependence tests (chi-square, mutual information) and the
  * robustness/inequality audits (z-score outliers, Gini) those tables feed
  * into downstream notebooks.
  *
  * Scale shape shared by the dependence tests: ONE corpus pass to the
  * (a, b) contingency cells (map-side combinable groupBy), then every
  * marginal / expectation / entropy term is window arithmetic on the
  * class-cardinality cells frame — no second corpus scan, no join back.
  * Per-cell floating terms are 6-decimal-quantized and summed as DECIMAL
  * (the token-entropy discipline) so the reduction is exact and
  * dialect-replayable at any partition count.
  */
object Stats {

  private val r6 = graft.util.Portable.round6 _

  /** Half-up 6-decimal quantization applied per term BEFORE a decimal sum. */
  private def q6(c: Column): Column = floor(c * lit(1000000.0) + lit(0.5)) / lit(1000000.0)

  /** Pearson chi-square test of independence between two categorical
    * columns, plus Cramér's V effect size. Null categories are excluded
    * (a missing label is an abstention, not a class).
    *
    * E = row·col/N and (O−E)²/E are computed in IEEE doubles with a fixed
    * expression shape (cast-long-then-multiply), so both engines produce
    * bit-identical per-cell terms; the terms are q6-quantized and summed
    * as DECIMAL. Output (one row): n, n_a, n_b, dof, chi2, cramers_v
    * (NULL when dof = 0 — a constant column has no association to test).
    */
  def chiSquareIndependence(df: DataFrame, a: Column, b: Column): DataFrame = {
    val cells = df.select(a.as("__a"), b.as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
      .groupBy(col("__a"), col("__b")).agg(count(lit(1)).as("__c"))
    val wa = Window.partitionBy(col("__a"))
    val wb = Window.partitionBy(col("__b"))
    val wAll = Window.partitionBy(lit(1))
    val o = col("__c").cast("double")
    val e = (sum(col("__c")).over(wa).cast("double") *
      sum(col("__c")).over(wb).cast("double")) /
      sum(col("__c")).over(wAll).cast("double")
    // class cardinalities as row_number-gated sums, NOT countDistinct: a
    // multi-distinct aggregate plans through RewriteDistinctAggregates,
    // whose gid assignment iterates in exprId-dependent order — the plan
    // fingerprint flipped run-to-run on identical code (instability
    // class #4, caught by bench hash adjudication); the gates also drop
    // the Expand entirely
    val firstA = row_number().over(wa.orderBy(col("__b"))) === 1
    val firstB = row_number().over(wb.orderBy(col("__a"))) === 1
    cells
      .withColumn("__n", sum(col("__c")).over(wAll))
      .withColumn("__fa", when(firstA, 1L).otherwise(0L))
      .withColumn("__fb", when(firstB, 1L).otherwise(0L))
      .withColumn("__term", q6((o - e) * (o - e) / e).cast("decimal(28,6)"))
      .agg(
        max(col("__n")).as("n"),
        sum(col("__fa")).as("n_a"),
        sum(col("__fb")).as("n_b"),
        sum(col("__term")).as("__chi2"))
      .select(
        col("n"), col("n_a"), col("n_b"),
        ((col("n_a") - 1) * (col("n_b") - 1)).as("dof"),
        col("__chi2").cast("double").as("chi2"),
        when((col("n_a") - 1) * (col("n_b") - 1) > 0,
          r6(sqrt(col("__chi2").cast("double") /
            (col("n").cast("double") *
              least(col("n_a") - 1, col("n_b") - 1).cast("double")))))
          .as("cramers_v"))
  }

  /** Mutual information (nats) between two categorical columns, with the
    * marginal entropies and the sqrt-normalized MI. Cells with c > 0 only
    * (0·ln0 = 0 by convention, and a zero cell never materializes from a
    * groupBy). Each marginal's entropy term must count once per CLASS, not
    * once per cell — gated on row_number() = 1 within the class partition
    * rather than re-aggregated, so the cells frame is consumed by a single
    * window + fold and the corpus is scanned exactly once.
    *
    * Output (one row): n, n_a, n_b, mi, h_a, h_b, nmi
    * (nmi NULL when either marginal entropy is 0 — a constant column).
    */
  def mutualInformation(df: DataFrame, a: Column, b: Column): DataFrame = {
    val cells = df.select(a.as("__a"), b.as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
      .groupBy(col("__a"), col("__b")).agg(count(lit(1)).as("__c"))
    val wa = Window.partitionBy(col("__a"))
    val wb = Window.partitionBy(col("__b"))
    val wAll = Window.partitionBy(lit(1))
    val n = sum(col("__c")).over(wAll).cast("double")
    val cD = col("__c").cast("double")
    val ra = sum(col("__c")).over(wa).cast("double")
    val cb = sum(col("__c")).over(wb).cast("double")
    val miTerm = (cD / n) * log((cD * n) / (ra * cb))
    def entTerm(m: Column) = -((m / n) * log(m / n))
    val firstA = row_number().over(wa.orderBy(col("__b"))) === 1
    val firstB = row_number().over(wb.orderBy(col("__a"))) === 1
    cells
      .withColumn("__n", sum(col("__c")).over(wAll))
      .withColumn("__mi", q6(miTerm).cast("decimal(28,6)"))
      .withColumn("__ha",
        when(firstA, q6(entTerm(ra))).otherwise(lit(0.0)).cast("decimal(28,6)"))
      .withColumn("__hb",
        when(firstB, q6(entTerm(cb))).otherwise(lit(0.0)).cast("decimal(28,6)"))
      // same gated-sum class counts as chiSquareIndependence (multi-
      // distinct gid instability; the firstA/firstB gates already exist)
      .withColumn("__fa", when(firstA, 1L).otherwise(0L))
      .withColumn("__fb", when(firstB, 1L).otherwise(0L))
      .agg(
        max(col("__n")).as("n"),
        sum(col("__fa")).as("n_a"),
        sum(col("__fb")).as("n_b"),
        sum(col("__mi")).cast("double").as("mi"),
        sum(col("__ha")).cast("double").as("h_a"),
        sum(col("__hb")).cast("double").as("h_b"))
      .withColumn("nmi",
        when(col("h_a") > 0 && col("h_b") > 0,
          r6(col("mi") / sqrt(col("h_a") * col("h_b")))))
  }

  /** Per-group z-score outliers: rows whose value sits ≥ `zMin` sample
    * standard deviations from their group's mean. The anomaly sweep run
    * over a metric before it feeds a report.
    *
    * Moments are exact: values are 6-decimal-quantized, Σv and Σv² are
    * DECIMAL sums (v² of a 6dp value is exactly 12dp), so mean/std are
    * single IEEE expressions over identical inputs on any engine and any
    * partitioning. Two corpus passes by necessity (the flag depends on the
    * group's own distribution); the moments frame is group-cardinality and
    * broadcast back. Groups with n < 2 or zero variance emit nothing.
    */
  def zscoreOutliers(df: DataFrame, group: Column, id: Column, value: Column,
                     zMin: Double): DataFrame = {
    require(zMin > 0.0, s"zscoreOutliers needs zMin > 0, got $zMin")
    scoreAgainstMoments(df, group, id, value,
      groupMoments(df, group, value), zMin)
  }

  /** Exact per-group moment table (n, Σq, Σq²) over the 6dp-quantized
    * value — the trained side of the anomaly sweep, reusable across
    * scoring runs (and the batch-trained input to the STREAMING scorer
    * twin, `Streams.anomalyScoreStream`). Group-cardinality output.
    */
  def groupMoments(df: DataFrame, group: Column, value: Column): DataFrame =
    df.select(group.as("group_key"), value.as("__v"))
      .filter(col("__v").isNotNull)
      .withColumn("__q", q6(col("__v")).cast("decimal(18,6)"))
      .groupBy(col("group_key")).agg(
        count(lit(1)).as("__n"),
        sum(col("__q")).as("__s1"),
        sum(col("__q") * col("__q")).as("__s2"))

  /** Score rows against a (possibly pre-trained) moments table: identical
    * quantization and IEEE shapes to the inline path, so batch-train /
    * later-score equals train-and-score on the same rows. The moments
    * side broadcasts (group-cardinality) — on an unbounded `rows` frame
    * this is a stateless stream-static join.
    */
  def scoreAgainstMoments(df: DataFrame, group: Column, id: Column, value: Column,
                          moments: DataFrame, zMin: Double): DataFrame = {
    require(zMin > 0.0, s"scoreAgainstMoments needs zMin > 0, got $zMin")
    val rows = df.select(group.as("group_key"), id.as("row_id"), value.as("__v"))
      .filter(col("__v").isNotNull)
      .withColumn("__q", q6(col("__v")).cast("decimal(18,6)"))
    val mean = col("__s1").cast("double") / col("__n").cast("double")
    val variance = (col("__s2").cast("double") -
      col("__s1").cast("double") * col("__s1").cast("double") / col("__n").cast("double")) /
      (col("__n") - 1).cast("double")
    rows.join(broadcast(moments), Seq("group_key"))
      .filter(col("__n") >= 2)
      .withColumn("__mean", mean)
      .withColumn("__std", sqrt(variance))
      .filter(col("__std") > 0.0)
      .withColumn("z", r6((col("__q").cast("double") - col("__mean")) / col("__std")))
      .filter(abs(col("z")) >= zMin)
      .select(col("group_key"), col("row_id"),
        col("__v").as("value"), r6(col("__mean")).as("group_mean"), col("z"))
  }

  /** Per-group Gini concentration of a non-negative measure — how unequal
    * the distribution of `value` is inside each group (0 = uniform,
    * → 1 as one row holds everything). The corpus-composition audit: a
    * source whose token mass is one giant document behaves nothing like
    * its document count suggests.
    *
    * G = Σᵢ (2i − n − 1)·xᵢ / (n·Σx) over xᵢ sorted ascending with a
    * unique tie-break, so ntile-free and exact: the numerator is a DECIMAL
    * sum of long-weighted values, one IEEE division at the end. One
    * shuffle on the group key feeds both the window rank and the final
    * fold. Groups with Σx = 0 report NULL.
    */
  def giniConcentration(df: DataFrame, group: Column, id: Column,
                        value: Column): DataFrame = {
    val rows = df.select(group.as("group_key"), id.as("__id"), value.as("__v"))
      .filter(col("__v").isNotNull)
      .withColumn("__q", q6(col("__v")).cast("decimal(18,6)"))
    val w = Window.partitionBy(col("group_key")).orderBy(col("__q"), col("__id"))
    val wg = Window.partitionBy(col("group_key"))
    rows
      .withColumn("__i", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wg))
      .withColumn("__wt",
        (lit(2L) * col("__i") - col("__n") - lit(1L)).cast("decimal(19,0)"))
      .groupBy(col("group_key"))
      .agg(
        max(col("__n")).as("n"),
        sum(col("__q")).as("__sx"),
        sum(col("__wt") * col("__q")).as("__num"))
      .select(
        col("group_key"), col("n"),
        col("__sx").cast("double").as("total"),
        when(col("__sx") > 0,
          r6(col("__num").cast("double") /
            (col("n").cast("double") * col("__sx").cast("double")))).as("gini"))
  }

  /** Daily DAU/WAU stickiness: for every calendar day in the feed's span,
    * the distinct actives that day, the distinct actives over the trailing
    * `windowDays`, and their ratio — the canonical "how habitual is
    * usage" engagement series.
    *
    * The trailing-window distinct is NOT a sliding recount: each event's
    * day contributes to the `windowDays` window-days it belongs to (a
    * bounded explode), then ONE distinct-aggregation per window-day —
    * at 100 TB this is the exact-regime shape, and the mergeable
    * theta/HLL sketch rows are the always-on sibling when exactness can
    * be traded. The day spine is gap-filled: a zero-DAU day inside the
    * span reports stickiness 0, not absence. Output: day, dau, wau,
    * stickiness (NULL when wau = 0).
    */
  def stickinessDaily(df: DataFrame, entity: Column, ts: Column,
                      windowDays: Int): DataFrame = {
    require(windowDays >= 1, s"stickinessDaily needs windowDays >= 1, got $windowDays")
    val ev = df.select(entity.as("__e"), ts.cast("date").as("__day"))
      .filter(col("__day").isNotNull)
    // no join hint: the one-row range becomes the spine, the preserved side
    // of both left joins, which Spark cannot build; AQE broadcasts the
    // day-keyed dau/wau sides on its own
    val range = ev.agg(min(col("__day")).as("__lo"), max(col("__day")).as("__hi"))
    val spine = range.select(explode(expr("sequence(__lo, __hi, interval 1 day)")).as("day"))
    val dau = ev.groupBy(col("__day").as("day"))
      .agg(countDistinct(col("__e")).as("dau"))
    val wau = ev
      .select(col("__e"), explode(expr(
        s"sequence(__day, __day + interval ${windowDays - 1} days, interval 1 day)"))
        .as("day"))
      .groupBy(col("day")).agg(countDistinct(col("__e")).as("wau"))
    spine.join(dau, Seq("day"), "left").join(wau, Seq("day"), "left")
      .select(col("day"), coalesce(col("dau"), lit(0L)).as("dau"),
        coalesce(col("wau"), lit(0L)).as("wau"))
      .withColumn("stickiness",
        when(col("wau") > 0,
          graft.util.Portable.round6(col("dau").cast("double") / col("wau").cast("double"))))
  }

  /** RFM behavioral segmentation: per user, recency (days since their last
    * event, against the corpus's max timestamp), frequency (number of
    * `monetaryFilter` events), monetary (exact DECIMAL sum of their value),
    * each scored into quintiles with a user-id tie-break, then rolled up
    * per segment. The engagement-prioritization table a targeting step
    * consumes.
    *
    * One corpus pass to the per-user frame (map-side combinable); each
    * quintile assignment is a distributed two-phase rank (range exchange +
    * partition-local index + closed-form NTILE rule — [[ntileAssignAll]]),
    * so no user-cardinality frame ever funnels through one task: the
    * formulation that holds at 10⁸+ users is the DEFAULT, not an opt-in
    * sibling. Output per (r_tile, f_tile, m_tile): n_users, avg_monetary
    * (r6 of DECIMAL sums).
    */
  /** The shared R/F/M per-user frame: ONE definition feeding both the
    * default-named query ([[rfmSegments]]) and the plan-shape witness
    * ([[rfmSegmentsDist]]), so the two can never disagree on what R, F
    * and M mean. Columns: user_id, __last, __freq, __money, __rdays. */
  private[graft] def rfmPerUser(df: DataFrame, user: Column, ts: Column,
                         value: Column, monetaryFilter: Column): DataFrame = {
    // null-ts rows and null user ids are excluded (the kaplanMeier
    // discipline): a user with no timestamp has no recency, and a null id
    // is not an identity to segment — pinning BOTH here keeps every
    // downstream formulation agreeing (a null id would otherwise survive
    // the groupBy as its own group and then silently drop at the
    // equi-join back from the rank tables, leaving n_users short with no
    // error). The oracles carry the same WHERE.
    val base = df.select(user.as("user_id"), ts.as("__ts"), value.as("__v"),
      monetaryFilter.as("__m"))
      .filter(col("__ts").isNotNull && col("user_id").isNotNull)
    // recency anchor = one-row agg broadcast back (the topMovers pattern):
    // a partitionBy(lit(1)) max over the per-user frame would funnel an
    // entity-cardinality frame through ONE task at 100M+ users
    val anchor = broadcast(base.agg(max(col("__ts")).as("__corpus_max")))
    base.groupBy(col("user_id")).agg(
      max(col("__ts")).as("__last"),
      sum(when(col("__m"), 1L).otherwise(0L)).as("__freq"),
      sum(when(col("__m"), q6(col("__v"))).otherwise(lit(0.0))
        .cast("decimal(28,6)")).as("__money"))
      .crossJoin(anchor)
      .withColumn("__rdays",
        datediff(col("__corpus_max").cast("date"), col("__last").cast("date")))
  }

  /** RFM quintile segmentation. Since round 11 this IS the distributed
    * formulation ([[rfmSegmentsDist]]): the original single-partition
    * NTILE(5) windows funneled the per-USER frame through one task — the
    * known scale cliff at 100M+ users — while the distributed two-phase
    * rank is oracle-identical (pinned sf0.001→sf10, SF10_PARITY_R10). The
    * `rfm_segments_dist` query key stays bound as the plan-shape witness. */
  def rfmSegments(df: DataFrame, user: Column, ts: Column, value: Column,
                  monetaryFilter: Column): DataFrame =
    rfmSegmentsDist(df, user, ts, value, monetaryFilter)

  /** The RFM kernel ([[rfmSegments]] delegates here; the `_dist` query key
    * stays bound as the plan-shape witness). ONE melted pass (round 12):
    * the three quintile axes are MELTED into a single (axis, key, user)
    * frame — 3 rows per user — and ranked by ONE range exchange +
    * partition-local indices, the grouped two-phase rank
    * [[valueNtilesDist]] uses with axis as the group. Round 11's three
    * independent rank subtrees each re-executed their slice from their own
    * broadcast-subquery branches (nine of them — 51 jobs and seconds of
    * fixed overhead for a frame that is TINY next to the corpus), which is
    * why the per-user frame had to be bound to a materialization vehicle
    * at all. Melting removes that class: the corpus is aggregated once,
    * the per-user frame is consumed once, and the monetary value rides
    * through the melt on the m-axis row, so there is no join-back against
    * the per-user frame. The one remaining shared subtree — the RANKED
    * frame, consumed by the segment-stats branch and the rank join — is
    * bound to a lazy cache (see the inline note), leaving a single
    * broadcast future per run. Construction is job-free.
    *
    * Rank mechanics (all inside whole-stage codegen): sort keys are exact
    * LONGs — recency on NEGATED __rdays (desc ≡ asc of the negation,
    * int-exact), frequency on the count, monetary on micro-units
    * (decimal(28,6)·10⁶, exact to ±9.2·10¹² money units) with the cast
    * GUARDED (an out-of-range value raises instead of casting to NULL and
    * silently misranking). Ties on equal keys break on the id's own
    * ordering in its natural type — any orderable id works, same contract
    * as the window formulation this replaced. After the range exchange +
    * local sort, `spark_partition_id()` and `monotonically_increasing_id()`
    * give (segment, within-task position); the per-(partition, axis)
    * local index is the id minus the segment's min id — three columns of
    * codegen arithmetic, no typed hop. Global offsets and axis totals come
    * from ONE window pass over the ≤ 3P-row (partition × axis) segment
    * frame, partitioned BY AXIS (never a global window; P = range-task
    * count, so the frame is task-bounded, the ks_drift discipline) and
    * broadcast back. AQE coalescing of the range exchange stays correct:
    * merged partitions are adjacent ranges, the Sort re-sorts the merged
    * run, partition ids stay monotone in range order, and the min-id
    * subtraction is oblivious to where segment boundaries fell.
    *
    * Scale shape: one corpus pass (map-side combinable per-user agg), one
    * 3·U-row range shuffle (U = user cardinality), one U-row pivot
    * shuffle, one segment-cell rollup — every stage distributed, nothing
    * user-cardinality through one task, no state beyond the shuffles.
    */
  def rfmSegmentsDist(df: DataFrame, user: Column, ts: Column, value: Column,
                      monetaryFilter: Column): DataFrame =
    rfmFromPerUser(rfmPerUser(df, user, ts, value, monetaryFilter))

  /** The melted single-pass rank + pivot over the per-user R/F/M frame
    * (split out so specs can drive the kernel with a synthetic frame). */
  private[graft] def rfmFromPerUser(perUser: DataFrame, k: Int = 5): DataFrame = {
    // Only the MONETARY key needs the overflow guard: a decimal(28,6)
    // beyond ±9.2e12 money units would cast to NULL under non-ANSI
    // semantics, range-sort first, and silently misrank — raise instead.
    // Recency (negated int days) and frequency (already a LongType count)
    // cannot overflow a long, so their casts are plain (a guard there is
    // an unreachable branch in the hot 3·U-row path).
    val moneyK = (col("__money") * lit(1000000)).cast("long")
    val guardedMoneyK = when(col("__money").isNotNull && moneyK.isNull,
      raise_error(concat(lit("rfm: monetary key exceeds LONG range: "),
        (col("__money") * lit(1000000)).cast("string")))).otherwise(moneyK)
    // melt: axis 0 = recency, 1 = frequency, 2 = monetary; money rides on
    // the m-axis row only (null elsewhere — max() recovers it at the pivot)
    val melted = perUser.select(col("user_id"), inline(array(
      struct(lit(0).as("__ax"), (-col("__rdays")).cast("long").as("__k"),
        lit(null).cast("decimal(28,6)").as("__mny")),
      struct(lit(1).as("__ax"), col("__freq").cast("long").as("__k"),
        lit(null).cast("decimal(28,6)").as("__mny")),
      struct(lit(2).as("__ax"), guardedMoneyK.as("__k"),
        col("__money").as("__mny")))))
    val rangedRaw = melted
      .repartitionByRange(col("__ax"), col("__k"), col("user_id"))
      .sortWithinPartitions(col("__ax"), col("__k"), col("user_id"))
      .select(col("user_id"), col("__ax"), col("__mny"),
        spark_partition_id().as("__pid"),
        monotonically_increasing_id().as("__mid"))
    // The ranked frame has TWO consumers (segment stats, rank join) whose
    // column-pruned subtrees are canonically unequal, so AQE stage reuse
    // cannot serve both from one shuffle — left alone, the whole chain
    // below (corpus scan included) would execute twice (the kaplanMeier
    // lesson). A LAZY persist closes that: cache replacement happens at
    // analysis, BEFORE pruning can diverge the copies, so one
    // InMemoryRelation (materialized at first action — construction stays
    // job-free) serves both. The cache lookup keeps re-constructions of
    // the same query from stacking duplicate entries.
    val ranged = org.apache.spark.sql.graft.Bridge.shareLazily(rangedRaw)
    val seg = ranged.groupBy(col("__pid"), col("__ax"))
      .agg(min(col("__mid")).as("__lo"), count(lit(1)).as("__c"))
    val wOff = Window.partitionBy(col("__ax")).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy(col("__ax"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val segInfo = seg.select(col("__pid"), col("__ax"), col("__lo"),
      coalesce(sum(col("__c")).over(wOff), lit(0L)).as("__o"),
      sum(col("__c")).over(wTot).as("__n"))
    def d(c: Column) = c.cast("double")
    val r = d(col("__o") + (col("__mid") - col("__lo") + lit(1L)))
    val base = floor(d(col("__n")) / lit(k.toDouble))
    val rem = d(col("__n")) - base * lit(k.toDouble)
    val cut = (base + lit(1.0)) * rem
    val tile = when(r <= cut, floor((r - lit(1.0)) / (base + lit(1.0))) + lit(1.0))
      .otherwise(rem + floor((r - cut - lit(1.0)) / base) + lit(1.0))
    ranged.join(broadcast(segInfo), Seq("__pid", "__ax"))
      .select(col("user_id"), col("__ax"), col("__mny"),
        tile.cast("int").as("__tile"))
      .groupBy(col("user_id"))
      .agg(max(when(col("__ax") === 0, col("__tile"))).as("r_tile"),
        max(when(col("__ax") === 1, col("__tile"))).as("f_tile"),
        max(when(col("__ax") === 2, col("__tile"))).as("m_tile"),
        max(col("__mny")).as("__money"))
      .groupBy(col("r_tile"), col("f_tile"), col("m_tile"))
      .agg(
        count(lit(1)).as("n_users"),
        r6(sum(col("__money")).cast("double") / count(lit(1)).cast("double"))
          .as("avg_monetary"))
  }

  /** First-order Markov transition matrix over per-entity step sequences:
    * for each observed (from_state, to_state) adjacency, the count and the
    * row-normalized transition probability. event_paths' model-ready
    * sibling — the input to next-step prediction and to detecting broken
    * flows (a transition probability that collapses week-over-week).
    *
    * One hash shuffle on the entity key feeds the lead window; the pair
    * count is map-side combinable; row totals are a window over the
    * state²-cardinality count frame. p = c/rowTotal is a single IEEE
    * division of exact longs, r6-rounded.
    */
  def markovTransitions(df: DataFrame, entity: Column, ts: Column,
                        tiebreak: Column, state: Column): DataFrame = {
    val w = Window.partitionBy(col("__e")).orderBy(col("__ts"), col("__tie"))
    df.select(entity.as("__e"), ts.as("__ts"), tiebreak.as("__tie"),
        state.as("from_state"))
      .withColumn("to_state", lead(col("from_state"), 1).over(w))
      .filter(col("to_state").isNotNull)
      .groupBy(col("from_state"), col("to_state"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", r6(col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("from_state"))).cast("double")))
  }

  /** Kaplan-Meier survival estimate over per-entity lifetimes derived from
    * the event feed: lifetime = days between an entity's first and last
    * event; an entity is an observed churn (event) when its last activity
    * predates the corpus horizon by more than `churnGapDays`, otherwise
    * censored (still alive at the horizon). The retention curve behind
    * every "how long do participants stay" question.
    *
    * S(t) accumulates in LOG space: per event-time terms ln(1 − d/n) are
    * r6-quantized and DECIMAL-summed over the ordered time axis, so the
    * running product is exact and order-stable; `survival` is the exp of
    * that sum (r6-rounded — the only transcendental at output). Once
    * d = n_at_risk (everyone left), survival pins to exactly 0 and
    * log_survival to NULL. The time axis is distinct lifetime days —
    * a bounded frame, so the global-order window is the distribution-table
    * carve-out (value_ntiles), never corpus-sized. Output rows are event
    * times only: t_days, n_risk, n_events, n_censored, log_survival,
    * survival.
    */
  def kaplanMeier(df: DataFrame, entity: Column, ts: Column,
                  churnGapDays: Int): DataFrame = {
    require(churnGapDays >= 1, s"kaplanMeier needs churnGapDays >= 1, got $churnGapDays")
    val base = df.select(entity.as("__e"), ts.as("__ts"))
      .filter(col("__ts").isNotNull)
    // corpus horizon = one-row agg broadcast back (the topMovers pattern),
    // NOT a partitionBy(lit(1)) window over the per-entity frame — that
    // window funnels an entity-cardinality frame through one task at 100M+
    // entities. Costs a second corpus pass, but one that column-prunes to
    // the single ts column and combines map-side (deriving the horizon from
    // the per-entity frame instead would NOT fold back to one scan: the
    // horizon branch prunes to __last only, so the groupBy subtrees differ
    // and AQE cannot reuse the exchange — measured, not guessed).
    val horizon = broadcast(base.agg(max(col("__ts")).as("__cmax")))
    val perUser = base
      .groupBy(col("__e"))
      .agg(min(col("__ts")).as("__first"), max(col("__ts")).as("__last"))
      .crossJoin(horizon)
      .withColumn("t_days",
        datediff(col("__last").cast("date"), col("__first").cast("date")))
      .withColumn("__event",
        col("__last") < col("__cmax") - expr(s"INTERVAL $churnGapDays DAYS"))
    val byT = perUser.groupBy(col("t_days")).agg(
      sum(when(col("__event"), 1L).otherwise(0L)).as("n_events"),
      sum(when(col("__event"), 0L).otherwise(1L)).as("n_censored"))
    val ord = Window.partitionBy(lit(1)).orderBy(col("t_days"))
    val prior = ord.rowsBetween(Window.unboundedPreceding, -1)
    val upTo = ord.rowsBetween(Window.unboundedPreceding, 0)
    val total = Window.partitionBy(lit(1))
    byT
      .withColumn("n_risk",
        sum(col("n_events") + col("n_censored")).over(total) -
          coalesce(sum(col("n_events") + col("n_censored")).over(prior), lit(0L)))
      .withColumn("__dead", max(when(col("n_events") === col("n_risk"), 1)
        .otherwise(0)).over(upTo))
      .withColumn("__term",
        when(col("n_events") < col("n_risk"),
          q6(log(lit(1.0) - col("n_events").cast("double") / col("n_risk").cast("double"))))
          .otherwise(lit(0.0)).cast("decimal(28,6)"))
      .withColumn("__logs", sum(col("__term")).over(upTo))
      .filter(col("n_events") > 0)
      .select(col("t_days"), col("n_risk"), col("n_events"), col("n_censored"),
        when(col("__dead") === 0, col("__logs").cast("double")).as("log_survival"),
        when(col("__dead") === 0, r6(exp(col("__logs").cast("double"))))
          .otherwise(lit(0.0)).as("survival"))
  }

  /** Median-absolute-deviation outliers — the robust sibling of
    * [[zscoreOutliers]]: a z-score's mean/std are themselves dragged by
    * the outliers they hunt, so a heavy-tailed feed flags almost nothing;
    * the median/MAD pair is breakdown-point-0.5 robust. Score =
    * (v − median) / (1.4826·MAD) (the Gaussian consistency constant),
    * flagged at |score| ≥ `nMads` on the ROUNDED score (the linkage
    * rounding-before-threshold contract).
    *
    * Three corpus passes by arithmetic necessity (median, then MAD of
    * deviations from it, then scoring); both statistic frames are
    * group-cardinality and broadcast back. Groups with MAD = 0 (a
    * majority-constant value) emit nothing — by construction every
    * deviation from a zero-MAD median would be infinite.
    */
  def madOutliers(df: DataFrame, group: Column, id: Column, value: Column,
                  nMads: Double): DataFrame = {
    require(nMads > 0.0, s"madOutliers needs nMads > 0, got $nMads")
    val rows = df.select(group.as("group_key"), id.as("row_id"), value.as("__v"))
      .filter(col("__v").isNotNull)
    // median and MAD are 6dp-QUANTIZED at the aggregation (the scoreCuts /
    // winsorizeStats discipline): engines interpolate percentiles with
    // different IEEE op orders, and a raw interpolated statistic feeding a
    // threshold comparison flips membership on the ulp when data sits at
    // the knife edge (the failure class the sf1 replication probe caught)
    val med = rows.groupBy(col("group_key"))
      .agg(q6(expr("percentile(__v, 0.5D)")).as("__med"))
    val dev = rows.join(broadcast(med), Seq("group_key"))
      .withColumn("__d", abs(col("__v") - col("__med")))
    val mad = dev.groupBy(col("group_key"))
      .agg(q6(expr("percentile(__d, 0.5D)")).as("__mad"))
    dev.join(broadcast(mad), Seq("group_key"))
      .filter(col("__mad") > 0.0)
      .withColumn("score",
        r6((col("__v") - col("__med")) / (lit(1.4826) * col("__mad"))))
      .filter(abs(col("score")) >= nMads)
      .select(col("group_key"), col("row_id"), col("__v").as("value"),
        r6(col("__med")).as("group_median"), col("score"))
  }

  /** Per-group proportion with a Wilson score interval — the report shape
    * a rate belongs in: a 3/7 error rate and a 300/700 one are the same
    * point estimate and wildly different facts; the interval carries the
    * difference. Wilson (not Wald): stays inside [0,1] and behaves at
    * p → 0/1 and small n, the regime data-quality rates live in.
    *
    * One map-side-combinable pass; every ratio is a stepwise fixed-shape
    * IEEE expression over exact longs (the z² literal product included),
    * r6 at output. Output: group_key, n, successes, rate, ci_lo, ci_hi.
    */
  def wilsonInterval(df: DataFrame, group: Column, success: Column): DataFrame = {
    val folded = df.select(group.as("group_key"), success.as("__y"))
      .filter(col("__y").isNotNull)
      .groupBy(col("group_key"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("successes"))
    def d(c: Column) = c.cast("double")
    val z = lit(1.959964)
    val p = d(col("successes")) / d(col("n"))
    val z2n = z * z / d(col("n"))
    val center = (p + z2n / lit(2.0)) / (lit(1.0) + z2n)
    val half = (z * sqrt(p * (lit(1.0) - p) / d(col("n")) +
      z * z / (lit(4.0) * d(col("n")) * d(col("n"))))) / (lit(1.0) + z2n)
    folded.select(col("group_key"), col("n"), col("successes"),
      r6(p).as("rate"), r6(center - half).as("ci_lo"), r6(center + half).as("ci_hi"))
  }

  /** Top-k movers: which streams' share of traffic changed most between
    * the first and second half of the window — the "what changed this
    * week" report (a share collapse is the broken flow; a surge is the
    * campaign landing). The halves split at the exact microsecond
    * midpoint, shares are per-half exact-long ratios, and the k ranking
    * orders on the ROUNDED delta with a stream tie-break
    * (TakeOrderedAndProject, no global sort).
    */
  def topMovers(df: DataFrame, ts: Column, stream: Column, k: Int): DataFrame = {
    require(k >= 1, s"topMovers needs k >= 1, got $k")
    val ev = df.select(ts.as("__ts"), stream.as("stream")).filter(col("__ts").isNotNull)
    val mid = broadcast(ev.agg(
      ((unix_micros(min(col("__ts"))) + unix_micros(max(col("__ts")))) / lit(2L))
        .as("__mid")))
    def d(c: Column) = c.cast("double")
    val counts = ev.crossJoin(mid)
      .withColumn("__h2", unix_micros(col("__ts")) >= col("__mid"))
      .groupBy(col("stream"))
      .agg(sum(when(!col("__h2"), 1L).otherwise(0L)).as("n_first"),
        sum(when(col("__h2"), 1L).otherwise(0L)).as("n_second"))
    val totals = broadcast(counts.agg(
      sum(col("n_first")).as("__t1"), sum(col("n_second")).as("__t2")))
    counts.crossJoin(totals)
      .withColumn("share_first", r6(d(col("n_first")) / d(col("__t1"))))
      .withColumn("share_second", r6(d(col("n_second")) / d(col("__t2"))))
      .withColumn("delta",
        r6(d(col("n_second")) / d(col("__t2")) - d(col("n_first")) / d(col("__t1"))))
      .select(col("stream"), col("n_first"), col("n_second"),
        col("share_first"), col("share_second"), col("delta"))
      .orderBy(abs(col("delta")).desc, col("stream"))
      .limit(k)
  }

  /** Join-explosion pre-flight: the EXACT output cardinality a key
    * equi-join would produce (Σₖ cₗ(k)·cᵣ(k)) plus the top contributing
    * keys — run BEFORE a join ships, the way key_skew_report runs before
    * a shuffle key is chosen. A join that multiplies instead of matching
    * is the classic silent 100 TB killer; this makes it a number first.
    *
    * One map-side-combinable count per side, an inner join of the two
    * KEY-CARDINALITY frames, DECIMAL products (a hot key squared
    * overflows a long), one fold + top-k. Output (top-k keys by output
    * contribution): key, n_left, n_right, out_rows, total_out (repeated),
    * share_of_out.
    */
  def joinCardinality(left: DataFrame, leftKey: Column,
                      right: DataFrame, rightKey: Column, k: Int): DataFrame = {
    require(k >= 1, s"joinCardinality needs k >= 1, got $k")
    val lc = left.select(leftKey.as("key")).filter(col("key").isNotNull)
      .groupBy(col("key")).agg(count(lit(1)).as("n_left"))
    val rc = right.select(rightKey.as("key")).filter(col("key").isNotNull)
      .groupBy(col("key")).agg(count(lit(1)).as("n_right"))
    val prod = lc.join(rc, Seq("key"))
      .withColumn("out_rows",
        (col("n_left").cast("decimal(19,0)") * col("n_right").cast("decimal(19,0)"))
          .cast("decimal(38,0)"))
    val totals = broadcast(prod.agg(
      sum(col("out_rows")).as("__total"),
      sum(col("n_left").cast("decimal(19,0)")).as("__lmatched"),
      sum(col("n_right").cast("decimal(19,0)")).as("__rmatched")))
    prod.crossJoin(totals)
      .select(col("key").cast("string").as("key"), col("n_left"), col("n_right"),
        col("out_rows").cast("bigint").as("out_rows"),
        col("__total").cast("bigint").as("total_out"),
        r6(col("out_rows").cast("double") / col("__total").cast("double"))
          .as("share_of_out"))
      .orderBy(col("out_rows").desc, col("key"))
      .limit(k)
  }

  /** Snapshot diff audit: classify every key as added / removed / changed
    * / unchanged between two table versions and report counts — the
    * reconciliation a sync pipeline runs after each batch (the
    * reference's sync_stats counts events; this compares STATES). The
    * compared value is caller-chosen (a column or a hash of many).
    *
    * One full outer join on the key — the unavoidable shape for set
    * reconciliation — then a single fold; at scale both sides hash
    * shuffle once on the same key. Output: status, n.
    */
  def snapshotDiff(old: DataFrame, oldKey: Column, oldVal: Column,
                   neu: DataFrame, neuKey: Column, neuVal: Column): DataFrame = {
    // presence flags, not value-nullness: a legitimately-NULL value in an
    // EXISTING row must not read as side-absence
    val o = old.select(oldKey.as("key"), oldVal.as("__vo"), lit(true).as("__po"))
    val n = neu.select(neuKey.as("key"), neuVal.as("__vn"), lit(true).as("__pn"))
    o.join(n, Seq("key"), "full_outer")
      .select(
        when(col("__po").isNull, lit("added"))
          .when(col("__pn").isNull, lit("removed"))
          .when(col("__vo") <=> col("__vn"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
      .groupBy(col("status")).agg(count(lit(1)).as("n"))
  }

  /** Column profile: per column, row count, null count/fraction, and
    * EXACT distinct cardinality — the first look any ingest gets (the
    * Deequ-style audit; pairs with key_skew_report for the chosen keys
    * and schemaDiff for the shape).
    *
    * ONE corpus pass: each row explodes into its k column-role views
    * (same row multiplication an Expand-planned multi-distinct would pay)
    * and ONE groupBy(column) folds count/nulls/distinct — deliberately
    * NOT k countDistincts in one aggregate: RewriteDistinctAggregates
    * assigns its gids in exprId-dependent iteration order, so a
    * multi-distinct plan's fingerprint flips when ANY earlier query
    * changes expression allocation (instability class #4 — the same bug
    * fixed in chi2/MI, here avoided structurally). The distinct key is
    * the value's STRING form — injective for every type the profile
    * meets (full-precision double formatting, microsecond timestamps)
    * once -0.0 is collapsed into 0.0 on floating columns (they compare
    * equal as raw values but stringify apart), so the oracle's
    * raw-value distinct agrees or parity fails loudly.
    * Min/max are deliberately NOT reported: their string forms are
    * dialect-specific, and typed extremes belong to the per-type queries.
    */
  def columnProfile(df: DataFrame, columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty, "columnProfile needs at least one column")
    val entries = columns.map { c =>
      // floating columns: collapse -0.0 into 0.0 before stringifying —
      // they compare EQUAL as raw values (the oracle's distinct) but
      // stringify differently, which would inflate n_distinct by one.
      // NaN is left as-is: both engines have a single NaN rendering and
      // raw-value distinct counts it once either way. The type is read
      // through Spark's OWN resolution (df.select(c).schema) so a
      // case-mismatched caller name still hits the floating branch —
      // an exact-name map lookup would silently skip the collapse.
      val dt = df.select(col(c)).schema.head.dataType
      val v = dt match {
        case org.apache.spark.sql.types.DoubleType |
             org.apache.spark.sql.types.FloatType =>
          when(col(c) === 0.0, lit(0.0).cast(dt)).otherwise(col(c))
        case _ => col(c)
      }
      struct(lit(c).as("cn"), col(c).isNull.as("isn"), v.cast("string").as("v"))
    }
    df.select(explode(array(entries: _*)).as("__e"))
      .groupBy(col("__e.cn").as("column_name"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("__e.isn"), 1L).otherwise(0L)).as("n_null"),
        countDistinct(col("__e.v")).as("n_distinct"))
      .select(col("column_name"), col("n_rows"), col("n_null"),
        r6(col("n_null").cast("double") / col("n_rows").cast("double"))
          .as("null_frac"),
        col("n_distinct"))
  }

  /** Benford first-digit audit: the observed distribution of leading
    * significant digits against Benford's law p(d) = log10(1 + 1/d), with
    * the chi-square distance. Fabricated or unit-mangled numeric feeds
    * snap away from Benford long before a human eyeballs them — the
    * pre-ingest data-quality tripwire.
    *
    * Digit extraction is STRING-based: the first [1-9] character of the
    * value's decimal rendering IS the leading significant digit for any
    * positive double, at any magnitude (plain or scientific form — the
    * mantissa leads and the regex takes the FIRST match, never the
    * exponent). A log10/floor formulation mis-digits on FP knife edges
    * (log10(1000) < 3 in doubles), and the earlier 6dp-quantized-integer
    * path mis-digited below 1e-5; the rendering path has neither floor.
    * One map-side-combinable pass
    * to 9 digit counts; the digit spine left-joins so an absent digit
    * still contributes its (O=0 − E)²/E term. Output per digit 1-9:
    * digit, n_obs, p_obs, p_expected, chi2 (the corpus-level statistic,
    * repeated — the frame is the report).
    */
  def benfordTest(df: DataFrame, value: Column): DataFrame = {
    // NaN/Infinity guard (the firstInt discipline): NaN compares greater
    // than 0.0 on both engines, renders with no [1-9] character, and an
    // unguarded CAST('' AS INT) under ANSI (Spark 4 default) would crash
    // the job the oracle quietly completes — the length gate keeps the
    // empty extract away from the cast so dirty rows drop as nulls
    val run = regexp_extract(col("__v").cast("string"), "[1-9]", 0)
    val counts = df.select(value.as("__v"))
      .filter(col("__v") > 0.0)
      .withColumn("digit", when(length(run) === 1, run).cast("int"))
      .filter(col("digit").isNotNull)
      .groupBy(col("digit")).agg(count(lit(1)).as("__c"))
    val spine = df.sparkSession.range(1, 10)
      .select(col("id").cast("int").as("digit"))
    val wAll = Window.partitionBy(lit(1))
    def d(c: Column) = c.cast("double")
    spine.join(counts, Seq("digit"), "left")
      .withColumn("n_obs", coalesce(col("__c"), lit(0L)))
      .withColumn("__n", sum(col("n_obs")).over(wAll))
      .withColumn("__pexp",
        log(lit(1.0) + lit(1.0) / d(col("digit"))) / log(lit(10.0)))
      .withColumn("__e", d(col("__n")) * col("__pexp"))
      .withColumn("__term",
        q6((d(col("n_obs")) - col("__e")) * (d(col("n_obs")) - col("__e")) / col("__e"))
          .cast("decimal(28,6)"))
      .withColumn("chi2", sum(col("__term")).over(wAll).cast("double"))
      .select(col("digit"), col("n_obs"),
        r6(d(col("n_obs")) / d(col("__n"))).as("p_obs"),
        r6(col("__pexp")).as("p_expected"),
        col("chi2"))
  }

  /** Conversion-lag histogram: for entities that performed `from` then
    * later `to`, the distribution of first-from → first-to latency in
    * hour buckets (capped at `maxHours` into an overflow bucket). The
    * funnel's latency dimension — funnel_within says IF users convert
    * inside a window, this says HOW FAST the converters moved.
    *
    * One corpus pass to per-entity conditional first-times (map-side
    * combinable), a row-local lag in exact MICROSECONDS (whole-second
    * datediffs truncate differently per dialect — the micros integer
    * division is the portable path), one bucket count. Output: lag_hours,
    * n_conversions.
    */
  def conversionLag(df: DataFrame, entity: Column, ts: Column,
                    from: Column, to: Column, maxHours: Int): DataFrame = {
    require(maxHours >= 1, s"conversionLag needs maxHours >= 1, got $maxHours")
    df.select(entity.as("__e"), ts.as("__ts"), from.as("__f"), to.as("__t"))
      .filter(col("__ts").isNotNull)
      .groupBy(col("__e"))
      .agg(min(when(col("__f"), col("__ts"))).as("__first_from"),
        min(when(col("__t"), col("__ts"))).as("__first_to"))
      .filter(col("__first_from").isNotNull && col("__first_to").isNotNull &&
        col("__first_to") >= col("__first_from"))
      .withColumn("lag_hours",
        least(expr("(unix_micros(__first_to) - unix_micros(__first_from)) DIV 3600000000"),
          lit(maxHours.toLong)))
      .groupBy(col("lag_hours")).agg(count(lit(1)).as("n_conversions"))
  }

  /** Hourly traffic anomalies: the gap-filled hourly series per stream
    * (zero hours are observations — a silent tracking pipeline IS the
    * anomaly this exists to catch), z-scored against each stream's own
    * hourly distribution with exact INTEGER moments (Σn, Σn² of counts
    * never touch a double until the final mean/std expressions). The
    * composition of resample_hourly and the z-score sweep as one
    * operator. Output: anomalous (hour, stream) rows with their z.
    */
  def trafficAnomalies(df: DataFrame, ts: Column, stream: Column,
                       zMin: Double): DataFrame = {
    require(zMin > 0.0, s"trafficAnomalies needs zMin > 0, got $zMin")
    val ev = df.select(ts.as("__ts"), stream.as("__s")).filter(col("__ts").isNotNull)
    val range = ev.agg(date_trunc("hour", min(col("__ts"))).as("lo"),
      date_trunc("hour", max(col("__ts"))).as("hi"))
    val hours = range.select(explode(expr("sequence(lo, hi, interval 1 hour)")).as("hour"))
    val streams = ev.select(col("__s")).distinct()
    val counts = ev.groupBy(date_trunc("hour", col("__ts")).as("hour"), col("__s"))
      .agg(count(lit(1)).as("__n"))
    val series = hours.crossJoin(streams)
      .join(counts, Seq("hour", "__s"), "left")
      .select(col("hour"), col("__s").as("stream"),
        coalesce(col("__n"), lit(0L)).as("n"))
    val moments = series.groupBy(col("stream")).agg(
      count(lit(1)).as("__h"),
      sum(col("n").cast("decimal(28,0)")).as("__s1"),
      sum(col("n").cast("decimal(19,0)") * col("n").cast("decimal(19,0)")).as("__s2"))
    val mean = col("__s1").cast("double") / col("__h").cast("double")
    val variance = (col("__s2").cast("double") -
      col("__s1").cast("double") * col("__s1").cast("double") / col("__h").cast("double")) /
      (col("__h") - 1).cast("double")
    series.join(broadcast(moments), Seq("stream"))
      .filter(col("__h") >= 2)
      .withColumn("__mean", mean)
      .withColumn("__std", sqrt(variance))
      .filter(col("__std") > 0.0)
      .withColumn("z", r6((col("n").cast("double") - col("__mean")) / col("__std")))
      .filter(abs(col("z")) >= zMin)
      .select(col("stream"), col("hour"), col("n"), r6(col("__mean")).as("hourly_mean"),
        col("z"))
  }

  /** Autocorrelation of the gap-filled hourly traffic series per stream,
    * at caller-chosen lags — the seasonality detector: a daily cycle
    * shows as the lag-24 peak, a weekly one at lag-168; feeding an
    * anomaly threshold without knowing this flags every quiet night.
    * Zero hours ARE observations (trafficAnomalies' spine discipline).
    *
    * ACF(k) = Σ dₜ·dₜ₋ₖ / Σ dₜ² over the in-range pairs; deviations are
    * fixed-shape IEEE off exact integer moments, products q6-quantized
    * and DECIMAL-summed (order-free), one IEEE division per (stream,
    * lag), r6 out. One window exchange on the stream key evaluates every
    * lag; the spine is bounded (hours × streams). Zero-variance series
    * report NULL.
    */
  def acfHourly(df: DataFrame, ts: Column, stream: Column,
                lags: Seq[Int]): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ >= 1) && lags.distinct.size == lags.size,
      s"acfHourly needs distinct positive lags, got $lags")
    val ev = df.select(ts.as("__ts"), stream.as("__s")).filter(col("__ts").isNotNull)
    val range = ev.agg(date_trunc("hour", min(col("__ts"))).as("lo"),
      date_trunc("hour", max(col("__ts"))).as("hi"))
    val hours = range.select(explode(expr("sequence(lo, hi, interval 1 hour)")).as("hour"))
    val streams = ev.select(col("__s")).distinct()
    val counts = ev.groupBy(date_trunc("hour", col("__ts")).as("hour"), col("__s"))
      .agg(count(lit(1)).as("__n"))
    val series = hours.crossJoin(streams)
      .join(counts, Seq("hour", "__s"), "left")
      .select(col("hour"), col("__s").as("stream"),
        coalesce(col("__n"), lit(0L)).as("n"))
    val moments = series.groupBy(col("stream")).agg(
      count(lit(1)).as("__h"),
      sum(col("n").cast("decimal(28,0)")).as("__s1"))
    def d(c: Column) = c.cast("double")
    val mean = d(col("__s1")) / d(col("__h"))
    val dev = series.join(broadcast(moments), Seq("stream"))
      .withColumn("__d", d(col("n")) - mean)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("stream")).orderBy(col("hour"))
    val withLags = lags.foldLeft(dev) { (acc, k) =>
      acc.withColumn(s"__dl$k", lag(col("__d"), k).over(w))
    }
    val aggs =
      sum(q6(col("__d") * col("__d")).cast("decimal(28,6)")).as("__den") +:
        lags.map(k => sum(
          when(col(s"__dl$k").isNotNull, q6(col("__d") * col(s"__dl$k")))
            .otherwise(lit(0.0)).cast("decimal(28,6)")).as(s"__num$k"))
    val folded = withLags.groupBy(col("stream")).agg(aggs.head, aggs.tail: _*)
    val entries = lags.map(k =>
      struct(lit(k).as("lag"), d(col(s"__num$k")).as("num")))
    folded
      .select(col("stream"), d(col("__den")).as("__dd"),
        explode(array(entries: _*)).as("__e"))
      .select(col("stream"), col("__e.lag").as("lag"),
        when(col("__dd") > 0.0, r6(col("__e.num") / col("__dd"))).as("acf"))
  }

  /** Seasonally-adjusted traffic anomalies: the gap-filled hourly series
    * z-scored against its own (stream, hour-of-day) profile rather than
    * the stream's global moments — the tripwire [[trafficAnomalies]]
    * should be on daily-cycle data, where the global version flags every
    * quiet night and misses a dead DAYTIME hour (acf_hourly is the
    * diagnosis, this is the fix). Same spine discipline (zero hours ARE
    * observations), moments per (stream, hod) are exact integer sums,
    * z fixed-shape IEEE, profile cells with < 2 observations or zero
    * variance are skipped.
    */
  def seasonalAnomalies(df: DataFrame, ts: Column, stream: Column,
                        zMin: Double): DataFrame = {
    require(zMin > 0.0, s"seasonalAnomalies needs zMin > 0, got $zMin")
    val ev = df.select(ts.as("__ts"), stream.as("__s")).filter(col("__ts").isNotNull)
    val range = ev.agg(date_trunc("hour", min(col("__ts"))).as("lo"),
      date_trunc("hour", max(col("__ts"))).as("hi"))
    val hours = range.select(explode(expr("sequence(lo, hi, interval 1 hour)")).as("hour"))
    val streams = ev.select(col("__s")).distinct()
    val counts = ev.groupBy(date_trunc("hour", col("__ts")).as("hour"), col("__s"))
      .agg(count(lit(1)).as("__n"))
    val series = hours.crossJoin(streams)
      .join(counts, Seq("hour", "__s"), "left")
      .select(col("hour"), col("__s").as("stream"),
        coalesce(col("__n"), lit(0L)).as("n"),
        hour(col("hour")).as("hod"))
    val moments = series.groupBy(col("stream"), col("hod")).agg(
      count(lit(1)).as("__h"),
      sum(col("n").cast("decimal(28,0)")).as("__s1"),
      sum(col("n").cast("decimal(19,0)") * col("n").cast("decimal(19,0)")).as("__s2"))
    val mean = col("__s1").cast("double") / col("__h").cast("double")
    val variance = (col("__s2").cast("double") -
      col("__s1").cast("double") * col("__s1").cast("double") / col("__h").cast("double")) /
      (col("__h") - 1).cast("double")
    series.join(broadcast(moments), Seq("stream", "hod"))
      .filter(col("__h") >= 2)
      .withColumn("__mean", mean)
      .withColumn("__std", sqrt(variance))
      .filter(col("__std") > 0.0)
      .withColumn("z", r6((col("n").cast("double") - col("__mean")) / col("__std")))
      .filter(abs(col("z")) >= zMin)
      .select(col("stream"), col("hour"), col("hod"), col("n"),
        r6(col("__mean")).as("hod_mean"), col("z"))
  }

  /** Two-proportion power analysis from the observed arms: the required
    * per-arm sample size to detect the OBSERVED effect at α = 0.05
    * (two-sided) with 80% power — the "how long must this experiment
    * run" companion to [[abTestZscore]]. n = (z_α·√(2p̄(1−p̄)) +
    * z_β·√(p₁(1−p₁)+p₂(1−p₂)))² / (p₁−p₂)², normal-quantile constants
    * as fixed literals (1.959964 / 0.841621). NULL when an arm is empty
    * or the observed effect is zero (no detectable difference to power
    * for). One row; all ratios fixed-shape IEEE over exact longs.
    */
  def abTestPower(df: DataFrame, entity: Column, variantA: Column,
                  outcome: Column): DataFrame = {
    val perUser = df.select(entity.as("__e"), variantA.as("__a"), outcome.as("__y"))
      .groupBy(col("__e"))
      .agg(max(col("__a")).as("__va"), max(col("__y")).as("__conv"))
    val folded = perUser.agg(
      sum(when(col("__va"), 1L).otherwise(0L)).as("n_a"),
      sum(when(col("__va") && col("__conv"), 1L).otherwise(0L)).as("conv_a"),
      sum(when(!col("__va"), 1L).otherwise(0L)).as("n_b"),
      sum(when(!col("__va") && col("__conv"), 1L).otherwise(0L)).as("conv_b"))
    def d(c: Column) = c.cast("double")
    val p1 = d(col("conv_a")) / d(col("n_a"))
    val p2 = d(col("conv_b")) / d(col("n_b"))
    val pbar = d(col("conv_a") + col("conv_b")) / d(col("n_a") + col("n_b"))
    val za = lit(1.959964)
    val zb = lit(0.841621)
    val num = za * sqrt(lit(2.0) * pbar * (lit(1.0) - pbar)) +
      zb * sqrt(p1 * (lit(1.0) - p1) + p2 * (lit(1.0) - p2))
    val nReq = (num * num) / ((p1 - p2) * (p1 - p2))
    folded.select(
      col("n_a"), col("n_b"),
      when(col("n_a") > 0, r6(p1)).as("rate_a"),
      when(col("n_b") > 0, r6(p2)).as("rate_b"),
      when(col("n_a") > 0 && col("n_b") > 0, r6(p1 - p2)).as("effect"),
      // exact cross-multiplied rate equality via DECIMAL: a LongType
      // conv*n product overflows silently past ~3e9 entities per arm
      when(col("n_a") > 0 && col("n_b") > 0 &&
        col("conv_a").cast("decimal(19,0)") * col("n_b").cast("decimal(19,0)") =!=
          col("conv_b").cast("decimal(19,0)") * col("n_a").cast("decimal(19,0)"),
        ceil(nReq).cast("bigint")).as("n_required_per_arm"))
  }

  /** Two-proportion z-test between an A and a B cohort on a binary
    * per-entity outcome — the experiment read-out (did the B-arm flow
    * convert better, and is the difference more than noise?).
    *
    * One corpus pass to per-entity (variant, converted), one tiny
    * conditional fold to a single row; every ratio is a fixed-shape IEEE
    * expression over exact longs, r6 at output only. z is NULL when a
    * pooled-variance factor degenerates (empty arm or 0%/100% pooled
    * rate).
    */
  def abTestZscore(df: DataFrame, entity: Column, variantA: Column,
                   outcome: Column): DataFrame = {
    val perUser = df.select(entity.as("__e"), variantA.as("__a"), outcome.as("__y"))
      .groupBy(col("__e"))
      .agg(max(col("__a")).as("__va"), max(col("__y")).as("__conv"))
    val folded = perUser.agg(
      sum(when(col("__va"), 1L).otherwise(0L)).as("n_a"),
      sum(when(col("__va") && col("__conv"), 1L).otherwise(0L)).as("conv_a"),
      sum(when(!col("__va"), 1L).otherwise(0L)).as("n_b"),
      sum(when(!col("__va") && col("__conv"), 1L).otherwise(0L)).as("conv_b"))
    def d(c: Column) = c.cast("double")
    val pa = d(col("conv_a")) / d(col("n_a"))
    val pb = d(col("conv_b")) / d(col("n_b"))
    val pooled = d(col("conv_a") + col("conv_b")) / d(col("n_a") + col("n_b"))
    val se = sqrt(pooled * (lit(1.0) - pooled) *
      (lit(1.0) / d(col("n_a")) + lit(1.0) / d(col("n_b"))))
    folded.select(
      col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      when(col("n_a") > 0, r6(pa)).as("rate_a"),
      when(col("n_b") > 0, r6(pb)).as("rate_b"),
      when(col("n_a") > 0 && col("n_b") > 0 &&
        col("conv_a") + col("conv_b") > 0 &&
        col("conv_a") + col("conv_b") < col("n_a") + col("n_b"),
        r6((pa - pb) / se)).as("z"))
  }

  /** Pairwise Pearson correlation matrix over a set of numeric columns —
    * the feature-redundancy audit (two near-collinear quality signals
    * weight the same evidence twice in any downstream score).
    *
    * ONE corpus pass: listwise-complete rows (any-null dropped, so every
    * pair shares one n) fold to a single row of exact moments — each
    * column 6dp-quantized to DECIMAL(18,6), so Σq and the Σqᵢqⱼ cross
    * moments (DECIMAL(37,12) products) are bit-exact under any partial
    * merge order — and the p(p−1)/2 pair rows explode out of that one
    * aggregated row. r = (nΣxy − ΣxΣy)/(√(nΣx²−(Σx)²)·√(nΣy²−(Σy)²))
    * in a fixed IEEE shape off the exact sums; a zero-variance side
    * reports NULL. Output: col_a, col_b (name-ordered), n, corr.
    */
  def corrPairs(df: DataFrame, columns: Seq[String]): DataFrame = {
    require(columns.size >= 2, "corrPairs needs at least two columns")
    require(columns.distinct.size == columns.size, "corrPairs: duplicate column")
    val cols = columns.sorted
    val rows = df.select(cols.map(c => q6(col(c).cast("double"))
        .cast("decimal(18,6)").as(s"__q_$c")): _*)
      .filter(cols.map(c => col(s"__q_$c").isNotNull).reduce(_ && _))
    val moments =
      Seq(count(lit(1)).as("__n")) ++
        cols.map(c => sum(col(s"__q_$c")).as(s"__s_$c")) ++
        cols.map(c => sum(col(s"__q_$c") * col(s"__q_$c")).as(s"__ss_$c")) ++
        cols.combinations(2).map { case Seq(a, b) =>
          sum(col(s"__q_$a") * col(s"__q_$b")).as(s"__sp_${a}__$b")
        }.toSeq
    val one = rows.agg(moments.head, moments.tail: _*)
    def d(c: Column) = c.cast("double")
    val pairs = cols.combinations(2).map { case Seq(a, b) =>
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        d(col(s"__s_$a")).as("sx"), d(col(s"__s_$b")).as("sy"),
        d(col(s"__ss_$a")).as("sxx"), d(col(s"__ss_$b")).as("syy"),
        d(col(s"__sp_${a}__$b")).as("sxy"))
    }.toSeq
    val n = d(col("__n"))
    val vx = n * col("__e.sxx") - col("__e.sx") * col("__e.sx")
    val vy = n * col("__e.syy") - col("__e.sy") * col("__e.sy")
    val cov = n * col("__e.sxy") - col("__e.sx") * col("__e.sy")
    one.select(col("__n"), explode(array(pairs: _*)).as("__e"))
      .select(col("__e.col_a").as("col_a"), col("__e.col_b").as("col_b"),
        col("__n").as("n"),
        when(col("__n") >= 2 && vx > 0.0 && vy > 0.0,
          r6(cov / (sqrt(vx) * sqrt(vy)))).as("corr"))
  }

  /** Category encoding table for SERVING: per-category (n, Σ) plus the
    * full mean — what [[targetEncodeLoo]] trains against, minus the
    * leave-one-out (an arriving row was never in the training data, so
    * its encoding IS the plain category mean; LOO is a TRAINING-set
    * correction). Broadcastable category-cardinality frame; the
    * streaming scorer (`Streams.targetEncodeStream`) joins it
    * stream-static.
    */
  def targetEncodeTable(df: DataFrame, category: Column,
                        target: Column): DataFrame = {
    val rows = df.select(category.as("category"),
        target.cast("double").as("__y"))
      .filter(col("category").isNotNull && col("__y").isNotNull)
      .withColumn("__q", q6(col("__y")).cast("decimal(18,6)"))
    def d(c: Column) = c.cast("double")
    rows.groupBy(col("category"))
      .agg(count(lit(1)).as("__n"), sum(col("__q")).as("__s"))
      .select(col("category"), col("__n").as("n"),
        r6(d(col("__s")) / d(col("__n"))).as("te_mean"))
  }

  /** Point-in-time training-set builder: per entity, features computed
    * ONLY from rows before the cutoff and the label ONLY from the
    * horizon after it — the feature-store discipline whose violation
    * (a feature peeking past the cutoff) is the classic silent leakage
    * that makes offline metrics lie. Entities with no pre-cutoff history
    * are excluded (nothing to featurize); entities with history and no
    * horizon activity get label = false, not a dropped row.
    *
    * One scan, one entity-key exchange: the pre/post split is a
    * conditional-aggregation mask, so features and label fold in the
    * SAME pass without a self-join. Exact arithmetic: counts long,
    * mean from a DECIMAL sum, recency in whole days by integer micros
    * division. Output: entity, n_events, mean_value, days_since_last,
    * n_types, label.
    */
  def pitFeatures(df: DataFrame, entity: Column, ts: Column, value: Column,
                  eventType: Column, labelEvent: Column,
                  cutoff: String, horizonDays: Int): DataFrame = {
    require(horizonDays >= 1, s"pitFeatures needs horizonDays >= 1, got $horizonDays")
    val cut = lit(cutoff).cast("timestamp")
    val horizonEnd = lit(cutoff).cast("timestamp") +
      expr(s"INTERVAL $horizonDays DAYS")
    val rows = df.select(entity.as("entity"), ts.as("__ts"),
        value.cast("double").as("__v"), eventType.as("__et"),
        labelEvent.as("__lab"))
      .filter(col("__ts").isNotNull)
    val pre = col("__ts") < cut
    val inHorizon = col("__ts") >= cut && col("__ts") < horizonEnd
    def d(c: Column) = c.cast("double")
    rows.groupBy(col("entity"))
      .agg(
        sum(when(pre, 1L).otherwise(0L)).as("n_events"),
        sum(when(pre, q6(col("__v")).cast("decimal(28,6)"))
          .otherwise(lit(null))).as("__sv"),
        sum(when(pre && col("__v").isNotNull, 1L).otherwise(0L)).as("__nv"),
        max(when(pre, col("__ts")).otherwise(lit(null))).as("__last"),
        size(collect_set(when(pre, col("__et")).otherwise(lit(null))))
          .cast("long").as("n_types"),
        max(when(inHorizon && col("__lab"), true).otherwise(false)).as("label"))
      .filter(col("n_events") > 0)
      .select(col("entity"), col("n_events"),
        when(col("__nv") > 0, r6(d(col("__sv")) / d(col("__nv"))))
          .as("mean_value"),
        floor((unix_micros(cut) - unix_micros(col("__last"))) /
          lit(86400000000.0)).cast("long").as("days_since_last"),
        col("n_types"), col("label"))
  }

  /** Merged-interval coverage per entity: total time covered by the
    * union of [ts, ts + activeLen) activity windows, plus the island
    * count — "how long was this user actually active" where summing raw
    * windows double-counts every overlap (the classic uptime/coverage
    * union). Islands form where an interval's start exceeds the running
    * max of prior ends (touching intervals merge); a union's length is
    * then maxEnd − minStart per island.
    *
    * One entity-key exchange feeds all three window frames (running max,
    * island cumsum — same partitioning); arithmetic is exact long
    * microseconds end to end, floor-divided to seconds only at output.
    */
  def intervalCoverage(df: DataFrame, entity: Column, ts: Column,
                       tiebreak: Column, activeSec: Long): DataFrame = {
    require(activeSec > 0, s"intervalCoverage needs activeSec > 0, got $activeSec")
    val micros = activeSec * 1000000L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__e")).orderBy(col("__s"), col("__tie"))
    val wPrev = w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wCum = w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    df.select(entity.as("__e"), unix_micros(ts).as("__s"),
        tiebreak.as("__tie"))
      .filter(col("__s").isNotNull)
      .withColumn("__end", col("__s") + lit(micros))
      .withColumn("__prevMax", max(col("__end")).over(wPrev))
      .withColumn("__new",
        when(col("__prevMax").isNull || col("__s") > col("__prevMax"), 1L)
          .otherwise(0L))
      .withColumn("__island", sum(col("__new")).over(wCum))
      .groupBy(col("__e"), col("__island"))
      .agg(min(col("__s")).as("__is"), max(col("__end")).as("__ie"))
      .groupBy(col("__e"))
      .agg(count(lit(1)).as("n_islands"),
        floor(sum(col("__ie") - col("__is")) / lit(1000000.0)).cast("long")
          .as("covered_sec"))
      .withColumnRenamed("__e", "entity")
  }

  /** Weighted median per group — "the median TOKEN sits in a document of
    * length X", not "the median document has length X": under heavy
    * length skew the two differ wildly, and budget decisions (context
    * packing, chunk sizing) follow mass, not membership. Lower weighted
    * median: the smallest value whose cumulative weight reaches half the
    * total, compared as exact integers (2·cumW ≥ W — no fractions, no
    * FP knife edge).
    *
    * ONE exchange on the group key: the cumulative rides a RANGE frame
    * (ties share a cumulative — no pre-collapse groupBy, which would
    * cost a second (group, value) exchange), the total a second frame of
    * the same partitioned window, the final fold reuses the same
    * distribution (plan-audited).
    */
  def weightedMedian(df: DataFrame, group: Column, value: Column,
                     weight: Column): DataFrame = {
    val rows = df.select(group.as("group_key"), value.as("__v"),
        weight.cast("long").as("__w"))
      .filter(col("__v").isNotNull && col("__w").isNotNull && col("__w") > 0)
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("group_key")).orderBy(col("__v"))
      .rangeBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("group_key"))
    rows
      .withColumn("__cum", sum(col("__w")).over(wCum))
      .withColumn("__tot", sum(col("__w")).over(wAll))
      .filter(lit(2) * col("__cum") >= col("__tot"))
      .groupBy(col("group_key"))
      .agg(max(col("__tot")).as("total_w"), min(col("__v")).as("w_median"))
  }

  /** Deterministic bootstrap confidence interval for the mean — the
    * uncertainty a point estimate hides, computed WITHOUT randomness an
    * engine can't replay: R subsample replicates are drawn by portable
    * md5 coins keyed on (row id, replicate), so every engine and every
    * run sees the same replicates (m-out-of-n bootstrap at samplePct).
    * CI bounds are nearest-rank percentiles over the R replicate means.
    *
    * ONE corpus pass: all R conditional (n, Σ) pairs ride a single
    * aggregation (map-side combinable; R md5 evaluations per row is the
    * price of portability), replicate means are fixed IEEE divisions of
    * exact DECIMAL sums, and the rank selection is an array_sort over R
    * values in the one output row. Output: n, mean, ci_lo, ci_hi.
    */
  def bootstrapCiMean(df: DataFrame, id: Column, value: Column,
                      reps: Int = 32, samplePct: Int = 63): DataFrame = {
    require(reps >= 8 && reps <= 128, s"bootstrapCiMean needs reps in [8,128], got $reps")
    require(samplePct >= 10 && samplePct <= 90,
      s"bootstrapCiMean needs samplePct in [10,90], got $samplePct")
    val rows = df.select(id.cast("string").as("__id"),
        value.cast("double").as("__v"))
      .filter(col("__v").isNotNull && col("__id").isNotNull)
      .withColumn("__q", q6(col("__v")).cast("decimal(18,6)"))
    def coin(r: Int): Column =
      conv(substring(md5(concat(col("__id"), lit(s":$r"))), 1, 4), 16, 10)
        .cast("long") % 100 < samplePct
    val aggs = Seq(count(lit(1)).as("__n"), sum(col("__q")).as("__s")) ++
      (0 until reps).flatMap { r =>
        Seq(sum(when(coin(r), 1L).otherwise(0L)).as(s"__n$r"),
          sum(when(coin(r), col("__q")).otherwise(lit(null))).as(s"__s$r"))
      }
    val one = rows.agg(aggs.head, aggs.tail: _*)
    def d(c: Column) = c.cast("double")
    // an empty replicate (possible only on tiny inputs) falls back to the
    // full-sample mean rather than emitting a NULL whose sort position
    // differs across engines
    val means = (0 until reps).map(r =>
      when(col(s"__n$r") > 0, d(col(s"__s$r")) / d(col(s"__n$r")))
        .otherwise(d(col("__s")) / d(col("__n"))))
    val loIdx = math.max(1, math.ceil(0.05 * reps).toInt)
    val hiIdx = math.min(reps, math.ceil(0.95 * reps).toInt)
    one.filter(col("__n") > 0)
      .withColumn("__arr", array_sort(array(means: _*)))
      .select(col("__n").as("n"),
        r6(d(col("__s")) / d(col("__n"))).as("mean"),
        r6(element_at(col("__arr"), loIdx)).as("ci_lo"),
        r6(element_at(col("__arr"), hiIdx)).as("ci_hi"))
  }

  /** Per-group embedding centroid shift vs the global centroid — the
    * embedding-space drift audit: a source/label whose centroid sits far
    * from the corpus mean embeds differently (encoder version skew, a
    * domain shift, a poisoned slice) and will dominate nearest-neighbor
    * structure. L2 distance per group, exact to the quantization:
    * per-dim means are IEEE off exact DECIMAL sums of 6dp-quantized
    * components, squared diffs q6 → DECIMAL-summed over the dimension
    * axis, one sqrt at the end, r6.
    *
    * Scale shape: one explode pass to (group, dim) and (dim) moment
    * tables — both group×dim-cardinality, the global side broadcast
    * back; nothing joins at vector cardinality after the fold.
    */
  def centroidShift(df: DataFrame, group: Column, vec: Column): DataFrame = {
    val e = df.select(group.as("group_key"), posexplode(vec).as(Seq("__pos", "__x")))
      .filter(col("__x").isNotNull)
      .withColumn("__q", q6(col("__x").cast("double")).cast("decimal(18,6)"))
    def d(c: Column) = c.cast("double")
    val byGroup = e.groupBy(col("group_key"), col("__pos"))
      .agg(count(lit(1)).as("__n"), sum(col("__q")).as("__s"))
      .withColumn("__m", d(col("__s")) / d(col("__n")))
    val global = broadcast(e.groupBy(col("__pos"))
      .agg(sum(col("__q")).as("__gs"), count(lit(1)).as("__gn"))
      .withColumn("__gm", d(col("__gs")) / d(col("__gn"))))
    byGroup.join(global, Seq("__pos"))
      .withColumn("__t",
        q6((col("__m") - col("__gm")) * (col("__m") - col("__gm")))
          .cast("decimal(28,6)"))
      .groupBy(col("group_key"))
      .agg(max(col("__n")).as("n_vecs"), sum(col("__t")).as("__ss"))
      .select(col("group_key"), col("n_vecs"),
        r6(sqrt(d(col("__ss")))).as("centroid_shift"))
  }

  /** Feature-selection pre-flight: per candidate feature, completeness,
    * variance and correlation-with-target in ONE corpus pass — the
    * screen that drops dead columns (all-missing, near-zero variance,
    * no signal) before a training export pays to carry them.
    *
    * Masks are PER-FEATURE (a feature's stats use its own complete pairs
    * with the target, not the listwise intersection — a 90%-missing
    * column would otherwise poison every other column's n). All moments
    * are conditional sums of 6dp-quantized values in exact DECIMAL; the
    * per-feature rows explode off the single aggregated row with
    * fixed-shape IEEE variance/corr expressions; degenerate sides NULL.
    * Output: feature, n, n_missing, missing_frac, variance, near_zero,
    * target_corr.
    */
  def featureScreen(df: DataFrame, features: Seq[String],
                    target: String): DataFrame = {
    require(features.nonEmpty, "featureScreen needs at least one feature")
    require(!features.contains(target), "featureScreen: target listed as feature")
    val base = df.select(
      (features :+ target).map(c => col(c).cast("double").as(s"__v_$c")): _*)
    val withQ = base.select(
      (features :+ target).flatMap(c => Seq(col(s"__v_$c"),
        q6(col(s"__v_$c")).cast("decimal(18,6)").as(s"__q_$c"))): _*)
    def m(f: String) = col(s"__v_$f").isNotNull && col(s"__v_$target").isNotNull
    val aggs = Seq(count(lit(1)).as("__rows")) ++ features.flatMap { f =>
      Seq(
        sum(when(m(f), 1L).otherwise(0L)).as(s"__n_$f"),
        sum(when(col(s"__v_$f").isNull, 1L).otherwise(0L)).as(s"__miss_$f"),
        sum(when(m(f), col(s"__q_$f")).otherwise(lit(null))).as(s"__sf_$f"),
        sum(when(m(f), col(s"__q_$f") * col(s"__q_$f")).otherwise(lit(null)))
          .as(s"__sff_$f"),
        sum(when(m(f), col(s"__q_$target")).otherwise(lit(null))).as(s"__st_$f"),
        sum(when(m(f), col(s"__q_$target") * col(s"__q_$target"))
          .otherwise(lit(null))).as(s"__stt_$f"),
        sum(when(m(f), col(s"__q_$f") * col(s"__q_$target")).otherwise(lit(null)))
          .as(s"__sft_$f"))
    }
    val one = withQ.agg(aggs.head, aggs.tail: _*)
    def d(c: Column) = c.cast("double")
    val entries = features.map { f =>
      struct(lit(f).as("feature"), col(s"__n_$f").as("n"),
        col(s"__miss_$f").as("n_missing"),
        d(col(s"__sf_$f")).as("sf"), d(col(s"__sff_$f")).as("sff"),
        d(col(s"__st_$f")).as("st"), d(col(s"__stt_$f")).as("stt"),
        d(col(s"__sft_$f")).as("sft"))
    }
    val n = d(col("__e.n"))
    val vf = n * col("__e.sff") - col("__e.sf") * col("__e.sf")
    val vt = n * col("__e.stt") - col("__e.st") * col("__e.st")
    val cov = n * col("__e.sft") - col("__e.sf") * col("__e.st")
    val variance = when(col("__e.n") >= 2,
      r6((col("__e.sff") - col("__e.sf") * col("__e.sf") / n) / (n - lit(1.0))))
    one.select(col("__rows"), explode(array(entries: _*)).as("__e"))
      .select(col("__e.feature").as("feature"), col("__e.n").as("n"),
        col("__e.n_missing").as("n_missing"),
        r6(d(col("__e.n_missing")) / d(col("__rows"))).as("missing_frac"),
        variance.as("variance"),
        coalesce(variance <= 0.0, lit(true)).as("near_zero"),
        when(col("__e.n") >= 2 && vf > 0.0 && vt > 0.0,
          r6(cov / (sqrt(vf) * sqrt(vt)))).as("target_corr"))
  }

  /** Two-sample Kolmogorov–Smirnov drift test: D = max|F₁(v) − F₂(v)|
    * between the value distributions of two row populations (e.g. this
    * week's feed vs last week's) — the distribution-shift tripwire that a
    * mean/variance z-test misses (a variance swap leaves the mean alone).
    *
    * Scale shape (no SinglePartition funnel): per-value pair counts ride
    * one exchange; the ECDF prefix is a distributed two-phase scan —
    * range-repartition on value, a partition-local typed fold to local
    * prefixes, per-partition totals cumulated over the (tiny,
    * partition-count-sized) offset frame, broadcast back. The global
    * prefix (c₁, c₂) at each distinct value is independent of where the
    * sampled range boundaries land, so the output is run-deterministic
    * even though RangePartitioner samples. D candidates are exact-long
    * cumulative counts pushed through one fixed-shape IEEE division each;
    * max is order-free. Both sides empty-guarded: a degenerate split
    * (either population empty) yields zero rows, not NaN.
    *
    * Output (one row): n_a, n_b, d_stat, d_crit_95
    * (= 1.358·√((n₁+n₂)/(n₁·n₂))), drift (d_stat > d_crit_95 compared
    * after r6 — both engines see identical rounded values).
    */
  /** Exact per-group NTILE(k) distribution table WITHOUT a per-group
    * total-order window — the scale sibling of `value_ntiles` (and of the
    * rfm quintile assignment), for group cardinalities where funneling a
    * group through one window task is not an option.
    *
    * Machinery (the ksDrift two-phase prefix): range-repartition on
    * (group, value, tiebreak) + partition-local sort completes a global
    * total order per group without any single-partition exchange; a
    * partition-local pass assigns within-segment indices; per-(partition,
    * group) segment counts (map-side combined, so the exchange carries
    * partitions×groups rows, never the corpus) cumulate into exclusive
    * offsets over the tiny segment frame and broadcast back. Global rank =
    * offset + local index, and the SQL-standard NTILE bucket rule (first
    * n mod k buckets take one extra row) is closed-form in (rank, n).
    * Rank arithmetic runs in doubles — exact to 2^52 rows per group.
    * Output is run-deterministic even though RangePartitioner samples:
    * rank is boundary-independent, and rows tied on the full sort key are
    * interchangeable in every output column.
    *
    * One corpus shuffle (the range exchange); the final (group, tile)
    * aggregation combines map-side to groups×k rows per task.
    * Output per (group_key, tile): n, lo, hi — matching `value_ntiles`.
    */
  def valueNtilesDist(df: DataFrame, group: Column, value: Column,
                      tiebreak: Column, k: Int): DataFrame = {
    require(k >= 1, s"valueNtilesDist needs k >= 1, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(group.cast("string").as("__g"),
        value.cast("double").as("__v"), tiebreak.cast("long").as("__t"))
      .filter(col("__v").isNotNull)
    val ranged = rows
      .repartitionByRange(col("__g"), col("__v"), col("__t"))
      .sortWithinPartitions(col("__g"), col("__v"), col("__t"))
      .as[(String, Double, Long)]
    // groups are contiguous within a sorted partition: one streaming pass
    // assigns 1-based within-segment indices
    val local = ranged.mapPartitions { iter =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var g: String = null
      var i = 0L
      iter.map { case (gg, v, _) =>
        if (gg != g) { g = gg; i = 0L }
        i += 1
        (pid, gg, v, i)
      }
    }.toDF("__pid", "__g", "__v", "__i")
    val perSeg = local.groupBy(col("__pid"), col("__g"))
      .agg(max(col("__i")).as("__c"))
    val w = Window.partitionBy(col("__g")).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = perSeg.select(col("__pid"), col("__g"),
      coalesce(sum(col("__c")).over(w), lit(0L)).as("__o"))
    val totals = perSeg.groupBy(col("__g")).agg(sum(col("__c")).as("__n"))
    def d(c: Column) = c.cast("double")
    val r = d(col("__o") + col("__i"))
    val base = floor(d(col("__n")) / lit(k.toDouble))
    val rem = d(col("__n")) - base * lit(k.toDouble)
    val cut = (base + lit(1.0)) * rem
    val tile = when(r <= cut, floor((r - lit(1.0)) / (base + lit(1.0))) + lit(1.0))
      .otherwise(rem + floor((r - cut - lit(1.0)) / base) + lit(1.0))
    local.join(broadcast(offsets), Seq("__pid", "__g"))
      .join(broadcast(totals), Seq("__g"))
      .withColumn("tile", tile.cast("int"))
      .groupBy(col("__g"), col("tile"))
      .agg(count(lit(1)).as("n"), min(col("__v")).as("lo"), max(col("__v")).as("hi"))
      .withColumnRenamed("__g", "group_key")
  }

  def ksDrift(df: DataFrame, value: Column, sampleB: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df.select(value.cast("double").as("__v"), sampleB.as("__b"))
      .filter(col("__v").isNotNull && col("__b").isNotNull)
      .groupBy(col("__v"))
      .agg(sum(when(!col("__b"), 1L).otherwise(0L)).as("__c1"),
        sum(when(col("__b"), 1L).otherwise(0L)).as("__c2"))
    val ranged = counts
      .repartitionByRange(col("__v"))
      .sortWithinPartitions(col("__v"))
      .select(col("__v"), col("__c1"), col("__c2"))
      .as[(Double, Long, Long)]
    // partition-local inclusive prefixes; pid tags the segment
    val local = ranged.mapPartitions { iter =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var l1 = 0L; var l2 = 0L
      iter.map { case (_, c1, c2) =>
        l1 += c1; l2 += c2
        (pid, l1, l2)
      }
    }.toDF("__pid", "__l1", "__l2")
    // segment totals -> exclusive offsets; frame is partition-count-sized
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("__pid"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = local.groupBy(col("__pid"))
      .agg(max(col("__l1")).as("__t1"), max(col("__l2")).as("__t2"))
      .select(col("__pid"),
        coalesce(sum(col("__t1")).over(w), lit(0L)).as("__o1"),
        coalesce(sum(col("__t2")).over(w), lit(0L)).as("__o2"))
    val totals = counts.agg(sum(col("__c1")).as("n_a"), sum(col("__c2")).as("n_b"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
    def d(c: Column) = c.cast("double")
    val step = abs(d(col("__l1") + col("__o1")) / d(col("n_a")) -
      d(col("__l2") + col("__o2")) / d(col("n_b")))
    val crit = lit(1.358) * sqrt(d(col("n_a") + col("n_b")) /
      (d(col("n_a")) * d(col("n_b"))))
    local.join(broadcast(offsets), Seq("__pid"))
      .crossJoin(broadcast(totals))
      .groupBy(col("n_a"), col("n_b"))
      .agg(r6(max(step)).as("d_stat"), r6(max(crit)).as("d_crit_95"))
      .select(col("n_a"), col("n_b"), col("d_stat"), col("d_crit_95"),
        (col("d_stat") > col("d_crit_95")).as("drift"))
  }

  /** Population Stability Index between the first and second time half of
    * a value feed, over the baseline's own decile buckets — the
    * model-monitoring standard for "has the input distribution my
    * thresholds were tuned on moved" (PSI < 0.1 stable, > 0.2 shifted).
    *
    * Three corpus passes by necessity (midpoint, baseline cutpoints,
    * bucketed fold) — the ccnet/winsorize shape: the exact-percentile
    * edges are ONE baseline aggregation broadcast back, the bucket id is
    * a fixed sum of edge comparisons (interpolated edges are identical
    * doubles on both engines via the percentile ≡ quantile_cont parity),
    * and the final fold is map-side combinable at bucket cardinality.
    * PSI terms (p−q)·ln(p/q) are computed per bucket on 1e-6-clipped
    * exact-ratio doubles, q6-quantized, DECIMAL-summed; both populations
    * empty-guarded (a degenerate split yields zero rows). Output (one
    * row): n_base, n_cur, psi, shifted (psi > 0.2 after r6).
    */
  def psiDrift(df: DataFrame, ts: Column, value: Column, buckets: Int): DataFrame = {
    require(buckets >= 2 && buckets <= 100,
      s"psiDrift needs buckets in [2, 100], got $buckets")
    val rows = df.select(ts.as("__ts"), value.cast("double").as("__v"))
      .filter(col("__ts").isNotNull && col("__v").isNotNull)
    val mid = broadcast(rows.agg(
      ((unix_micros(min(col("__ts"))) + unix_micros(max(col("__ts")))) / lit(2L))
        .as("__mid")))
    val tagged = rows.crossJoin(mid)
      .withColumn("__cur", unix_micros(col("__ts")) >= col("__mid"))
    // edges 6dp-quantized before the bucket compare — raw interpolated
    // percentiles differ by an ulp across engines, and a decile edge ON a
    // repeated data value would flip the whole run's bucket (the
    // winsorizeStats knife-edge class)
    val cutAggs = (1 until buckets).map { i =>
      q6(expr(s"percentile(__v, ${i.toDouble / buckets}D)")).as(s"__e$i")
    }
    val edges = broadcast(tagged.filter(!col("__cur"))
      .agg(cutAggs.head, cutAggs.tail: _*))
    val bucket = (1 until buckets)
      .map(i => when(col("__v") > col(s"__e$i"), 1).otherwise(0))
      .reduce(_ + _)
    val counts = tagged.crossJoin(edges)
      .groupBy(bucket.as("__b"))
      .agg(sum(when(!col("__cur"), 1L).otherwise(0L)).as("__c1"),
        sum(when(col("__cur"), 1L).otherwise(0L)).as("__c2"))
    val totals = broadcast(counts.agg(
      sum(col("__c1")).as("n_base"), sum(col("__c2")).as("n_cur"))
      .filter(col("n_base") > 0 && col("n_cur") > 0))
    def d(c: Column) = c.cast("double")
    val p = greatest(d(col("__c1")) / d(col("n_base")), lit(0.000001))
    val q = greatest(d(col("__c2")) / d(col("n_cur")), lit(0.000001))
    counts.crossJoin(totals)
      .withColumn("__term", q6((p - q) * log(p / q)).cast("decimal(28,6)"))
      .groupBy(col("n_base"), col("n_cur"))
      .agg(r6(sum(col("__term")).cast("double")).as("psi"))
      .select(col("n_base"), col("n_cur"), col("psi"),
        (col("psi") > 0.2).as("shifted"))
  }

  /** Inter-arrival burstiness audit per entity — the bot/scripted-traffic
    * signal: organic humans are bursty (CV of the gap distribution ≈ 1),
    * schedulers and replay scripts are metronomic (CV → 0). Reports every
    * entity with ≥ minGaps gaps; the `regular` flag marks the suspects a
    * curation pass should exclude before training on "user" behavior.
    *
    * ONE entity-key exchange feeds the lag window and the fold; gaps are
    * EXACT long microseconds (no FP timestamps), moments are exact
    * DECIMAL sums of the long gaps (dt² stays within DECIMAL(38,0) for
    * month-scale spans), mean/std/cv fixed-shape IEEE off the exact sums,
    * r6 at output. Output: entity, n_gaps, mean_gap_sec, cv_gap, regular
    * (cv < cvMax compared after r6).
    */
  def burstiness(df: DataFrame, entity: Column, ts: Column, tiebreak: Column,
                 minGaps: Int, cvMax: Double): DataFrame = {
    require(minGaps >= 2, s"burstiness needs minGaps >= 2, got $minGaps")
    require(cvMax > 0.0, s"burstiness needs cvMax > 0, got $cvMax")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__e")).orderBy(col("__ts"), col("__tie"))
    val gaps = df
      .select(entity.as("__e"), ts.as("__ts"), tiebreak.as("__tie"))
      .filter(col("__ts").isNotNull)
      .withColumn("__dt",
        unix_micros(col("__ts")) - unix_micros(lag(col("__ts"), 1).over(w)))
      .filter(col("__dt").isNotNull)
      .withColumn("__q", col("__dt").cast("decimal(19,0)"))
    def d(c: Column) = c.cast("double")
    val mean = d(col("__s1")) / d(col("n_gaps"))
    val variance = (d(col("__s2")) - d(col("__s1")) * d(col("__s1")) / d(col("n_gaps"))) /
      d(col("n_gaps") - 1)
    gaps.groupBy(col("__e"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("__q")).as("__s1"),
        sum(col("__q") * col("__q")).as("__s2"))
      .filter(col("n_gaps") >= minGaps && col("__s1") > 0)
      .select(col("__e").as("entity"), col("n_gaps"),
        r6(mean / lit(1000000.0)).as("mean_gap_sec"),
        r6(sqrt(variance) / mean).as("cv_gap"))
      .withColumn("regular", col("cv_gap") < cvMax)
  }

  /** Leave-one-out target encoding — the categorical-encoder workhorse
    * for high-cardinality features: each row gets its category's mean
    * target EXCLUDING itself ((Σ−y)/(n−1)), which kills the
    * self-leakage that makes naive mean encoding overfit; singleton
    * categories fall back to the global mean (no self-free evidence).
    *
    * One exchange: per-category (n, Σ) on 6dp-quantized targets (exact
    * DECIMAL — encode-then-train replays bit-identically) joined back
    * with the single global-mean row; the LOO arithmetic is row-local
    * fixed-shape IEEE, r6 at output. The category frame is NOT
    * broadcast-hinted: its cardinality is data-driven (the whole point
    * of this encoder is unbounded category domains), so AQE picks
    * broadcast vs shuffle from observed stats instead of dying on a
    * forced broadcast build at scale. Output: id, category, target,
    * te_loo.
    */
  def targetEncodeLoo(df: DataFrame, id: Column, category: Column,
                      target: Column): DataFrame = {
    // CpuFloor before the category extraction (guide §2.5, round 16): the
    // caller's category is typically a JSON-path parse per row, and on a
    // single-row-group input both the encode side and the aggregate side
    // ran it as ONE task (probed: two ~1 s single-task stages)
    val rows = graft.util.CpuFloor(df)
      .select(id.as("row_id"), category.as("category"),
        target.cast("double").as("__y"))
      .filter(col("category").isNotNull && col("__y").isNotNull)
      .withColumn("__q", q6(col("__y")).cast("decimal(18,6)"))
    val cat = rows.groupBy(col("category"))
      .agg(count(lit(1)).as("__n"), sum(col("__q")).as("__s"))
    // global mean DERIVED from the per-category frame, not a third corpus
    // scan (round 16): Σ__q over all rows = Σ of the per-category exact
    // DECIMAL sums and n = Σ__n, so the double quotient is bit-identical
    // to aggregating the row frame directly — one less scan + JSON-parse
    // pass, and at 100 TB the re-aggregation input is category-cardinality,
    // not corpus-sized
    val global = broadcast(cat.agg(
      (sum(col("__s")).cast("double") / sum(col("__n")).cast("double"))
        .as("__gmean")))
    def d(c: Column) = c.cast("double")
    rows.join(cat, Seq("category"))
      .crossJoin(global)
      .select(col("row_id"), col("category"), col("__y").as("target"),
        when(col("__n") > 1,
          r6((d(col("__s")) - d(col("__q"))) / d(col("__n") - 1)))
          .otherwise(r6(col("__gmean"))).as("te_loo"))
  }

  /** Train the PSI baseline driver-side: decile edges (exact percentile)
    * and per-bucket proportions of a batch value frame — the model the
    * STREAMING scorer (`Streams.psiDriftStream`) holds, same
    * snapshot-at-start contract as the PQ codebook. Both collects are
    * bounded (one percentile row + ≤ buckets count rows); the proportion
    * division is the identical IEEE c/n the batch plan computes, so
    * stream-scored windows replay [[psiDrift]]'s arithmetic bit-exactly.
    */
  def psiBaseline(df: DataFrame, value: Column,
                  buckets: Int): (Array[Double], Array[Double]) = {
    require(buckets >= 2 && buckets <= 100,
      s"psiBaseline needs buckets in [2, 100], got $buckets")
    val rows = df.select(value.cast("double").as("__v"))
      .filter(col("__v").isNotNull)
    // same 6dp edge quantization as psiDrift — the stream twin must
    // replay the batch scorer's bucket decisions bit-exactly
    val cutAggs = (1 until buckets).map { i =>
      q6(expr(s"percentile(__v, ${i.toDouble / buckets}D)")).as(s"__e$i")
    }
    val eRow = rows.agg(cutAggs.head, cutAggs.tail: _*).collect().head
    require(!eRow.isNullAt(0), "psiBaseline needs a non-empty baseline")
    val edges = Array.tabulate(buckets - 1)(eRow.getDouble)
    val bucket = edges.map(e => when(col("__v") > lit(e), 1).otherwise(0))
      .reduce(_ + _)
    val counts = rows.groupBy(bucket.as("__b"))
      .agg(count(lit(1)).as("__c")).collect()
    val n = counts.map(_.getLong(1)).sum
    val p = Array.fill(buckets)(0.0)
    counts.foreach(r => p(r.getInt(0)) = r.getLong(1).toDouble / n.toDouble)
    (edges, p)
  }
}
