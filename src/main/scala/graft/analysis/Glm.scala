package graft.analysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Generalized linear models over groups — the reference's actual
  * regression stack, Spark-first.
  *
  * Reference semantics: the analysis pipeline's regression step is a
  * binomial GLM with a logit link, fit per RQA theme over categorical
  * demographic predictors (reference: src/engagement_db_to_analysis/
  * regression_analysis/complete_case_regression_analysis.py:10
  * `GLM_FAMILY = 'binomial(link="logit")'`, :60 `predictors = ["gender",
  * "age_category", "disability", "recently_displaced"]`, fit with
  * arm::bayesglm), plus a multiple-imputation variant that pools m=20
  * imputed fits (multiple_imputation_regression_analysis.py:61,74).
  *
  * Spark-first realization: IRLS with a FIXED iteration count. Each
  * iteration is ONE map-side-combinable aggregation pass over the rows
  * (Gram matrix X'WX and gradient vector X'(Wη + (y−μ)) per group — the
  * standard IRLS normal equations with the working response multiplied
  * through, so no per-row division can blow up), followed by a per-group
  * p×p solve expressed as unrolled Gaussian-elimination PROJECTIONS over
  * the one-row-per-group aggregate — fully declarative, no driver-side
  * state, embarrassingly parallel in the group dimension. A small ridge on
  * the diagonal stands in for bayesglm's weakly-informative prior and
  * keeps degenerate designs (empty one-hot cells, collinearity) finite.
  *
  * Cross-engine determinism (the oracle gate runs the SAME computation in
  * DuckDB): every arithmetic fragment here is emitted ONCE as a SQL string
  * and rendered into both the Spark plan (via expr) and the oracle query
  * (via generated CTEs), so the two engines execute the identical
  * expression tree. Three guards make that bit-stable:
  *   - moment sums quantize each per-row term to a 1e-12 grid and
  *     accumulate as exact DECIMAL(38,0) — order-independent, so Spark's
  *     nondeterministic partition order cannot perturb the total;
  *   - μ = sigmoid(η) is rounded to 9 decimals immediately (EXP is the one
  *     non-IEEE-mandated function in the pipeline; engines may differ by an
  *     ulp, and the early round quenches it before it can propagate);
  *   - coefficients are rounded to 6 decimals (Portable.round6 arithmetic)
  *     at the END OF EVERY ITERATION, so iteration k+1 starts from
  *     bit-identical inputs on both engines.
  * Everything else is +,-,*,/ and SQRT — IEEE-754 correctly-rounded and
  * therefore engine-independent.
  *
  * Contract: predictors must be bounded (one-hot dummies / small numerics,
  * |x| ≤ ~100) so the quantized terms stay within the 2^53 exact-integer
  * range of FLOOR; that is exactly the reference's predictor shape.
  */
object Glm {

  // ---- shared scalar fragments (valid in Spark SQL AND DuckDB) ----

  /** Portable 6-decimal half-up rounding — string twin of
    * [[graft.util.Portable.round6]]. */
  private def r6s(e: String) = s"FLOOR(($e) * 1.0e6 + 0.5) / 1.0e6"

  /** 9-decimal portable rounding, used to quench EXP ulp drift in μ. */
  private def r9s(e: String) = s"FLOOR(($e) * 1.0e9 + 0.5) / 1.0e9"

  /** 12-decimal portable rounding — for variance outputs whose magnitude
    * (Fisher (X'WX)⁻¹ at n≈10⁴⁺ is ~1e-7) vanishes on the 6dp grid. */
  private def r12s(e: String) = s"FLOOR(($e) * 1.0e12 + 0.5) / 1.0e12"

  /** Order-independent sum of a bounded double term: quantize to a 1e-12
    * grid (exact integers < 2^53 for |term| ≤ ~9000), accumulate as exact
    * DECIMAL(38,0), convert once. */
  private def qsum(term: String) =
    s"CAST(SUM(CAST(FLOOR(($term) * 1.0e12 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1.0e12"

  // ---- the shared step program (rendered to DataFrame ops AND to CTEs) ----

  private sealed trait Step
  /** SELECT *, expr AS alias */
  private final case class Extend(alias: String, sqlExpr: String) extends Step
  /** SELECT (alias, expr)* */
  private final case class Project(cols: Seq[(String, String)]) extends Step
  /** SELECT group, (alias, aggExpr)* GROUP BY group */
  private final case class Aggregate(aggs: Seq[(String, String)]) extends Step

  private def runSteps(df0: DataFrame, group: String, steps: Seq[Step]): DataFrame =
    steps.foldLeft(df0) {
      case (df, Extend(a, e))  => df.withColumn(a, expr(e))
      case (df, Project(cols)) => df.select(cols.map { case (a, e) => expr(e).as(a) }: _*)
      case (df, Aggregate(aggs)) =>
        val cols = aggs.map { case (a, e) => expr(e).as(a) }
        df.groupBy(col(group)).agg(cols.head, cols.tail: _*)
    }

  /** Renders the same steps as a chain of CTEs; returns (cteClauses, lastName). */
  private def renderSql(base: String, prefix: String, group: String,
                        steps: Seq[Step]): (Seq[String], String) = {
    var prev = base
    val ctes = steps.zipWithIndex.map { case (step, i) =>
      val name = s"${prefix}_$i"
      val body = step match {
        case Extend(a, e)  => s"SELECT *, $e AS $a FROM $prev"
        case Project(cols) => s"SELECT ${cols.map { case (a, e) => s"$e AS $a" }.mkString(", ")} FROM $prev"
        case Aggregate(aggs) =>
          s"SELECT $group, ${aggs.map { case (a, e) => s"$e AS $a" }.mkString(", ")} FROM $prev GROUP BY $group"
      }
      prev = name
      s"$name AS ($body)"
    }
    (ctes, prev)
  }

  // ---- p×p symmetric solve as unrolled projections ----

  private def aN(i: Int, j: Int) = if (i <= j) s"__a_${i}_$j" else s"__a_${j}_$i"
  private def entries(p: Int): Seq[(Int, Int)] =
    for { i <- 0 until p; j <- i until p } yield (i, j)

  /** (p-1) Gaussian-elimination stages then p back-substitution stages, one
    * beta per stage so every expression only references columns already
    * materialized by the previous stage — the same constraint SQL SELECTs
    * have, which is what keeps the Spark and DuckDB trees identical. No
    * pivoting: the ridged Gram matrix is positive definite. */
  private def solveStages(p: Int, keep: Seq[String]): Seq[Project] = {
    val elim = (0 until p - 1).map { k =>
      val pass = keep.map(c => (c, c)) ++
        entries(p).collect { case (i, j) if i <= k => (aN(i, j), aN(i, j)) } ++
        (0 to k).map(i => (s"__r_$i", s"__r_$i"))
      val upd = entries(p).collect { case (i, j) if i > k =>
        (aN(i, j), s"(${aN(i, j)} - ((${aN(k, i)} * ${aN(k, j)}) / ${aN(k, k)}))")
      } ++ (k + 1 until p).map { i =>
        (s"__r_$i", s"(__r_$i - ((${aN(k, i)} * __r_$k) / ${aN(k, k)}))")
      }
      Project(pass ++ upd)
    }
    val back = (p - 1 to 0 by -1).map { i =>
      val carried = keep.map(c => (c, c)) ++
        entries(p).map { case (a, b) => (aN(a, b), aN(a, b)) } ++
        (0 until p).map(j => (s"__r_$j", s"__r_$j")) ++
        (i + 1 until p).map(j => (s"__b_$j", s"__b_$j"))
      val num =
        if (i == p - 1) s"__r_$i"
        else {
          val tail = (i + 1 until p).map(j => s"(${aN(i, j)} * __b_$j)")
            .reduce((x, y) => s"($x + $y)")
          s"(__r_$i - $tail)"
        }
      Project(carried :+ (s"__b_$i", s"($num / ${aN(i, i)})"))
    }
    elim ++ back
  }

  private def ridgeStep(p: Int, ridge: Double, keep: Seq[String]): Project =
    Project(keep.map(c => (c, c)) ++ entries(p).map { case (i, j) =>
      if (i == j) (aN(i, j), s"(${aN(i, j)} + $ridge)") else (aN(i, j), aN(i, j))
    } ++ (0 until p).map(i => (s"__r_$i", s"__r_$i")))

  /** The distributed half of one IRLS iteration: per-row working weights
    * and ONE aggregation to the per-group Gram/gradient moments. */
  private def logitMomentSteps(p: Int): Seq[Step] = {
    val eta = (0 until p).map(i => s"(__b_$i * __x$i)").reduce((a, b) => s"($a + $b)")
    Seq(
      Extend("__eta", eta),
      Extend("__mu", r9s("1.0 / (1.0 + EXP(-(__eta)))")),
      Extend("__w", "(__mu * (1.0 - __mu))"),
      Extend("__u", "((__w * __eta) + (__y - __mu))"),
      Aggregate(("__n", "COUNT(*)") +:
        (entries(p).map { case (i, j) => (aN(i, j), qsum(s"((__x$i * __x$j) * __w)")) } ++
          (0 until p).map(i => (s"__r_$i", qsum(s"(__x$i * __u)"))))))
  }

  /** One full IRLS iteration (moments + in-plan solve) — the ORACLE
    * rendering; the DataFrame side runs [[logitMomentSteps]] and solves on
    * the driver via [[solveRidged]], which mirrors these expressions. */
  private def irlsIterationSteps(p: Int, group: String, ridge: Double): Seq[Step] = {
    val keep = Seq(group, "__n")
    logitMomentSteps(p) ++ (ridgeStep(p, ridge, keep) +: solveStages(p, keep)) :+
      Project(Seq((group, group), ("__n", "__n")) ++
        (0 until p).map(i => (s"__b_$i", r6s(s"__b_$i"))))
  }

  /** Coarser portable quantized sum: 1e-9 grid, exact integers for
    * |term| ≤ ~9e6 — the Huber moments' x·y·w products exceed [[qsum]]'s
    * ~9000-bound, so they ride this grid instead (still order-free: the
    * DECIMAL accumulation is exact, only the per-term quantization is
    * coarser). */
  private def qsum9(term: String) =
    s"CAST(SUM(CAST(FLOOR(($term) * 1.0e9 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1.0e9"

  /** The distributed half of one Huber-IRLS iteration: robust working
    * weights w = min(1, δ/|r|) from the PREVIOUS beta's residuals, then
    * one weighted normal-equation aggregation (X'WX, X'Wy). Fixed δ in
    * response units (no per-iteration scale re-estimation — the contract
    * that keeps the recursion a pure fixed-point both engines replay). */
  private def huberMomentSteps(p: Int, delta: Double): Seq[Step] = {
    val eta = (0 until p).map(i => s"(__b_$i * __x$i)").reduce((a, b) => s"($a + $b)")
    Seq(
      Extend("__eta", eta),
      Extend("__res", "(__y - __eta)"),
      Extend("__w",
        r9s(s"CASE WHEN ABS(__res) <= $delta THEN 1.0 ELSE ($delta / ABS(__res)) END")),
      Aggregate(("__n", "COUNT(*)") +:
        (entries(p).map { case (i, j) => (aN(i, j), qsum9(s"((__x$i * __x$j) * __w)")) } ++
          (0 until p).map(i => (s"__r_$i", qsum9(s"((__x$i * __y) * __w)"))))))
  }

  private def huberIterationSteps(p: Int, group: String, ridge: Double,
                                  delta: Double): Seq[Step] = {
    val keep = Seq(group, "__n")
    huberMomentSteps(p, delta) ++ (ridgeStep(p, ridge, keep) +: solveStages(p, keep)) :+
      Project(Seq((group, group), ("__n", "__n")) ++
        (0 until p).map(i => (s"__b_$i", r6s(s"__b_$i"))))
  }

  /** Parallelism floor for the persisted IRLS working set (guide §2.5,
    * unsplittable input): the gate corpora are single-row-group parquet
    * files, so the scan — and with it every cached partition and every
    * per-iteration moment aggregation's map side — is ONE task however
    * many cores the session has (measured: a 5-predictor moment pass over
    * the 100k-row cached working set takes 0.83 s single-partition vs
    * 0.40 s at 32 — the decimal Gram sums are CPU-dense). One round-robin
    * shuffle at materialization buys map-side parallelism for all K
    * passes. Scale-adaptive, not a local constant: when the scan already
    * carries >= the floor's target partitions (any real multi-file/
    * multi-row-group table) this is a no-op — no added exchange. Results
    * are partitioning-independent by construction (the quantized DECIMAL
    * moment sums exist precisely so row order cannot perturb them).
    *
    * The floor target scales with the per-pass decimal width `heavySums`
    * (the number of quantized decimal aggregates per pass): wide fits
    * (≥14 — p ≥ 4 IRLS Gram at p(p+3)/2, or mi-logit with ≥ 3 draws at
    * 5/draw) floor to defaultParallelism; narrow p=2 fits (5 sums/pass)
    * floor to min(8, defaultParallelism) — at p=2 the full-width floor
    * measurably LOST time on the gate corpus (huber 1.9 s → 4.0 s at 32
    * tasks/pass: 32-way task scheduling × K passes exceeds the decimal
    * win), while a few-way split still buys map-side parallelism for the
    * CPU-dense sums at a fraction of the scheduling cost (round 16,
    * VERDICT r15 #3 middle ground).
    *
    * `probe` must be an EXCHANGE-FREE frame (scan + narrow ops) that
    * shares the working set's scan: probing `df` itself when it carries a
    * broadcast join (the mi-logit imputation-stats join) finalizes the
    * adaptive plan and EXECUTES the join's build side — a duplicated
    * stats pass per fit (ADVICE r15). A narrow probe's RDD is built
    * without running any job, and a broadcast join does not change the
    * streamed side's partitioning, so the narrow count is the right one.
    */
  private def parallelFloor(df: DataFrame, heavySums: Int,
                            probe: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val target = if (heavySums >= 14) cores else math.min(8, cores)
    if (probe.rdd.getNumPartitions < target) df.repartition(target)
    else df
  }

  /** Portable half-up 6dp rounding — scalar twin of [[r6s]]. */
  private def r6(v: Double): Double = math.floor(v * 1.0e6 + 0.5) / 1.0e6

  /** Scalar twin of [[r9s]] — the 9dp rounding that quenches EXP ulp
    * drift. It round-trips through Long as SQL FLOOR does (a BIGINT), so
    * NaN maps to 0 on both sides and large values clamp alike. */
  private def r9d(v: Double): Double = math.floor(v * 1.0e9 + 0.5).toLong / 1.0e9

  /** Quantizers matching [[qsum]]/[[qsum9]]'s per-term FLOOR(t·grid + 0.5):
    * SQL FLOOR(double) is a BIGINT via the JVM double→long cast (clamping
    * included), so `.toLong` of the integral double is the identical
    * value. */
  private def q12l(t: Double): Long = math.floor(t * 1.0e12 + 0.5).toLong
  private def q9l(t: Double): Long = math.floor(t * 1.0e9 + 0.5).toLong

  /** Exact order-free accumulator — the driver twin of the DECIMAL(38,0)
    * SUM over quantized terms in [[qsum]]/[[qsum9]]: partial long sums with
    * an overflow-safe flush into a BigInt. Empty ≡ SQL's SUM over zero
    * non-null terms (NULL). `toDouble` is CAST(DECIMAL AS DOUBLE), which
    * Spark implements as BigDecimal.doubleValue — replicated verbatim so
    * past-2^53 sums convert with the identical half-even rounding. */
  private final class QuantSum {
    private var big: BigInt = null
    private var part: Long = 0L
    private var any = false
    def add(q: Long): Unit = {
      any = true
      val s = part + q
      if (((part ^ s) & (q ^ s)) < 0L) { // signed-overflow test: flush
        big = if (big == null) BigInt(part) else big + BigInt(part)
        part = q
      } else part = s
    }
    def isNull: Boolean = !any
    def toDouble: Double = {
      val tot = if (big == null) BigInt(part) else big + BigInt(part)
      BigDecimal(tot).doubleValue
    }
  }

  /** Portable half-up 12dp rounding — scalar twin of [[r12s]]. */
  private def r12(v: Double): Double = math.floor(v * 1.0e12 + 0.5) / 1.0e12

  /** Driver-side p×p solve — the SCALAR twin of [[ridgeStep]] +
    * [[solveStages]]: the identical IEEE-754 operations in the identical
    * order (stage snapshots, multiply-before-divide updates, left-
    * associated back-substitution sums), so a collected-moments solve is
    * bit-identical to the DuckDB CTE solve the oracle executes. `upper` is
    * the Gram upper triangle in [[entries]] order.
    *
    * Why driver-side at all: the solve is inherently serial over p×p
    * values per group. Expressed as Catalyst projections it costs a
    * per-iteration whole-stage-codegen compile (~3 s of single-task CPU
    * for p=5) on a 1-row-per-group frame; on the driver it is
    * microseconds. The distributed work — the corpus-wide moment
    * aggregation — stays in the plan; driver state is groups × p² doubles.
    */
  private[analysis] def solveRidged(p: Int, ridge: Double, upper: Seq[Double],
                                    grad: Seq[Double]): Array[Double] = {
    val es = entries(p)
    var cur: Map[(Int, Int), Double] = es.zipWithIndex.map { case ((i, j), k) =>
      (i, j) -> (if (i == j) upper(k) + ridge else upper(k))
    }.toMap
    def a(m: Map[(Int, Int), Double], i: Int, j: Int): Double =
      if (i <= j) m((i, j)) else m((j, i))
    var r: Vector[Double] = grad.toVector
    for (k <- 0 until p - 1) {
      // one SQL stage = one snapshot: every update reads stage-k values
      val (ck, rk) = (cur, r)
      cur = es.map { case (i, j) =>
        (i, j) -> (if (i > k) ck((i, j)) - ((a(ck, k, i) * a(ck, k, j)) / ck((k, k)))
                   else ck((i, j)))
      }.toMap
      r = Vector.tabulate(p)(i =>
        if (i > k) rk(i) - ((a(ck, k, i) * rk(k)) / ck((k, k))) else rk(i))
    }
    val b = Array.fill(p)(0.0)
    for (i <- p - 1 to 0 by -1) {
      val num =
        if (i == p - 1) r(i)
        else r(i) - (i + 1 until p).map(j => a(cur, i, j) * b(j)).reduce(_ + _)
      b(i) = num / cur((i, i))
    }
    b
  }

  /** Complete-case filter shared by both renderings: drop rows with any
    * null predictor or response (complete_case_regression_analysis.py:1). */
  private def completeCase(p: Int): String =
    ((1 until p).map(i => s"__x$i IS NOT NULL") :+ "__y IS NOT NULL").mkString(" AND ")

  // ---- public API: logistic GLM ----

  /** Per-group binomial-logit GLM via fixed-iteration IRLS. `rows0` must
    * carry the group column plus the xs/y columns; the intercept is added
    * internally. Output: group, n, b_intercept-first coefficient columns
    * named `outNames` (rounded to 6 decimals).
    *
    * MLlib-style iteration shape: each of the `iters` rounds runs ONE
    * map-side-combinable aggregation over the corpus (working weights →
    * per-group Gram/gradient moments), the driver solves the p×p system
    * per group ([[solveRidged]] — bit-matching the oracle's in-SQL solve),
    * and the new betas rejoin as a broadcast literal frame. Driver state
    * is groups × p² doubles — model state, never data. The projected
    * complete-case working set is persisted (MEMORY_AND_DISK) for the
    * duration of the loop so the K iterations read a narrow cached
    * projection instead of re-scanning the raw fact K times, and
    * unpersisted before return. Note the returned frame is computed
    * eagerly, so the unpersist cannot trigger recomputation.
    */
  def logitByGroup(rows0: DataFrame, group: String, xs: Seq[Column], y: Column,
                   outNames: Seq[String], iters: Int = 6, ridge: Double = 1e-6,
                   localRowCap: Int = 1 << 20): DataFrame =
    irlsFitByGroup(rows0, group, xs, y, outNames, iters, ridge, None, localRowCap)

  /** Huber robust regression per group — OLS whose influence function
    * caps at δ: a fat-tailed response (the exact shape real value feeds
    * have) drags an OLS line arbitrarily far, while the Huber fit
    * downweights any residual beyond δ to δ/|r| and converges to the
    * line through the bulk. Same IRLS fixed-point discipline as the
    * logit: K weighted normal-equation passes over the persisted working
    * set, driver-side p×p solve bit-identical to the oracle's unrolled
    * CTE solve, β re-rounded to 6dp per iteration so both engines walk
    * the identical trajectory. δ is FIXED in response units (no scale
    * re-estimation per iteration) — the contract that keeps the
    * recursion a replayable fixed-point.
    */
  def huberByGroup(rows0: DataFrame, group: String, xs: Seq[Column], y: Column,
                   outNames: Seq[String], delta: Double,
                   iters: Int = 6, ridge: Double = 1e-6,
                   localRowCap: Int = 1 << 20): DataFrame = {
    require(delta > 0.0, s"huberByGroup needs delta > 0, got $delta")
    irlsFitByGroup(rows0, group, xs, y, outNames, iters, ridge,
      Some(delta), localRowCap)
  }

  private def irlsFitByGroup(rows0: DataFrame, group: String, xs: Seq[Column],
                             y: Column, outNames: Seq[String], iters: Int,
                             ridge: Double,
                             huberDelta: Option[Double],
                             localRowCap: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val p = xs.size + 1
    require(outNames.size == p, s"outNames must have ${p} entries (intercept first)")
    require(iters >= 1, "need at least one IRLS iteration")
    val momentSteps: Int => Seq[Step] = huberDelta match {
      case Some(d) => pp => huberMomentSteps(pp, d)
      case None    => logitMomentSteps
    }
    val working = rows0.select(
      col(group) +: lit(1.0).as("__x0") +:
        xs.zipWithIndex.map { case (c, i) => c.cast("double").as(s"__x${i + 1}") } :+
        y.cast("double").as("__y"): _*)
      .filter(expr(completeCase(p)))
    // size dispatch: see graft.util.DriverDispatch
    graft.util.DriverDispatch.collect(working, localRowCap, group).foreach { sample =>
      return localIrlsFit(sample, p, iters, ridge, huberDelta,
        working.schema(group), outNames, rows0.sparkSession)
    }
    val prepared = parallelFloor(working, p * (p + 3) / 2, working)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val spark = rows0.sparkSession
    val groupField = prepared.schema(group)
    val betaSchema = StructType(groupField +:
      (0 until p).map(i => StructField(s"__b_$i", DoubleType, nullable = false)))
    var beta: Seq[(Any, Array[Double])] = Seq.empty
    var nByGroup: Map[Any, Long] = Map.empty
    try {
      val es = entries(p)
      for (it <- 1 to iters) {
        // iteration 1 seeds every group at beta = 0, which the join would
        // only replicate as constant columns — inline the zeros as
        // literals instead and let the first moment pass double as group
        // discovery, saving a dedicated distinct+collect scan per call
        // (the arithmetic is identical: joined zeros vs literal zeros)
        val joined =
          if (it == 1) (0 until p).foldLeft(prepared)((d, i) => d.withColumn(s"__b_$i", lit(0.0)))
          else {
            val betaDf = spark.createDataFrame(
              java.util.Arrays.asList(beta.map { case (g, b) => Row.fromSeq(g +: b.toSeq) }: _*),
              betaSchema)
            prepared.join(broadcast(betaDf), Seq(group))
          }
        val moments = runSteps(joined, group, momentSteps(p)).collect()
        beta = moments.toSeq.map { row =>
          val upper = es.map { case (i, j) => row.getDouble(row.fieldIndex(aN(i, j))) }
          val grad = (0 until p).map(i => row.getDouble(row.fieldIndex(s"__r_$i")))
          row.get(0) -> solveRidged(p, ridge, upper, grad).map(r6)
        }
        nByGroup = moments.map(row => row.get(0) -> row.getLong(row.fieldIndex("__n"))).toMap
      }
    } finally prepared.unpersist(blocking = false)
    val outSchema = StructType(groupField +: StructField("n", LongType, nullable = false) +:
      outNames.map(StructField(_, DoubleType, nullable = false)))
    spark.createDataFrame(
      java.util.Arrays.asList(beta.map { case (g, b) =>
        Row.fromSeq(g +: nByGroup(g) +: b.toSeq)
      }: _*),
      outSchema)
  }

  /** Driver-side fixed-K IRLS over a collected, cap-bounded working set —
    * the small-fit half of [[irlsFitByGroup]]'s size dispatch. Replays the
    * [[logitMomentSteps]]/[[huberMomentSteps]] per-row fragments with the
    * IDENTICAL IEEE operations in the identical order (left-associated η,
    * r9-rounded μ/weights, per-term FLOOR quantization) and accumulates
    * with [[QuantSum]] (≡ the exact DECIMAL(38,0) sums, order-free), then
    * the shared [[solveRidged]] + [[r6]] per iteration — so the local fit
    * is bit-identical to the loop's collected moments on any input
    * (GlmLocalFitSpec pins both regimes against each other).
    * `sample` columns are positional: group, __x0..__x{p-1}, __y. */
  private def localIrlsFit(sample: Array[org.apache.spark.sql.Row], p: Int,
                           iters: Int, ridge: Double, huberDelta: Option[Double],
                           groupField: org.apache.spark.sql.types.StructField,
                           outNames: Seq[String],
                           spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val es = entries(p).toArray
    val nRows = sample.length
    val gIndex = scala.collection.mutable.LinkedHashMap.empty[Any, Int]
    val gOf = new Array[Int](nRows)
    val xsA = Array.ofDim[Double](nRows, p)
    val ysA = new Array[Double](nRows)
    var i = 0
    while (i < nRows) {
      val r = sample(i)
      gOf(i) = gIndex.getOrElseUpdate(r.get(0), gIndex.size)
      var k = 0
      while (k < p) { xsA(i)(k) = r.getDouble(1 + k); k += 1 }
      ysA(i) = r.getDouble(1 + p)
      i += 1
    }
    val nG = gIndex.size
    // iteration-1 seed: beta = 0 per group (the loop's literal-zero seed)
    val beta = Array.fill(nG)(new Array[Double](p))
    val nByG = new Array[Long](nG)
    val grid = if (huberDelta.isDefined) 1.0e9 else 1.0e12
    for (_ <- 1 to iters) {
      val aS = Array.fill(nG, es.length)(new QuantSum)
      val rS = Array.fill(nG, p)(new QuantSum)
      java.util.Arrays.fill(nByG, 0L)
      i = 0
      while (i < nRows) {
        val g = gOf(i); val b = beta(g); val x = xsA(i); val y = ysA(i)
        nByG(g) += 1
        var eta = b(0) * x(0)
        var k = 1
        while (k < p) { eta = eta + (b(k) * x(k)); k += 1 }
        huberDelta match {
          case None =>
            val mu = r9d(1.0 / (1.0 + math.exp(-eta)))
            val w = mu * (1.0 - mu)
            val u = (w * eta) + (y - mu)
            var e = 0
            while (e < es.length) {
              aS(g)(e).add(q12l((x(es(e)._1) * x(es(e)._2)) * w)); e += 1
            }
            k = 0
            while (k < p) { rS(g)(k).add(q12l(x(k) * u)); k += 1 }
          case Some(d) =>
            val res = y - eta
            val w = r9d(if (math.abs(res) <= d) 1.0 else d / math.abs(res))
            var e = 0
            while (e < es.length) {
              aS(g)(e).add(q9l((x(es(e)._1) * x(es(e)._2)) * w)); e += 1
            }
            k = 0
            while (k < p) { rS(g)(k).add(q9l((x(k) * y) * w)); k += 1 }
        }
        i += 1
      }
      var g = 0
      while (g < nG) {
        val upper = (0 until es.length).map(e => aS(g)(e).toDouble / grid)
        val grad = (0 until p).map(k => rS(g)(k).toDouble / grid)
        beta(g) = solveRidged(p, ridge, upper, grad).map(r6)
        g += 1
      }
    }
    val outSchema = StructType(groupField +:
      StructField("n", LongType, nullable = false) +:
      outNames.map(StructField(_, DoubleType, nullable = false)))
    val rows = gIndex.toSeq.map { case (gv, g) =>
      Row.fromSeq(gv +: nByG(g) +: beta(g).toSeq)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), outSchema)
  }

  /** DuckDB twin of [[logitByGroup]] — the SAME iteration fragments
    * rendered as CTEs. `rowsSql` must produce the group column plus
    * __x1..__x{p-1} and __y (the intercept __x0 is added here). */
  def logitOracleSql(rowsSql: String, group: String, p: Int, outNames: Seq[String],
                     iters: Int = 6, ridge: Double = 1e-6): String =
    irlsOracleSql(rowsSql, group, p, outNames, iters,
      irlsIterationSteps(p, group, ridge))

  /** DuckDB twin of [[huberByGroup]] — the same fixed-δ weighted
    * iteration fragments rendered as unrolled CTEs. */
  def huberOracleSql(rowsSql: String, group: String, p: Int, outNames: Seq[String],
                     delta: Double, iters: Int = 6, ridge: Double = 1e-6): String =
    irlsOracleSql(rowsSql, group, p, outNames, iters,
      huberIterationSteps(p, group, ridge, delta))

  private def irlsOracleSql(rowsSql: String, group: String, p: Int,
                            outNames: Seq[String], iters: Int,
                            iteration: Seq[Step]): String = {
    require(outNames.size == p)
    val b = new StringBuilder("WITH __rows0 AS (\n").append(rowsSql).append("),\n")
    b.append(s"__rows AS (SELECT *, 1.0 AS __x0 FROM __rows0 WHERE ${completeCase(p)}),\n")
    b.append(s"__beta_0 AS (SELECT DISTINCT $group, " +
      (0 until p).map(i => s"0.0 AS __b_$i").mkString(", ") + " FROM __rows),\n")
    var prevBeta = "__beta_0"
    (1 to iters).foreach { k =>
      val join = s"__j_$k AS (SELECT r.*, " +
        (0 until p).map(i => s"b.__b_$i").mkString(", ") +
        s" FROM __rows r JOIN $prevBeta b USING ($group))"
      val (ctes, last) = renderSql(s"__j_$k", s"__it${k}", group, iteration)
      b.append((join +: ctes).mkString(",\n")).append(",\n")
      prevBeta = last
    }
    // drop the trailing comma+newline, close the WITH, emit the final select
    b.setLength(b.length - 2)
    b.append(s"\nSELECT $group, __n AS n, " +
      (0 until p).map(i => s"__b_$i AS ${outNames(i)}").mkString(", ") +
      s"\nFROM $prevBeta")
    b.toString
  }

  // ---- public API: multivariate OLS via one Gram aggregation ----

  /** One-pass p-variate OLS per group (X'X / X'y moments as exact DECIMAL
    * sums, then the same unrolled solve). Subsumes Regression.ols2ByGroup
    * and is the inner step of the IRLS above with w ≡ 1. Inputs must have
    * ≤ 2 decimal places (cast DECIMAL(18,2), the repo-wide moment
    * convention). The ridge keeps empty one-hot cells and collinear
    * designs finite instead of NULL — documented bayesglm-prior analogue.
    */
  def olsMultiByGroup(rows0: DataFrame, group: String, xs: Seq[Column], y: Column,
                      outNames: Seq[String], ridge: Double = 1e-6): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val p = xs.size + 1
    require(outNames.size == p, s"outNames must have ${p} entries (intercept first)")
    val prepared = rows0.select(
      col(group) +: lit(1.0).as("__x0") +:
        xs.zipWithIndex.map { case (c, i) => c.cast("double").as(s"__x${i + 1}") } :+
        y.cast("double").as("__y"): _*)
      .filter(expr(completeCase(p)))
    // distributed Gram pass, driver p×p solve (see solveRidged's scaladoc
    // for why the serial solve does not belong in the plan)
    val moments = runSteps(prepared, group, Seq(olsMomentStep(p))).collect()
    val es = entries(p)
    val spark = rows0.sparkSession
    val outSchema = StructType(prepared.schema(group) +:
      StructField("n", LongType, nullable = false) +:
      outNames.map(StructField(_, DoubleType, nullable = false)))
    spark.createDataFrame(
      java.util.Arrays.asList(moments.toSeq.map { row =>
        val upper = es.map { case (i, j) => row.getDouble(row.fieldIndex(aN(i, j))) }
        val grad = (0 until p).map(i => row.getDouble(row.fieldIndex(s"__r_$i")))
        val b = solveRidged(p, ridge, upper, grad).map(r6)
        Row.fromSeq(row.get(0) +: row.getLong(row.fieldIndex("__n")) +: b.toSeq)
      }: _*),
      outSchema)
  }

  /** The distributed half of the OLS fit: one exact-decimal Gram/gradient
    * aggregation. */
  private def olsMomentStep(p: Int): Step = {
    def d(e: String) = s"CAST($e AS DECIMAL(18,2))"
    Aggregate(("__n", "COUNT(*)") +:
      (entries(p).map { case (i, j) =>
        (aN(i, j), s"CAST(SUM(${d(s"__x$i")} * ${d(s"__x$j")}) AS DOUBLE)")
      } ++ (0 until p).map(i =>
        (s"__r_$i", s"CAST(SUM(${d(s"__x$i")} * ${d("__y")}) AS DOUBLE)"))))
  }

  /** Full in-SQL OLS pipeline — the ORACLE rendering of
    * [[olsMultiByGroup]]'s moment pass + solve. */
  private def olsMultiSteps(p: Int, group: String, ridge: Double): Seq[Step] = {
    val keep = Seq(group, "__n")
    (olsMomentStep(p) +: ridgeStep(p, ridge, keep) +: solveStages(p, keep)) :+
      Project(Seq((group, group), ("__n", "__n")) ++
        (0 until p).map(i => (s"__b_$i", r6s(s"__b_$i"))))
  }

  /** DuckDB twin of [[olsMultiByGroup]]. */
  def olsMultiOracleSql(rowsSql: String, group: String, p: Int, outNames: Seq[String],
                        ridge: Double = 1e-6): String = {
    require(outNames.size == p)
    val (ctes, last) = renderSql("__rows", "__ols", group, olsMultiSteps(p, group, ridge))
    (s"WITH __rows0 AS (\n$rowsSql),\n" +
      s"__rows AS (SELECT *, 1.0 AS __x0 FROM __rows0 WHERE ${completeCase(p)}),\n" +
      ctes.mkString(",\n") +
      s"\nSELECT $group, __n AS n, " +
      (0 until p).map(i => s"__b_$i AS ${outNames(i)}").mkString(", ") +
      s"\nFROM $last")
  }

  // ---- public API: multiple-imputation pooled regression ----

  /** Portable uniform draw in (0,1) from the md5 digest window at `offset`
    * — Spark dialect (string twin of Curation.hashPct). */
  def sparkPctSql(idExpr: String, offset: Int): String =
    s"(CAST(CONV(SUBSTRING(MD5(CAST($idExpr AS STRING)), ${1 + 4 * (offset - 1)}, 4), 16, 10) AS BIGINT) % 100)"

  /** DuckDB dialect of the same digest-window draw. */
  def duckPctSql(idExpr: String, offset: Int): String =
    s"(('0x' || substr(md5(CAST($idExpr AS VARCHAR)), ${1 + 4 * (offset - 1)}, 4))::BIGINT % 100)"

  /** Imputed-x fragment for one draw: group mean + a mean-zero,
    * unit-variance uniform perturbation scaled by the observed sd —
    * quantized to the 6-decimal grid so the DECIMAL(18,6) cast is
    * unambiguous on both engines. `pct` is the dialect-specific digest
    * expression (0..99). */
  private def xqS(pct: String, spread: Double): String = {
    val u = s"((CAST($pct AS DOUBLE) + 0.5) / 100.0)"
    val ximp = s"(__mean + ((__sd * (($u) - 0.5)) * (SQRT(12.0) * $spread)))"
    s"CASE WHEN __xd IS NULL THEN CAST(${r6s(ximp)} AS DECIMAL(18,6)) " +
      s"ELSE CAST(__xd AS DECIMAL(18,6)) END"
  }

  private val meanS = "(__ssx / (CASE WHEN __n_obs > 0 THEN CAST(__n_obs AS DOUBLE) END))"
  private val sdS =
    "SQRT(GREATEST((__ssxx - ((__ssx * __ssx) / CAST(__n_obs AS DOUBLE))) / " +
      "(CASE WHEN __n_obs > 1 THEN CAST(__n_obs - 1 AS DOUBLE) END), 0.0))"

  /** Pooling tail: per-draw simple-OLS fit + Rubin's rules, as Extend
    * steps over the one-row-per-group aggregate. */
  private def miTailSteps(draws: Int, group: String): Seq[Step] = {
    val m = s"$draws.0"
    val perDraw = (0 until draws).flatMap { d =>
      val den = s"((__n * __sxx_$d) - (__sx_$d * __sx_$d))"
      val guard = s"ABS($den) > 1.0e-9 * GREATEST(ABS(__n * __sxx_$d), ABS(__sx_$d * __sx_$d))"
      Seq(
        Extend(s"__slope_$d",
          s"CASE WHEN $guard THEN (((__n * __sxy_$d) - (__sx_$d * __sy)) / $den) END"),
        Extend(s"__se2_$d",
          s"CASE WHEN __n > 2 THEN (((__syy - ((__sy * __sy) / __n)) - " +
            s"(__slope_$d * (__sxy_$d - ((__sx_$d * __sy) / __n)))) / (__n - 2)) / " +
            s"(__sxx_$d - ((__sx_$d * __sx_$d) / __n)) END"))
    }
    val qbar = (0 until draws).map(d => s"__slope_$d").reduce((a, b) => s"($a + $b)")
    val wbar = (0 until draws).map(d => s"__se2_$d").reduce((a, b) => s"($a + $b)")
    val bvar =
      if (draws == 1) "0.0"
      else s"(${(0 until draws).map(d => s"((__slope_$d - __qbar) * (__slope_$d - __qbar))")
        .reduce((a, b) => s"($a + $b)")} / ${draws - 1}.0)"
    perDraw ++ Seq(
      Extend("__qbar", s"(($qbar) / $m)"),
      Extend("__wbar", s"(($wbar) / $m)"),
      Extend("__bvar", bvar),
      Extend("__ttot", s"(__wbar + ((1.0 + (1.0 / $m)) * __bvar))"),
      Project(Seq(
        (group, group), ("n", "__n"), ("n_obs", "__n_obs"),
        ("m_draws", s"CAST($draws AS INT)"),
        ("slope_pooled", r6s("__qbar")),
        ("var_within", r6s("__wbar")),
        ("var_between", r6s("__bvar")),
        ("se_total", r6s("SQRT(__ttot)")))))
  }

  private def miAggStep(draws: Int): Aggregate =
    Aggregate(Seq(
      ("__n", "COUNT(*)"), ("__n_obs", "COUNT(__xd)"),
      ("__sy", "CAST(SUM(__yd) AS DOUBLE)"),
      ("__syy", "CAST(SUM(__yd * __yd) AS DOUBLE)")) ++
      (0 until draws).flatMap(d => Seq(
        (s"__sx_$d", s"CAST(SUM(__xq_$d) AS DOUBLE)"),
        (s"__sxx_$d", s"CAST(SUM(__xq_$d * __xq_$d) AS DOUBLE)"),
        (s"__sxy_$d", s"CAST(SUM(__xq_$d * __yd) AS DOUBLE)"))))

  /** Multiple-imputation pooled simple regression of y on x per group —
    * the deterministic Spark analogue of mice(m=20) + pooled bayesglm
    * (multiple_imputation_regression_analysis.py:61,74): m hash-seeded
    * imputation draws (each missing x replaced by group mean + a
    * digest-derived, mean-zero unit-variance uniform perturbation scaled
    * by the observed sd), one OLS fit per draw, Rubin's-rules pooling
    * (q̄ = mean of estimates, W = mean within-imputation variance, B =
    * between-imputation variance, T = W + (1+1/m)·B). Two corpus passes
    * total: one stats pass, then ONE conditional aggregation carrying all
    * m draws — imputation never materializes m datasets.
    *
    * `spread` scales the perturbation (1.0 = match observed sd; 0.0
    * degenerates every draw to mean imputation, which is the
    * regression_ols_imputed semantics — pinned by spec). Draw d uses
    * digest window `firstOffset + d`; keep the windows disjoint from any
    * missingness coin derived from the same id.
    */
  def miPooledByGroup(df: DataFrame, group: String, id: Column, x: Column, y: Column,
                      draws: Int, firstOffset: Int = 2, spread: Double = 1.0): DataFrame = {
    require(draws >= 1 && firstOffset >= 1 && firstOffset + draws - 1 <= 8,
      "draws must fit in the md5 digest windows (8 of 4 hex chars)")
    val rows = df.filter(y.isNotNull).select(col(group), id.as("__id"),
      x.cast(DecimalType(18, 2)).as("__xd"), y.cast(DecimalType(18, 2)).as("__yd"))
    val stats = rows.groupBy(col(group)).agg(
      expr("COUNT(__xd)").as("__n_obs"),
      expr("CAST(SUM(__xd) AS DOUBLE)").as("__ssx"),
      expr("CAST(SUM(__xd * __xd) AS DOUBLE)").as("__ssxx"))
      .withColumn("__mean", expr(meanS))
      .withColumn("__sd", expr(sdS))
    val joined = rows.join(
      broadcast(stats.select(col(group), col("__n_obs"), col("__mean"), col("__sd"))),
      Seq(group))
    val withQ = (0 until draws).foldLeft(joined)((d, i) =>
      d.withColumn(s"__xq_$i", expr(xqS(sparkPctSql("__id", firstOffset + i), spread))))
    runSteps(withQ, group, miAggStep(draws) +: miTailSteps(draws, group))
  }

  // ---- multiple-imputation pooled LOGIT (the reference's actual MI model:
  // bayesglm per imputed dataset, pooled — multiple_imputation_regression_
  // analysis.py:74 `with(multiple_imputed_data_frame, bayesglm(...))` then
  // `pool(...)`) ----

  /** The distributed half of one all-draws IRLS iteration: per-row working
    * weights per draw and ONE aggregation to m sets of 2×2 Gram/gradient
    * moments — m chains, one corpus pass. */
  private def miLogitMomentSteps(draws: Int): Seq[Step] = {
    val perRow = (0 until draws).flatMap { d =>
      Seq(
        Extend(s"__xf_$d", s"CAST(__xq_$d AS DOUBLE)"),
        Extend(s"__eta_$d", s"(__b0_$d + (__b1_$d * __xf_$d))"),
        Extend(s"__mu_$d", r9s(s"1.0 / (1.0 + EXP(-(__eta_$d)))")),
        Extend(s"__w_$d", s"(__mu_$d * (1.0 - __mu_$d))"),
        Extend(s"__u_$d", s"((__w_$d * __eta_$d) + (__y - __mu_$d))"))
    }
    perRow :+ Aggregate(Seq(("__n", "COUNT(*)"), ("__n_obs", "COUNT(__xd)")) ++
      (0 until draws).flatMap(d => Seq(
        (s"__a00_$d", qsum(s"__w_$d")),
        (s"__a01_$d", qsum(s"(__xf_$d * __w_$d)")),
        (s"__a11_$d", qsum(s"((__xf_$d * __xf_$d) * __w_$d)")),
        (s"__r0_$d", qsum(s"__u_$d")),
        (s"__r1_$d", qsum(s"(__xf_$d * __u_$d)")))))
  }

  /** Scalar twin of the in-SQL closed-form 2×2 solve in
    * [[miLogitIterSteps]] — same IEEE ops, same order (see
    * [[solveRidged]]'s rationale). Returns (b0, b1) 6dp-rounded. */
  private def solve2Ridged(ridge: Double, a00: Double, a01: Double, a11: Double,
                           rg0: Double, rg1: Double): (Double, Double) = {
    val det = ((a00 + ridge) * (a11 + ridge)) - (a01 * a01)
    val b1n = (((a00 + ridge) * rg1) - (a01 * rg0)) / det
    val b0n = (rg0 - (a01 * b1n)) / (a00 + ridge)
    (r6(b0n), r6(b1n))
  }

  /** One full all-draws IRLS iteration (moments + in-plan solve) — the
    * ORACLE rendering; the DataFrame side runs [[miLogitMomentSteps]] and
    * solves per draw on the driver via [[solve2Ridged]]. */
  private def miLogitIterSteps(draws: Int, group: String, ridge: Double): Seq[Step] = {
    val solve = (0 until draws).flatMap { d =>
      Seq(
        Extend(s"__det_$d",
          s"(((__a00_$d + $ridge) * (__a11_$d + $ridge)) - (__a01_$d * __a01_$d))"),
        Extend(s"__b1n_$d",
          s"((((__a00_$d + $ridge) * __r1_$d) - (__a01_$d * __r0_$d)) / __det_$d)"),
        Extend(s"__b0n_$d",
          s"((__r0_$d - (__a01_$d * __b1n_$d)) / (__a00_$d + $ridge))"))
    }
    val out = Project(Seq((group, group), ("__n", "__n"), ("__n_obs", "__n_obs")) ++
      (0 until draws).flatMap(d => Seq(
        (s"__b0_$d", r6s(s"__b0n_$d")), (s"__b1_$d", r6s(s"__b1n_$d")))))
    miLogitMomentSteps(draws) ++ solve :+ out
  }

  /** The LAST IRLS iteration (round 14): same moments + solve as
    * [[miLogitIterSteps]], but the Project ALSO emits each draw's Fisher
    * slope variance (X'WX)⁻¹₁₁ = (a00+ridge)/det from THIS iteration's
    * Gram — the Fisher information at the betas ENTERING the final solve.
    * At a converged fixed-K fit those betas agree with the emitted ones to
    * the 6dp grid, so the variance is the converged-fit Fisher variance —
    * and harvesting it here removes the former dedicated pooling pass
    * (which re-evaluated the per-row weights at the final betas), cutting
    * the corpus passes from K+2 to K+1 (stats + K moment passes).
    *
    * The convergence premise is GUARDED, not assumed (ADVICE r14):
    * MiLogitConvergenceSpec asserts that on gate data a K+1 run emits the
    * identical frame (equal betas certify the 6dp fixed point, which makes
    * Fisher(beta_{K-1}) = Fisher(beta_K)), and measures the drift on a
    * deliberately unconverged K=1 fixture. A slow-converging group
    * reaching the corpus fails that spec by name instead of silently
    * shifting var_within off the reference's evaluate-at-converged-fit
    * semantics. */
  private def miLogitFinalIterSteps(draws: Int, group: String, ridge: Double): Seq[Step] = {
    val solve = (0 until draws).flatMap { d =>
      Seq(
        Extend(s"__det_$d",
          s"(((__a00_$d + $ridge) * (__a11_$d + $ridge)) - (__a01_$d * __a01_$d))"),
        Extend(s"__b1n_$d",
          s"((((__a00_$d + $ridge) * __r1_$d) - (__a01_$d * __r0_$d)) / __det_$d)"),
        Extend(s"__b0n_$d",
          s"((__r0_$d - (__a01_$d * __b1n_$d)) / (__a00_$d + $ridge))"),
        Extend(s"__vs_$d", s"((__a00_$d + $ridge) / __det_$d)"))
    }
    val out = Project(Seq((group, group), ("__n", "__n"), ("__n_obs", "__n_obs")) ++
      (0 until draws).flatMap(d => Seq(
        (s"__b0_$d", r6s(s"__b0n_$d")), (s"__b1_$d", r6s(s"__b1n_$d")),
        (s"__vs_$d", s"__vs_$d"))))
    miLogitMomentSteps(draws) ++ solve :+ out
  }

  /** Rubin's-rules pooling over the final iteration's one-row-per-group
    * frame — pure scalar algebra on (b0_d, b1_d, vs_d), NO corpus pass.
    * Mirrored on the driver by [[poolMiLogit]] (same IEEE op order). */
  private def miLogitPoolSteps(draws: Int, group: String): Seq[Step] = {
    val m = s"$draws.0"
    def mean(f: Int => String) =
      s"((${(0 until draws).map(f).reduce((a, b) => s"($a + $b)")}) / $m)"
    val bvar =
      if (draws == 1) "0.0"
      else s"((${(0 until draws).map(d => s"((__b1_$d - __qbar) * (__b1_$d - __qbar))")
        .reduce((a, b) => s"($a + $b)")}) / ${draws - 1}.0)"
    Seq(
      Extend("__qbar", mean(d => s"__b1_$d")),
      Extend("__b0bar", mean(d => s"__b0_$d")),
      Extend("__wbar", mean(d => s"__vs_$d")),
      Extend("__bvar", bvar),
      Extend("__ttot", s"(__wbar + ((1.0 + (1.0 / $m)) * __bvar))"),
      Project(Seq(
        (group, group), ("n", "__n"), ("n_obs", "__n_obs"),
        ("m_draws", s"CAST($draws AS INT)"),
        ("intercept_pooled", r6s("__b0bar")),
        ("slope_pooled", r6s("__qbar")),
        ("var_within", r12s("__wbar")),
        ("var_between", r12s("__bvar")),
        ("se_total", r6s("SQRT(__ttot)")))))
  }

  /** Driver twin of [[miLogitPoolSteps]]: identical IEEE ops in identical
    * order (left-associated means, multiply-before-divide), so the
    * collected-moments pooling bit-matches the oracle's CTE pooling. A
    * null in any draw's (b0, b1, vs) poisons the pooled outputs to null —
    * exactly the SQL null propagation through the sums — EXCEPT
    * var_between at draws == 1, which the SQL renders as the literal 0.0
    * (a single draw has no between-imputation spread, null betas or not),
    * so the driver twin emits 0.0 there too. */
  private def poolMiLogit(draws: Int, perDraw: Array[(java.lang.Double, java.lang.Double, java.lang.Double)])
      : Array[java.lang.Double] = {
    if (perDraw.exists(t => t._1 == null || t._2 == null || t._3 == null))
      return Array[java.lang.Double](null, null, null,
        if (draws == 1) java.lang.Double.valueOf(0.0) else null, null)
    val m = draws.toDouble
    def mean(xs: Seq[Double]) = xs.reduce((a, b) => a + b) / m
    val qbar = mean(perDraw.toSeq.map(_._2.doubleValue))
    val b0bar = mean(perDraw.toSeq.map(_._1.doubleValue))
    val wbar = mean(perDraw.toSeq.map(_._3.doubleValue))
    val bvar =
      if (draws == 1) 0.0
      else perDraw.toSeq.map(t => (t._2.doubleValue - qbar) * (t._2.doubleValue - qbar))
        .reduce((a, b) => a + b) / (draws - 1).toDouble
    val ttot = wbar + ((1.0 + (1.0 / m)) * bvar)
    Array[java.lang.Double](r6(b0bar), r6(qbar), r12(wbar), r12(bvar), r6(math.sqrt(ttot)))
  }

  /** Multiple-imputation pooled LOGISTIC regression of binary y on x per
    * group — the faithful analogue of the reference's MI step (mice m
    * draws, bayesglm per draw, pool): m hash-seeded imputation draws, one
    * independent fixed-K IRLS chain per draw, Rubin's-rules pooling with
    * per-draw Fisher variances. All m chains fold into ONE aggregation
    * pass per iteration (the Gram columns are draw-suffixed), so the
    * corpus is scanned K+1 times regardless of m (the imputation-stats
    * pass plus K moment passes, the first doubling as group discovery) —
    * never m×K. The former dedicated pooling pass is gone (round 14):
    * iteration K's Gram IS the Fisher information at the converged fit
    * (to the 6dp beta grid), so Rubin's rules run on the driver over the
    * moments that produced the final betas — see [[miLogitFinalIterSteps]].
    */
  def miLogitPooledByGroup(df: DataFrame, group: String, id: Column, x: Column, y: Column,
                           draws: Int, firstOffset: Int = 2, spread: Double = 1.0,
                           iters: Int = 6, ridge: Double = 1e-6,
                           localRowCap: Int = 1 << 20): DataFrame = {
    require(draws >= 1 && firstOffset >= 1 && firstOffset + draws - 1 <= 8,
      "draws must fit in the md5 digest windows (8 of 4 hex chars)")
    require(iters >= 1, "need at least one IRLS iteration")
    val rows = df.filter(y.isNotNull).select(col(group), id.as("__id"),
      x.cast(DecimalType(18, 2)).as("__xd"), y.cast("double").as("__y"))
    val stats = rows.groupBy(col(group)).agg(
      expr("COUNT(__xd)").as("__n_obs"),
      expr("CAST(SUM(__xd) AS DOUBLE)").as("__ssx"),
      expr("CAST(SUM(__xd * __xd) AS DOUBLE)").as("__ssxx"))
      .withColumn("__mean", expr(meanS))
      .withColumn("__sd", expr(sdS))
    val joined = rows.join(
      broadcast(stats.select(col(group), col("__mean"), col("__sd"))), Seq(group))
    val withQ = (0 until draws).foldLeft(joined)((d, i) =>
        d.withColumn(s"__xq_$i", expr(xqS(sparkPctSql("__id", firstOffset + i), spread))))
      // project to the columns the K moment passes actually read — the
      // id/mean/sd columns exist only to mint the draws, and caching them
      // would widen every per-iteration scan for nothing
      .select(col(group) +: col("__xd") +: col("__y") +:
        (0 until draws).map(i => col(s"__xq_$i")): _*)
    // size dispatch: see graft.util.DriverDispatch. The xq draws stay
    // in-plan, so the md5 digest arithmetic has exactly one implementation.
    graft.util.DriverDispatch.collect(withQ, localRowCap, group).foreach { sample =>
      return localMiLogitFit(sample, draws, iters, ridge,
        withQ.schema(group), df.sparkSession)
    }
    // persisted for the K IRLS moment aggregations — without it every
    // pass re-scans the raw fact; unpersisted after the pooled result
    // is materialized. parallelFloor: see irlsFitByGroup — the m-draw
    // moment pass is the most decimal-dense aggregation in the repo
    // (5 quantized sums per draw per iteration). The probe is the NARROW
    // `rows` frame, not withQ: withQ carries the imputation-stats
    // broadcast join, and probing through it executed the stats pass
    // twice per fit (ADVICE r15); the join does not change the streamed
    // side's partitioning, so rows' count is withQ's count.
    val withQp = parallelFloor(withQ, 5 * draws, rows)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // driver-held model state (groups × 2m doubles), MLlib-style: one
    // distributed moment pass per iteration, per-draw 2×2 solves on the
    // driver (solve2Ridged bit-matches the oracle's CTE solve), betas
    // rejoin as broadcast literal frames; the pooling pass stays in-plan
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val spark = df.sparkSession
    val groupField = withQ.schema(group)
    val betaSchema = StructType(groupField +: (0 until draws).flatMap(d =>
      Seq(StructField(s"__b0_$d", DoubleType, nullable = true),
        StructField(s"__b1_$d", DoubleType, nullable = true))))
    // betas are boxed nullable doubles: a group whose __xd is entirely
    // missing has undefined imputation moments (NULL mean/sd → NULL Gram
    // sums), and the oracle's in-SQL chain propagates that NULL through
    // the solve to its outputs. The driver solve must do the same —
    // NULL-moment groups get NULL betas (never NaN, which SQL would
    // carry as a value), so the in-plan pooling pass reproduces the
    // oracle's NULL result columns while healthy groups are untouched.
    var beta: Seq[(Any, Array[java.lang.Double])] = Seq.empty
    def betaDf(): DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(beta.map { case (g, b) => Row.fromSeq(g +: b.toSeq) }: _*),
      betaSchema)
    // the pooled result, assembled on the driver from iteration K's
    // moments — (group, n, n_obs) plus the 5 pooled scalars per group
    var pooledRows: Seq[Row] = Seq.empty
    try {
      for (k <- 1 to iters) {
        // iteration 1: literal zero betas instead of a join against a
        // distinct-collected zero frame — the first moment pass doubles as
        // group discovery (see logitByGroup)
        val it =
          if (k == 1) (0 until draws).foldLeft(withQp)((d, i) =>
            d.withColumn(s"__b0_$i", lit(0.0)).withColumn(s"__b1_$i", lit(0.0)))
          else withQp.join(broadcast(betaDf()), Seq(group))
        val moments = runSteps(it, group, miLogitMomentSteps(draws)).collect()
        val solved = moments.toSeq.map { row =>
          def f(n: String): java.lang.Double = {
            val i = row.fieldIndex(n)
            if (row.isNullAt(i)) null else row.getDouble(i)
          }
          row.get(0) -> (0 until draws).map { d =>
            val ms = Seq(s"__a00_$d", s"__a01_$d", s"__a11_$d", s"__r0_$d", s"__r1_$d").map(f)
            if (ms.contains(null))
              (null: java.lang.Double, null: java.lang.Double, null: java.lang.Double)
            else {
              val (b0, b1) = solve2Ridged(ridge, ms(0), ms(1), ms(2), ms(3), ms(4))
              // Fisher slope variance from THIS iteration's Gram — the
              // same det expression the solve used (IEEE-identical to the
              // oracle's final-iteration CTE)
              val det = ((ms(0) + ridge) * (ms(2) + ridge)) - (ms(1) * ms(1))
              (java.lang.Double.valueOf(b0), java.lang.Double.valueOf(b1),
                java.lang.Double.valueOf((ms(0) + ridge) / det))
            }
          }.toArray
        }
        beta = solved.map { case (g, bs) =>
          g -> bs.flatMap(t => Seq(t._1, t._2))
        }
        if (k == iters) {
          // fold the pooling into the last moment pass: Rubin's rules on
          // the driver over (beta_K, Fisher vs from iteration K's Gram)
          pooledRows = solved.zip(moments.toSeq).map { case ((g, bs), row) =>
            val pooled = poolMiLogit(draws, bs)
            Row.fromSeq(Seq(g, row.getLong(row.fieldIndex("__n")),
              row.getLong(row.fieldIndex("__n_obs")), draws) ++ pooled.toSeq)
          }
        }
      }
      import org.apache.spark.sql.types.{IntegerType, LongType}
      val outSchema = StructType(Seq(groupField,
        StructField("n", LongType, nullable = false),
        StructField("n_obs", LongType, nullable = false),
        StructField("m_draws", IntegerType, nullable = false),
        StructField("intercept_pooled", DoubleType, nullable = true),
        StructField("slope_pooled", DoubleType, nullable = true),
        StructField("var_within", DoubleType, nullable = true),
        StructField("var_between", DoubleType, nullable = true),
        StructField("se_total", DoubleType, nullable = true)))
      // groups-sized local result (model output, never data) — already
      // materialized, so the working-set unpersist below cannot force a
      // recompute at caller action
      spark.createDataFrame(java.util.Arrays.asList(pooledRows: _*), outSchema)
    } finally withQp.unpersist(blocking = false)
  }

  /** Driver-side m-chain fixed-K IRLS + Rubin pooling over a collected,
    * cap-bounded working set — the small-fit half of
    * [[miLogitPooledByGroup]]'s size dispatch. Replays
    * [[miLogitMomentSteps]]' per-row, per-draw fragments with identical
    * IEEE ops (η = b0 + (b1·x), r9-rounded μ, w, u, FLOOR-quantized terms
    * into [[QuantSum]] ≡ the DECIMAL(38,0) sums), solves each draw with
    * the shared [[solve2Ridged]], harvests the final iteration's Fisher
    * variance from the same Gram, and pools with [[poolMiLogit]] — all
    * driver twins the moments path already used, so local == loop
    * bit-for-bit (GlmLocalFitSpec). SQL NULL semantics are preserved: a
    * null draw value (all-missing or n_obs≤1 group) contributes to no sum
    * for that draw (SUM skips NULL terms; all-null → NULL moments → NULL
    * betas, which then null every later iteration exactly like the joined
    * null betas do). `sample` columns are positional: group, __xd
    * (DECIMAL, null = missing), __y, __xq_0..__xq_{m-1} (DECIMAL). */
  private def localMiLogitFit(sample: Array[org.apache.spark.sql.Row], draws: Int,
                              iters: Int, ridge: Double,
                              groupField: org.apache.spark.sql.types.StructField,
                              spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}
    val nRows = sample.length
    val gIndex = scala.collection.mutable.LinkedHashMap.empty[Any, Int]
    val gOf = new Array[Int](nRows)
    val xdNull = new Array[Boolean](nRows)
    val ysA = new Array[Double](nRows)
    val xf = Array.ofDim[Double](nRows, draws)
    val xfNull = Array.ofDim[Boolean](nRows, draws)
    var i = 0
    while (i < nRows) {
      val r = sample(i)
      gOf(i) = gIndex.getOrElseUpdate(r.get(0), gIndex.size)
      xdNull(i) = r.isNullAt(1)
      ysA(i) = r.getDouble(2)
      var d = 0
      while (d < draws) {
        if (r.isNullAt(3 + d)) xfNull(i)(d) = true
        // CAST(__xq_d AS DOUBLE): Spark's Decimal→Double is
        // BigDecimal.doubleValue — replicated verbatim
        else xf(i)(d) = r.getDecimal(3 + d).doubleValue
        d += 1
      }
      i += 1
    }
    val nG = gIndex.size
    val b0 = Array.fill[java.lang.Double](nG, draws)(java.lang.Double.valueOf(0.0))
    val b1 = Array.fill[java.lang.Double](nG, draws)(java.lang.Double.valueOf(0.0))
    val nArr = new Array[Long](nG)
    val nObs = new Array[Long](nG)
    val vs = Array.fill[java.lang.Double](nG, draws)(null)
    for (it <- 1 to iters) {
      val sums = Array.fill(nG, draws, 5)(new QuantSum)
      java.util.Arrays.fill(nArr, 0L)
      java.util.Arrays.fill(nObs, 0L)
      i = 0
      while (i < nRows) {
        val g = gOf(i)
        nArr(g) += 1
        if (!xdNull(i)) nObs(g) += 1
        var d = 0
        while (d < draws) {
          val bb0 = b0(g)(d); val bb1 = b1(g)(d)
          if (!xfNull(i)(d) && bb0 != null && bb1 != null) {
            val x = xf(i)(d)
            val eta = bb0.doubleValue + (bb1.doubleValue * x)
            val mu = r9d(1.0 / (1.0 + math.exp(-eta)))
            val w = mu * (1.0 - mu)
            val u = (w * eta) + (ysA(i) - mu)
            val s = sums(g)(d)
            s(0).add(q12l(w))           // __a00
            s(1).add(q12l(x * w))       // __a01
            s(2).add(q12l((x * x) * w)) // __a11
            s(3).add(q12l(u))           // __r0
            s(4).add(q12l(x * u))       // __r1
          }
          d += 1
        }
        i += 1
      }
      var g = 0
      while (g < nG) {
        var d = 0
        while (d < draws) {
          val s = sums(g)(d)
          if (s.exists(_.isNull)) { b0(g)(d) = null; b1(g)(d) = null }
          else {
            val a00 = s(0).toDouble / 1.0e12
            val a01 = s(1).toDouble / 1.0e12
            val a11 = s(2).toDouble / 1.0e12
            val r0 = s(3).toDouble / 1.0e12
            val r1 = s(4).toDouble / 1.0e12
            val (nb0, nb1) = solve2Ridged(ridge, a00, a01, a11, r0, r1)
            b0(g)(d) = nb0; b1(g)(d) = nb1
            if (it == iters) {
              val det = ((a00 + ridge) * (a11 + ridge)) - (a01 * a01)
              vs(g)(d) = (a00 + ridge) / det
            }
          }
          d += 1
        }
        g += 1
      }
    }
    val outSchema = StructType(Seq(groupField,
      StructField("n", LongType, nullable = false),
      StructField("n_obs", LongType, nullable = false),
      StructField("m_draws", IntegerType, nullable = false),
      StructField("intercept_pooled", DoubleType, nullable = true),
      StructField("slope_pooled", DoubleType, nullable = true),
      StructField("var_within", DoubleType, nullable = true),
      StructField("var_between", DoubleType, nullable = true),
      StructField("se_total", DoubleType, nullable = true)))
    val rows = gIndex.toSeq.map { case (gv, g) =>
      val perDraw = (0 until draws).map(d => (b0(g)(d), b1(g)(d), vs(g)(d))).toArray
      val pooled = poolMiLogit(draws, perDraw)
      Row.fromSeq(Seq(gv, nArr(g), nObs(g), draws) ++ pooled.toSeq)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), outSchema)
  }

  /** DuckDB twin of [[miLogitPooledByGroup]]. `rowsSql` must produce the
    * group column plus __id, __xd (DECIMAL(18,2), null = missing) and __y
    * (binary double, null dropped here). */
  def miLogitPooledOracleSql(rowsSql: String, group: String, draws: Int,
                             firstOffset: Int = 2, spread: Double = 1.0,
                             iters: Int = 6, ridge: Double = 1e-6): String = {
    require(draws >= 1 && firstOffset >= 1 && firstOffset + draws - 1 <= 8)
    val statsSql =
      s"SELECT $group, COUNT(__xd) AS __n_obs, CAST(SUM(__xd) AS DOUBLE) AS __ssx, " +
        s"CAST(SUM(__xd * __xd) AS DOUBLE) AS __ssxx FROM __rows GROUP BY $group"
    val qCols = (0 until draws)
      .map(d => s"${xqS(duckPctSql("__id", firstOffset + d), spread)} AS __xq_$d")
      .mkString(", ")
    val b = new StringBuilder(s"WITH __rows0 AS (\n$rowsSql),\n")
    b.append("__rows AS (SELECT * FROM __rows0 WHERE __y IS NOT NULL),\n")
    b.append(s"__stats0 AS ($statsSql),\n")
    b.append(s"__stats AS (SELECT *, $meanS AS __mean FROM __stats0),\n")
    b.append(s"__statsd AS (SELECT *, $sdS AS __sd FROM __stats),\n")
    b.append(s"__joined AS (SELECT r.*, s.__mean, s.__sd FROM __rows r " +
      s"JOIN __statsd s USING ($group)),\n")
    b.append(s"__q AS (SELECT *, $qCols FROM __joined),\n")
    b.append(s"__beta_0 AS (SELECT DISTINCT $group, " +
      (0 until draws).flatMap(d => Seq(s"0.0 AS __b0_$d", s"0.0 AS __b1_$d"))
        .mkString(", ") + " FROM __q),\n")
    var prevBeta = "__beta_0"
    (1 to iters).foreach { k =>
      val join = s"__jt_$k AS (SELECT q.*, " +
        (0 until draws).flatMap(d => Seq(s"b.__b0_$d", s"b.__b1_$d")).mkString(", ") +
        s" FROM __q q JOIN $prevBeta b USING ($group))"
      // the LAST iteration also emits each draw's Fisher slope variance
      // from its own Gram (miLogitFinalIterSteps) — no re-evaluation pass
      val steps =
        if (k == iters) miLogitFinalIterSteps(draws, group, ridge)
        else miLogitIterSteps(draws, group, ridge)
      val (ctes, last) = renderSql(s"__jt_$k", s"__mit${k}", group, steps)
      b.append((join +: ctes).mkString(",\n")).append(",\n")
      prevBeta = last
    }
    // Rubin's rules over the final iteration's one-row-per-group frame —
    // scalar CTEs only, never touching __q again
    val (ctes, last) = renderSql(prevBeta, "__pool", group,
      miLogitPoolSteps(draws, group))
    b.append(ctes.mkString(",\n"))
    b.append(s"\nSELECT * FROM $last")
    b.toString
  }

  /** DuckDB twin of [[miPooledByGroup]]. `rowsSql` must produce the group
    * column plus __id, __xd (DECIMAL(18,2), null = missing) and __yd
    * (DECIMAL(18,2)); the y-null filter is applied here like the library
    * applies it. */
  def miPooledOracleSql(rowsSql: String, group: String, draws: Int,
                        firstOffset: Int = 2, spread: Double = 1.0): String = {
    require(draws >= 1 && firstOffset >= 1 && firstOffset + draws - 1 <= 8)
    val statsSql =
      s"SELECT $group, COUNT(__xd) AS __n_obs, CAST(SUM(__xd) AS DOUBLE) AS __ssx, " +
        s"CAST(SUM(__xd * __xd) AS DOUBLE) AS __ssxx FROM __rows GROUP BY $group"
    val qCols = (0 until draws)
      .map(d => s"${xqS(duckPctSql("__id", firstOffset + d), spread)} AS __xq_$d")
      .mkString(", ")
    val (ctes, last) = renderSql("__q", "__mi", group, miAggStep(draws) +: miTailSteps(draws, group))
    (s"WITH __rows0 AS (\n$rowsSql),\n" +
      "__rows AS (SELECT * FROM __rows0 WHERE __yd IS NOT NULL),\n" +
      s"__stats0 AS ($statsSql),\n" +
      s"__stats AS (SELECT *, $meanS AS __mean FROM __stats0),\n" +
      s"__statsd AS (SELECT *, $sdS AS __sd FROM __stats),\n" +
      s"__joined AS (SELECT r.*, s.__n_obs, s.__mean, s.__sd FROM __rows r " +
      s"JOIN __statsd s USING ($group)),\n" +
      s"__q AS (SELECT *, $qCols FROM __joined),\n" +
      ctes.mkString(",\n") +
      s"\nSELECT * FROM $last")
  }
}
