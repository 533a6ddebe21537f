package graft

import org.apache.spark.sql.functions._

/** Pins the crosstab-dependence / outlier / concentration statistics and
  * the SCD2 dimension build: chi-square and MI on the textbook 2×2 table
  * (expected values derived from the closed formulas in plain Scala — a
  * separate code path from the Catalyst expressions), z-score exclusion
  * rules, Gini extremes, RFM tiling exhaustiveness, change-feed collapse,
  * and bigram PMI counts.
  */
class StatsSpec extends SparkSpec {
  import spark.implicits._

  private def q6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  test("valueNtilesDist reproduces the window NTILE exactly, incl. n < k and uneven buckets") {
    // group a: 7 rows into 3 tiles -> sizes 3,2,2; group b: 2 rows into
    // 3 tiles (n < k) -> one row per tile, third tile empty
    val df = (1 to 7).map(i => ("a", i * 10.0, i.toLong)).toDF("g", "v", "id")
      .union(Seq(("b", 5.0, 8L), ("b", 4.0, 9L)).toDF("g", "v", "id"))
    val got = graft.analysis.Stats
      .valueNtilesDist(df, col("g"), col("v"), col("id"), 3)
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got(("a", 1)) == ((3L, 10.0, 30.0)))
    assert(got(("a", 2)) == ((2L, 40.0, 50.0)))
    assert(got(("a", 3)) == ((2L, 60.0, 70.0)))
    assert(got(("b", 1)) == ((1L, 4.0, 4.0)))
    assert(got(("b", 2)) == ((1L, 5.0, 5.0)))
    assert(got.size == 5)
  }

  // the kappa suite's 2×2: cells yes/yes=20, yes/no=5, no/yes=10, no/no=15
  private def crosstab =
    (Seq.fill(20)(("yes", "yes")) ++ Seq.fill(5)(("yes", "no")) ++
      Seq.fill(10)(("no", "yes")) ++ Seq.fill(15)(("no", "no")))
      .toDF("a", "b").repartition(7)

  test("chiSquareIndependence: textbook 2x2, dof and Cramer's V") {
    val out = graft.analysis.Stats.chiSquareIndependence(crosstab, col("a"), col("b"))
      .collect().head
    assert(out.getLong(0) === 50 && out.getLong(1) === 2 && out.getLong(2) === 2)
    assert(out.getLong(3) === 1) // dof
    // terms from the closed formula, each q6-rounded before the sum
    val expected = Seq((20.0, 15.0), (5.0, 10.0), (10.0, 15.0), (15.0, 10.0))
      .map { case (o, e) => q6((o - e) * (o - e) / e) }.sum
    assert(math.abs(out.getDouble(4) - expected) < 1e-9)
    assert(out.getDouble(5) === q6(math.sqrt(expected / 50.0)))
  }

  test("chiSquareIndependence: constant column has dof 0, null cramers_v") {
    val df = Seq(("x", "p"), ("x", "q"), ("x", "p")).toDF("a", "b")
    val out = graft.analysis.Stats.chiSquareIndependence(df, col("a"), col("b"))
      .collect().head
    assert(out.getLong(3) === 0 && out.isNullAt(5))
  }

  test("mutualInformation: textbook 2x2 against the closed formulas") {
    val out = graft.analysis.Stats.mutualInformation(crosstab, col("a"), col("b"))
      .collect().head
    val n = 50.0
    val cells = Seq((20.0, 25.0, 30.0), (5.0, 25.0, 20.0),
      (10.0, 25.0, 30.0), (15.0, 25.0, 20.0))
    val mi = cells.map { case (c, ra, cb) => q6((c / n) * math.log((c * n) / (ra * cb))) }.sum
    def h(ms: Seq[Double]) = ms.map(m => q6(-((m / n) * math.log(m / n)))).sum
    assert(math.abs(out.getDouble(3) - mi) < 1e-9)
    assert(math.abs(out.getDouble(4) - h(Seq(25.0, 25.0))) < 1e-9)
    assert(math.abs(out.getDouble(5) - h(Seq(30.0, 20.0))) < 1e-9)
    assert(out.getDouble(6) === q6(out.getDouble(3) /
      math.sqrt(out.getDouble(4) * out.getDouble(5))))
    // independent columns: every cell matches expectation, mi = 0
    val ind = (for (x <- Seq("a", "b"); y <- Seq("p", "q", "r")) yield (x, y))
      .toDF("a", "b")
    val zero = graft.analysis.Stats.mutualInformation(ind, col("a"), col("b"))
      .collect().head
    assert(zero.getDouble(3) === 0.0)
  }

  test("zscoreOutliers: flags the far point, skips n<2 and zero-variance groups") {
    val df = (Seq.tabulate(20)(i => ("g", i.toLong, 10.0 + (i % 3))) ++
      Seq(("g", 99L, 1000.0)) ++      // the outlier
      Seq(("solo", 1L, 5.0)) ++       // n = 1: excluded
      Seq.fill(5)(("flat", 7L, 3.0))) // zero variance: excluded
      .toDF("g", "id", "v")
    val out = graft.analysis.Stats.zscoreOutliers(df, col("g"), col("id"), col("v"), 3.0)
      .collect()
    assert(out.length === 1)
    assert(out.head.getString(0) === "g" && out.head.getLong(1) === 99L)
    assert(out.head.getDouble(4) > 3.0)
  }

  test("giniConcentration: uniform -> 0, single-holder extreme, zero total -> null") {
    val df = (Seq.tabulate(4)(i => ("even", i.toLong, 5.0)) ++
      Seq(("top", 1L, 0.0), ("top", 2L, 0.0), ("top", 3L, 0.0), ("top", 4L, 10.0)) ++
      Seq(("zero", 1L, 0.0), ("zero", 2L, 0.0)))
      .toDF("g", "id", "v")
    val out = graft.analysis.Stats.giniConcentration(df, col("g"), col("id"), col("v"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("even").getDouble(3) === 0.0)
    assert(out("top").getDouble(3) === 0.75) // (2*4-5)*10 / (4*10)
    assert(out("zero").isNullAt(3))
  }

  test("rfmSegments: tiles are exhaustive and user counts conserve") {
    val now = java.sql.Timestamp.valueOf("2024-01-20 00:00:00")
    val rows = for {
      u <- 1L to 25L
      e <- 1 to 3
    } yield (u, new java.sql.Timestamp(now.getTime - u * 86400000L * e % 7),
      (u * 7 % 13).toDouble, if ((u + e) % 2 == 0) "purchase" else "view")
    val df = rows.toDF("user_id", "ts", "value", "event_type")
    val out = graft.analysis.Stats.rfmSegments(df, col("user_id"), col("ts"),
      col("value"), col("event_type") === "purchase").collect()
    assert(out.map(_.getLong(3)).sum === 25)
    assert(out.forall { r =>
      (1 to 3).forall(i => r.getInt(i - 1) >= 1 && r.getInt(i - 1) <= 5)
    })
  }

  test("rfmSegments: degenerate inputs (empty corpus, single user)") {
    // the melted kernel's boundary algebra (per-partition min-id offsets,
    // axis-grouped totals) must be exact when most range partitions are
    // EMPTY and when n < k — not just on comfortable row counts
    val empty = Seq.empty[(Long, java.sql.Timestamp, Double, String)]
      .toDF("user_id", "ts", "value", "event_type")
    assert(graft.analysis.Stats.rfmSegments(empty, col("user_id"), col("ts"),
      col("value"), col("event_type") === "purchase").collect().isEmpty)

    val one = Seq((7L, java.sql.Timestamp.valueOf("2024-01-10 00:00:00"),
      12.5, "purchase")).toDF("user_id", "ts", "value", "event_type")
    val row = graft.analysis.Stats.rfmSegments(one, col("user_id"), col("ts"),
      col("value"), col("event_type") === "purchase").collect()
    assert(row.length === 1)
    // a lone user is rank 1 of n=1 on every axis -> tile 1 everywhere
    assert((0 to 2).forall(i => row(0).getInt(i) === 1))
    assert(row(0).getLong(3) === 1L)
    assert(row(0).getDouble(4) === 12.5)
  }

  test("scd2: collapses consecutive duplicates, intervals chain, one current per entity") {
    val df = Seq(
      (1L, "2024-01-01 00:00:00", "a", 1L),
      (1L, "2024-01-02 00:00:00", "a", 2L), // duplicate state: collapsed
      (1L, "2024-01-03 00:00:00", "b", 3L),
      (1L, "2024-01-04 00:00:00", "a", 4L), // back to a: NEW interval
      (2L, "2024-01-01 00:00:00", "x", 5L))
      .toDF("k", "ts", "st", "tie")
      .withColumn("ts", col("ts").cast("timestamp"))
    val out = graft.operators.Snapshots.scd2(df, col("k"), col("ts"), col("st"), col("tie"))
      .orderBy("entity_id", "version").collect()
    val e1 = out.filter(_.getLong(0) == 1L)
    assert(e1.map(_.getString(1)).toSeq === Seq("a", "b", "a"))
    assert(e1.map(_.getInt(4)).toSeq === Seq(1, 2, 3))
    // intervals chain: each valid_to equals the next valid_from
    assert(e1.init.zip(e1.tail).forall { case (cur, nxt) =>
      cur.getTimestamp(3) == nxt.getTimestamp(2) })
    assert(out.count(_.getBoolean(5)) === 2) // one open interval per entity
    assert(e1.last.isNullAt(3) && e1.last.getBoolean(5))
  }

  test("markovTransitions: adjacency counts per entity, rows normalize to 1") {
    val df = Seq(
      (1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "a"), (1L, 4L, "b"),
      (2L, 1L, "a"), (2L, 2L, "b"), (2L, 3L, "c"))
      .toDF("u", "t", "s")
    val out = graft.analysis.Stats.markovTransitions(df, col("u"), col("t"),
      col("t"), col("s")).collect()
    val m = out.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m(("a", "b")) === 3L && m(("b", "a")) === 1L && m(("b", "c")) === 1L)
    assert(m.get(("b", "a")).isDefined && !m.contains(("a", "c"))) // no cross-user bleed
    // rows normalize
    out.groupBy(_.getString(0)).foreach { case (_, rows) =>
      assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-5)
    }
  }

  test("kaplanMeier: textbook curve, censoring consumes risk, d=n pins 0") {
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-${day + 1}%02d 12:00:00")
    val df = Seq(
      (1L, ts(0)), (1L, ts(2)),   // lifetime 2, churned
      (2L, ts(0)), (2L, ts(2)),   // lifetime 2, churned
      (3L, ts(1)), (3L, ts(5)),   // lifetime 4, churned
      (4L, ts(0)), (4L, ts(29)))  // lifetime 29, alive at horizon (censored)
      .toDF("u", "ts")
    val out = graft.analysis.Stats.kaplanMeier(df, col("u"), col("ts"), 5)
      .orderBy("t_days").collect()
    assert(out.map(_.getInt(0)).toSeq === Seq(2, 4))
    val s2 = out(0); val s4 = out(1)
    assert(s2.getLong(1) === 4 && s2.getLong(2) === 2) // risk 4, events 2
    assert(s4.getLong(1) === 2 && s4.getLong(2) === 1) // risk 2 (censored still at risk)
    assert(s2.getDouble(5) === 0.5)   // S(2) = 1 - 2/4
    assert(s4.getDouble(5) === 0.25)  // S(4) = 0.5 * (1 - 1/2)
    // the longest lifetime belongs to a churner (the horizon user lives a
    // SHORT lifetime late in the window): d = n at the last event time,
    // survival pins to exactly 0
    val all = Seq(
      (1L, ts(0)), (1L, ts(2)),    // lifetime 2, churned
      (2L, ts(0)), (2L, ts(20)),   // lifetime 20, churned (20 < 29-5)
      (3L, ts(25)), (3L, ts(29)))  // lifetime 4, censored horizon user
      .toDF("u", "ts")
    val z = graft.analysis.Stats.kaplanMeier(all, col("u"), col("ts"), 5)
      .orderBy("t_days").collect()
    assert(z.map(_.getInt(0)).toSeq === Seq(2, 20))
    val last = z.last
    assert(last.getLong(1) === 1 && last.getLong(2) === 1) // risk 1, events 1
    assert(last.getDouble(5) === 0.0 && last.isNullAt(4))
  }

  test("abTestZscore: pooled two-proportion arithmetic, degenerate guard") {
    val rows =
      (1L to 10L).map(u => (u * 2, u <= 4)) ++     // arm A (even ids): 4/10
        (1L to 10L).map(u => (u * 2 + 1, u <= 2))  // arm B (odd ids): 2/10
    val df = rows.toDF("u", "conv")
    val out = graft.analysis.Stats.abTestZscore(df, col("u"),
      col("u") % 2 === 0, col("conv")).collect().head
    assert(out.getLong(0) === 10 && out.getLong(1) === 4)
    assert(out.getLong(2) === 10 && out.getLong(3) === 2)
    assert(out.getDouble(4) === 0.4 && out.getDouble(5) === 0.2)
    val se = math.sqrt(0.3 * 0.7 * (0.1 + 0.1))
    assert(out.getDouble(6) === q6((0.4 - 0.2) / se))
    // all-convert pool degenerates: z is null
    val degen = graft.analysis.Stats.abTestZscore(
      Seq((2L, true), (3L, true)).toDF("u", "conv"),
      col("u"), col("u") % 2 === 0, col("conv")).collect().head
    assert(degen.isNullAt(6))
  }

  test("benfordTest: string-exact digits, absent digits still charge chi2") {
    // all values lead with digit 1 (including a sub-1 value whose 6dp
    // scaling is what defines its leading digit) and one digit-9 value
    val df = (Seq.fill(8)(10.0) ++ Seq(12.3, 0.00015, 199.0, 9.5)).toDF("v")
    val out = graft.analysis.Stats.benfordTest(df, col("v"))
      .orderBy("digit").collect()
    assert(out.map(_.getInt(0)).toSeq === (1 to 9))
    val n1 = out.head
    assert(n1.getLong(1) === 11L) // 8x10.0, 12.3, 150 (scaled), 199.0
    assert(out(8).getLong(1) === 1L && out(1).getLong(1) === 0L)
    // chi2 from the closed formula, absent digits charging n*p(d)
    val n = 12.0
    def p(d: Int) = math.log(1.0 + 1.0 / d) / math.log(10.0)
    val expected = (1 to 9).map { d =>
      val o = if (d == 1) 11.0 else if (d == 9) 1.0 else 0.0
      val e = n * p(d)
      q6((o - e) * (o - e) / e)
    }.sum
    assert(math.abs(n1.getDouble(4) - expected) < 1e-9)
  }

  test("benfordTest survives NaN and Infinity rows (ANSI cast guard)") {
    // NaN compares greater than 0.0 in Spark's ordering and renders with
    // no [1-9] character; an unguarded CAST('' AS INT) under ANSI would
    // crash the job. Dirty rows must DROP (like the oracle's NULLIF),
    // Infinity keeps its leading mantissa-free rendering out too.
    val df = Seq(10.0, 20.0, Double.NaN, Double.PositiveInfinity, 3.0).toDF("v")
    val out = graft.analysis.Stats.benfordTest(df, col("v"))
      .orderBy("digit").collect()
    assert(out.map(_.getInt(0)).toSeq === (1 to 9))
    // only the three finite values count: 10, 20, 3
    assert(out.map(_.getLong(1)).sum === 3L)
    assert(out(0).getLong(1) === 1L && out(1).getLong(1) === 1L
      && out(2).getLong(1) === 1L)
  }

  test("ewma: folds the recursion in order, resets per entity, rejects inexact alpha") {
    def ts(i: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:0$i%01d:00")
    val df = Seq(
      (1L, ts(1), 1L, 8.0), (1L, ts(2), 2L, 4.0), (1L, ts(3), 3L, 4.0),
      (2L, ts(1), 4L, 100.0)) // second entity must seed fresh, not inherit
      .toDF("u", "ts", "id", "v")
    val out = graft.operators.Ewma.smooth(df.repartition(5), col("u"), col("ts"),
      col("id"), col("v"), 0.25).orderBy("user_id", "event_id").collect()
    // s1=8; s2=.25*4+.75*8=7; s3=.25*4+.75*7=6.25
    assert(out.map(_.getDouble(3)).toSeq === Seq(8.0, 7.0, 6.25, 100.0))
    intercept[IllegalArgumentException] {
      graft.operators.Ewma.smooth(df, col("u"), col("ts"), col("id"), col("v"), 0.3)
    }
  }

  test("pitFeatures: post-cutoff rows never leak into features; label from horizon only") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val cutoff = "2024-01-20 00:00:00"
    val df = Seq(
      // u1: 2 pre rows (values 10, 20), a purchase INSIDE the horizon,
      // and a post-horizon monster value that must NOT touch any feature
      (1L, ts("2024-01-10 00:00:00"), 10.0, "click"),
      (1L, ts("2024-01-18 00:00:00"), 20.0, "view"),
      (1L, ts("2024-01-22 00:00:00"), 999.0, "purchase"),
      (1L, ts("2024-02-15 00:00:00"), 99999.0, "click"),
      // u2: pre history, purchase only AFTER the horizon -> label false
      (2L, ts("2024-01-05 00:00:00"), 5.0, "click"),
      (2L, ts("2024-01-30 00:00:00"), 5.0, "purchase"),
      // u3: no pre-cutoff history -> excluded entirely
      (3L, ts("2024-01-25 00:00:00"), 7.0, "purchase"))
      .toDF("u", "ts", "v", "et").repartition(3)
    val out = graft.analysis.Stats.pitFeatures(df, col("u"), col("ts"),
        col("v"), col("et"), col("et") === "purchase", cutoff, 7)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(!out.contains(3L))
    val u1 = out(1L)
    assert(u1.getAs[Long]("n_events") === 2)
    assert(u1.getAs[Double]("mean_value") === 15.0) // post rows excluded
    assert(u1.getAs[Long]("days_since_last") === 2)
    assert(u1.getAs[Long]("n_types") === 2)
    assert(u1.getAs[Boolean]("label"))
    assert(!out(2L).getAs[Boolean]("label")) // purchase after horizon
  }

  test("intervalCoverage: overlaps merge, touching merges, gaps split islands") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // windows of 600s: 10:00+10:05 overlap (merge), 10:15 touches 10:05's
    // end (merge -> one island 10:00-10:25 = 1500s), 12:00 is a new island
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L), (1L, ts("2024-01-01 10:05:00"), 2L),
      (1L, ts("2024-01-01 10:15:00"), 3L), (1L, ts("2024-01-01 12:00:00"), 4L),
      (2L, ts("2024-01-01 09:00:00"), 5L))
      .toDF("u", "ts", "id").repartition(3)
    val out = graft.analysis.Stats.intervalCoverage(df, col("u"), col("ts"),
      col("id"), 600L).collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_islands") === 2)
    assert(out(1L).getAs[Long]("covered_sec") === 1500 + 600)
    assert(out(2L).getAs[Long]("n_islands") === 1)
    assert(out(2L).getAs[Long]("covered_sec") === 600)
  }

  test("weightedMedian: mass beats membership; exact half-weight tie picks lower") {
    // three short docs (w=1 each) and one huge doc (w=10): the median
    // document is short, but the median unit of MASS lives in the big one
    val df = Seq(("s", 10L, 1L), ("s", 11L, 1L), ("s", 12L, 1L),
      ("s", 1000L, 10L),
      // exact tie: weights 5 at v=1, 5 at v=9 -> 2*cum(1)=10 >= 10, lower wins
      ("t", 1L, 5L), ("t", 9L, 5L)).toDF("g", "v", "w").repartition(3)
    val out = graft.analysis.Stats.weightedMedian(df, col("g"), col("v"), col("w"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("s") === ((13L, 1000L)))
    assert(out("t") === ((10L, 1L)))
  }

  test("bootstrapCiMean: CI brackets the mean, constant data collapses the interval") {
    val df = (1 to 500).map(i => (i.toLong, (i % 100).toDouble)).toDF("id", "v")
      .repartition(4)
    val r = graft.analysis.Stats.bootstrapCiMean(df, col("id"), col("v"))
      .collect().head
    assert(r.getAs[Long]("n") === 500)
    assert(r.getAs[Double]("ci_lo") <= r.getAs[Double]("mean"))
    assert(r.getAs[Double]("mean") <= r.getAs[Double]("ci_hi"))
    assert(r.getAs[Double]("ci_lo") < r.getAs[Double]("ci_hi")) // real spread
    val const = (1 to 100).map(i => (i.toLong, 7.0)).toDF("id", "v")
    val rc = graft.analysis.Stats.bootstrapCiMean(const, col("id"), col("v"))
      .collect().head
    // every replicate of a constant sample has the same mean
    assert(rc.getAs[Double]("ci_lo") === 7.0 && rc.getAs[Double]("ci_hi") === 7.0)
  }

  test("centroidShift: symmetric two-cluster corpus, zero for a global-shaped group") {
    val df = Seq(("a", Seq(1.0, 0.0)), ("a", Seq(1.0, 0.0)),
      ("b", Seq(0.0, 1.0)), ("b", Seq(0.0, 1.0)),
      ("mid", Seq(0.5, 0.5)))
      .toDF("g", "v").repartition(3)
    val out = graft.analysis.Stats.centroidShift(df, col("g"), col("v"))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    // global centroid = (0.5, 0.5); a/b sit sqrt(0.5) away, mid exactly on it
    assert(out("mid") === 0.0)
    assert(out("a") === q6(math.sqrt(0.5)) && out("b") === q6(math.sqrt(0.5)))
  }

  test("featureScreen: per-feature masks, near-zero flag, perfect target corr") {
    val df = Seq(
      (Some(1.0), Some(7.0), 2.0), (Some(2.0), Some(7.0), 4.0),
      (Some(3.0), None, 6.0), (None, Some(7.0), 8.0))
      .toDF("good", "flat", "t").repartition(3)
    val out = graft.analysis.Stats.featureScreen(df, Seq("good", "flat"), "t")
      .collect().map(r => r.getString(0) -> r).toMap
    val g = out("good")
    assert(g.getAs[Long]("n") === 3 && g.getAs[Long]("n_missing") === 1)
    assert(g.getAs[Double]("missing_frac") === 0.25)
    assert(g.getAs[Double]("target_corr") === 1.0) // t = 2*good on its pairs
    assert(!g.getAs[Boolean]("near_zero"))
    val f = out("flat")
    assert(f.getAs[Long]("n") === 3) // its OWN complete pairs, not listwise
    assert(f.getAs[Double]("variance") === 0.0 && f.getAs[Boolean]("near_zero"))
    assert(f.isNullAt(f.fieldIndex("target_corr"))) // zero variance side
  }

  test("acfHourly: a strict 2-hour alternation scores acf(1) < 0 < acf(2)") {
    // stream "alt": hourly counts 10,0,10,0,... over 48 hours — perfect
    // period-2 seasonality: lag-1 strongly negative, lag-2 strongly positive
    def ts(h: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(h * 3600L))
    val rows = (0 until 48 by 2).flatMap(h => Seq.fill(10)(("alt", ts(h))))
    val df = rows.toDF("s", "ts").repartition(3)
    val out = graft.analysis.Stats.acfHourly(df, col("ts"), col("s"), Seq(1, 2))
      .collect().map(r => r.getInt(1) -> r.getDouble(2)).toMap
    assert(out(1) < -0.9 && out(2) > 0.9)
  }

  test("targetEncodeLoo: excludes self, singleton falls back to global mean") {
    // three partitions, made narrowly: targetEncodeLoo floors its input's
    // parallelism (CpuFloor), which takes narrow frames only
    val df = spark.sparkContext.parallelize(Seq((1L, "a", 1.0), (2L, "a", 2.0),
      (3L, "a", 3.0), (4L, "b", 10.0)), 3).toDF("id", "cat", "y")
    val out = graft.analysis.Stats.targetEncodeLoo(df, col("id"), col("cat"),
      col("y")).collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(1L) === 2.5)  // (2+3)/2, own value excluded
    assert(out(2L) === 2.0)  // (1+3)/2
    assert(out(3L) === 1.5)  // (1+2)/2
    assert(out(4L) === 4.0)  // singleton: global mean (1+2+3+10)/4
  }

  test("burstiness: metronomic entity flags regular, bursty one does not") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // user 1: exact 60s metronome (CV = 0). user 2: wildly varying gaps.
    // user 3: only 3 gaps -> below the minGaps floor, no row.
    val rows =
      (0 to 6).map(i => (1L, ts(f"2024-01-01 00:${i}%02d:00"), i.toLong)) ++
      Seq(0, 1, 10, 11, 300, 301, 1000).zipWithIndex.map { case (m, i) =>
        (2L, java.sql.Timestamp.from(
          java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(m * 60L)),
          (100 + i).toLong) } ++
      (0 to 3).map(i => (3L, ts(f"2024-01-01 02:${i}%02d:00"), (200 + i).toLong))
    val df = rows.toDF("u", "ts", "id").repartition(3)
    val out = graft.analysis.Stats.burstiness(df, col("u"), col("ts"), col("id"),
      5, 0.1).collect().map(r => r.getLong(0) -> r).toMap
    assert(!out.contains(3L))
    assert(out(1L).getAs[Long]("n_gaps") === 6)
    assert(out(1L).getAs[Double]("cv_gap") === 0.0)
    assert(out(1L).getAs[Boolean]("regular"))
    assert(out(1L).getAs[Double]("mean_gap_sec") === 60.0)
    assert(out(2L).getAs[Double]("cv_gap") > 0.5 && !out(2L).getAs[Boolean]("regular"))
  }

  test("psiDrift: unchanged distribution scores ~0, a hard shift fires") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // first half and second half draw the same 1..20 values -> PSI 0
    val stable = ((1 to 20).map(i => (ts("2024-01-01 00:00:00"), i.toDouble)) ++
      (1 to 20).map(i => (ts("2024-01-02 00:00:00"), i.toDouble)))
      .toDF("ts", "v").repartition(4)
    val r0 = graft.analysis.Stats.psiDrift(stable, col("ts"), col("v"), 10)
      .collect().head
    assert(r0.getAs[Long]("n_base") === 20 && r0.getAs[Long]("n_cur") === 20)
    assert(r0.getAs[Double]("psi") === 0.0 && !r0.getAs[Boolean]("shifted"))
    // second half jumps two orders of magnitude -> every row lands in the
    // top bucket, PSI far above 0.2
    val shifted = ((1 to 20).map(i => (ts("2024-01-01 00:00:00"), i.toDouble)) ++
      (1 to 20).map(i => (ts("2024-01-02 00:00:00"), 1000.0 + i)))
      .toDF("ts", "v").repartition(4)
    val r1 = graft.analysis.Stats.psiDrift(shifted, col("ts"), col("v"), 10)
      .collect().head
    assert(r1.getAs[Boolean]("shifted") && r1.getAs[Double]("psi") > 1.0)
    // all rows in one instant: baseline empty -> no row, not NaN
    val degenerate = Seq((ts("2024-01-01 00:00:00"), 1.0)).toDF("ts", "v")
    assert(graft.analysis.Stats.psiDrift(degenerate, col("ts"), col("v"), 10)
      .count() === 0)
  }

  test("holtLinear: tracks a pure linear trend exactly after warm-up") {
    def ts(i: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:0$i%01d:00")
    // x = 10, 12, 14 with alpha = 0.5, beta = 0.5:
    // l1=10, b1=0; l2=.5*12+.5*10=11, b2=.5*(11-10)+.5*0=0.5, f2=11.5
    // l3=.5*14+.5*11.5=12.75, b3=.5*1.75+.25... recompute: .5*(12.75-11)+.5*.5=1.125
    val df = Seq((1L, ts(1), 1L, 10.0), (1L, ts(2), 2L, 12.0),
      (1L, ts(3), 3L, 14.0), (2L, ts(1), 4L, 5.0))
      .toDF("u", "ts", "id", "v")
    val out = graft.operators.Ewma.holtLinear(df.repartition(4), col("u"),
      col("ts"), col("id"), col("v"), 0.5, 0.5)
      .orderBy("user_id", "event_id").collect()
    assert(out.map(_.getDouble(3)).toSeq === Seq(10.0, 11.0, 12.75, 5.0))
    assert(out.map(_.getDouble(4)).toSeq === Seq(0.0, 0.5, 1.125, 0.0))
    assert(out.map(_.getDouble(5)).toSeq === Seq(10.0, 11.5, 13.875, 5.0))
    intercept[IllegalArgumentException] {
      graft.operators.Ewma.holtLinear(df, col("u"), col("ts"), col("id"),
        col("v"), 0.5, 0.3)
    }
  }

  test("cusum: accumulates sustained shift, clamps at zero, alarms on raw stat") {
    def ts(i: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:0$i%01d:00")
    // k=10, h=5: values 12,12,8,20 -> s = 2, 4, max(0,2)=2, 12 (alarm)
    val df = Seq(
      (1L, ts(1), 1L, 12.0), (1L, ts(2), 2L, 12.0),
      (1L, ts(3), 3L, 8.0), (1L, ts(4), 4L, 20.0),
      (2L, ts(1), 5L, 9.0)) // below target: stays clamped at 0, no alarm
      .toDF("u", "ts", "id", "v")
    val out = graft.operators.Ewma.cusum(df.repartition(3), col("u"), col("ts"),
      col("id"), col("v"), 10.0, 5.0).orderBy("user_id", "event_id").collect()
    assert(out.map(_.getDouble(3)).toSeq === Seq(2.0, 4.0, 2.0, 12.0, 0.0))
    assert(out.map(_.getBoolean(4)).toSeq === Seq(false, false, false, true, false))
  }

  test("madOutliers: robust to the outlier it hunts, zero-MAD groups emit nothing") {
    // mean/std would be dragged by the 1000.0; the median isn't
    val df = (Seq.tabulate(20)(i => ("g", i.toLong, 10.0 + (i % 3))) ++
      Seq(("g", 99L, 1000.0)) ++
      Seq.fill(6)(("flat", 7L, 3.0)))   // MAD = 0: excluded
      .toDF("g", "id", "v")
    val out = graft.analysis.Stats.madOutliers(df, col("g"), col("id"), col("v"), 3.5)
      .collect()
    assert(out.length === 1 && out.head.getLong(1) === 99L)
    assert(out.head.getDouble(3) === 11.0) // group median
    assert(out.head.getDouble(4) > 3.5)
  }

  test("conversionLag: hour buckets, cap, non-/reverse-converters excluded") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00"), "signup"),
      (1L, ts("2024-01-01 11:30:00"), "purchase"), // 1.5h -> bucket 1
      (2L, ts("2024-01-01 10:00:00"), "signup"),
      (2L, ts("2024-01-20 10:00:00"), "purchase"), // 456h -> capped at 168
      (3L, ts("2024-01-01 10:00:00"), "signup"),   // never converts
      (4L, ts("2024-01-01 10:00:00"), "purchase"), // purchase BEFORE signup
      (4L, ts("2024-01-02 10:00:00"), "signup"))
      .toDF("u", "ts", "et")
    val out = graft.analysis.Stats.conversionLag(df, col("u"), col("ts"),
      col("et") === "signup", col("et") === "purchase", 168)
      .orderBy("lag_hours").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 1L), (168L, 1L)))
  }

  test("trafficAnomalies: spike hour flagged, constant stream excluded") {
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val steady = for (h <- 0 until 12; m <- Seq(5, 25)) yield (ts(h, m), "a")
    val spike = (1 to 40).map(i => (ts(6, i), "a"))      // hour 6 explodes
    val flat = for (h <- 0 until 12) yield (ts(h, 10), "b") // constant: std 0
    val df = (steady ++ spike ++ flat).toDF("ts", "s")
    val out = graft.analysis.Stats.trafficAnomalies(df, col("ts"), col("s"), 3.0)
      .collect()
    assert(out.length === 1)
    assert(out.head.getString(0) === "a" && out.head.getLong(2) === 42L)
  }

  test("abTestPower: closed-formula n, zero observed effect yields null") {
    val rows =
      (1L to 10L).map(u => (u * 2, u <= 4)) ++ (1L to 10L).map(u => (u * 2 + 1, u <= 2))
    val out = graft.analysis.Stats.abTestPower(rows.toDF("u", "conv"), col("u"),
      col("u") % 2 === 0, col("conv")).collect().head
    val (p1, p2, pbar) = (0.4, 0.2, 0.3)
    val num = 1.959964 * math.sqrt(2.0 * pbar * (1.0 - pbar)) +
      0.841621 * math.sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2))
    assert(out.getLong(5) === math.ceil((num * num) / ((p1 - p2) * (p1 - p2))).toLong)
    val same = graft.analysis.Stats.abTestPower(
      Seq((2L, true), (3L, true), (4L, false), (5L, false)).toDF("u", "conv"),
      col("u"), col("u") % 2 === 0, col("conv")).collect().head
    assert(same.isNullAt(5)) // identical rates: nothing to power for
  }

  test("wilsonInterval: bounded in [0,1], wider at small n, exact-long fold") {
    val df = (Seq.fill(3)(("small", true)) ++ Seq.fill(4)(("small", false)) ++
      Seq.fill(300)(("big", true)) ++ Seq.fill(400)(("big", false)))
      .toDF("g", "y")
    val out = graft.analysis.Stats.wilsonInterval(df, col("g"), col("y"))
      .collect().map(r => r.getString(0) -> r).toMap
    val (s, b) = (out("small"), out("big"))
    // same point estimate, very different intervals
    assert(s.getDouble(3) === b.getDouble(3))
    assert(s.getDouble(4) >= 0.0 && s.getDouble(5) <= 1.0)
    assert((s.getDouble(5) - s.getDouble(4)) > 3 * (b.getDouble(5) - b.getDouble(4)))
    assert(s.getDouble(4) < s.getDouble(3) && s.getDouble(3) < s.getDouble(5))
  }

  test("topMovers: surge ranks first, shares are per-half ratios") {
    def ts(d: Int, h: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00")
    // halves: a 10->10, b 10->30 (the surge), c 20->20; share deltas
    // -0.0833 / +0.25 / -0.1667 — b's move dominates
    val rows = (1 to 10).map(i => (ts(1, i), "a")) ++ (1 to 10).map(i => (ts(1, i), "b")) ++
      (1 to 20).map(i => (ts(1, i % 23), "c")) ++
      (1 to 10).map(i => (ts(9, i), "a")) ++ (1 to 30).map(i => (ts(9, i % 23), "b")) ++
      (1 to 20).map(i => (ts(9, i % 23), "c"))
    val out = graft.analysis.Stats.topMovers(rows.toDF("ts", "s"), col("ts"),
      col("s"), 5).collect()
    assert(out.head.getString(0) === "b" && out.head.getDouble(5) > 0)
    assert(out.length === 3)
    assert(math.abs(out.map(_.getDouble(5)).sum) < 1e-9) // shares are zero-sum
  }

  test("stickinessDaily: trailing window, gap day reports 0, late window decay") {
    def d(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 10:00:00")
    // users 1,2 on day 1; nobody day 2; user 1 on day 3
    val df = Seq((1L, d(1)), (2L, d(1)), (1L, d(3))).toDF("u", "ts")
    val sticky = graft.analysis.Stats.stickinessDaily(df, col("u"), col("ts"), 7)
    // the day spine is the preserved side of both left joins: Spark cannot
    // build it, so a hint there is dropped (and logged) on every call
    val joins = sticky.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.size === 2 && joins.forall(_.hint.leftHint.isEmpty), joins.map(_.hint))
    val out = sticky.orderBy("day").collect()
    assert(out.length === 3)
    assert(out(0).getLong(1) === 2 && out(0).getLong(2) === 2) // day 1: dau 2, wau 2
    assert(out(1).getLong(1) === 0 && out(1).getLong(2) === 2) // gap day: 0/2
    assert(out(1).getDouble(3) === 0.0)
    assert(out(2).getLong(1) === 1 && out(2).getLong(2) === 2) // day 3: 1 / {1,2}
    assert(out(2).getDouble(3) === 0.5)
  }

  test("joinCardinality: exact output rows, hot key first, decimal-safe") {
    val l = (Seq.fill(100)(1L) ++ Seq.fill(2)(2L) ++ Seq(3L)).toDF("k")
    val r = (Seq.fill(50)(1L) ++ Seq.fill(3)(2L) ++ Seq(4L)).toDF("k")
    val out = graft.analysis.Stats.joinCardinality(l, col("k"), r, col("k"), 5)
      .collect()
    assert(out.map(_.getString(0)).toSeq === Seq("1", "2")) // key 3/4 never match
    assert(out.head.getLong(3) === 5000L && out(1).getLong(3) === 6L)
    assert(out.head.getLong(4) === 5006L)
    // the actual join agrees with the prediction
    assert(l.join(r, Seq("k")).count() === 5006L)
  }

  test("snapshotDiff: presence flags classify; null values are not absence") {
    val old = Seq((1L, Some("a")), (2L, Some("b")), (3L, None), (4L, Some("d")))
      .toDF("k", "v")
    val neu = Seq((1L, Some("a")), (2L, Some("x")), (3L, Option.empty[String]),
      (5L, Some("e"))).toDF("k", "v")
    val out = graft.analysis.Stats.snapshotDiff(old, col("k"), col("v"),
      neu, col("k"), col("v")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("unchanged" -> 2L, // key 1, and key 3 (null == null)
      "changed" -> 1L, "removed" -> 1L, "added" -> 1L))
  }

  test("columnProfile: nulls and exact distincts per column, one scan") {
    val df = Seq((1L, Some("a")), (2L, Some("a")), (3L, None), (4L, Some("b")))
      .toDF("id", "v")
    val out = graft.analysis.Stats.columnProfile(df, Seq("id", "v"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("id").getLong(1) === 4 && out("id").getLong(2) === 0 &&
      out("id").getLong(4) === 4)
    assert(out("v").getLong(2) === 1 && out("v").getDouble(3) === 0.25 &&
      out("v").getLong(4) === 2) // distinct excludes null
    val plan = graft.analysis.Stats.columnProfile(df, Seq("id", "v"))
      .queryExecution.executedPlan.toString
    assert("LocalTableScan|Scan".r.findAllIn(plan).size <= 2, plan)
  }

  test("jaro_winkler is callable from SQL (extension-registered)") {
    val r = spark.sql("SELECT jaro_winkler('martha', 'marhta') AS jw").collect().head
    assert(math.abs(r.getDouble(0) - 0.9611111111111111) < 1e-12)
  }

  test("bigramPmi: adjacent pairs only, minCount cut, collocation ranks first") {
    // "new york" always adjacent; "data" and "york" never adjacent
    val docs = (Seq.fill(6)("new york is big") ++ Seq.fill(6)("data is big") ++
      Seq.fill(3)("big new data")).toDF("text")
    val out = graft.text.Vocab.bigramPmi(docs, col("text"), 5L, 10).collect()
    val pairs = out.map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.contains(("new", "york")))
    assert(!pairs.contains(("data", "york")))
    assert(out.forall(_.getLong(2) >= 5L))
    // the perfect collocation outranks the generic "is big" pair
    val byPair = out.map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(byPair(("new", "york")) > byPair(("is", "big")))
  }

  test("corrPairs: perfect correlation, anti-correlation, zero-variance null") {
    val df = Seq((1.0, 2.0, 5.0, 7.0), (2.0, 4.0, 4.0, 7.0),
      (3.0, 6.0, 3.0, 7.0), (4.0, 8.0, 2.0, 7.0))
      .toDF("x", "y2", "yneg", "konst").repartition(3)
    val out = graft.analysis.Stats.corrPairs(df, Seq("x", "y2", "yneg", "konst"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(out.size === 6)
    assert(out(("x", "y2")) === Some(1.0))      // y = 2x
    assert(out(("x", "yneg")) === Some(-1.0))   // y = 6 - x
    assert(out(("konst", "x")) === None)        // zero variance side
    assert(out(("y2", "yneg")) === Some(-1.0))
    // name-ordered pair labels: col_a < col_b always
    assert(out.keys.forall { case (a, b) => a < b })
  }

  test("corrPairs: listwise-complete n shared across pairs") {
    val df = Seq((Some(1.0), Some(1.0), Some(9.0)), (Some(2.0), None, Some(8.0)),
      (Some(3.0), Some(3.0), Some(7.0)), (Some(4.0), Some(5.0), Some(1.0)))
      .toDF("a", "b", "c")
    val rows = graft.analysis.Stats.corrPairs(df, Seq("a", "b", "c")).collect()
    assert(rows.forall(_.getLong(2) === 3L)) // the None row drops everywhere
  }

  test("ksDrift: identical samples give D=0; disjoint samples give D=1") {
    val same = (1 to 40).flatMap(i => Seq((i.toDouble, false), (i.toDouble, true)))
      .toDF("v", "b").repartition(5)
    val r0 = graft.analysis.Stats.ksDrift(same, col("v"), col("b")).collect().head
    assert(r0.getAs[Long]("n_a") === 40 && r0.getAs[Long]("n_b") === 40)
    assert(r0.getAs[Double]("d_stat") === 0.0 && !r0.getAs[Boolean]("drift"))
    val apart = ((1 to 30).map(i => (i.toDouble, false)) ++
      (31 to 60).map(i => (i.toDouble, true))).toDF("v", "b").repartition(5)
    val r1 = graft.analysis.Stats.ksDrift(apart, col("v"), col("b")).collect().head
    assert(r1.getAs[Double]("d_stat") === 1.0 && r1.getAs[Boolean]("drift"))
  }

  test("ksDrift: known small-sample D and empty-side guard") {
    // F1 over {1,2,3,4}, F2 over {3,4,5,6}: max gap is 1/2 at v=2
    val df = (Seq(1.0, 2.0, 3.0, 4.0).map((_, false)) ++
      Seq(3.0, 4.0, 5.0, 6.0).map((_, true))).toDF("v", "b").repartition(3)
    val r = graft.analysis.Stats.ksDrift(df, col("v"), col("b")).collect().head
    assert(r.getAs[Double]("d_stat") === 0.5)
    val oneSided = Seq((1.0, false), (2.0, false)).toDF("v", "b")
    assert(graft.analysis.Stats.ksDrift(oneSided, col("v"), col("b")).count() === 0)
  }
}
