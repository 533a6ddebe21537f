package graft

import org.apache.spark.sql.functions._

import graft.analysis.Glm

/** Pins the round-16 size dispatch in the IRLS family: the driver-side
  * local fit (cap-bounded collect, all K iterations on the driver) must be
  * BIT-IDENTICAL to the distributed moment-pass loop — the same contract
  * DifferentialSpec pins for the graph/union-find dispatches. The loop is
  * forced explicitly with localRowCap = 0, so both regimes execute for
  * real; comparisons are exact (==), not tolerance-based, because the
  * local fit replays the identical IEEE expression tree.
  */
class GlmLocalFitSpec extends SparkSpec {
  import spark.implicits._

  private def hashed(seed: Int, i: Int): Double =
    (math.abs((i * 2654435761L + seed).toInt) % 1000) / 100.0

  private def rowsFor(seed: Int, n: Int): Seq[(String, Double, Double, Double)] =
    (0 until n).map { i =>
      val g = s"g${i % 3}"
      val x1 = hashed(seed, i)
      val x2 = (i % 7).toDouble
      val y = if ((x1 + x2 * 0.3 + (i % 5)) % 4 < 2) 1.0 else 0.0
      (g, x1, x2, y)
    }

  private def exactSame(a: org.apache.spark.sql.DataFrame,
                        b: org.apache.spark.sql.DataFrame): Unit = {
    assert(a.schema.map(f => (f.name, f.dataType)) ===
      b.schema.map(f => (f.name, f.dataType)))
    val ka = a.collect().map(_.toSeq).sortBy(_.head.toString)
    val kb = b.collect().map(_.toSeq).sortBy(_.head.toString)
    assert(ka.length === kb.length)
    ka.zip(kb).foreach { case (ra, rb) => assert(ra === rb) }
  }

  test("logit local fit == forced distributed loop, bit for bit") {
    // the NaN-x row: SQL FLOOR maps a NaN mean to 0 (a BIGINT round-trip),
    // and the local fit's rounding must do the same
    val df = (rowsFor(7, 400) :+ (("g1", Double.NaN, 2.0, 1.0))).toDF("g", "x1", "x2", "y")
    val local = Glm.logitByGroup(df, "g", Seq(col("x1"), col("x2")), col("y"),
      Seq("b0", "b1", "b2"))
    val looped = Glm.logitByGroup(df, "g", Seq(col("x1"), col("x2")), col("y"),
      Seq("b0", "b1", "b2"), localRowCap = 0)
    exactSame(local, looped)
  }

  test("huber local fit == forced distributed loop, bit for bit") {
    // fat tail: every 11th y is an outlier, so the robust weights are
    // genuinely non-trivial (mixed 1.0 and delta/|r| branches)
    val df = rowsFor(11, 400).map { case (g, x1, x2, y) =>
      (g, x1, x2, if (x2 == 3.0) y * 900.0 + 500.0 else y * 10.0 + x1)
    }.toDF("g", "x1", "x2", "y")
    val local = Glm.huberByGroup(df, "g", Seq(col("x1"), col("x2")), col("y"),
      Seq("b0", "b1", "b2"), delta = 25.0)
    val looped = Glm.huberByGroup(df, "g", Seq(col("x1"), col("x2")), col("y"),
      Seq("b0", "b1", "b2"), delta = 25.0, localRowCap = 0)
    exactSame(local, looped)
  }

  test("logit local fit drops incomplete rows exactly like the loop") {
    val df = rowsFor(3, 200).map { case (g, x1, x2, y) =>
      (g, if (x2 == 2.0) null else java.lang.Double.valueOf(x1), x2, y)
    }.toDF("g", "x1", "x2", "y")
    val local = Glm.logitByGroup(df, "g", Seq(col("x1"), col("x2")), col("y"),
      Seq("b0", "b1", "b2"))
    val looped = Glm.logitByGroup(df, "g", Seq(col("x1"), col("x2")), col("y"),
      Seq("b0", "b1", "b2"), localRowCap = 0)
    exactSame(local, looped)
  }

  test("mi-logit local fit == forced distributed loop, incl. dirty groups") {
    // g0/g1: healthy mixed missingness; g2: ALL x missing (null imputation
    // moments -> null pooled outputs); g3: exactly one observed x
    // (n_obs = 1 -> null sd -> null draws for missing rows only)
    val rows = (0 until 300).map { i =>
      val g = s"g${i % 2}"
      val x = if (i % 5 == 0) null else java.lang.Double.valueOf(hashed(5, i))
      val y = if ((i * 13) % 7 < 3) 1.0 else 0.0
      (g, i.toLong, x, y)
    } ++ (0 until 20).map(i => ("g2", (1000 + i).toLong, null: java.lang.Double,
      if (i % 2 == 0) 1.0 else 0.0)) ++
      (0 until 20).map(i => ("g3", (2000 + i).toLong,
        if (i == 7) java.lang.Double.valueOf(4.25) else null: java.lang.Double,
        if (i % 3 == 0) 1.0 else 0.0))
    val df = rows.toDF("g", "id", "x", "y")
    val local = Glm.miLogitPooledByGroup(df, "g", col("id"), col("x"), col("y"),
      draws = 3)
    val looped = Glm.miLogitPooledByGroup(df, "g", col("id"), col("x"), col("y"),
      draws = 3, localRowCap = 0)
    exactSame(local, looped)
  }

  test("a null group falls through to the distributed loop") {
    val df = (Seq((null: String, 1.0, 1.0)) ++
      (0 until 50).map(i => (s"g${i % 2}", hashed(9, i), (i % 2).toDouble)))
      .toDF("g", "x", "y")
    // the loop drops the null group after iteration 1 (null never
    // equi-joins); the dispatch must produce the loop's answer, i.e. fall
    // through rather than fit the null group locally
    val got = Glm.logitByGroup(df, "g", Seq(col("x")), col("y"), Seq("b0", "b1"))
    val looped = Glm.logitByGroup(df, "g", Seq(col("x")), col("y"), Seq("b0", "b1"),
      localRowCap = 0)
    exactSame(got, looped)
    assert(got.collect().forall(_.get(0) != null))
  }

  test("past-cap inputs take the loop (cap respected)") {
    val df = rowsFor(2, 64).toDF("g", "x1", "x2", "y")
    // cap below the row count: must fall through and still agree
    val capped = Glm.logitByGroup(df, "g", Seq(col("x1"), col("x2")), col("y"),
      Seq("b0", "b1", "b2"), localRowCap = 16)
    val local = Glm.logitByGroup(df, "g", Seq(col("x1"), col("x2")), col("y"),
      Seq("b0", "b1", "b2"))
    exactSame(capped, local)
  }
}
