package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analysis.{Glm, Graph}
import graft.dedup.Dedup

/** The driver-local size dispatch (graft.util.DriverDispatch) is one rule
  * for every site that has a driver twin of its distributed loop. Each site
  * gets dirty input (a null key, mixed Int/Long node ids, a node type with
  * no driver ordering) and must answer at the default cap exactly as the
  * loop forced by cap 0 does: either the driver twin handles the input the
  * loop's way, or the rule sends it to the loop.
  */
class DispatchRuleSpec extends SparkSpec {
  import spark.implicits._

  private val defaultCap = 1 << 20

  /** A graph with a chain, a 2-cycle, a self-loop and a parallel edge. */
  private def edges(srcType: String, dstType: String, withNull: Boolean): DataFrame = {
    val clean = Seq((1L, 2L), (2L, 3L), (3L, 7L), (4L, 5L), (5L, 4L), (6L, 6L), (1L, 2L))
      .map { case (a, b) => (Option(a), Option(b)) }
    val dirty = if (withNull) Seq((None, Some(3L)), (Some(8L), None)) else Nil
    (clean ++ dirty).toDF("a", "b")
      .select(col("a").cast(srcType).as("a"), col("b").cast(dstType).as("b"))
  }

  /** Grouped regression rows; every 7th x is missing (MI-logit imputes it,
    * the complete-case logit drops it). */
  private def fitRows(groupType: String, withNull: Boolean): DataFrame = {
    val clean = (0 until 90).map { i =>
      (Option(i % 3L), i.toLong, if (i % 7 == 0) None else Some((i * 37 % 11).toDouble),
        if ((i * 13) % 5 < 2) 1.0 else 0.0)
    }
    val dirty = if (withNull) Seq((None, 900L, Some(1.0), 1.0), (None, 901L, Some(2.0), 0.0)) else Nil
    (clean ++ dirty).toDF("g", "id", "x", "y").withColumn("g", col("g").cast(groupType))
  }

  // clean inputs are covered by GlmLocalFitSpec and DifferentialSpec
  private val graphInputs = Seq(
    "null ids" -> edges("long", "long", withNull = true),
    "mixed Int/Long ids" -> edges("int", "long", withNull = false),
    "Double ids" -> edges("double", "double", withNull = false))

  private val fitInputs = Seq(
    "null group" -> fitRows("long", withNull = true),
    "Double groups" -> fitRows("double", withNull = false))

  private val sites: Seq[(String, Seq[(String, DataFrame)], (DataFrame, Int) => DataFrame)] = Seq(
    ("Glm.logitByGroup", fitInputs, (df, cap) =>
      Glm.logitByGroup(df, "g", Seq(col("x")), col("y"), Seq("b0", "b1"), localRowCap = cap)),
    ("Glm.miLogitPooledByGroup", fitInputs, (df, cap) =>
      Glm.miLogitPooledByGroup(df, "g", col("id"), col("x"), col("y"), draws = 2,
        localRowCap = cap)),
    ("Graph.pageRank", graphInputs, (df, cap) =>
      Graph.pageRank(df, col("a"), col("b"), iters = 3, localEdgeCap = cap)),
    ("Dedup.connectedComponents", graphInputs, (df, cap) =>
      Dedup.connectedComponents(df, "a", "b", localEdgeCap = cap)))

  /** Rows as sorted strings: exact for doubles, and null- and NaN-safe. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  for ((site, inputs, run) <- sites; (input, df) <- inputs)
    test(s"$site on $input: default cap == forced loop") {
      val local = run(df, defaultCap)
      val looped = run(df, 0)
      assert(local.schema.map(_.dataType) === looped.schema.map(_.dataType))
      assert(rows(local) === rows(looped))
    }

  test("graph kernels give the clean Long answer on mixed Int/Long and Double ids") {
    def asLong(df: DataFrame): Seq[String] =
      rows(df.select(df.columns.map(c =>
        if (c == "rank") col(c) else col(c).cast("long").as(c)): _*))
    for ((site, inputs, run) <- sites if inputs eq graphInputs) {
      val want = rows(run(edges("long", "long", withNull = false), defaultCap))
      for (t <- Seq(("int", "long"), ("double", "double")))
        assert(asLong(run(edges(t._1, t._2, withNull = false), defaultCap)) === want,
          s"$site on $t ids")
    }
  }
}
