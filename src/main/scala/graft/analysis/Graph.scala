package graft.analysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge frames — the corpus-graph tools a
  * web-scale curation pipeline runs between dedup and mixing (domain
  * authority for crawl prioritisation, influence ranking over interaction
  * graphs). Spark-native like [[graft.dedup.Dedup.connectedComponents]]:
  * label/rank state lives in DataFrames, every iteration is one join + one
  * map-side-combinable aggregation, and `localCheckpoint` truncates the
  * lineage so round N never replans rounds 1..N-1.
  */
object Graph {

  private val r6 = graft.util.Portable.round6 _

  /** Fixed-iteration PageRank (d = damping, classic 0.85).
    *
    * Conventions (documented, oracle-mirrored):
    *   - simple graph: parallel edges collapse (`distinct`), self-loops
    *     count like any edge;
    *   - dangling mass LEAKS (no uniform redistribution) — each iteration
    *     is p(v) = (1−d)/N + d·Σ_{u→v} p(u)/out(u), the formulation whose
    *     per-iteration cost is exactly one join + one aggregation; the
    *     redistribution variant adds a global scalar pass per iteration
    *     and changes no ranking on graphs without sinks;
    *   - fixed `iters`, not convergence-tested: deterministic cost AND a
    *     deterministic result any engine can replay.
    *
    * Numerics: contributions are r6-quantized and summed as DECIMAL, and
    * the rank is re-rounded to 6 decimals each iteration — the IRLS
    * re-round discipline, making the fixpoint path bit-identical across
    * engines and partitionings (a raw double Σ would be merge-order
    * dependent).
    *
    * Scale shape: edges + out-degrees materialize ONCE (localCheckpoint —
    * the connectedComponents lineage discipline); each iteration shuffles
    * rank rows on the join key and aggregates map-side. K iterations = K
    * bounded rounds over node-cardinality state, never a growing plan.
    *
    * Output: (node, rank r6) for every node with an in- or out-edge.
    */
  def pageRank(edgesIn: DataFrame, src: Column, dst: Column,
               iters: Int, d: Double = 0.85, localEdgeCap: Int = 1 << 20): DataFrame = {
    require(iters >= 1, s"pageRank needs iters >= 1, got $iters")
    require(d > 0.0 && d < 1.0, s"pageRank needs 0 < d < 1, got $d")
    val edges = edgesIn.select(src.as("src"), dst.as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .localCheckpoint()
    // size dispatch: see graft.util.DriverDispatch
    for (ord <- graft.util.DriverDispatch.nodeOrdering(edges, "src", "dst");
         sample <- graft.util.DriverDispatch.collect(edges, localEdgeCap, "src", "dst"))
      return pageRankLocal(sample, iters, d, ord, edges.schema("src"), edgesIn.sparkSession)
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("__out"))
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint()
    val n = nodes.count().toDouble
    val base = (1.0 - d) / n
    var ranks = nodes.select(col("node"), r6(lit(1.0 / n)).as("rank"))
      .localCheckpoint()
    for (_ <- 0 until iters) {
      val contribs = ranks
        .join(outdeg, col("node") === col("src"))
        .join(edges, Seq("src"))
        .select(col("dst").as("node"),
          r6(col("rank") / col("__out").cast("double")).as("__c"))
        .groupBy(col("node"))
        .agg(sum(col("__c").cast("decimal(18,6)")).as("__sum"))
      ranks = nodes
        .join(contribs, Seq("node"), "left")
        .select(col("node"),
          r6(lit(base) + lit(d) * coalesce(col("__sum").cast("double"), lit(0.0)))
            .as("rank"))
        .localCheckpoint()
    }
    ranks
  }

  /** Driver-side PageRank over a collected distinct edge list — the
    * small-graph half of [[pageRank]]'s size dispatch. The micro-long
    * fixpoint algebra is the DifferentialSpec reference implementation
    * verbatim: contributions q6-quantized then accumulated as exact
    * micro-unit longs (≡ the plan's DECIMAL(18,6) sum), rank re-rounded
    * per iteration from the exactly-converted sum (BigDecimal m/10⁶ ≡ the
    * plan's decimal→double cast). Output sorted by node for deterministic
    * run order. */
  private def pageRankLocal(edgeRows: Array[org.apache.spark.sql.Row],
                            iters: Int, d: Double, ord: Ordering[Any],
                            srcField: org.apache.spark.sql.types.StructField,
                            spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val edges = edgeRows.map(r => (r.get(0), r.get(1)))
    val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted(ord)
    val idx = nodes.zipWithIndex.toMap
    val out = new Array[Long](nodes.length)
    edges.foreach { case (a, _) => out(idx(a)) += 1 }
    val n = nodes.length.toDouble
    val base = (1.0 - d) / n
    def q(x: Double): Double = graft.util.Portable.round6d(x)
    var rank = Array.fill(nodes.length)(q(1.0 / n))
    for (_ <- 0 until iters) {
      val micro = new Array[Long](nodes.length)
      edges.foreach { case (a, b) =>
        val c = q(rank(idx(a)) / out(idx(a)).toDouble)
        micro(idx(b)) += math.round(c * 1.0e6)
      }
      rank = micro.map(m =>
        q(base + d * (BigDecimal(m) / BigDecimal(1000000)).toDouble))
    }
    val rows = nodes.zipWithIndex.map { case (v, i) => Row(v, rank(i)) }
    val schema = StructType(Seq(srcField.copy(name = "node"),
      StructField("rank", DoubleType, nullable = false)))
    spark.createDataFrame(java.util.Arrays.asList(rows.toSeq: _*), schema)
  }

  /** Exact triangle count with DEGREE-ORDERED edge orientation (the
    * Cohen / Suri-Vassilvitskii MapReduce formulation): each undirected
    * edge points from its lower-(degree, id) endpoint to the higher, every
    * wedge is generated at its lowest vertex, and the closing edge is
    * probed in the same orientation — each triangle counted exactly once.
    *
    * The orientation is the scale lever: wedges per vertex are bounded by
    * ORIENTED out-degree², and degree-ordering caps oriented out-degree at
    * O(√m) on any graph — an id-ordered orientation would let one
    * low-id hub generate quadratic wedges. No global rank/sort anywhere:
    * the (degree, id) tuple comparison happens edge-locally after two
    * broadcast-friendly degree joins.
    *
    * Self-loops dropped, parallel edges collapsed. Output (one row):
    * n_nodes, n_edges, n_triangles.
    */
  def triangleCount(edgesIn: DataFrame, src: Column, dst: Column): DataFrame = {
    val (und, deg, closed) = closedTriangles(edgesIn, src, dst)
    val counts = closed.agg(count(lit(1)).as("n_triangles"))
    und.agg(count(lit(1)).as("n_edges"))
      .crossJoin(deg.agg(count(lit(1)).as("n_nodes")))
      .crossJoin(counts)
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
  }

  /** Local clustering coefficient per node: 2·tri(v) / (deg(v)·(deg(v)−1))
    * — how much of each node's neighborhood is itself connected (the
    * per-node refinement of triangleCount; NULL for degree-< 2 nodes,
    * where the coefficient is undefined).
    *
    * Same degree-ordered wedge machinery; each closed triangle explodes to
    * its three corners for the per-node count (map-side combinable).
    */
  def clusteringCoefficient(edgesIn: DataFrame, src: Column, dst: Column): DataFrame = {
    val (_, deg, closed) = closedTriangles(edgesIn, src, dst)
    val perNode = closed
      .select(explode(array(col("wa"), col("wb"), col("wc"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("__t"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("__t"), lit(0L)).as("n_tri"),
        when(col("deg") >= 2, r6(lit(2.0) * coalesce(col("__t"), lit(0L)).cast("double")
          / (col("deg") * (col("deg") - 1)).cast("double"))).as("coeff"))
  }

  /** Degree assortativity (Newman's r): the Pearson correlation of
    * endpoint degrees over edges, each undirected edge counted in both
    * orientations — do high-degree nodes attach to other hubs (r > 0,
    * social-network shape) or to leaves (r < 0, hub-and-spoke)? The
    * number that says which failure mode a sampling or dedup pass will
    * hit: disassortative graphs lose connectivity when hubs drop.
    *
    * Same canonical-edge/degree discipline as the triangle core
    * (self-loops dropped, parallel edges collapsed); moments are exact
    * DECIMAL sums of long degrees, one fixed-shape IEEE correlation at
    * the end, NULL on a degree-regular (zero-variance) graph. Output
    * (one row): n_nodes, n_edges, assortativity.
    */
  def degreeAssortativity(edgesIn: DataFrame, src: Column, dst: Column): DataFrame = {
    val und = edgesIn.select(src.as("a"), dst.as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
    val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val dir = und.select(col("a").as("x"), col("b").as("y"))
      .union(und.select(col("b").as("x"), col("a").as("y")))
    val paired = dir
      .join(deg.select(col("node").as("x"), col("deg").as("__dx")), Seq("x"))
      .join(deg.select(col("node").as("y"), col("deg").as("__dy")), Seq("y"))
      .select(col("__dx").cast("decimal(19,0)").as("__qx"),
        col("__dy").cast("decimal(19,0)").as("__qy"))
    def d(c: Column) = c.cast("double")
    val folded = paired.agg(
      count(lit(1)).as("__n"),
      sum(col("__qx")).as("__sx"), sum(col("__qy")).as("__sy"),
      sum(col("__qx") * col("__qx")).as("__sxx"),
      sum(col("__qy") * col("__qy")).as("__syy"),
      sum(col("__qx") * col("__qy")).as("__sxy"))
    val counts = und.agg(count(lit(1)).as("n_edges"))
      .crossJoin(deg.agg(count(lit(1)).as("n_nodes")))
    val n = d(col("__n"))
    val vx = n * d(col("__sxx")) - d(col("__sx")) * d(col("__sx"))
    val vy = n * d(col("__syy")) - d(col("__sy")) * d(col("__sy"))
    val cov = n * d(col("__sxy")) - d(col("__sx")) * d(col("__sy"))
    broadcast(counts).crossJoin(folded)
      .select(col("n_nodes"), col("n_edges"),
        when(col("__n") >= 2 && vx > 0.0 && vy > 0.0,
          graft.util.Portable.round6(cov / (sqrt(vx) * sqrt(vy))))
          .as("assortativity"))
  }

  /** Shared core: canonical undirected edges, node degrees, and the closed
    * triangles (wa, wb, wc) found by degree-ordered wedge generation.
    *
    * The two multiply-consumed frames — canonical edges (degrees, the
    * degree joins, the edge count) and oriented edges (both wedge sides +
    * the closing join) — are bound by `Bridge.shareLazily` (round 12):
    * a LAZY persist replaces the former eager localCheckpoints, so
    * CONSTRUCTING a triangle query runs zero jobs (these kernels are not
    * iterative — nothing needs lineage truncation, only sharing), both
    * queries left the deferred-leaf set, and each consumer is served from
    * one InMemoryRelation materialized at first action. */
  private def closedTriangles(edgesIn: DataFrame, src: Column, dst: Column)
      : (DataFrame, DataFrame, DataFrame) = {
    val und = org.apache.spark.sql.graft.Bridge.shareLazily(
      edgesIn.select(src.as("a"), dst.as("b"))
        .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
        .distinct())
    val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // attach endpoint degrees, orient low (deg, id) -> high (deg, id)
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
    val oriented = org.apache.spark.sql.graft.Bridge.shareLazily(withDeg.select(
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")), col("a"))
        .otherwise(col("b")).as("src"),
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")), col("b"))
        .otherwise(col("a")).as("dst"),
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")), col("db"))
        .otherwise(col("da")).as("ddst")))
    // wedges at the lowest vertex: pair the two higher endpoints in the
    // SAME (deg, id) order, so the closing edge is oriented b -> c
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") &&
          (struct(col("e1.ddst"), col("e1.dst")) < struct(col("e2.ddst"), col("e2.dst"))))
      .select(col("e1.src").as("wa"), col("e1.dst").as("wb"), col("e2.dst").as("wc"))
    // oriented edges are unique per (src, dst), so the inner join keeps
    // each closed wedge exactly once while preserving all three corners
    val closed = wedges.join(oriented.select(col("src").as("wb"), col("dst").as("wc")),
      Seq("wb", "wc"))
      .select(col("wa"), col("wb"), col("wc"))
    (und, deg, closed)
  }
}
