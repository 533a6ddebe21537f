package graft.util

import org.apache.spark.sql.DataFrame

/** Text surgery on Spark plan strings, shared by the bench fingerprint, the
  * plan dumps and the plan-audit specs.
  */
object PlanText {

  /** The real frame behind deferred-frame leaves: a registry entry whose
    * kernel interleaves Spark actions with plan construction is bound
    * behind [[graft.plans.DeferredFrameNode]] (construction stays
    * job-free). Unwrapping builds the inner frame and pays its jobs; plan
    * consumers need it, since the leaf alone hides the kernel's plan.
    * (DeferredSummaryNode — a side-effecting sink — stays wrapped: its
    * thunk IS the side effect.) */
  def unwrapDeferred(df: DataFrame): DataFrame =
    df.queryExecution.analyzed match {
      case n: graft.plans.DeferredFrameNode => unwrapDeferred(n.frame())
      case _ => df
    }

  /** The plan fingerprint of `df`: [[fingerprintText]] of the unwrapped
    * frame's optimized plan, [[normalize]]d. A pure function of the
    * declared plan shape — it changes exactly when that shape does. */
  def fingerprint(df: DataFrame): String =
    normalize(fingerprintText(unwrapDeferred(df).queryExecution.optimizedPlan))

  /** Maps the parts of a plan string that vary between runs or sessions on
    * identical code to fixed tokens. The NON-canonicalized optimized plan
    * is used because canonicalization sorts commutative operands by
    * hashCode, and MultiCommutativeOp embeds a java.lang.Class whose
    * hashCode is per-JVM identity. What remains unstable is normalized:
    *  - expression ids (#123) and typed-closure identities
    *    (Lambda$NNN/0xADDR@HASH);
    *  - HOF lambda variable names (lambda x_739) and With/CommonExpressionRef
    *    ids (_common_expr_16): both come from session-global counters, so
    *    any plan built earlier in the session shifts them;
    *  - dataset_export's per-JVM scratch-dir token;
    *  - partition counts of Repartition / RepartitionByExpression, which
    *    follow the session's core count and `spark.sql.shuffle.partitions`,
    *    not the declared plan.
    */
  private def normalize(plan: String): String =
    plan
      .replaceAll("Lambda\\$\\d+/0x[0-9a-fA-F]+@[0-9a-fA-F]+", "Lambda")
      .replaceAll("#\\d+", "#x")
      .replaceAll("lambda ([A-Za-z]+)_\\d+#x", "lambda $1#x")
      .replaceAll("_common_expr_\\d+", "_common_expr_")
      .replaceAll("graft_dataset_export_[0-9a-f_]+", "graft_dataset_export_")
      .replaceAll("Repartition \\d+, ", "Repartition N, ")
      .replaceAll("(RepartitionByExpression \\[.*\\]), \\d+", "$1, N")

  /** The fingerprint TEXT for an optimized plan: the plan string with every
    * InMemoryRelation's runtime reprint stripped ([[stripCachedReprints]]),
    * PLUS each cached subtree's declared LOGICAL plan appended (ADVICE r14:
    * stripping alone made the fingerprint blind to changes INSIDE a
    * shareLazily-cached subtree — a real regression in the linkage
    * (id, probe) projection or the bigram marginals base kept the same
    * hash, letting floors min-merge across a plan change). The appended
    * text is `CachedRDDBuilder.logicalPlan` — the ANALYZED plan captured at
    * cache registration, a pure function of the declared query (no AQE
    * stage ids / coalesce counts, which live only in the physical reprint).
    * Appended blocks are themselves reprint-stripped (a cached plan can
    * embed an inner InMemoryRelation whose string form reprints physical
    * runtime state), and the caller applies the same id normalizations to
    * the whole text. */
  def fingerprintText(optimized: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): String = {
    // recursive: a cached plan can itself read another InMemoryRelation
    // (cache substitution runs before registration), and a fingerprint
    // blind one level down would re-open the same gap one nesting deeper
    def cachedLogical(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[String] =
      p.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
          val inner = r.cacheBuilder.logicalPlan
          stripCachedReprints(inner.toString) +: cachedLogical(inner)
      }.flatten
    val cached = cachedLogical(optimized)
    stripCachedReprints(optimized.toString) +
      (if (cached.isEmpty) ""
       else cached.mkString("== cached logical ==\n", "\n", ""))
  }

  /** Drop every InMemoryRelation's cached-plan reprint from a plan string.
    *
    * An InMemoryRelation is a LEAF in the logical/physical tree, but its
    * string form reprints the cached physical plan as innerChildren — and
    * that reprint is NOT a function of the declared plan shape: before
    * first materialization it shows the initial physical plan, afterwards
    * the AQE "Final Plan" section with ShuffleQueryStage ids and
    * AQEShuffleRead coalesce counts that vary across boxes/configs. A
    * fingerprint (or a scan-count audit) over the raw string would churn
    * on those runtime artifacts, so the reprint is cut: keep the
    * InMemoryRelation line itself (its output schema IS declared shape),
    * drop every following line printed DEEPER than it.
    *
    * Depth = index of the first character that isn't tree-drawing
    * (space, ':', '+', '-', '|'): innerChildren always print strictly
    * deeper than their owner, and the next sibling/ancestor returns to a
    * shallower or equal column.
    */
  def stripCachedReprints(plan: String): String = {
    def contentIdx(line: String): Int = {
      val i = line.indexWhere(c => !" :+-|".contains(c))
      if (i < 0) line.length else i
    }
    val out = new StringBuilder
    var cutDeeperThan = -1 // -1 = not inside a reprint
    plan.linesIterator.foreach { line =>
      val idx = contentIdx(line)
      if (cutDeeperThan >= 0 && idx > cutDeeperThan) {
        // inside a cached reprint — dropped
      } else {
        cutDeeperThan = -1
        out.append(line).append('\n')
        if (line.startsWith("InMemoryRelation", idx)) cutDeeperThan = idx
      }
    }
    out.toString
  }
}
