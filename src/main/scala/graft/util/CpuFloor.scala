package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, Distinct, Except,
  GlobalLimit, Intersect, Join, LogicalPlan, RebalancePartitions, RepartitionOperation, Sort, Window}
import org.apache.spark.sql.graft.Bridge

/** Parallelism floor for CPU-dense kernel inputs (guide §2.5, unsplittable
  * input; round 16 — the Glm.parallelFloor pattern generalized): the gate
  * corpora are tiny single-row-group parquet files, so every scan is ONE
  * task no matter the core count, and a per-row text/hash kernel (shingle
  * md5, minhash permutations, simhash votes, regex extraction) serializes
  * on one core with the rest idle — measured: the simhash-pairs probe
  * spent 1.3 s of its 2.0 s in a 2-task stage on a 32-core session. One
  * round-robin repartition of the RAW rows (call this BEFORE the kernel
  * projection, so the kernel itself runs post-exchange) buys full map-side
  * parallelism for a few MB of shuffle.
  *
  * Scale-adaptive, not a local constant: when the input already carries >=
  * defaultParallelism partitions (any real multi-row-group table at scale)
  * this is a no-op — no added exchange in the 100 TB plan. The frame passed
  * here must be NARROW (scan + projections/filters only): probing a frame
  * with exchanges underneath finalizes the adaptive plan and executes them
  * (the ADVICE r15 parallelFloor lesson), so a frame whose analyzed plan
  * holds an operator that needs an exchange fails with an
  * IllegalArgumentException naming it, before the probe. The kernels that
  * floor their input (Dedup's minhash and simhash kernels, Curation's
  * training and fuzzy flows, Vocab.bigramPmi, Stats.targetEncodeLoo) take
  * narrow frames for the same reason. Results are
  * unaffected — every downstream consumer is key-based
  * (joins/aggregations/windows keyed on data columns), never
  * partition-order-dependent.
  */
object CpuFloor {
  def apply(narrow: DataFrame): DataFrame = {
    // streaming frames pass through: .rdd is undefined on them, and
    // micro-batch parallelism is the source's concern (Streams reuses the
    // batch kernels — nearDupCandidatesStream)
    if (narrow.isStreaming) return narrow
    Bridge.analyzed(narrow).find(needsExchange).foreach { op =>
      throw new IllegalArgumentException(
        s"CpuFloor needs a narrow frame (scan, projections, filters); found ${op.nodeName}, " +
          "whose exchange probing the partition count would execute")
    }
    val target = narrow.sparkSession.sparkContext.defaultParallelism
    if (narrow.rdd.getNumPartitions < target) narrow.repartition(target)
    else narrow
  }

  /** Operators of an analyzed plan that plan an exchange. */
  private def needsExchange(p: LogicalPlan): Boolean = p match {
    case _: Join | _: Aggregate | _: Window | _: RepartitionOperation |
         _: RebalancePartitions | _: Distinct | _: Deduplicate |
         _: Intersect | _: Except | _: GlobalLimit => true
    case s: Sort => s.global
    case _ => false
  }
}
