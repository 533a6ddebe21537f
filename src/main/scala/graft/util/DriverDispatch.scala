package graft.util

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

/** Driver-local size dispatch, the one rule shared by every kernel that has
  * a driver-side twin of its distributed loop (IRLS and MI-logit in
  * [[graft.analysis.Glm]], [[graft.analysis.Graph.pageRank]],
  * [[graft.dedup.Dedup.connectedComponents]]).
  *
  * A working set that fits under the caller's cap is solved on the driver:
  * the distributed loop costs a few jobs per iteration (aggregations,
  * broadcast joins, checkpoints), which is pure scheduler latency on a
  * small input. The decision needs no count job: ONE bounded
  * `limit(cap + 1).collect()` both decides AND delivers the rows. Past the
  * cap the loop runs unchanged, so driver state stays cap-bounded (the
  * working set, never the corpus). Each driver twin replays its loop's
  * arithmetic, so both regimes give the same result (GlmLocalFitSpec,
  * DifferentialSpec and DispatchRuleSpec pin local == looped); a cap of 0
  * forces the loop.
  *
  * Dirty input falls through to the loop, which is the one source of truth
  * for it:
  *   - a null key: the loop's equi-joins never match null (the IRLS beta
  *     join drops a null group after iteration 1), while a driver twin
  *     would fit it, or unbox it to a primitive and conflate it with 0;
  *   - graph endpoints of different types, or of a type with no node
  *     ordering: Int 5 and Long 5 box to different classes (unequal keys,
  *     ClassCastException in the ordering), where the loop coerces both
  *     endpoints to one node space.
  */
object DriverDispatch {

  /** The rows of `df` when `cap > 0`, there are at most `cap` of them and
    * no `keys` column is null; otherwise None and the caller runs its
    * distributed loop. Runs no job when `cap <= 0`. */
  def collect(df: DataFrame, cap: Int, keys: String*): Option[Array[Row]] =
    if (cap <= 0) None
    else {
      val rows = df.limit(cap + 1).collect()
      val at = keys.map(df.schema.fieldIndex)
      if (rows.length <= cap && !rows.exists(r => at.exists(r.isNullAt))) Some(rows)
      else None
    }

  /** The driver-side ordering of graph node ids held in columns `a` and
    * `b`, or None when the two differ in type or the type has none. */
  def nodeOrdering(df: DataFrame, a: String, b: String): Option[Ordering[Any]] = {
    val t = df.schema(a).dataType
    if (t != df.schema(b).dataType) None
    else t match {
      case LongType => Some(Ordering.Long.on((x: Any) => x.asInstanceOf[Long]))
      case IntegerType => Some(Ordering.Int.on((x: Any) => x.asInstanceOf[Int]))
      case StringType => Some(Ordering.String.on((x: Any) => x.asInstanceOf[String]))
      case _ => None
    }
  }
}
