package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** The builder's codegen cache holds a composed workload's compiled classes.
  *
  * Spark keeps one JVM-wide LRU cache of generated classes; at its default
  * of 100 entries, a working set of more distinct classes than that misses
  * on every repeat (each access evicts the class that is needed next), so a
  * repeated pass recompiles everything it compiled the first time. The
  * working set here is 150 distinct classes: one whole-stage class per
  * query, made distinct by a literal that is inlined into the generated
  * source and is unique to this JVM run.
  */
class CodegenCacheSpec extends SparkSpec {

  private val queries = 150

  test("the builder sizes the codegen cache to 2000 classes") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "2000")
  }

  test("a repeated working set larger than Spark's default cache is not recompiled") {
    val base = System.nanoTime() % 1000000000L * 1000L
    def pass(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (0 until queries).foreach { i =>
        spark.range(4).select((col("id") * lit(base + i)).as("x")).collect()
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = pass()
    val second = pass()
    // each query compiles its own class the first time; a repeat compiles
    // at most a tenth of that (at a cache of 100 it compiles all of it)
    assert(first >= queries, s"first pass compiled $first classes")
    assert(second <= first / 10, s"second pass compiled $second of the first pass's $first classes")
  }
}
