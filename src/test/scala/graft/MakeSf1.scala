package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: materialize a `reps`-fold (default 10x) replica of sf0.1 so
  * the oracle gate can be exercised at ~sf1:
  * `sbt "Test/runMain graft.MakeSf1 <src dir> <dst dir> <reps>"`. The
  * benchmark's input generator (perfbench/gen.py) follows the same layout
  * rules.
  *
  * Replication is key-shifted so every table keeps its join semantics:
  * primary and foreign keys shift by the same replica offset, so each
  * replica is a disjoint, internally-consistent copy. Documents get a
  * per-replica word suffix (replica texts share ZERO shingles, so dedup
  * pair counts scale exactly 10x instead of quadratically across
  * replicas); embeddings get a tiny per-replica perturbation (no
  * duplicate vectors, so top-k has no cross-engine tie ambiguity). Both
  * transforms are baked into the written parquet — Spark and DuckDB read
  * identical bytes, so parity still proves engine equivalence.
  */
object MakeSf1 {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/sf1"
    val reps = if (args.length > 2) args(2).toInt else 10
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def writeSingle(df: DataFrame, table: String): Unit = {
      val tmp = s"$dst/__tmp_$table"
      // 8 MB row groups: parquet splits only at row-group boundaries, so a
      // coalesce(1) file with the default 128 MB block is ONE task for any
      // scan — serializing every CPU-dense kernel (minhash, dot products)
      // in the probe no matter what maxPartitionBytes says
      df.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", (8 * 1024 * 1024).toString)
        .parquet(tmp)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))(0).getPath
      val out = new org.apache.hadoop.fs.Path(s"$dst/$table.parquet")
      fs.delete(out, false)
      fs.rename(part, out)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      println(s"SF1 wrote $table: ${spark.read.parquet(out.toString).count()} rows")
    }

    def raw(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def replicate(t: String)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until reps).map(i => shift(raw(t), i)).reduce(_ unionAll _)

    // dimensions stay single-copy
    writeSingle(raw("region"), "region")
    writeSingle(raw("nation"), "nation")

    val C = 10000000L   // cust/supp/part key stride
    val O = 100000000L  // orderkey stride
    writeSingle(replicate("customer") { (df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i * C))
    }, "customer")
    writeSingle(replicate("supplier") { (df, i) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(i * C))
    }, "supplier")
    writeSingle(replicate("part") { (df, i) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(i * C))
    }, "part")
    writeSingle(replicate("orders") { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * O))
        .withColumn("o_custkey", col("o_custkey") + lit(i * C))
    }, "orders")
    writeSingle(replicate("lineitem") { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * O))
        .withColumn("l_partkey", col("l_partkey") + lit(i * C))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * C))
    }, "lineitem")

    writeSingle(replicate("events") { (df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * 1000000000L))
        .withColumn("user_id", col("user_id") + lit(i * C))
    }, "events")

    writeSingle(replicate("documents") { (df, i) =>
      val d = df.withColumn("doc_id", col("doc_id") + lit(i * O))
      if (i == 0) d
      else d.withColumn("text", regexp_replace(col("text"), "(\\S+)", "$1_" + i))
    }, "documents")

    writeSingle(replicate("embeddings") { (df, i) =>
      df.withColumn("vec_id", col("vec_id") + lit(i * O))
        .withColumn("embedding",
          transform(col("embedding"), x => (x + lit(i * 0.001f)).cast("float")))
    }, "embeddings")

    spark.stop()
  }
}
