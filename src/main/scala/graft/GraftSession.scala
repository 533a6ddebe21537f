package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType, StructType, TimestampNTZType, TimestampType}

/** Session factory with the engine's standard tuning.
  *
  * Tuned for correctness parity (UTC timestamps) and scale discipline:
  * AQE on (runtime re-plan, skew-join splitting), shuffle partitions sized
  * for the local harness (a real cluster overrides via spark-submit conf).
  */
object GraftSession {
  /** CPU-grain scan split for compute-dense kernels (per-shingle md5,
    * minhash permutations, dot products): 16 MB of snappy parquet is
    * minutes of kernel work, and the 128 MB IO-grain default lays a 50 MB
    * single-file table onto ONE core (measured: 32× parallelism loss on
    * the dense ANN/dedup pipelines at a 100× replica). Passed explicitly
    * by Bench/Verify/scale probes; IO-bound consumers (scan→write jobs
    * with no exchange, which AQE cannot re-coalesce) should keep the
    * default — 8× the tasks for no CPU to hide is pure overhead. */
  val CpuDenseMaxPartitionBytes: Long = 16L * 1024 * 1024

  /** A session builder with the engine's extensions and settings (each
    * commented where it is set).
    *
    * Session settings: `spark.sql.codegen.cache.maxEntries` is raised from
    * Spark's 100 to 2000 compiled classes. One pass of a composed workload
    * generates 280-340 distinct classes, so at 100 the LRU cache evicts and
    * recompiles nearly all of them on every repeat of the same queries. The
    * setting is static and JVM-wide: `CodeGenerator` reads it once, when it
    * first compiles code, from the session that does so, and every later
    * session in the JVM shares that cache. A caller who builds its own
    * `SparkSession` must set it on its own builder, before any query runs.
    */
  def builder(master: String = "local[*]", shufflePartitions: Int = 32,
              maxPartitionBytes: Long = 128L * 1024 * 1024): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new graft.plans.GraftExtensions)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Parquet TIMESTAMP(NANOS) is rejected by the vectorized reader
      // (PARQUET_TYPE_ILLEGAL); read as raw nanos and normalize in table().
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // ObjectHashAggregate (typed aggregates, collect_list/set) falls back
      // to SORT-BASED aggregation after 128 distinct keys per task — which
      // silently turns bounded-heap aggregates (TopKDoubles over thousands
      // of anchors) into a full sort of the input, the exact plan they
      // exist to avoid. 4096 is 32x the default and still memory-safe for
      // the repo's worst bounded buffer (a ~10 KB KLL sketch x 4096 keys
      // = 40 MB/task); beyond that the sort fallback is the right valve.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      // scan split grain: Spark's IO default unless the caller opts into
      // the CPU grain (see CpuDenseMaxPartitionBytes)
      .config("spark.sql.files.maxPartitionBytes", maxPartitionBytes.toString)
      // static, JVM-wide: sized to hold a composed workload's generated
      // classes (see the scaladoc above)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")

  def get(master: String = "local[*]"): SparkSession = {
    val s = builder(master).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Streaming-tuned builder: everything in `builder` plus the RocksDB
    * state store. Heap-backed state (the default provider) caps stateful
    * streaming at executor memory — sessionization/dedup state over
    * millions of live keys must spill, and RocksDB keeps state on local
    * disk with changelog checkpointing so recovery replays a changelog
    * instead of re-uploading full snapshots. The bound on state size is
    * then disk, not heap — the difference between a demo and an always-on
    * 100 TB ingest pipeline.
    */
  def streamingBuilder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    builder(master, shufflePartitions)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")

  /** (mtime, total byte length, file count) of a table path: driver-side
    * metadata only, never a Spark job. Directory mtime alone is
    * millisecond-granular on local filesystems and coarser on some object
    * stores, so a delete+rewrite landing in the same tick would keep it;
    * byte length and file count change with any real rewrite. */
  private def signature(spark: SparkSession, path: String): (Long, Long, Int) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    if (st.isDirectory) {
      val kids = fs.listStatus(p)
      (st.getModificationTime, kids.map(_.getLen).sum, kids.length)
    } else (st.getModificationTime, st.getLen, 1)
  }

  /** One catalog entry: the inferred schema and the analyzed relation of a
    * table path, as of its content signature, resolved in `owner`. */
  private final case class Cataloged(sig: (Long, Long, Int), schema: StructType,
                                     owner: SparkSession, relation: MultiInstanceRelation)

  /** Per-JVM table catalog, keyed by PATH, the way a metastore serves
    * declared tables (Spark's own session catalog keeps resolved relations
    * of its data-source tables the same way).
    *
    * The schema: parquet schema inference launches a footer-read Spark JOB
    * per `spark.read.parquet` call, so without a catalog every registry
    * DataFrame CONSTRUCTION pays one job per table it touches (measured: a
    * 1-6 job baseline across all 246 queries). First access per path infers
    * once; every later construction is job-free. Inference-affecting
    * session configs are uniform across GraftSession builders (nanosAsLong
    * is set in `builder`), so the schema is shared across sessions.
    *
    * The relation: resolving a parquet read on the driver looks the source
    * up through a ServiceLoader, lists the files and copies the Hadoop
    * conf, on every call. The analyzed relation is kept and each call gets
    * a fresh instance of it (new expression ids, so two reads of one path
    * self-join cleanly). A relation is bound to the session that resolved
    * it, so it is served only to that session (compared by reference);
    * another session resolves, and takes over the entry.
    *
    * The content signature ([[signature]]) is stored in the value: a path
    * REWRITTEN in the same JVM (probe replicas, test scratch dirs) replaces
    * its entry instead of leaking a superseded one per rewrite, and
    * re-infers and re-lists instead of serving a stale schema (which for a
    * ts physical-type flip would mis-scale every timestamp 1000x) or a
    * stale file list. */
  private val catalog = new java.util.concurrent.ConcurrentHashMap[String, Cataloged]()

  /** Loads one of the standard test tables from an sf directory, through
    * the per-JVM [[catalog]].
    *
    * The `ts` column is normalized to session-zoned TIMESTAMP regardless of
    * how the writing engine encoded it — a 100 TB feed spans parquet writers
    * and an engine must tolerate all the common timestamp physical types:
    *   - TIMESTAMP(NANOS) (read as raw longs via nanosAsLong): floor-divided
    *     to micros — the same truncation a microsecond-native engine (e.g.
    *     DuckDB) applies when reading NANOS parquet, so values stay
    *     oracle-comparable.
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false) → Spark TIMESTAMP_NTZ:
    *     cast to TIMESTAMP. Under the session's UTC timezone this is an
    *     identity on the wall clock, so downstream results are unchanged.
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=true) → already TIMESTAMP: as-is.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val sig =
      try signature(spark, path)
      catch { case scala.util.control.NonFatal(_) => (0L, 0L, 0) }
    val entry = catalog.compute(path, (p, prev) =>
      if (prev != null && prev.sig == sig && (prev.owner eq spark)) prev
      else {
        val schema =
          if (prev != null && prev.sig == sig) prev.schema
          else spark.read.parquet(p).schema
        // a parquet read analyzes to one file relation (v1 or v2), nothing above it
        val rel = Bridge.analyzed(spark.read.schema(schema).parquet(p))
        Cataloged(sig, schema, spark, rel.asInstanceOf[MultiInstanceRelation])
      })
    val df = Bridge.ofRows(spark, entry.relation.newInstance())
    val tsNorm =
      if (!df.schema.fieldNames.contains("ts")) df
      else df.schema("ts").dataType match {
        // integer div, not `/`: nanos exceed 2^53 so double division loses µs
        case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
        case _                => df
      }
    // embedding vectors: the corpus contract is array<float>; a writer that
    // produced list<double> (pandas/pyarrow default for float lists) would
    // otherwise reach the float-typed kernels with 8-byte elements — the
    // same writer-drift class as the ts flip, normalized at the same
    // boundary. Float-representable values round-trip exactly, so every
    // downstream result (and oracle hash) is unchanged.
    if (!tsNorm.schema.fieldNames.contains("embedding")) tsNorm
    else tsNorm.schema("embedding").dataType match {
      case ArrayType(DoubleType, _) =>
        tsNorm.withColumn("embedding", col("embedding").cast(ArrayType(FloatType)))
      case _ => tsNorm
    }
  }

  /** Catalog ROW COUNT for one of the standard tables — the statistic a
    * size-dispatched operator (Knn.hardNegatives) consults to pick its
    * physical strategy, the way a CBO reads a metastore's ANALYZE counts.
    * For the local parquet layout the "catalog" is the parquet footers:
    * every footer carries the file's exact row count, read DRIVER-SIDE via
    * the Hadoop input-file API — never a Spark job, so operators that
    * dispatch on it keep the job-free-construction contract
    * (PlanAuditSpec). Cached under the same content [[signature]] as
    * [[table]]'s catalog: a rewritten path re-reads instead of serving a
    * stale count across the exact/LSH dispatch boundary. */
  def rowCount(spark: SparkSession, sfDir: String, name: String): Long = {
    val path = s"$sfDir/$name.parquet"
    val sig = signature(spark, path)
    rowCountCache.compute(path, (_, prev) =>
      if (prev != null && prev._1 == sig) prev
      else {
        val p = new org.apache.hadoop.fs.Path(path)
        val conf = spark.sparkContext.hadoopConfiguration
        val fs = p.getFileSystem(conf)
        val files =
          if (fs.getFileStatus(p).isDirectory)
            fs.listStatus(p).toSeq.map(_.getPath)
              .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
          else Seq(p)
        val n = files.map { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getRecordCount finally r.close()
        }.sum
        (sig, n)
      })._2
  }

  private val rowCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, ((Long, Long, Int), Long)]()
}
