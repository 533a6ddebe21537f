package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.{GraftSession, SparkEntry}
import graft.dedup.Dedup

/** One operation of a pass: runs a public graft call and fully
  * materialises its output, into parquet under the given directory on the
  * first pass (the outputs the checks read) and into a noop sink after.
  * `module` names the span its time lands in, or is empty when the
  * operation records its own spans. */
final case class Op(name: String, module: String, run: Option[String] => Unit)

/** Module spans: wall seconds per module, self time only (a span's time
  * minus the spans opened inside it). Off unless tracing. */
object Spans {
  var enabled = false
  val total: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  private val open = mutable.Stack.empty[Array[Double]] // per open span: child seconds

  def time[T](module: String)(body: => T): T =
    if (!enabled || module.isEmpty) body
    else {
      val t0 = System.nanoTime()
      open.push(Array(0.0))
      try body
      finally {
        val dt = (System.nanoTime() - t0) / 1e9
        val children = open.pop()(0)
        total(module) += dt - children
        if (open.nonEmpty) open.top(0) += dt
      }
    }
}

trait Workload {
  /** Opens the inputs: schemas and parquet footers. Part of set-up. */
  def open(): Unit
  /** Untimed reset before a pass. */
  def beforePass(): Unit = ()
  def ops: Seq[Op]
  /** Oracle SQL per checked output name. */
  def oracle: Seq[(String, String)] = Nil
  /** Untimed, after the timed passes: writes the rest of what the output
    * checks read under `checkDir`. */
  def writeChecks(checkDir: String): Unit = ()
  /** Untimed per-layer probes for the traced run. */
  def layerProbes(): Map[String, Double] = Map.empty
}

object Workloads {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def sink(df: DataFrame, out: Option[String]): Unit = out match {
    case Some(dir) => df.write.mode("overwrite").parquet(dir)
    case None => noop(df)
  }

  def apply(name: String, spark: SparkSession, data: String, work: String): Workload = name match {
    case "engagement" => new Engagement(new Ingest(spark, data, work),
      new Registry(spark, data, AnalysisOps, Seq("events", "lineitem", "orders", "customer")))
    case "curation" => new Curation(spark, data)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Registry op -> the module whose public calls it exercises. */
  val AnalysisOps: Seq[(String, String)] = Seq(
    "participants_column_view" -> "operators.column_view_s",
    "relabel_move_datasets" -> "operators.ws_correction_s",
    "impute_missing_code" -> "operators.imputation_s",
    "sessionize" -> "operators.sessionize_s",
    "engagement_pipeline" -> "analysis.engagement_pipeline_s",
    "configured_pipeline_view" -> "config.configured_pipeline_s",
    "regression_logit" -> "analysis.glm_s",
    "corr_matrix" -> "analysis.stats_s",
    "q18_large_orders" -> "analysis.relational_s")

  val CurationOps: Seq[(String, String)] = Seq(
    "training_pipeline" -> "curation.funnel_s",
    "dedup_minhash_verified" -> "dedup.minhash_s",
    "dedup_simhash64_pairs" -> "dedup.simhash_s",
    "dedup_prefix_filter" -> "dedup.prefix_filter_s",
    "dedup_keep_best" -> "dedup.components_s",
    "decontaminate" -> "curation.decontaminate_s",
    "dup_span_stats" -> "curation.span_stats_s",
    "record_linkage_jw" -> "dedup.linkage_s",
    "ann_ivf_topk" -> "similarity.ann_s")

  def oracleJson(entries: Seq[(String, String)]): String =
    Json(mutable.LinkedHashMap(entries: _*))

  def writeFile(path: String, text: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, text)
  }

  def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
  }

  /** Median seconds of `reps` runs of `body`. */
  def medianTime(reps: Int)(body: => Unit): Double = {
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }.sorted
    ts(ts.size / 2)
  }
}

/** Registry operations over the generated tables; checks compare each
  * output with its oracle SQL. */
class Registry(spark: SparkSession, data: String, protected val entries: Seq[(String, String)],
               tables: Seq[String]) extends Workload {
  import Workloads._

  def open(): Unit = tables.foreach(t => GraftSession.table(spark, data, t).schema)

  def ops: Seq[Op] = entries.map { case (name, module) =>
    val fn = SparkEntry.queries(name)
    Op(name, module, out => sink(fn(spark, data), out))
  }

  override def oracle: Seq[(String, String)] =
    entries.map { case (n, _) => n -> SparkEntry.oracleSql(n) }
}

/** The training-data run: registry curation ops, the keep-longest fuzzy
  * export, and a components call forced past its driver-local cap. */
class Curation(spark: SparkSession, data: String)
    extends Registry(spark, data, Workloads.CurationOps, Seq("documents", "embeddings")) {
  import Workloads._

  private val sliceDir = s"$data/keep_longest"
  private def slice = GraftSession.table(spark, sliceDir, "documents")
  private def docs = GraftSession.table(spark, data, "documents")
  private def verifiedPairs(d: DataFrame) =
    Dedup.minhashDedupVerified(d, col("doc_id"), col("text"), 3, 16, 4, 0.5)

  /** Curation.fuzzyCurationExport keeping each component's longest kept
    * member: the quality score is the corpus's own n_chars column. No
    * mixture weights, so every component keeper survives. */
  private def keepLongest(qscore: org.apache.spark.sql.Column): DataFrame = {
    val d = slice
    graft.curation.Curation.fuzzyCurationExport(d, col("doc_id"), col("text"), col("lang"),
      verifiedPairs(d), qscore, Map.empty)
  }
  private def keepLongestOp = keepLongest(col("n_chars"))
  private def keepLongestTwin = keepLongest(length(col("text")).cast("long"))

  /** Components with a cap of one edge, which any pair exceeds: the
    * size dispatch always takes the distributed loop. Checked against the
    * same oracle as `dedup_components`. */
  private def componentsDistributed =
    Dedup.connectedComponents(verifiedPairs(docs), "doc_a", "doc_b", localEdgeCap = 1)

  override def open(): Unit = {
    super.open()
    GraftSession.table(spark, sliceDir, "documents").schema
  }

  override def ops: Seq[Op] = super.ops ++ Seq(
    Op("fuzzy_export_keep_longest", "curation.funnel_s", out => sink(keepLongestOp, out)),
    Op("dedup_components_distributed", "dedup.components_s", out => sink(componentsDistributed, out)))

  override def oracle: Seq[(String, String)] = {
    // the engine's per-document Gopher decision SQL, with ids passed through
    val decisions = {
      val m = SparkEntry.getClass.getDeclaredMethod("gopherDecisionSql", classOf[String], classOf[String])
      m.setAccessible(true)
      m.invoke(SparkEntry, "doc_id, n_chars,", "doc_id, n_chars,").asInstanceOf[String]
    }
    super.oracle ++ Seq(
      "dedup_components_distributed" -> SparkEntry.oracleSql("dedup_components"),
      "__slice_pairs" -> SparkEntry.oracleSql("dedup_minhash_verified"),
      "__slice_quality" -> decisions)
  }

  override def writeChecks(checkDir: String): Unit = {
    // the working twin shows the property check holds on a run that succeeds
    sink(keepLongestTwin, Some(s"$checkDir/fuzzy_export_keep_longest__twin"))
  }

  override def layerProbes(): Map[String, Double] = {
    val d = docs.select(col("doc_id"), col("text")).cache()
    noop(d)
    val exact = medianTime(3)(noop(Dedup.exact(d, col("doc_id"), col("text"))))
    val quality = medianTime(3)(noop(d.select(graft.text.TextFeatures.qualityColumns(col("text")): _*)))
    val candidates = Dedup.lshCandidatePairs(
      Dedup.minhashSignatures(d, col("doc_id"), col("text"), 3, 16), 16, 4).count()
    val verified = verifiedPairs(d).count()
    // kernel ns/row: the kernel's projection net of a bare projection of the
    // same columns, each over a cached input copied 64 times, so the
    // kernel's work outweighs the job around it
    import graft.functions._
    def copies(df: DataFrame) = df.crossJoin(spark.range(64).select(lit(1).as("__copy")))
      .drop("__copy").repartition(spark.sparkContext.defaultParallelism).cache()
    val texts = copies(d.select(col("text")))
    val nt = texts.count().toDouble
    val pairs = copies(d.select(substring(col("text"), 1, 40).as("a"), substring(col("text"), 5, 40).as("b")))
    pairs.count()
    val vecs = copies(GraftSession.table(spark, data, "embeddings")
      .select(graft.similarity.Knn.toDoubleArray(col("embedding")).as("v")))
    val nv = vecs.count().toDouble
    def nsRow(input: DataFrame, rows: Double, bare: Seq[org.apache.spark.sql.Column],
              kernel: org.apache.spark.sql.Column): Double = {
      val k = medianTime(5)(noop(input.select(kernel)))
      val b = medianTime(5)(noop(input.select(bare: _*)))
      (k - b) / rows * 1e9
    }
    val out = Map(
      "dedup.exact_s" -> exact,
      "text.quality_s" -> quality,
      "dedup.verified_per_candidate" -> (if (candidates == 0) 0.0 else verified.toDouble / candidates),
      "functions.minhash_sig_ns_row" -> nsRow(texts, nt, Seq(col("text")), ShingleExpressions.minhashSig(
        col("text"), 3, Dedup.minhashA.take(16), Dedup.minhashB.take(16), Dedup.minhashPrime)),
      "functions.simhash64_ns_row" -> nsRow(texts, nt, Seq(col("text")), ShingleExpressions.simhash64(col("text"))),
      "functions.token_count_ns_row" -> nsRow(texts, nt, Seq(col("text")), TokenCount.tokenCount(col("text"))),
      "functions.jaro_winkler_ns_row" -> nsRow(pairs, nt, Seq(col("a"), col("b")),
        JaroWinkler.jaroWinkler(col("a"), col("b"))),
      "functions.damerau_ns_row" -> nsRow(pairs, nt, Seq(col("a"), col("b")),
        DamerauLevenshtein.damerauLevenshtein(col("a"), col("b"))),
      "functions.dot_product_ns_row" -> nsRow(vecs, nv, Seq(col("v")),
        VectorExpressions.dot(col("v"), col("v"))))
    Seq(d, texts, pairs, vecs).foreach(_.unpersist(true))
    out
  }
}

/** The incremental sync replayed batch by batch into a fresh target. */
class Ingest(spark: SparkSession, data: String, work: String) extends Workload {
  import Workloads._

  private val in = s"$data/ingest"
  private val batches = new java.io.File(in).list().count(_.startsWith("events_b"))
  private val root = s"$work/ingest"
  private val tablePath = s"$root/events_table"
  private val cdcPath = s"$root/cdc_target"
  private val statePath = s"$root/funnel_state"
  private val corpusPath = s"$root/corpus"
  private val archivePath = s"$root/archive"
  private val wmDir = s"$root/watermarks"
  private val weights = Map("en" -> 100, "fr" -> 50, "es" -> 25, "de" -> 10)
  private val from = "2024-01-08 00:00:00"
  private val until = "2024-01-21 00:00:00"
  private val digestSchema = StructType(Seq(StructField("digest", StringType)))

  // the engine's own loader: it normalises the writer's timestamp type
  private def events(k: Int) = GraftSession.table(spark, in, f"events_b$k%02d")
  private def docs(k: Int) = GraftSession.table(spark, in, f"docs_b$k%02d")
  private def side(name: String) = GraftSession.table(spark, in, name)
  private def exists(p: String) = new java.io.File(p).exists()

  // rows each batch's sync handed on, by batch: fixed by the ts watermark
  private val fresh = mutable.Map.empty[Int, DataFrame]

  def open(): Unit = {
    (0 until batches).foreach { k => events(k).schema; docs(k).schema }
    Seq("test_deny", "withdrawn", "benchmark").foreach(side(_).schema)
  }

  override def beforePass(): Unit = {
    rmTree(new java.io.File(root))
    fresh.clear()
  }

  def ops: Seq[Op] = (0 until batches).flatMap { k =>
    Seq(
      Op(s"sync_append_b$k", "", _ => Spans.time("sources.sync_s") {
        graft.sources.Sources.syncIncremental(spark, events(k), col("ts"), wmDir, "events") { slice =>
          Spans.time("sources.append_s")(graft.sources.Sources.appendDeduped(slice, tablePath, "event_id"))
          fresh(k) = slice.dropDuplicates("event_id")
        }
      }),
      Op(s"cdc_merge_b$k", "sources.cdc_merge_s", _ =>
        graft.sources.Sources.mergeCdcBatch(spark, cdcPath,
          fresh(k).select(col("user_id"), col("ts"), col("event_id"), col("event_type"), col("value")),
          col("event_type") === "error", Seq(col("user_id")), col("ts"), col("event_id"))),
      Op(s"funnel_state_b$k", "streaming.funnel_state_s", _ =>
        graft.streaming.Streams.appendFunnelState(fresh(k), k.toLong, statePath, "user_id",
          col("event_type"), col("ts"), from, until, side("test_deny"), side("withdrawn"),
          c => c.cast("int") >= 50, "ws_", graft.text.Cleaners.firstInt(col("props")))),
      Op(s"training_ingest_b$k", "dedup.incremental_s", _ => {
        val b = docs(k)
        val archive =
          if (exists(archivePath)) spark.read.parquet(archivePath)
          else spark.createDataFrame(java.util.List.of[Row](), digestSchema)
        val bench = side("benchmark")
        graft.curation.Curation.trainingIngestSurvivors(b, archive, bench,
          col("doc_id"), col("text"), col("lang"), col("lang"), weights)
          .withColumn("batch", lit(k)).write.mode("append").parquet(corpusPath)
        b.select(md5(col("text")).as("digest"), lit(k).as("batch"))
          .write.mode("append").parquet(archivePath)
      }),
      Op(s"dashboard_b$k", "", _ => {
        Spans.time("analysis.merge_states_s")(noop(
          graft.analysis.EngagementPipeline.mergeFunnelStates(spark.read.parquet(statePath))))
        Spans.time("operators.snapshots_s")(noop(graft.operators.Snapshots.latest(
          spark.read.parquet(tablePath), Seq(col("user_id")), col("ts"), col("event_id"))))
      }))
  }

  override def oracle: Seq[(String, String)] =
    Seq("engagement_pipeline" -> SparkEntry.oracleSql("engagement_pipeline"))

  /** The last pass's target stays in place; the checks read it there. */
  override def writeChecks(checkDir: String): Unit = {
    writeFile(s"$checkDir/ingest_paths.json", oracleJson(Seq(
      "table" -> tablePath, "cdc" -> cdcPath, "corpus" -> corpusPath,
      "archive" -> archivePath, "watermark" -> s"$wmDir/events.txt")))
    graft.analysis.EngagementPipeline.mergeFunnelStates(spark.read.parquet(statePath))
      .select(col("stage"), col("stage_name"), col("dataset"), col("n_rows"), col("n_imputed"))
      .write.mode("overwrite").parquet(s"$checkDir/merged_funnel")
  }

  override def layerProbes(): Map[String, Double] = {
    val delivered = (0 until batches).map(k => events(k).count()).sum.toDouble
    val kept = spark.read.parquet(tablePath).count().toDouble
    val files = Option(new java.io.File(root).listFiles()).toSeq.flatten
    def dataFiles(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dataFiles).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    Map("sources.kept_per_delivered" -> kept / delivered,
      "sources.files_written" -> files.map(dataFiles).sum.toDouble)
  }
}

/** The reference's run end to end: the ingest replay (stage 1), then the
  * analysis registry ops (stage 3) over the full tables. */
class Engagement(ingest: Ingest, analysis: Registry) extends Workload {
  def open(): Unit = { ingest.open(); analysis.open() }
  override def beforePass(): Unit = ingest.beforePass()
  def ops: Seq[Op] = ingest.ops ++ analysis.ops
  override def oracle: Seq[(String, String)] = (analysis.oracle ++ ingest.oracle).distinct
  override def writeChecks(checkDir: String): Unit = ingest.writeChecks(checkDir)
  override def layerProbes(): Map[String, Double] = ingest.layerProbes()
}
