package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Source/sink surface.
  *
  * The reference ingests from many APIs (RapidPro, CSV, Google Forms,
  * Telegram, KoboToolbox — reference: src/&#42;_to_engagement_db/) into an
  * engagement DB, always incrementally: fetch only records updated after the
  * cached watermark (reference:
  * src/common/get_messages_in_datasets.py:55-75), dedup on origin_id before
  * insert (src/rapid_pro_to_engagement_db/rapid_pro_to_engagement_db.py:175).
  *
  * Spark-first: file-backed tables (parquet/orc/csv/jsonl) with explicit
  * schema,
  * plus a watermark helper that turns any timestamped table into an
  * incremental feed — a pure pushed-down predicate, so each sync reads only
  * new partitions/row-groups.
  */
object Sources {

  def parquet(spark: SparkSession, path: String): DataFrame = spark.read.parquet(path)

  /** ORC ingest — the other columnar format a mixed-writer lake contains.
    * Spark's native ORC reader supports the same predicate pushdown and
    * column pruning as parquet (OrcSourcesSpec pins both), so an engine
    * fed by a Hive-era ORC archive scans it as cheaply as its own
    * parquet output. */
  def orc(spark: SparkSession, path: String): DataFrame = spark.read.orc(path)

  def csv(spark: SparkSession, path: String, schema: StructType, header: Boolean = true): DataFrame =
    spark.read.schema(schema).option("header", header.toString).csv(path)

  def jsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** CSV ingest with quarantine: malformed rows land in `__corrupt` (raw
    * line preserved) instead of failing the sync or being silently
    * dropped — at 100 TB a feed WILL contain garbage, and the operational
    * requirements are (a) the sync completes, (b) every bad line is
    * retained for triage, (c) the clean split is one `__corrupt IS NULL`
    * filter away. PERMISSIVE parsing with an explicit corrupt-record
    * column.
    *
    * The returned frame is PERSISTED: Spark refuses queries that reference
    * only the corrupt column of a raw CSV scan
    * (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN), so the
    * quarantine-count monitoring this helper exists for would throw on an
    * unpersisted read. The default storage level is DISK_ONLY so a large
    * feed can never evict other cached state from executor memory; pass
    * MEMORY_AND_DISK for small feeds queried repeatedly. Callers should
    * `unpersist()` once the clean and quarantined splits are written.
    */
  def csvWithQuarantine(spark: SparkSession, path: String, schema: StructType,
                        header: Boolean = true,
                        storageLevel: org.apache.spark.storage.StorageLevel =
                          org.apache.spark.storage.StorageLevel.DISK_ONLY): DataFrame =
    spark.read
      .schema(schema.add("__corrupt", "string"))
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "__corrupt")
      .csv(path)
      .persist(storageLevel)

  /** Minimal JSON string escaping shared by the run-event log and the
    * shard manifest — one definition so the two records can never drift in
    * what counts as valid JSON. */
  private def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c => c.toString
  }

  /** Incremental slice: rows strictly after the watermark. The predicate is
    * a plain column comparison — pushed to the scan, prunable by partition.
    */
  def readIncremental(df: DataFrame, tsCol: Column, watermark: java.sql.Timestamp): DataFrame =
    df.filter(tsCol > lit(watermark))

  /** Next watermark for a slice (None when the slice is empty). The max is
    * read as a session-zoned TIMESTAMP, so a TIMESTAMP_NTZ column works too
    * (the slice filters compare it under the same cast). */
  def nextWatermark(df: DataFrame, tsCol: Column): Option[java.sql.Timestamp] =
    Option(df.agg(max(tsCol).cast("timestamp")).head().getTimestamp(0))

  /** Persists a sync watermark as ISO-8601 text at `<cacheDir>/<name>.txt`,
    * mirroring the reference's incremental-sync cache
    * (src/common/cache.py:36 `set_date_time`/`get_date_time`). Uses the
    * Hadoop FileSystem API so the cache dir can live on HDFS/S3/GCS next to
    * the data, not only on a local disk; the write goes through a temp file
    * + rename so a crashed sync never leaves a torn watermark.
    */
  def writeWatermark(spark: SparkSession, cacheDir: String, name: String,
                     watermark: java.sql.Timestamp): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(cacheDir)
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    val tmp = new org.apache.hadoop.fs.Path(dir, s".$name.tmp")
    val dst = new org.apache.hadoop.fs.Path(dir, s"$name.txt")
    val out = fs.create(tmp, true)
    try out.write(watermark.toInstant.toString.getBytes("UTF-8"))
    finally out.close()
    fs.delete(dst, false)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"failed to move watermark into place at $dst")
  }

  /** Restores a persisted watermark; None when no sync has run yet. */
  def readWatermark(spark: SparkSession, cacheDir: String, name: String): Option[java.sql.Timestamp] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = new org.apache.hadoop.fs.Path(cacheDir, s"$name.txt")
    val fs = dst.getFileSystem(conf)
    if (!fs.exists(dst)) None
    else {
      val in = fs.open(dst)
      try {
        val txt = new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8").trim
        Some(java.sql.Timestamp.from(java.time.Instant.parse(txt)))
      } finally in.close()
    }
  }

  /** One incremental sync round with a persisted watermark: reads rows
    * after the cached watermark (full table on first run), hands the slice
    * to `process`, and advances the cache ONLY after `process` returns —
    * a failure mid-process leaves the watermark untouched, so the next sync
    * re-reads the same slice (at-least-once, like the reference's cache-
    * after-sync ordering). Returns the new watermark, if any rows were read.
    */
  def syncIncremental(spark: SparkSession, df: DataFrame, tsCol: Column,
                      cacheDir: String, name: String)
                     (process: DataFrame => Unit): Option[java.sql.Timestamp] = {
    // NULL-timestamp rows can never be ordered by a watermark, so they ride
    // along in EVERY slice rather than being silently dropped (a 100 TB
    // feed with a few null updated-at records must not lose them):
    // at-least-once delivery, the same trade the bound-first ordering below
    // already makes — pair with dedupAgainst for effectively-once storage.
    val base = readWatermark(spark, cacheDir, name) match {
      case Some(wm) => df.filter(tsCol > lit(wm) || tsCol.isNull)
      case None => df
    }
    // Fix the watermark bound FIRST, then process only rows at or below it:
    // on a live source, computing the max AFTER process() would let rows
    // that arrived in between advance the watermark past data process()
    // never saw (silent loss). With the bound taken up front, later-arriving
    // rows are either <= bound and re-read next round (at-least-once, the
    // usual late-data trade every watermark scheme makes) or > bound and
    // picked up next round. Costs one extra cheap max-aggregation scan;
    // nothing is cached or checkpointed, so the first full-table sync
    // streams through at any size.
    val next = nextWatermark(base, tsCol)
    val slice = next match {
      case Some(hi) => base.filter(tsCol <= lit(hi) || tsCol.isNull)
      case None => base // nothing orderable; any null-ts rows still flow
    }
    process(slice)
    next.foreach(writeWatermark(spark, cacheDir, name, _))
    next
  }

  /** Pipeline run-event log — the operations-dashboard record of every
    * pipeline run (reference: log_pipeline_event.py:14 writes run
    * start/end events, keyed by pipeline name and run id, to a dashboard
    * table). Spark-native: one small immutable JSON file per event under
    * `logDir` (object-store safe — no appends, no contention between
    * concurrent runs), readable back as a DataFrame for monitoring
    * queries. Events are per pipeline RUN, not per row, so the log stays
    * tiny at any data scale; the write is temp+rename like the watermark
    * cache so a crash never leaves a torn event.
    */
  def logRunEvent(spark: SparkSession, logDir: String, pipelineName: String,
                  runId: String, eventKey: String,
                  at: java.time.Instant): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(logDir)
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    // event identity in the file name: a retried logger call overwrites its
    // own event instead of duplicating it (idempotent), while distinct
    // events never collide. Each component is percent-encoded (including
    // '_' and '%') before joining with '_', so ("run_1","end") and
    // ("run","1_end") map to different names — a sanitize-then-join that
    // flattened separators would silently alias such pairs.
    // Encoding is per UTF-8 BYTE (always exactly %XX, two hex digits):
    // a per-CHAR encoding with no fixed width would alias distinct ids —
    // em dash U+2014 would encode to "%2014", identical to the encoding
    // of the three ASCII chars " 14".
    // A LEADING '.' is encoded (a runId starting with '.' would yield a
    // dot-file that Hadoop's default path filter hides, so readRunEvents
    // would silently drop an event logRunEvent reported as written);
    // interior dots pass through unchanged so names written before this
    // rule keep their identity and a retried logger call still overwrites
    // its own event instead of duplicating it.
    def enc(s: String): String = {
      val sb = new StringBuilder
      s.getBytes("UTF-8").foreach { b =>
        val i = b & 0xFF
        val passthrough = (i >= 'a' && i <= 'z') || (i >= 'A' && i <= 'Z') ||
          (i >= '0' && i <= '9') || i == '-' || i == '.'
        if (passthrough) sb.append(i.toChar) else sb.append(f"%%$i%02X")
      }
      val e = sb.toString
      if (e.startsWith(".")) "%2E" + e.drop(1) else e
    }
    val name = s"${enc(runId)}_${enc(eventKey)}.json"
    val tmp = new org.apache.hadoop.fs.Path(dir, s".$name.tmp")
    val dst = new org.apache.hadoop.fs.Path(dir, name)
    val out = fs.create(tmp, true)
    try out.write((s"""{"pipeline":"${jsonEscape(pipelineName)}",""" +
      s""""run_id":"${jsonEscape(runId)}","event":"${jsonEscape(eventKey)}",""" +
      s""""at":"${at.toString}"}""" + "\n").getBytes("UTF-8"))
    finally out.close()
    fs.delete(dst, false)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"failed to move run event into place at $dst")
  }

  /** Reads the run-event log back for dashboarding (explicit schema — a
    * corrupt stray file surfaces as nulls to filter, not a schema guess). */
  def readRunEvents(spark: SparkSession, logDir: String): DataFrame = {
    val schema = StructType.fromDDL(
      "pipeline STRING, run_id STRING, event STRING, at TIMESTAMP")
    // a dashboard querying before the first run has logged anything must
    // see an empty frame, not a PATH_NOT_FOUND from a zero-match glob
    val dir = new org.apache.hadoop.fs.Path(logDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasEvents = fs.exists(dir) &&
      fs.listStatus(dir).exists(_.getPath.getName.endsWith(".json"))
    if (!hasEvents)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    else spark.read.schema(schema).json(logDir + "/*.json")
  }

  /** Origin-id dedup before insert: drop rows whose origin key already
    * exists in the target. Anti join on the key — broadcast when the target
    * key set is small, shuffle-hash otherwise. The join is NULL-SAFE to
    * match dropDuplicates' null handling: a null-keyed row already in the
    * target blocks further null-keyed inserts, instead of re-inserting on
    * every redelivery (`=== null` never matches, `<=>` does).
    */
  def dedupAgainst(incoming: DataFrame, existing: DataFrame, key: String): DataFrame = {
    graft.util.TempCols.assertFree(incoming, "__existing_key")
    val ex = existing.select(col(key).as("__existing_key"))
    incoming.dropDuplicates(key) // a batch can carry its own repeats (page overlap)
      .join(ex, col(key) <=> col("__existing_key"), "left_anti")
  }

  /** At-least-once delivery → effectively-once storage: append only rows
    * whose origin key is not already in the target. This is the standard
    * `foreachBatch` upsert for streaming ingest (the reference dedups on
    * origin_id before insert for exactly this reason): a re-delivered
    * micro-batch — restart without checkpoint, retried epoch, overlapping
    * API page — inserts nothing. The existing-key read snapshots the
    * target's file list BEFORE the append starts, so the anti-join never
    * sees its own write. At scale, partition the target so a batch's
    * anti-join reads only the slice it can collide with (e.g. by date for
    * time-ordered origins).
    */
  def appendDeduped(df: DataFrame, path: String, key: String): Unit = {
    val spark = df.sparkSession
    // A target that exists but holds no parquet files (aborted first write,
    // leftover _temporary, object-store dir marker) throws
    // UNABLE_TO_INFER_SCHEMA rather than PATH_NOT_FOUND — both mean "no
    // existing data", so both fall through to the fresh-target branch.
    val existing =
      try Some(spark.read.parquet(path))
      catch { case e: org.apache.spark.sql.AnalysisException
        if e.getCondition == "PATH_NOT_FOUND" ||
           e.getCondition == "UNABLE_TO_INFER_SCHEMA" => None }
    val fresh = existing match {
      case Some(ex) => dedupAgainst(df, ex, key)
      case None => df.dropDuplicates(key)
    }
    fresh.write.mode("append").parquet(path)
  }

  /** Persist a fact table bucketed (and sorted) by its entity key: every
    * downstream entity-keyed aggregation/window then plans without an
    * exchange (proven in BucketedSpec). The standard layout investment for
    * re-keyed pipelines at 100 TB.
    */
  def writeBucketed(df: DataFrame, tableName: String, path: String,
                    bucketCol: String, numBuckets: Int, sortCols: Seq[String]): Unit = {
    // bucketBy without sortBy is a valid layout — only sort when asked,
    // instead of throwing a bare NoSuchElementException on an empty list
    val w = df.write.mode("overwrite").bucketBy(numBuckets, bucketCol)
    val ws = if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w
    ws.option("path", path).saveAsTable(tableName)
  }

  /** Range-clustered layout: rows range-partitioned AND sorted on `rangeCol`
    * (typically event time), so file- and row-group-level min/max stats are
    * disjoint and a time-bounded scan prunes to the few files that can
    * match. This is the layout investment for time-sliced workloads —
    * incremental syncs, traffic analysis, retention windows — the
    * complement of `writeBucketed` (which serves key-equality workloads).
    * One range shuffle (sampled boundaries) + local sorts; no global sort.
    */
  def writeRangeLayout(df: DataFrame, path: String, rangeCol: String,
                       numFiles: Int): Unit =
    df.repartitionByRange(numFiles, col(rangeCol))
      .sortWithinPartitions(rangeCol)
      .write.mode("overwrite").parquet(path)

  /** Interleave the low `bits` bits of two bucket ids into a Morton
    * (Z-order) value: bit i of `bx` lands at position 2i, bit i of `by`
    * at 2i+1, so nearby (bx, by) cells get nearby z-values and a
    * contiguous z-range covers a compact 2-D block. Pure bit arithmetic
    * (the classic spread-shift sequence), fully codegen'd.
    */
  def mortonInterleave(bx: Column, by: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 16, s"interleave supports 1..16 bits, got $bits")
    def spread(c: Column): Column = {
      // spread a 16-bit value so its bits occupy the even positions
      val m = c.cast("long").bitwiseAND(lit((1L << bits) - 1L))
      val s8 = m.bitwiseOR(shiftleft(m, 8)).bitwiseAND(lit(0x00FF00FFL))
      val s4 = s8.bitwiseOR(shiftleft(s8, 4)).bitwiseAND(lit(0x0F0F0F0FL))
      val s2 = s4.bitwiseOR(shiftleft(s4, 2)).bitwiseAND(lit(0x33333333L))
      s2.bitwiseOR(shiftleft(s2, 1)).bitwiseAND(lit(0x55555555L))
    }
    spread(bx).bitwiseOR(shiftleft(spread(by), 1))
  }

  /** Linear [lo, hi] -> [0, 2^bits) bucket id for z-ordering. Degenerate
    * ranges (hi <= lo) and NULLs bucket to 0 — layout code must place
    * every row somewhere, never crash the write. Rank-based bucketing
    * (percentile boundaries) is the skew-robust upgrade; linear keeps the
    * bucket a pure row-local expression.
    */
  def linearBucket(c: Column, lo: Column, hi: Column, bits: Int = 16): Column = {
    val n = (1L << bits) - 1L
    val scaled = floor((c.cast("double") - lo) / (hi - lo) * n)
    coalesce(
      when(hi > lo, least(greatest(scaled, lit(0L)), lit(n))).otherwise(lit(0L)),
      lit(0L)).cast("long")
  }

  /** Z-order-clustered layout over TWO columns: rows are range-partitioned
    * and sorted by the Morton interleave of the columns' bucket ids, so
    * each output file covers a compact rectangle in (xCol, yCol) space and
    * its parquet min/max stats are tight on BOTH columns — a scan bounded
    * in either (or both) dimensions prunes to the few intersecting files.
    * `writeRangeLayout` serves one-dimension slices; this is the layout
    * investment when two predicates share the table (time x key, geo x
    * time), the same trade Delta's OPTIMIZE ZORDER makes. Cost: one tiny
    * min/max aggregation (driver-held bounds baked into the plan) + one
    * range shuffle with local sorts — never a global sort.
    */
  def writeZOrderLayout(df: DataFrame, path: String, xCol: String, yCol: String,
                        numFiles: Int, bits: Int = 16): Unit = {
    graft.util.TempCols.assertFree(df, "__z")
    val b = df.agg(
      min(col(xCol).cast("double")), max(col(xCol).cast("double")),
      min(col(yCol).cast("double")), max(col(yCol).cast("double"))).head()
    // an empty frame has no bounds; write the empty layout as-is
    if (b.isNullAt(0) || b.isNullAt(2)) {
      df.write.mode("overwrite").parquet(path)
      return
    }
    val z = mortonInterleave(
      linearBucket(col(xCol), lit(b.getDouble(0)), lit(b.getDouble(1)), bits),
      linearBucket(col(yCol), lit(b.getDouble(2)), lit(b.getDouble(3)), bits), bits)
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Writes parquet with the output file count sized from the optimizer's
    * size estimate (`targetMb` per file): the standard defense against the
    * two layout failure modes at 100 TB — thousands of kilobyte files from
    * over-partitioned upstreams (NameNode/listing pressure, per-file open
    * cost) and multi-GB files from `coalesce(1)` habits (no read
    * parallelism). Estimates come from plan statistics, so no extra pass
    * over the data; the repartition is a round-robin shuffle of only the
    * final output.
    */
  def writeSizedParquet(df: DataFrame, path: String, targetMb: Int = 512,
                        maxFiles: Int = 100000): Unit = {
    // sizeInBytes is an estimate and join nodes multiply child sizes, so
    // clamp IN BigInt (a blind .toLong can wrap negative on deep joins) and
    // cap the file count — a bad estimate must never drive a
    // 2-billion-partition shuffle
    val target = BigInt(targetMb.toLong << 20)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val want = (bytes + target - 1) / target // ceiling: files average <= targetMb
    val files = want.min(BigInt(maxFiles)).max(BigInt(1)).toInt
    df.repartition(files).write.mode("overwrite").parquet(path)
  }

  /** In-place compaction of a parquet directory — the maintenance step an
    * append-based ingest needs: every `appendDeduped` micro-batch lays
    * down its own files, and a week of 5-minute batches is 2000 small
    * files per table. Rewrites the current contents at `targetMb` sizing
    * (via the plan-statistics sizing of writeSizedParquet), then swaps
    * directories in a crash-safe order: write tmp → move old to trash →
    * move tmp into place → drop trash. A crash leaves the data recoverable
    * at every step (as the original, the trash copy, or the compacted
    * output), though during the two-rename swap window `path` itself is
    * briefly absent — in-place directory compaction cannot be atomic for
    * CONCURRENT readers without a table format; run it in the pipeline's
    * maintenance slot. Rename atomicity is per-filesystem (atomic on
    * HDFS; object stores should compact behind a table format instead).
    */
  def compactParquet(spark: SparkSession, path: String, targetMb: Int = 512): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(path + ".__compact_tmp")
    val trash = new org.apache.hadoop.fs.Path(path + ".__compact_trash")
    require(!fs.exists(tmp) && !fs.exists(trash),
      s"stale compaction dirs next to $path — a previous compaction crashed; recover manually")
    writeSizedParquet(spark.read.parquet(path), tmp.toString, targetMb)
    if (!fs.rename(dst, trash))
      throw new java.io.IOException(s"compaction: failed to move $dst aside")
    if (!fs.rename(tmp, dst)) {
      // roll back; if even that fails, say WHERE the data is — an operator
      // recovering from "failed to move tmp" alone would look in the
      // wrong directory
      if (fs.rename(trash, dst))
        throw new java.io.IOException(
          s"compaction: failed to move $tmp into place; original restored at $dst")
      else
        throw new java.io.IOException(
          s"compaction: failed to move $tmp into place AND the rollback failed — " +
            s"the original data is intact at $trash, the compacted copy at $tmp")
    }
    fs.delete(trash, true)
  }

  /** Schema-drift audit between two table versions — the SCHEMA side of
    * the reconciliation story (snapshot_diff compares states; this
    * compares shapes). A 100 TB feed spans writers and years; the ts /
    * date / money / embedding encoding drifts this engine normalizes at
    * ingest were all first visible as exactly this kind of diff. Field
    * ORDER changes are deliberately not drift (columnar readers address
    * by name); nullability-only changes report as `nullability_changed`
    * (looser or tighter — callers decide severity), type changes as
    * `type_changed`.
    *
    * Returns (status, column, detail) rows; empty = schemas compatible.
    * Pure metadata — no data is read.
    */
  def schemaDiff(old: StructType, neu: StructType): Seq[(String, String, String)] = {
    val o = old.fields.map(f => f.name -> f).toMap
    val n = neu.fields.map(f => f.name -> f).toMap
    val added = (n.keySet -- o.keySet).toSeq.sorted
      .map(c => ("added", c, n(c).dataType.simpleString))
    val removed = (o.keySet -- n.keySet).toSeq.sorted
      .map(c => ("removed", c, o(c).dataType.simpleString))
    val common = (o.keySet & n.keySet).toSeq.sorted
    val typeChanged = common
      .filter(c => o(c).dataType != n(c).dataType)
      .map(c => ("type_changed", c,
        s"${o(c).dataType.simpleString} -> ${n(c).dataType.simpleString}"))
    val nullChanged = common
      .filter(c => o(c).dataType == n(c).dataType && o(c).nullable != n(c).nullable)
      .map(c => ("nullability_changed", c,
        s"${o(c).nullable} -> ${n(c).nullable}"))
    added ++ removed ++ typeChanged ++ nullChanged
  }

  /** Erasure sweep (the right-to-be-forgotten writer): rewrite a parquet
    * table in place EXCLUDING every row whose `keyCol` appears in `deny`,
    * and return (rows_before, rows_after) for the erasure log. The
    * reference's consent machinery marks withdrawn participants so
    * EXPORTS exclude them (`consent_withdrawn` covers the query side);
    * erasure is the stronger storage-level obligation — the bytes must
    * go.
    *
    * Same temp→trash→swap discipline as [[compactParquet]] (a crash never
    * leaves the table half-erased: either the old data is intact or the
    * swept copy is in place), same loud recovery message on a stale
    * crash. The anti-join broadcasts the deny list — erasure requests are
    * human-scale; the rewrite cost is the table scan, which is the
    * irreducible price of physical deletion on immutable files.
    */
  def eraseKeys(spark: SparkSession, path: String, keyCol: String,
                deny: DataFrame): (Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(path + ".__erase_tmp")
    val trash = new org.apache.hadoop.fs.Path(path + ".__erase_trash")
    require(!fs.exists(tmp) && !fs.exists(trash),
      s"stale erasure dirs next to $path — a previous erasure crashed; recover manually")
    val current = spark.read.parquet(path)
    val before = current.count()
    // pick the deny column BY NAME when present; a multi-column deny frame
    // without the key is ambiguous, and silently taking columns.head would
    // anti-join on the wrong values — leaving to-be-forgotten rows in
    // place with no error. Compliance paths fail loud, not wrong.
    val denyCol =
      if (deny.columns.contains(keyCol)) keyCol
      else {
        require(deny.columns.length == 1,
          s"eraseKeys: deny frame has columns ${deny.columns.mkString("[", ",", "]")} " +
            s"but none named '$keyCol'; pass a single-column frame or name the key")
        deny.columns.head
      }
    val denyKeys = org.apache.spark.sql.functions.broadcast(
      deny.select(denyCol).toDF(keyCol).distinct())
    // USING-join hoists the key to the front; restore the table's own
    // column order so the swept file is schema-identical to the original
    val swept = current.join(denyKeys, Seq(keyCol), "left_anti")
      .select(current.columns.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
    swept.write.parquet(tmp.toString)
    if (!fs.rename(dst, trash))
      throw new java.io.IOException(s"erasure: failed to move $dst aside")
    if (!fs.rename(tmp, dst)) {
      if (fs.rename(trash, dst))
        throw new java.io.IOException(
          s"erasure: failed to move $tmp into place; original restored at $dst")
      else
        throw new java.io.IOException(
          s"erasure: failed to move $tmp into place AND the rollback failed — " +
            s"the original data is intact at $trash, the swept copy at $tmp")
    }
    fs.delete(trash, true)
    val after = spark.read.parquet(path).count()
    (before, after)
  }

  /** Materialize a latest-state table from successive CDC batches — the
    * foreachBatch sink that keeps a queryable MERGE target up to date
    * from an always-on change stream (the missing sibling of
    * [[appendDeduped]]: that one accretes immutable rows, this one
    * REPLACES state under upserts and tombstones).
    *
    * Each call folds one batch into the table via
    * `Snapshots.cdcApply` (newest-row-per-key, tombstones drop,
    * later-upsert resurrects) and swaps the result in with the
    * temp→trash→swap discipline of [[compactParquet]] — a crash leaves
    * either the previous state or the merged state, never a torn table.
    * Re-delivering a batch is a no-op by construction (replaying log
    * rows cannot change the latest-by-version winners — spec-pinned), so
    * at-least-once delivery is safe without an offset ledger.
    */
  def mergeCdcBatch(spark: SparkSession, path: String, batch: DataFrame,
                    isDelete: Column, key: Seq[Column], version: Column,
                    tiebreaks: Column*): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(path + ".__merge_tmp")
    val trash = new org.apache.hadoop.fs.Path(path + ".__merge_trash")
    require(!fs.exists(tmp) && !fs.exists(trash),
      s"stale merge dirs next to $path — a previous merge crashed; recover manually")
    val base =
      if (fs.exists(dst)) spark.read.parquet(path)
      else batch.limit(0)
    val merged = graft.operators.Snapshots.cdcApply(
      base, batch, isDelete, key, version, tiebreaks: _*)
    merged.write.parquet(tmp.toString)
    if (fs.exists(dst)) {
      if (!fs.rename(dst, trash))
        throw new java.io.IOException(s"cdc merge: failed to move $dst aside")
    }
    if (!fs.rename(tmp, dst)) {
      if (fs.exists(trash) && fs.rename(trash, dst))
        throw new java.io.IOException(
          s"cdc merge: failed to move $tmp into place; previous state restored at $dst")
      else
        throw new java.io.IOException(
          s"cdc merge: failed to move $tmp into place — previous state at $trash, " +
            s"merged copy at $tmp")
    }
    fs.delete(trash, true)
  }

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** ORC export (zlib, the ORC ecosystem default) for consumers pinned to
    * a Hive/Trino ORC lake. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** JSONL export — the interchange format most training stacks ingest. */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Training-shard export: the last step of a curation pipeline. Rows are
    * scattered into `shardCol` directories (one dir per shard value, the
    * layout trainers consume) and laid down in a deterministic within-shard
    * order, so re-running the export — or re-reading it epoch after epoch —
    * yields byte-identical sequence order. The shard column should be a
    * content-independent hash (Curation.hashShard) so shards are balanced
    * and the "shuffle" of training data is frozen into the layout instead
    * of recomputed per epoch.
    *
    * One hash-partition shuffle on the shard key; the per-shard sort is
    * local (sortWithinPartitions, no global sort).
    */
  def writeTrainingShards(df: DataFrame, path: String, shardCol: String,
                          orderCols: Seq[String]): Unit = {
    df.repartition(col(shardCol))
      // the shard column leads the sort so the ordering satisfies the
      // dynamic-partition write's requirement contractually — otherwise the
      // writer inserts its own Sort(shardCol) on top and within-shard order
      // would survive only while that sort happens to be stable
      .sortWithinPartitions((shardCol +: orderCols).map(col): _*)
      .write.mode("overwrite").partitionBy(shardCol).parquet(path)
    writeShardManifest(df.sparkSession, path, shardCol)
  }

  /** Per-shard manifest (`_manifest.jsonl` at the export root): row count
    * and an order-independent content hash per shard, the integrity record
    * a trainer checks before consuming an epoch. Computed by READING BACK
    * the just-written files — the (typically expensive) input plan is never
    * re-evaluated, and the hash is defined over exactly the bytes a
    * verifier would re-read. The hash is a commutative fold of per-row
    * xxhash64 over the data columns (the shard value lives in the path),
    * accumulated in exact decimal (a raw long sum overflows under ANSI);
    * only shard-count rows ever reach the manifest writer.
    */
  def writeShardManifest(spark: SparkSession, path: String, shardCol: String): Unit = {
    val back = spark.read.parquet(path)
    val dataCols = back.columns.filter(_ != shardCol).map(col)
    val rows = back
      .groupBy(col(shardCol).cast("string").as("shard"))
      .agg(count(lit(1)).as("n_rows"),
        pmod(sum(xxhash64(dataCols.toIndexedSeq: _*).cast("decimal(38,0)")),
          lit(Long.MaxValue)).cast("long").as("content_hash"))
      .orderBy(col("shard"))
      .collect() // shard-count rows only — never the data
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = new org.apache.hadoop.fs.Path(path, "_manifest.jsonl")
    // temp + rename like every other writer here: a crash mid-write must
    // not leave a torn-but-readable manifest that silently under-lists
    // shards to the trainer verifying an epoch
    val tmp = new org.apache.hadoop.fs.Path(path, "._manifest.jsonl.tmp")
    val fs = dst.getFileSystem(conf)
    val out = fs.create(tmp, true)
    try rows.foreach { r =>
      // a null shard lands in Hive's default partition dir; name it as laid out
      val shard = Option(r.getString(0)).getOrElse("__HIVE_DEFAULT_PARTITION__")
      out.write((s"""{"shard":"${jsonEscape(shard)}","n_rows":${r.getLong(1)},""" +
        s""""content_hash":${r.getLong(2)}}""" + "\n").getBytes("UTF-8"))
    } finally out.close()
    fs.delete(dst, false)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"failed to move shard manifest into place at $dst")
  }
}
