package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Ingest type-tolerance contract: a 100 TB feed spans parquet writers, so
  * the `ts` column arrives in whichever timestamp encoding the upstream
  * engine chose. `GraftSession.table` must normalize all of them to the
  * same session-zoned TIMESTAMP, and every events-reading operator must
  * return identical results regardless of the physical encoding.
  *
  * Variants pinned here (each written from the canonical sf0.001 events):
  *   (a) TIMESTAMP       — parquet TIMESTAMP(MICROS, adjustedToUTC=true)
  *   (b) TIMESTAMP_NTZ   — parquet TIMESTAMP(MICROS, adjustedToUTC=false);
  *                         this is what broke sessionize in round 6 when the
  *                         testdata writer switched encodings
  *   (c) INT64 epoch nanos — raw long column, the nanosAsLong read shape
  */
class TimestampIngestSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val probes = Seq("sessionize", "time_range_filter", "weekly_adverts")

  private def writeVariant(dir: String, encode: DataFrame => DataFrame): Unit = {
    val ev = GraftSession.table(spark, sfDir, "events")
    encode(ev).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def canonical(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq

  test("ts normalizes identically across TIMESTAMP / TIMESTAMP_NTZ / INT64-nanos writers") {
    val base = java.nio.file.Files.createTempDirectory("graft-ts-variants").toString
    val variants: Seq[(String, DataFrame => DataFrame)] = Seq(
      "ltz"   -> (df => df.withColumn("ts", col("ts").cast(TimestampType))),
      "ntz"   -> (df => df.withColumn("ts", col("ts").cast(TimestampNTZType))),
      "nanos" -> (df => df.withColumn("ts", (unix_micros(col("ts")) * 1000L).cast(LongType))))
    variants.foreach { case (tag, enc) => writeVariant(s"$base/$tag", enc) }
    // every variant must land on session-zoned TIMESTAMP after table()
    variants.foreach { case (tag, _) =>
      val got = GraftSession.table(spark, s"$base/$tag", "events").schema("ts").dataType
      assert(got == TimestampType, s"variant $tag read back as $got, expected TIMESTAMP")
    }
    probes.foreach { name =>
      val want = canonical(name)
      variants.foreach { case (tag, _) =>
        val got = SparkEntry.queries(name)(spark, s"$base/$tag")
          .collect().map(_.toString).sorted.toSeq
        assert(got == want, s"$name differs under $tag encoding")
      }
    }
  }

  test("syncIncremental keeps the same rows over TIMESTAMP_NTZ as over TIMESTAMP") {
    import spark.implicits._
    val rows = (0 until 20).map(i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-03-01 10:${i}%02d:00"))) :+
      ((99L, null: java.sql.Timestamp))
    val all = rows.toDF("id", "ts")
    // two runs per encoding: the first sees half the feed, the second all
    // of it, resuming from the watermark the first one persisted
    def runs(enc: DataFrame => DataFrame): Seq[Seq[Long]] = {
      val cache = java.nio.file.Files.createTempDirectory("graft-wm").toString
      Seq(all.filter(col("id") < 10 || col("id") === 99), all).map { feed =>
        var kept = Seq.empty[Long]
        graft.sources.Sources.syncIncremental(spark, enc(feed), col("ts"), cache, "events") {
          slice => kept = slice.select("id").as[Long].collect().sorted.toSeq
        }
        kept
      }
    }
    val ltz = runs(df => df.withColumn("ts", col("ts").cast(TimestampType)))
    val ntz = runs(df => df.withColumn("ts", col("ts").cast(TimestampNTZType)))
    assert(ltz === Seq((0L until 10L) :+ 99L, (10L until 20L) :+ 99L))
    assert(ntz === ltz)
  }
}
