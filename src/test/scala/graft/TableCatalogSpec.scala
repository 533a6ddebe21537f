package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** GraftSession.table serves one resolved relation per (path, content
  * signature, session): every call gets fresh expression ids, a rewritten
  * path is listed again, and a session never receives a relation another
  * session resolved. */
class TableCatalogSpec extends SparkSpec {

  private def owner(df: DataFrame): SparkSession =
    df.queryExecution.analyzed.collectFirst { case r: LogicalRelation => r.relation }
      .collect { case h: HadoopFsRelation => h.sparkSession }.get

  private def write(dir: String, rows: Long, files: Int): Unit =
    spark.range(rows).select(col("id"), (col("id") * 2).as("v")).repartition(files)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")

  test("two reads of one path have disjoint expression ids and self-join") {
    val dir = Files.createTempDirectory("graft_catalog_ids").toString
    write(dir, 20, 1)
    val a = GraftSession.table(spark, dir, "t")
    val b = GraftSession.table(spark, dir, "t")
    def ids(df: DataFrame) = df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty)
    val joined = a.join(b, a("id") === b("v")).select(a("id"), b("id").as("half"))
    assert(joined.count() === 10L)
    assert(a.as("l").join(b.as("r"), col("l.v") === col("r.v")).count() === 20L)
  }

  test("a path rewritten with another file count is listed again") {
    val dir = Files.createTempDirectory("graft_catalog_rewrite").toString
    write(dir, 10, 1)
    val before = GraftSession.table(spark, dir, "t")
    assert(before.inputFiles.length === 1 && before.count() === 10L)
    write(dir, 30, 3)
    val after = GraftSession.table(spark, dir, "t")
    assert(after.inputFiles.length === 3)
    assert(after.agg(count(lit(1)), max(col("id"))).head().toSeq === Seq(30L, 29L))
  }

  test("a second session never receives a relation bound to the first") {
    val dir = Files.createTempDirectory("graft_catalog_sessions").toString
    write(dir, 10, 2)
    val other = spark.newSession()
    assert(owner(GraftSession.table(spark, dir, "t")) eq spark)
    assert(owner(GraftSession.table(other, dir, "t")) eq other)
    assert(owner(GraftSession.table(spark, dir, "t")) eq spark)
    assert(GraftSession.table(other, dir, "t").count() === 10L)
  }
}
