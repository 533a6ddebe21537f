package graft
import java.nio.file.{Files, Paths}

/** Optimization-round measurement tool: writes `.explain("formatted")` for
  * each named query (or all) to `<outDir>/<query>_<tag>.txt`, so plan-shape
  * claims (Exchange count, join strategy, PushedFilters/ReadSchema) are
  * checkable without running Spark. Deferred-frame kernels are unwrapped
  * (`PlanText.unwrapDeferred`), so the dumped plan is the kernel's real
  * plan, not the opaque leaf.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> [q1,q2,...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, tag) = (args(0), args(1), args(2))
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").map(_.trim).toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt,
      GraftSession.CpuDenseMaxPartitionBytes).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try {
          val txt = graft.util.PlanText.unwrapDeferred(fn(spark, sfDir))
            .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), txt)
          println(s"[plandump] $name ok (${txt.length} chars)")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        } finally org.apache.spark.sql.graft.Bridge.releaseShared()
      }
    spark.stop()
  }
}
