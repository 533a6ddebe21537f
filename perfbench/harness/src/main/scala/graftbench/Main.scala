package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.BenchBus
import org.apache.spark.sql.graft.Bridge

import graft.GraftSession

/** One run of one workload in a fresh JVM: set-up, a cold first pass that
  * writes every output for the checks, timed warm passes for at least
  * --seconds, then the untimed check writes.
  *
  * Writes one JSON object to --out. Every public graft call is timed from
  * outside; the engine is observed through a listener registered here.
  */
object Main {
  final case class PassStat(wallS: Double, cpuS: Double, e: EngineCounts,
                            planS: Double, driverBusyS: Double)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val t0Ms = a("t0-ms").toLong
    val work = a("work")
    val threads = a("threads").toInt
    val res = mutable.LinkedHashMap.empty[String, Any]

    val s0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[$threads]", threads,
        GraftSession.CpuDenseMaxPartitionBytes)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    res("setup.session_s") = (System.nanoTime() - s0) / 1e9
    System.setProperty("graft.scratch.root", s"$work/scratch")
    val c0 = System.nanoTime()
    val w = Workloads(a("workload"), spark, a("data"), work)
    w.open()
    res("setup.catalog_s") = (System.nanoTime() - c0) / 1e9
    res("setup_s") = (System.currentTimeMillis() - t0Ms) / 1000.0

    run(spark, w, a, res)
    spark.stop()
    Workloads.writeFile(a("out"), Json(res))
  }

  private def run(spark: org.apache.spark.sql.SparkSession, w: Workload,
                  a: Map[String, String], res: mutable.LinkedHashMap[String, Any]): Unit = {
    val sc = spark.sparkContext
    val eng = new EngineListener
    sc.addSparkListener(eng)
    val trace = a("trace") == "1"
    val ops = w.ops
    val failures = mutable.LinkedHashMap.empty[String, Int].withDefaultValue(0)
    val errors = mutable.LinkedHashMap.empty[String, String]
    var passes = 0

    val checkDir = s"${a("work")}/check"

    def pass(spans: Boolean, writeOutputs: Boolean = false): PassStat = {
      w.beforePass()
      BenchBus.drain(sc)
      val e0 = eng.counts
      val cpu0 = Proc.cpuS
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      Spans.enabled = spans
      val opSpans = ops.map { op =>
        val s = System.currentTimeMillis()
        try Spans.time(op.module)(op.run(if (writeOutputs) Some(s"$checkDir/${op.name}") else None))
        catch { case NonFatal(e) =>
          failures(op.name) += 1
          errors.getOrElseUpdate(op.name, Option(e.getMessage).getOrElse(e.toString).take(300))
        } finally Bridge.releaseShared()
        val e = System.currentTimeMillis()
        System.err.println(s"[perfbench] pass $passes ${op.name} ${(e - s) / 1000.0} s")
        (s, e)
      }
      Spans.enabled = false
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = Proc.cpuS - cpu0
      val w1 = System.currentTimeMillis()
      BenchBus.drain(sc)
      passes += 1
      val jobs = eng.jobsBetween(w0, w1).sortBy(_._1)
      // time from each op's call to its first job (all of it when none ran)
      val plan = opSpans.map { case (s, e) =>
        jobs.find { case (js, _) => js >= s && js <= e }.map(_._1).getOrElse(e) - s
      }.sum / 1000.0
      // pass time with no job running: the union of job intervals removed
      var covered = 0L
      var reach = w0
      jobs.foreach { case (js, je) =>
        val s = math.max(js, reach)
        val e = math.min(je, w1)
        if (e > s) { covered += e - s; reach = e }
      }
      PassStat(wall, cpu, eng.counts - e0, plan, math.max(0.0, (w1 - w0 - covered) / 1000.0))
    }

    // the cold first pass writes every output to parquet: a scheduled run's
    // sink, and what the checks read
    res("first_pass_s") = pass(spans = false, writeOutputs = true).wallS

    val seconds = a("seconds").toDouble
    val minPasses = if (trace) 2 else 1
    val (busy0, steal0) = Proc.machineCpuS
    val own0 = Proc.cpuS
    val start = System.nanoTime()
    val timed = mutable.ArrayBuffer.empty[(PassStat, Boolean)]
    while (timed.size < minPasses || (System.nanoTime() - start) / 1e9 < seconds) {
      // a traced run times its first timed pass with spans on and the rest
      // with spans off: the gap is the span overhead
      val spans = trace && timed.isEmpty
      timed += ((pass(spans), spans))
    }
    val (busy1, steal1) = Proc.machineCpuS
    val own = Proc.cpuS - own0
    res("peak_rss_mb") = Proc.peakRssMb

    def med(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val all = timed.map(_._1).toSeq
    def m(f: PassStat => Double): Double = med(all.map(f))
    val mb = 1024.0 * 1024.0
    res("pass_s") = m(_.wallS)
    res("pass_cpu_s") = m(_.cpuS)
    res("shuffle_mb") = m(_.e.shuffleWriteBytes / mb)
    res("timed_passes") = all.size
    res("pass_walls") = all.map(_.wallS)
    res("pass_cpus") = all.map(_.cpuS)

    if (trace) {
      val on = timed.filter(_._2).map(_._1.wallS).toSeq
      val off = timed.filterNot(_._2).map(_._1.wallS).toSeq
      res("trace.overhead_pct") = (med(on) / med(off) - 1.0) * 100.0
      res("spark.jobs") = m(_.e.jobs.toDouble)
      res("spark.stages") = m(_.e.stages.toDouble)
      res("spark.tasks") = m(_.e.tasks.toDouble)
      res("spark.task_cpu_s") = m(_.e.taskCpuNs / 1e9)
      res("spark.task_run_s") = m(_.e.taskRunMs / 1e3)
      res("spark.task_wait_s") = m(_.e.taskWaitMs / 1e3)
      res("spark.shuffle_read_mb") = m(_.e.shuffleReadBytes / mb)
      res("spark.spill_mb") = m(_.e.spillBytes / mb)
      res("spark.gc_s") = m(_.e.gcMs / 1e3)
      res("spark.result_mb") = m(_.e.resultBytes / mb)
      res("sources.write_mb") = m(_.e.outputBytes / mb)
      res("plans.plan_s") = m(_.planS)
      res("driver.busy_s") = m(_.driverBusyS)
      res("calib.steal_s") = steal1 - steal0
      res("calib.others_cpu_s") = math.max(0.0, busy1 - busy0 - own)
      Spans.total.foreach { case (k, v) => res(k) = v / on.size }
      res("calib.empty_job_ms") =
        Workloads.medianTime(7)(sc.parallelize(Seq(1), 1).foreach(_ => ())) * 1e3
      res("calib.spin_ms") = Workloads.medianTime(7) {
        var x = 1L
        var i = 0
        while (i < 20000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
        if (x == 42L) println(x)
      } * 1e3
      w.layerProbes().foreach { case (k, v) => res(k) = v }
    }

    Workloads.writeFile(s"$checkDir/oracle_sql.json", Workloads.oracleJson(w.oracle))
    w.writeChecks(checkDir)
    res("ops") = ops.map(_.name)
    res("passes") = passes
    res("failures") = failures.toMap
    res("errors") = errors.toMap
  }
}

/** Enough JSON for the harness's result object. */
object Json {
  def apply(v: Any): String = v match {
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}: ${apply(x)}" }.mkString("{", ", ", "}")
    case s: Seq[_] => s.map(apply).mkString("[", ", ", "]")
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case other => str(String.valueOf(other))
  }
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
