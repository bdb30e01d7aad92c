package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftConf

/** One benchmark run in one JVM at local[cores]:
  *
  *  1. set-up: Spark session, input generation from the seed (repeated
  *     `SetupRepeats` times; the median pass counts), and warm-up
  *     operations whose outputs become the reference digests;
  *  2. the measured window: operations back to back for `--seconds`, each
  *     one's outputs checked;
  *  3. the traced run only: every other operation runs traced (spans plus
  *     the job-group listener), the others untraced, so tracing overhead is
  *     a same-JVM difference; then per-stage forcing and direct driver-side
  *     calls into `plans/` and `functions/`.
  *
  * Writes a JSON result to `--out`; `perfbench/run.py` turns it into the
  * last stdout line. */
object Main {
  val SetupRepeats = 3

  final case class Metric(name: String, value: Double, unit: String)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = new File(opt("work"))
    val out = new File(opt("out"))

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // full balanced-optimal verification, as Bench runs it
    spark.conf.set(GraftConf.FastVerifyKey, "false")
    spark.conf.set(GraftConf.DoPlacementOnlyKey, "false")
    try run(spark, workload, seed, seconds, trace, cores, work, out, jvmStartMs)
    catch { case e: Throwable =>
      e.printStackTrace()
      spark.stop()
      System.exit(1)
    }
    spark.stop()
  }

  private def run(spark: SparkSession, workload: String, seed: Long, seconds: Double,
                  trace: Boolean, cores: Int, work: File, out: File, jvmStartMs: Long): Unit = {
    val w = Workload(workload, spark, seed, work)
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    def runOne(i: Int, t: Calls): (OpResult, Double) = {
      attempted += 1
      val t0 = System.nanoTime()
      val r =
        try w.run(i, t)
        catch { case e: Exception => OpResult(0, Seq(s"op $i threw: $e"), Map.empty) }
      val dt = (System.nanoTime() - t0) / 1e9
      // drop what the operation cached, outside the timed region, so each
      // operation starts from the same memory state
      spark.catalog.clearCache()
      if (r.errors.nonEmpty) {
        failed += 1
        if (failures.size < 20) failures ++= r.errors.take(3).map(e => s"op $i: $e")
      }
      (r, dt)
    }

    // ---- set-up
    val sparkUpS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val genPasses = (1 to SetupRepeats).map { _ =>
      val t0 = System.nanoTime(); w.generate(); (System.nanoTime() - t0) / 1e9
    }
    val inputMb = dirBytes(work, Set("spark-local", "tmp", "warehouse")) / 1048576.0
    val tWarm = System.nanoTime()
    (0 until w.warmupOps).foreach(i => runOne(i, Untraced))
    val setupParts = Seq("spark_start_s" -> sparkUpS, "warmup_s" -> (System.nanoTime() - tWarm) / 1e9)
    val setupWall = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val setupS = setupWall - genPasses.sum + Stats.median(genPasses)

    // ---- measured window
    val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val ops = mutable.ArrayBuffer.empty[(OpResult, Double, Boolean, Int)]
    val windowStart = System.nanoTime()
    var i = w.warmupOps
    // a traced run needs one traced and one untraced operation at least
    val minOps = if (trace) 2 else 1
    while (ops.size < minOps || (System.nanoTime() - windowStart) / 1e9 < seconds) {
      val traced = tracer.isDefined && ops.size % 2 == 0
      val (r, dt) = runOne(i, if (traced) tracer.get else Untraced)
      ops += ((r, dt, traced, i))
      i += 1
    }

    // ---- whole-run checks, traced extras
    try failures ++= w.finish() catch { case e: Exception => failures += s"final check threw: $e" }
    if (failures.nonEmpty && failed == 0) { attempted += 1; failed += 1 }
    tracer.foreach(w.forceStages)
    val direct = if (trace) DirectCalls.policy(seed) ++ DirectCalls.tokenize(seed) else Nil

    val measured = ops.filter(_._1.errors.isEmpty)
    val plain = ops.filterNot(_._3).map(o => (o._1, o._2)).toSeq
    val figures = (try w.figures(ops.map(o => (o._1, o._2)).toSeq)
      catch { case e: Exception => failures += s"figures threw: $e"; Nil }) :+ (("input_mb", inputMb, "MB"))
    val peakRssMb = peakRss() / 1024.0

    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("op_p50_ms", Stats.median(plain.map(_._2 * 1000)), "ms"),
      Metric("items_per_s", plain.map(_._1.items).sum / plain.map(_._2).sum, "1/s"),
      Metric("peak_rss_mb", peakRssMb, "MB"))

    val layer = tracer.map(t => layerMetrics(t, ops.toSeq) ++ direct.map(Metric.tupled)).getOrElse(Nil)
    val spanTable = tracer.map(spanSummary).getOrElse(Nil)

    val correct = failed == 0 && failures.isEmpty
    val json = new StringBuilder
    json ++= "{"
    json ++= s""""workload":${q(workload)},"seed":$seed,"trace":$trace,"cores":$cores,"""
    json ++= s""""correct":$correct,"attempted":$attempted,"failed":$failed,"""
    json ++= s""""failures":${failures.map(q).mkString("[", ",", "]")},"""
    json ++= s""""setup_passes_s":${genPasses.map(num).mkString("[", ",", "]")},"""
    setupParts.foreach { case (k, v) => json ++= s"""${q(k)}:${num(v)},""" }
    json ++= s""""ops":${ops.map(o => s"""{"i":${o._4},"s":${num(o._2)},"traced":${o._3},"ok":${o._1.errors.isEmpty}}""").mkString("[", ",", "]")},"""
    json ++= s""""end_to_end":${metricsJson(e2e)},"""
    json ++= s""""per_layer":${metricsJson(layer)},"""
    json ++= s""""figures":${metricsJson(figures.map(Metric.tupled))},"""
    json ++= s""""span_table":${metricsJson(spanTable)},"""
    json ++= s""""spans":${tracer.map(_.spans.map(s => s"""{"id":${s.id},"name":${q(s.name)},"phase":${q(s.phase)},"parent":${s.parent},"op":${s.opId},"start_ns":${s.startNs},"end_ns":${s.endNs}}""").mkString("[", ",", "]")).getOrElse("[]")}"""
    json ++= "}"
    Files.write(out.toPath, json.toString.getBytes(StandardCharsets.UTF_8))

    println(f"[perfbench] $workload seed=$seed trace=$trace: ${ops.size} ops in the window, " +
      f"${measured.size} correct, setup ${setupS}%.2f s")
    (figures.map(Metric.tupled) ++ spanTable).foreach(m => println(f"[perfbench]   ${m.name}%-34s ${m.value}%14.4f ${m.unit}"))
    failures.take(10).foreach(f => println(s"[perfbench] CHECK FAILED: $f"))
  }

  /** Per-operation sums over the traced operations' spans, as medians. */
  private def layerMetrics(t: Tracer, ops: Seq[(OpResult, Double, Boolean, Int)]): Seq[Metric] = {
    val act = t.activityBySpan()
    val spans = t.spans
    val tracedOps = ops.filter(_._3).map(_._4).toSet
    val perOp = spans.filter(s => tracedOps(s.opId) && s.phase != "op").groupBy(_.opId).toSeq.map {
      case (_, ss) =>
        val a = new Activity
        ss.foreach(s => act.get(s.id).foreach(a.add))
        // activity of jobs run directly under the op span (outside any call)
        spans.filter(s => s.opId == ss.head.opId && s.phase == "op").foreach(s => act.get(s.id).foreach(a.add))
        val build = ss.filter(_.phase == "build").map(s => s.endNs - s.startNs).sum / 1e9
        val exec = ss.filter(_.phase == "exec").map(s => s.endNs - s.startNs).sum / 1e9
        (a, build, exec)
    }
    def med(f: ((Activity, Double, Double)) => Double) = Stats.median(perOp.map(f))
    val mb = 1024.0 * 1024.0
    val tracedMs = Stats.median(ops.filter(_._3).map(_._2 * 1000))
    val plainMs = Stats.median(ops.filterNot(_._3).map(_._2 * 1000))
    Seq(
      Metric("jobs_per_op", med(_._1.jobs.toDouble), "count"),
      Metric("stages_per_op", med(_._1.stages.toDouble), "count"),
      Metric("single_task_stages_per_op", med(_._1.singleTaskStages.toDouble), "count"),
      Metric("build_s_per_op", med(_._2), "s"),
      Metric("exec_s_per_op", med(_._3), "s"),
      Metric("task_s_per_op", med(_._1.taskNs / 1e9), "s"),
      Metric("cpu_s_per_op", med(_._1.cpuNs / 1e9), "s"),
      Metric("gc_s_per_op", med(_._1.gcNs / 1e9), "s"),
      Metric("shuffle_write_mb_per_op", med(_._1.shuffleWriteBytes / mb), "MB"),
      Metric("shuffle_read_mb_per_op", med(_._1.shuffleReadBytes / mb), "MB"),
      Metric("spill_mb_per_op", med(_._1.spillBytes / mb), "MB"),
      Metric("input_mb_per_op", med(_._1.inputBytes / mb), "MB"),
      Metric("graft_acc_per_op", med(_._1.acc.values.sum.toDouble), "count"),
      Metric("traced_op_p50_ms", tracedMs, "ms"),
      Metric("untraced_op_p50_ms", plainMs, "ms"),
      Metric("trace_overhead_ms", tracedMs - plainMs, "ms"))
  }

  /** Per layer call: its build and exec seconds, jobs, single-task stages,
    * task seconds and shuffle-write MB as medians over the operations that
    * ran it (exec also over the stage-by-stage forcing pass), plus its
    * `graft.*` accumulator totals over the run. */
  private def spanSummary(t: Tracer): Seq[Metric] = {
    val act = t.activityBySpan()
    val calls = t.spans.filter(_.phase != "op")
    calls.groupBy(_.name).toSeq.sortBy(_._1).flatMap { case (name, ss) =>
      def perOp(spans: Seq[Span])(f: Seq[Span] => Double): Double =
        if (spans.isEmpty) 0.0 else Stats.median(spans.groupBy(_.opId).values.toSeq.map(f))
      def dur(phase: String) = perOp(ss.filter(_.phase == phase))(_.map(s => s.endNs - s.startNs).sum / 1e9)
      def activity(f: Activity => Double) = perOp(ss.filter(_.opId >= 0))(_.flatMap(s => act.get(s.id)).map(f).sum)
      val accs = ss.flatMap(s => act.get(s.id)).flatMap(_.acc).groupBy(_._1)
        .map { case (k, vs) => Metric(s"$name.$k", vs.map(_._2).sum.toDouble, "count") }
      Seq(
        Metric(s"$name.build_s", dur("build"), "s"),
        Metric(s"$name.exec_s", dur("exec"), "s"),
        Metric(s"$name.jobs", activity(_.jobs.toDouble), "count"),
        Metric(s"$name.single_task_stages", activity(_.singleTaskStages.toDouble), "count"),
        Metric(s"$name.task_s", activity(_.taskNs / 1e9), "s"),
        Metric(s"$name.shuffle_write_mb", activity(_.shuffleWriteBytes / 1048576.0), "MB")
      ) ++ accs.toSeq.sortBy(_.name)
    }
  }

  private def dirBytes(f: File, skip: Set[String]): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.filterNot(c => skip(c.getName))
      .map(dirBytes(_, Set.empty)).sum
    else f.length()

  /** Peak resident set of this JVM (kB), from /proc. */
  private def peakRss(): Double = {
    val status = new String(Files.readAllBytes(new File("/proc/self/status").toPath), StandardCharsets.UTF_8)
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  private def metricsJson(ms: Seq[Metric]): String =
    ms.map(m => s"""${q(m.name)}:{"value":${num(m.value)},"unit":${q(m.unit)}}""").mkString("{", ",", "}")
}
