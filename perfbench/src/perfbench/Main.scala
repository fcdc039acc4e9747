package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Closed-loop, single-client benchmark: one workload, one seed, one
  * Spark `local[cores]` session. Set-up, then identical pipeline passes
  * until `--seconds` have elapsed, then the output checks.
  *
  * `--trace 0` reports the end-to-end metrics. `--trace 1` alternates
  * traced and untraced passes and reports the per-layer metrics of the
  * traced ones, plus the tracing overhead (traced minus untraced median
  * pass time); its spans are written to `--trace-file` when the run ends.
  */
object Main {
  private final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, cores: Int, work: String, result: String,
      traceFile: String)

  private final case class PassRec(pass: Int, wallS: Double, ok: Boolean,
      traced: Boolean, rows: Long, persistedRdds: Int, heapMb: Double,
      codegenCompiles: Long)

  private val GenerateRepeats = 3
  /** Pass id of the store-build spans in the trace file. */
  private val StoreBuildPass = -100
  private val LayerMetricNames = Seq("build_s", "exec_s", "plan_s", "jobs",
    "tasks", "task_busy_s", "core_idle_s", "gc_s", "input_bytes",
    "output_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "persisted_rdds")
  private val Ratios = Seq("dedup.lsh_keys_dropped")

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("cores").toInt, m("work"), m("result"), m("trace-file"))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def timed(body: => Unit): Double = {
    val t = System.nanoTime()
    body
    (System.nanoTime() - t) / 1e9
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val conf = Json.obj(
      "spark.master" -> s"local[${a.cores}]",
      "spark.sql.shuffle.partitions" -> a.cores.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "64m",
      "spark.sql.files.maxPartitionBytes" -> "16m",
      "spark.sql.session.timeZone" -> "UTC",
      // Spark's default of 100 generated classes is too few for one pass:
      // lag_features recompiled ~50 and ingest_update ~240 classes every
      // pass, and each recompiled class is JIT-compiled afresh. Passes
      // would then time Janino and the JIT, not the library. The per-pass
      // compile count is printed on each pass line.
      "spark.sql.codegen.cache.maxEntries" -> "1000",
      "spark.ui.enabled" -> "false",
      "spark.local.dir" -> s"${a.work}/spark-local",
      "spark.sql.warehouse.dir" -> s"${a.work}/warehouse")
    val spark = conf.foldLeft(
        SparkSession.builder().appName(s"perfbench-${a.workload}")) {
      case (b, (k, v)) => b.config(k, v.toString)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val ok = try { run(a, spark, conf, sessionS, loadStart); true }
      catch { case e: Throwable => e.printStackTrace(); false }
      finally spark.stop()
    // library pools may hold non-daemon threads; never wait on them
    System.exit(if (ok) 0 else 1)
  }

  private def run(a: Args, spark: SparkSession, conf: Map[String, Any],
                  sessionS: Double, loadStart: Double): Unit = {
    val rec = new Recorder(spark, a.cores)
    val heap = new HeapWatch
    val ops = new Ops(rec)
    val gen = new Gen(spark, a.seed, a.cores)
    val w = Workload(a.workload, spark, gen, s"${a.work}/data", a.seed)

    // ---- set-up: generation repeated and its median taken, so that one
    // slow write does not move setup_s; store build; warm-up
    val genS = (1 to GenerateRepeats).map(_ => timed(w.generate()))
    ops.pass = StoreBuildPass
    if (a.trace) rec.beginPass()
    val storeS = timed {
      try w.prepare(ops) catch { case e: Exception => ops.fail(e, "prepare") }
    }
    if (a.trace) rec.endPass(StoreBuildPass)
    // warm-up: a fixed number of passes, so that its time is the
    // program's own and not the length of the timed phase
    val warmS = (1 to w.warmupPasses).map { i =>
      timed {
        w.beforePass(-i)
        try w.pass(-i, ops) catch { case e: Exception => ops.fail(e, "warm-up") }
      }
    }
    val setupS = sessionS + median(genS) + storeS + warmS.sum

    // ---- timed passes
    val passes = mutable.ArrayBuffer[PassRec]()
    val layerByPass = mutable.ArrayBuffer[Map[String, Double]]()
    heap.reset()
    val t0 = System.nanoTime()
    var p = 1
    while (passes.size < (if (a.trace) 2 else 1) ||
           (System.nanoTime() - t0) / 1e9 < a.seconds) {
      w.beforePass(p)
      ops.pass = p
      val traced = a.trace && p % 2 == 1
      if (traced) rec.beginPass()
      var rows = 0L
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val s = System.nanoTime()
      val ok = try { rows = ops.passSpan(w.pass(p, ops)); true }
        catch { case e: Exception => ops.fail(e, s"pass $p"); false }
      val wall = (System.nanoTime() - s) / 1e9
      if (traced) {
        rec.endPass(p)
        if (ok) layerByPass += rec.layerMetrics(p, Workload.Layers)
      }
      heap.sample()
      passes += PassRec(p, wall, ok, traced, rows,
        spark.sparkContext.getPersistentRDDs.size,
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0)
      p += 1
    }
    val peakHeapMb = heap.peakMb
    // after the last pass, not between passes: what the passes left behind
    System.gc()
    val retainedMb =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    // ---- checks, facts, audits: all outside the timed passes
    val tc = System.nanoTime()
    val quality = w.checks(ops)
    val checksS = (System.nanoTime() - tc) / 1e9
    val inputs = w.inputs()
    val ratios = if (a.trace) w.ratios() else Map.empty[String, Double]

    val good = passes.filter(_.ok)
    val untraced = good.filterNot(_.traced)
    val tracedPasses = good.filter(_.traced)
    def med(ps: Iterable[PassRec]) = if (ps.isEmpty) 0.0 else median(ps.map(_.wallS).toSeq)
    val rowsPerS = if (untraced.isEmpty) 0.0
      else untraced.map(_.rows).sum / untraced.map(_.wallS).sum

    type Metric = (String, (Double, String, Int))
    val endToEnd: Seq[Metric] = Seq(
      "setup_s" -> (setupS, "s", 1),
      "pass_s" -> (med(untraced), "s", untraced.size),
      "rows_per_s" -> (rowsPerS, "rows/s", untraced.size),
      "retained_heap_mb" -> (retainedMb, "MB", 1))
    val perLayer: Seq[Metric] =
      if (!a.trace) Nil
      else {
        val layer = for (l <- Workload.Layers; m <- LayerMetricNames) yield {
          val k = s"$l.$m"
          val unit = if (m.endsWith("_s")) "s"
            else if (m.endsWith("_bytes")) "bytes" else "count"
          val v = if (layerByPass.isEmpty) 0.0 else median(layerByPass.map(_(k)).toSeq)
          k -> (v, unit, layerByPass.size)
        }
        val rat = Ratios.map(k => k -> (ratios.getOrElse(k, 0.0), "ratio", 1))
        val tr = Seq(
          "trace.pass_s" -> (med(tracedPasses), "s", tracedPasses.size),
          "trace.overhead_s" -> (med(tracedPasses) - med(untraced), "s",
            tracedPasses.size))
        layer ++ rat ++ tr
      }
    val reported: Map[String, Any] = Json.obj(
      "store_build_s" -> (if (a.workload == "ingest_update") storeS else 0.0),
      "peak_heap_mb" -> peakHeapMb,
      "ops_attempted" -> ops.attempted, "ops_failed" -> ops.failed,
      "checks_failed" -> ops.checksFailed) ++ quality

    // ---- report
    val out = System.out
    out.println("config " + Json(Json.obj("workload" -> a.workload,
      "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "nproc" -> a.cores, "loadavg_start" -> loadStart,
      "loaded" -> (loadStart > a.cores),
      "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version, "conf" -> conf,
      "client" -> "closed loop, 1 client")))
    out.println("inputs " + Json(inputs))
    out.println("setup " + Json(Json.obj("session_s" -> sessionS,
      "generate_s" -> genS, "store_build_s" -> storeS, "warmup_pass_s" -> warmS,
      "checks_s" -> checksS)))
    passes.foreach(r => out.println("pass " + Json(Json.obj("pass" -> r.pass,
      "wall_s" -> r.wallS, "ok" -> r.ok, "traced" -> r.traced,
      "persisted_rdds_after" -> r.persistedRdds, "heap_used_mb_after" -> r.heapMb,
      "codegen_compiles" -> r.codegenCompiles))))
    ops.checks.foreach(c => out.println("check " + Json(c)))
    ops.errors.foreach(e => out.println("error " + Json(e)))
    for ((k, (v, unit, n)) <- endToEnd ++ perLayer)
      out.println(s"metric $k = $v $unit (samples: $n)")
    reported.foreach { case (k, v) => out.println(s"reported $k = $v") }
    out.flush()

    if (a.trace) writeSpans(rec, a.traceFile)
    val metrics = (if (a.trace) perLayer else endToEnd).map {
      case (k, (v, unit, _)) => k -> Json.obj("value" -> v, "unit" -> unit)
    }
    val result = Json.obj(
      "correct" -> (ops.failed == 0 && good.nonEmpty),
      "attempted" -> ops.attempted, "failed" -> ops.failed,
      "metrics" -> Json.obj(metrics: _*))
    val pw = new PrintWriter(new File(a.result))
    try pw.println(Json(result)) finally pw.close()
  }

  private def writeSpans(rec: Recorder, path: String): Unit = {
    val pw = new PrintWriter(new File(path))
    try rec.spans.foreach(s => pw.println(Json(rec.spanJson(s))))
    finally pw.close()
  }
}
