package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Command-line options; see run.py for the user-facing form. */
final case class Opts(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    lightRate: Double, heavyRate: Double, root: Path, scratch: Path, commit: String, xmx: String) {
  val cpus: Int = Runtime.getRuntime.availableProcessors()
  val master: String = s"local[$cpus]"
  def workDir: Path = root.resolve(".bench_build").resolve("perfbench")
}

/** Everything one run accumulates: the session in use, listeners, the
  * operation tally behind `error_share`, and the metrics to print. */
final class Ctx(val opts: Opts) {
  val tracer = new Tracer(opts.trace)
  val progress = new Progress()
  private var current: SparkSession = _
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()

  def spark: SparkSession = current

  /** Build (or rebuild, after stopping the previous one) the session. The
    * tracer is attached by the workload around the phases it traces. */
  def newSession(master: String = opts.master): SparkSession = {
    if (current != null) { tracer.detach(current); current.stop() }
    val tmp = opts.scratch.resolve("spark")
    Files.createDirectories(tmp)
    val cores = master.stripPrefix("local[").stripSuffix("]")
    current = graft.Engine.session(appName = s"perfbench-${opts.workload}", master = master,
      extraConf = Map(
        "spark.sql.shuffle.partitions" -> cores,
        "spark.local.dir" -> tmp.toString,
        "spark.sql.warehouse.dir" -> tmp.resolve("warehouse").toString,
        // idle progress events carry no batch; keep them out of the log
        "spark.sql.streaming.noDataProgressEventInterval" -> "3600000",
        // one trigger per released second: a watermark-only batch after
        // every data batch would double the per-second trigger cost and put
        // both offered rates at the knee
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"))
    current.streams.addListener(progress)
    current
  }

  /** Count `n` attempted operations, all failed unless `ok`. */
  def op(ok: Boolean, what: => String, n: Long = 1L): Unit = {
    attempted += n
    if (!ok) { failed += n; if (failures.size < 50) failures += what }
  }

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def note(s: String): Unit = println(f"# [${Main.sinceJvmStartMs() / 1000.0}%6.1f s] $s")

  private var heapLive = 0.0

  /** Collect fully, then note the heap in use: the live set at a quiet
    * point between phases or passes. heap_live_mb is the largest one. */
  def heapCheckpoint(): Unit = {
    System.gc()
    heapLive = math.max(heapLive, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)
  }

  def heapLiveMb: Double = heapLive

  /** Peak resident set of this process so far (VmHWM), MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }
}

object Main {

  val Workloads = Seq("stream_window", "stream_avro_enrich", "browse_mix")

  /** Names and units of the metrics every run prints (BENCHMARK.json). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "heap_live_mb" -> "MB", "lat_p50_ms.light" -> "ms", "lat_p99_ms.light" -> "ms",
    "lat_p50_ms.heavy" -> "ms", "lat_p99_ms.heavy" -> "ms")

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload '$w' (one of ${Workloads.mkString(", ")})")
    Opts(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("light-rate").toDouble, need("heavy-rate").toDouble, Paths.get(need("root")).toAbsolutePath,
      Paths.get(need("scratch")).toAbsolutePath,
      m.getOrElse("commit", "unknown"), m.getOrElse("xmx", "unknown"))
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    require(opts.seconds >= 1, "--seconds must be at least 1")
    require(opts.lightRate > 0 && opts.heavyRate > opts.lightRate, "need 0 < light rate < heavy rate")
    val ctx = new Ctx(opts)
    println(s"# env nproc=${opts.cpus} master=${opts.master} xmx=${opts.xmx} seed=${opts.seed} " +
      s"seconds=${opts.seconds} light_rate=${opts.lightRate} heavy_rate=${opts.heavyRate} " +
      s"commit=${opts.commit} trace=${if (opts.trace) 1 else 0} workload=${opts.workload}")
    try {
      opts.workload match {
        case "browse_mix" => BrowseMix.run(ctx)
        case w => StreamWorkloads.run(ctx, w)
      }
    } catch {
      // A failed workload is reported as failed operations; anything fatal
      // (OOM, interrupt, linkage error) escapes and fails the run.
      case NonFatal(e) =>
        ctx.op(ok = false, s"workload aborted: $e")
        e.printStackTrace()
    } finally {
      if (ctx.spark != null) ctx.spark.stop()
    }
    ctx.metric("peak_rss_mb", ctx.peakRssMb(), "MB")
    ctx.metric("heap_live_mb", ctx.heapLiveMb, "MB")
    report(ctx)
  }

  /** Human-readable lines, then the one-line JSON result (last line). */
  def report(ctx: Ctx): Unit = {
    val errorShare = if (ctx.attempted > 0) ctx.failed.toDouble / ctx.attempted else 1.0
    ctx.failures.foreach(f => println(s"# FAILED: $f"))
    println(f"# error_share ${errorShare}%.6f share (${ctx.failed} failed of ${ctx.attempted} attempted)")
    ctx.metrics.foreach { case (k, (v, u)) => println(s"# metric $k ${Json.num(v)} $u") }
    val wanted: Seq[String] =
      if (ctx.opts.trace) PerLayer.Names.map(_._1) else EndToEnd.map(_._1)
    val missing = wanted.filterNot(ctx.metrics.contains)
    val correct = ctx.failed == 0 && ctx.attempted > 0 && missing.isEmpty
    if (missing.nonEmpty) println(s"# missing metrics: ${missing.mkString(", ")}")
    val ms = wanted.filter(ctx.metrics.contains).map { k =>
      val (v, u) = ctx.metrics(k)
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    println(s"""{"correct":$correct,"attempted":${math.max(1L, ctx.attempted)},"failed":${ctx.failed},"metrics":$ms}""")
  }

  /** Milliseconds since this JVM started (the set-up clock's origin). */
  def sinceJvmStartMs(): Long =
    System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime
}
