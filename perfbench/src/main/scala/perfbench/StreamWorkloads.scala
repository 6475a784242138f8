package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.formats.AvroFunctions
import graft.registry.SchemaRegistry
import graft.sources.{RateConf, RateModulatedSource}
import graft.streaming.{Pipelines, StreamOps}

/** The two open-loop streaming workloads on the in-repo `graft-rate`
  * source. Each run: set-up (three pipeline starts), then an open-loop
  * phase at the light and at the heavy offered rate in wall-clock mode.
  * Traced runs add saturated phases in the source's deterministic mode. */
object StreamWorkloads {

  val Keys = 64                 // events are keyed by seq % Keys
  val DimKeys = 48              // the enrichment dimension covers keys [0, DimKeys)
  val WindowMicros = 2000000L   // tumbling window
  val SaturatedCap = 50000L     // maxRecordsPerTrigger in the saturated phase
  val SaturatedBatches = 8      // minimum capped batches per saturated phase
  val WarmupBatches = 4         // capped batches that warm an untraced run
  val WarmupSeconds = 1L        // logical seconds excluded from latency samples
  val Subject = "graft-rate-value"
  val AvroSchema: String =
    """{"type":"record","name":"RateEvent","namespace":"perfbench","fields":[
      |{"name":"seq","type":"long"},
      |{"name":"ts","type":{"type":"long","logicalType":"timestamp-micros"}},
      |{"name":"value","type":"double"},
      |{"name":"k","type":"int"},
      |{"name":"tag","type":"string"}]}""".stripMargin

  /** `graft-rate` options for one phase. Wall-clock phases use a sine of
    * amplitude r/4 and period 6 s plus a seeded jitter of r/10 per second,
    * the reference generator's `normcat -r -j -p` shape. */
  def sourceOptions(rate: Double, seed: Long, startMs: Long, partitions: Int,
      deterministicCap: Option[Long]): Map[String, String] = {
    val base = Map(
      "rowsPerSecond" -> rate.toString, "jitter" -> (rate / 10).toString,
      "periodSeconds" -> "6", "amplitude" -> (rate / 4).toString,
      "seed" -> seed.toString, "startTimestamp" -> startMs.toString,
      "numPartitions" -> partitions.toString)
    base ++ deterministicCap.map(c => Map("advancePerBatchSeconds" -> "1", "maxRecordsPerTrigger" -> c.toString))
      .getOrElse(Map.empty)
  }

  /** Expected per-record value, exactly as the source derives it. */
  def valueOf(seed: Long, seq: Long): Double =
    (RateModulatedSource.splitmix64(seed ^ (seq * 0x9E3779B97F4A7C15L)) >>> 11) * (1.0 / (1L << 53))

  def weightOf(k: Int): Double = 1.0 + k / 8.0

  /** One pipeline shape: how to build it, and how to check what its sink saw. */
  trait Shape {
    def build(src: DataFrame): DataFrame
    def sink: (DataFrame, Long) => Unit
    /** Check the sink's output against a plain-Scala recomputation; one
      * `ctx.op` per checked unit. */
    def check(ctx: Ctx, conf: RateConf, batches: Seq[BatchObs]): Unit
    /** Forget what the sink saw; a new phase starts at `startMs`. */
    def reset(startMs: Long): Unit
  }

  /** stream_window: tumbling event-time count and sum per key, update mode. */
  final class WindowShape extends Shape {
    // (window start micros, key) -> (count, sum) as last emitted
    private val seen = new ConcurrentHashMap[(Long, Int), (Long, Double)]()
    def reset(startMs: Long): Unit = seen.clear()
    def build(src: DataFrame): DataFrame =
      StreamOps.tumblingAgg(src.withColumn("k", (col("seq") % Keys).cast("int")),
        "ts", "2 seconds", "1 second", Seq(col("k")),
        Seq(count(lit(1)).as("n"), sum(col("value")).as("s")))
        .select(unix_micros(col("w.start")).as("ws"), col("k"), col("n"), col("s"))
    val sink: (DataFrame, Long) => Unit = (df, _) =>
      df.collect().foreach(r => seen.put((r.getLong(0), r.getInt(1)), (r.getLong(2), r.getDouble(3))))
    def check(ctx: Ctx, conf: RateConf, batches: Seq[BatchObs]): Unit = {
      val end = batches.filter(_.numInputRows > 0).map(_.endCount).foldLeft(0L)(math.max)
      val expected = new java.util.HashMap[(Long, Int), (Long, Double)]()
      val sched = new Latency.Schedule(conf)
      var seq = 0L
      while (seq < end) {
        val ts = conf.startTimestampMs * 1000L + sched.offsetMicros(seq)
        val key = (Math.floorDiv(ts, WindowMicros) * WindowMicros, (seq % Keys).toInt)
        val (n, s) = Option(expected.get(key)).getOrElse((0L, 0.0))
        expected.put(key, (n + 1, s + valueOf(conf.seed, seq)))
        seq += 1
      }
      expected.asScala.foreach { case (k, (n, s)) =>
        val got = Option(seen.get(k))
        ctx.op(got.exists { case (gn, gs) => gn == n && math.abs(gs - s) <= 1e-9 * math.max(1.0, math.abs(s)) },
          s"window ${k._1} key ${k._2}: expected ($n, $s), got $got")
      }
      val extra = seen.keySet.asScala.count(k => !expected.containsKey(k))
      ctx.op(extra == 0, s"$extra (window, key) groups emitted that the input cannot produce")
    }
  }

  /** stream_avro_enrich: Confluent-framed Avro encode, registry decode,
    * broadcast join to a static dimension, projection. */
  final class AvroShape(ctx: Ctx) extends Shape {
    private val registry = new SchemaRegistry
    private val registered = registry.register(Subject, AvroSchema)
    // batchId -> (rows, matched, sum seq, sum ts micros offset, sum value, sum weighted value)
    private val partials = new ConcurrentHashMap[Long, (Long, Long, Long, Long, Double, Double)]()
    @volatile private var tsBase = 0L
    def reset(startMs: Long): Unit = { partials.clear(); tsBase = startMs * 1000L }
    private lazy val dim: DataFrame = {
      val s = ctx.spark
      import s.implicits._
      (0 until DimKeys).map(k => (k, s"zone-$k", weightOf(k))).toDF("d_k", "d_name", "d_weight")
    }
    def build(src: DataFrame): DataFrame = {
      val rec = struct(col("seq"), col("ts"), col("value"), (col("seq") % Keys).cast("int").as("k"),
        concat(lit("sensor-"), (col("seq") % Keys).cast("string")).as("tag"))
      val decoded = src
        .select(AvroFunctions.toAvroWire(rec, registered).as("payload"))
        .select(AvroFunctions.fromAvroRegistry(col("payload"), registry, Subject).as("e"))
        .select("e.*")
      StreamOps.enrich(decoded, dim, col("k") === col("d_k"))
        .select(col("seq"), col("ts"), col("value"), col("k"), col("tag"), col("d_name"),
          (col("value") * col("d_weight")).as("wv"))
    }
    val sink: (DataFrame, Long) => Unit = (df, batchId) => {
      val enc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong,
        Encoders.scalaLong, Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble))
      val parts = df.select(col("seq"), unix_micros(col("ts")) - tsBase, col("value"), col("d_name"), col("wv"))
        .mapPartitions { it: Iterator[Row] =>
          var n, m, sSeq, sTs = 0L
          var sV, sW = 0.0
          it.foreach { r =>
            n += 1; sSeq += r.getLong(0); sTs += r.getLong(1); sV += r.getDouble(2)
            if (!r.isNullAt(3)) { m += 1; sW += r.getDouble(4) }
          }
          Iterator((n, m, sSeq, sTs, (sV, sW)))
        }(enc).collect()
      partials.put(batchId, parts.foldLeft((0L, 0L, 0L, 0L, 0.0, 0.0)) { (a, b) =>
        (a._1 + b._1, a._2 + b._2, a._3 + b._3, a._4 + b._4, a._5 + b._5._1, a._6 + b._5._2)
      })
    }
    def check(ctx: Ctx, conf: RateConf, batches: Seq[BatchObs]): Unit = {
      val sched = new Latency.Schedule(conf)
      batches.filter(_.numInputRows > 0).sortBy(_.batchId).foreach { b =>
        var n, m, sSeq, sTs = 0L
        var sV, sW = 0.0
        var seq = b.startCount
        while (seq < b.endCount) {
          val v = valueOf(conf.seed, seq)
          val k = (seq % Keys).toInt
          n += 1; sSeq += seq; sTs += sched.offsetMicros(seq); sV += v
          if (k < DimKeys) { m += 1; sW += v * weightOf(k) }
          seq += 1
        }
        val got = Option(partials.get(b.batchId))
        def close(a: Double, e: Double) = math.abs(a - e) <= 1e-9 * math.max(1.0, math.abs(e))
        ctx.op(got.exists(g => g._1 == n && g._2 == m && g._3 == sSeq && g._4 == sTs &&
          close(g._5, sV) && close(g._6, sW)),
          s"batch ${b.batchId} [${b.startCount}, ${b.endCount}): expected ($n, $m, $sSeq, $sTs, $sV, $sW), got $got")
      }
    }
  }

  /** A started phase: its query, its source conf, and when it was started. */
  final case class Phase(name: String, query: StreamingQuery, conf: RateConf, startCallMs: Long)

  def startPhase(ctx: Ctx, pipes: Pipelines, shape: Shape, name: String, rate: Double,
      cap: Option[Long]): Phase = {
    val startMs = System.currentTimeMillis() / 1000L * 1000L
    shape.reset(startMs)
    val opts = sourceOptions(rate, ctx.opts.seed, startMs, ctx.opts.cpus, cap)
    val src = ctx.spark.readStream.format("graft-rate").options(opts).load()
    val mode = shape match { case _: WindowShape => "update"; case _ => "append" }
    val t0 = System.currentTimeMillis()
    val q = pipes.start(name, shape.build(src), _.outputMode(mode).foreachBatch(shape.sink))
    Phase(name, q, RateConf(opts), t0)
  }

  def batchesOf(ctx: Ctx, p: Phase): Vector[BatchObs] =
    ctx.progress.log(p.query.id.toString).batches.sortBy(_.batchId)

  /** Wait until the phase has committed at least `rows` records. */
  def awaitRows(ctx: Ctx, p: Phase, rows: Long, timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def committed = batchesOf(ctx, p).map(_.endCount).foldLeft(0L)(math.max)
    while (committed < rows && System.currentTimeMillis() < deadline && p.query.isActive) Thread.sleep(5)
    committed >= rows
  }

  def stopPhase(ctx: Ctx, pipes: Pipelines, p: Phase): Vector[BatchObs] = {
    p.query.exception.foreach(e => ctx.op(ok = false, s"${p.name} failed: ${e.getMessage}"))
    pipes.stop(p.name)
    Thread.sleep(50) // the listener bus delivers the last progress event asynchronously
    batchesOf(ctx, p)
  }

  /** Batches must tile the offset range and count what they read. */
  def checkBatches(ctx: Ctx, p: Phase, bs: Seq[BatchObs]): Unit = {
    val data = bs.filter(_.numInputRows > 0)
    var prev = 0L
    data.foreach { b =>
      ctx.op(b.startCount == prev && b.numInputRows == b.endCount - b.startCount,
        s"${p.name} batch ${b.batchId}: offsets [${b.startCount}, ${b.endCount}) after $prev, rows ${b.numInputRows}")
      prev = b.endCount
    }
    ctx.op(data.nonEmpty, s"${p.name}: no data batch committed")
  }

  def run(ctx: Ctx, workload: String): Unit = {
    val o = ctx.opts
    val t0 = System.currentTimeMillis()
    val spark = ctx.newSession()
    val sessionMs = Main.sinceJvmStartMs()
    val pipes = new Pipelines(o.scratch.resolve("checkpoints").toString)
    val shape: Shape = if (workload == "stream_window") new WindowShape else new AvroShape(ctx)
    val root = ctx.tracer.newId()

    // Set-up, three times: start the pipeline and wait for its first
    // committed batch, a full saturated-phase batch, so that set-up also
    // warms the measured code paths. setup_s = session start-up + median
    // of the three.
    val setups = (1 to 3).map { i =>
      val s0 = System.currentTimeMillis()
      val p = startPhase(ctx, pipes, shape, s"setup$i", SaturatedCap * 4.0, Some(SaturatedCap))
      val ok = awaitRows(ctx, p, 1, 60000)
      val took = System.currentTimeMillis() - s0
      ctx.op(ok, s"setup $i: no batch committed")
      stopPhase(ctx, pipes, p)
      took / 1000.0
    }
    ctx.metric("setup_s", sessionMs / 1000.0 + Stats.median(setups), "s")
    ctx.heapCheckpoint()
    ctx.note(f"setup: session ${sessionMs / 1000.0}%.3f s from JVM start, pipeline starts ${setups.map(s => f"$s%.3f").mkString(", ")} s")

    val phaseSpans = scala.collection.mutable.ArrayBuffer[(Span, Vector[BatchObs])]()
    def phase(name: String, rate: Double, cap: Option[Long], seconds: Double,
        minBatches: Int = SaturatedBatches)(after: (Phase, Vector[BatchObs]) => Unit): Unit = {
      val s0 = System.currentTimeMillis()
      val p = startPhase(ctx, pipes, shape, name, rate, cap)
      Thread.sleep((seconds * 1000).toLong)
      // a capped phase runs at least SaturatedBatches full batches, however slow
      cap.foreach(c => ctx.op(awaitRows(ctx, p, minBatches * c, 30000),
        s"$name: fewer than $minBatches batches within 30 s"))
      val bs = if (cap.isEmpty) {
        // open loop: let what was already released drain, then stop
        val anchor = Latency.anchorUpper(batchesOf(ctx, p)).getOrElse(p.startCallMs)
        val released = p.conf.cumulative((System.currentTimeMillis() - anchor) / 1000L)
        val drained = awaitRows(ctx, p, released, 10000)
        val got = stopPhase(ctx, pipes, p)
        if (!drained) {
          val missing = released - got.map(_.endCount).foldLeft(0L)(math.max)
          ctx.op(ok = false, s"$name: $missing released records not committed within 10 s", missing)
        }
        got
      } else stopPhase(ctx, pipes, p)
      checkBatches(ctx, p, bs)
      shape.check(ctx, p.conf, bs)
      val span = Span(ctx.tracer.newId(), root, "phase", name, s0, System.currentTimeMillis())
      ctx.tracer.add(span)
      bs.foreach(b => ctx.tracer.add(Span(ctx.tracer.newId(), span.id, "batch", s"$name-${b.batchId}", b.startMs, b.endMs,
        Map("rows" -> b.numInputRows.toDouble, "trigger_ms" -> b.triggerMs.toDouble))))
      phaseSpans += ((span, bs))
      after(p, bs)
      ctx.heapCheckpoint()
    }

    val satSeconds = math.max(2.0, 0.3 * o.seconds)
    val loopSeconds = math.max(3.0, 0.5 * o.seconds)

    def saturated(name: String): Double = {
      var rate = 0.0
      phase(name, SaturatedCap * 4.0, Some(SaturatedCap), satSeconds) { (p, bs) =>
        rate = saturatedRate(bs)
        ctx.note(f"$name: ${bs.count(_.numInputRows > 0)} batches of $SaturatedCap rows, $rate%.0f rows/s")
      }
      rate
    }

    // The saturated phase gives max_rows_per_s, a per-layer figure, so
    // only traced runs have one. They bracket the traced phases with two
    // untraced saturated phases; the overhead compares the traced
    // saturated rate with theirs.
    val untraced = if (o.trace) Some(saturated("saturated_untraced_before")) else None
    // Untraced runs warm the measured code paths with a few full batches
    // instead; the open-loop phases start right after them.
    if (!o.trace) phase("warmup", SaturatedCap * 4.0, Some(SaturatedCap), 0.0, WarmupBatches) { (_, bs) =>
      ctx.note(s"warm-up: ${bs.count(_.numInputRows > 0)} batches of $SaturatedCap rows")
    }
    val satRate = if (o.trace) {
      ctx.tracer.attach(spark)
      val r = saturated("saturated")
      ctx.metric("max_rows_per_s", r, "rows/s")
      r
    } else 0.0

    val open = scala.collection.mutable.LinkedHashMap[String, (LatencySplit, Seq[(Double, Double)], Vector[BatchObs])]()
    for ((label, rate) <- Seq("light" -> o.lightRate, "heavy" -> o.heavyRate)) {
      phase(label, rate, None, loopSeconds) { (p, bs) =>
        val lo = Latency.anchorLower(p.startCallMs, bs)
        val anchor = Latency.anchorUpper(bs).getOrElse(p.startCallMs)
        ctx.op(lo <= anchor, s"$label: anchor bounds inconsistent (lower $lo, upper $anchor)")
        val sp = Latency.split(p.conf, anchor, bs, WarmupSeconds)
        val bl = Latency.backlog(p.conf, anchor, bs)
        open(label) = (sp, bl, bs)
        if (sp.samples == 0) ctx.op(ok = false, s"$label: no latency samples")
        else {
          val lat = sp.latency.sorted
          ctx.metric(s"lat_p50_ms.$label", Stats.pct(lat, 50), "ms")
          ctx.metric(s"lat_p99_ms.$label", Stats.pct(lat, 99), "ms")
          ctx.note(f"$label: offered $rate%.0f rows/s, ${sp.samples} event samples in ${bs.count(_.numInputRows > 0)} batches, " +
            f"anchor within ${anchor - lo} ms, " +
            f"p50 ${Stats.pct(lat, 50)}%.1f ms = release ${Stats.median(sp.releaseWait)}%.1f + queue ${Stats.median(sp.queueWait)}%.1f + batch ${Stats.median(sp.batchTime)}%.1f (medians)")
        }
      }
    }

    if (o.trace) {
      Thread.sleep(300) // let the listener bus deliver the last job events
      ctx.tracer.detach(spark)
      val after = saturated("saturated_untraced_after")
      ctx.metric("trace.overhead_share", (untraced.get + after) / 2 / satRate - 1.0, "share")
      val measured = phaseSpans.filterNot(_._1.name.startsWith("saturated_untraced"))
      val batchSpans = measured.flatMap(_._2).map(b => Span(0L, 0L, "batch", "", b.startMs, b.endMs))
      ctx.tracer.layers(batchSpans.toSeq).foreach { case (k, v) => ctx.metric(k, v, PerLayer.unitOf(k)) }
      PerLayer.streaming(ctx, measured.flatMap(_._2).toSeq, open.toMap)
      if (workload == "stream_avro_enrich") formatsInIsolation(ctx)
      if (workload == "stream_window") {
        ctx.newSession("local[1]")
        ctx.metric("max_rows_per_s.local1", saturated("saturated_local1"), "rows/s")
      }
      PerLayer.fillMissing(ctx)
      ctx.tracer.add(Span(root, 0L, "workload", workload, t0, System.currentTimeMillis()))
      ctx.tracer.writeJson(o.workDir.resolve(s"trace-$workload-${o.seed}.json"))
    }
    pipes.stopAll()
    ctx.note(f"run took ${(System.currentTimeMillis() - t0) / 1000.0}%.1f s after JVM start-up")
  }

  /** Rows per second of the capped batches after the first two (warm-up):
    * the cap over the median start-to-start cycle of consecutive batches. */
  def saturatedRate(bs: Seq[BatchObs]): Double = {
    val data = bs.filter(_.numInputRows > 0).sortBy(_.batchId).drop(2)
    require(data.size >= 2, s"saturated phase committed only ${data.size} batches after warm-up")
    val cycles = data.sliding(2).map { case Seq(a, b) => (b.startMs - a.startMs).toDouble }.toSeq
    SaturatedCap * 1000.0 / Stats.median(cycles)
  }

  /** formats layer: encode and decode rate on a fixed batch of the same
    * rows, timed apart from the pipeline (median of three). */
  def formatsInIsolation(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val n = 200000L
    val registry = new SchemaRegistry
    val reg = registry.register(Subject, AvroSchema)
    val rows = spark.range(0, n, 1, ctx.opts.cpus)
      .select(col("id").as("seq"), timestamp_micros(col("id") * 100).as("ts"),
        (pmod(xxhash64(col("id")), lit(1000000)) / 1e6).as("value"))
      .select(struct(col("seq"), col("ts"), col("value"), (col("seq") % Keys).cast("int").as("k"),
        concat(lit("sensor-"), (col("seq") % Keys).cast("string")).as("tag")).as("r"))
      .cache()
    rows.count()
    val encoded = rows.select(AvroFunctions.toAvroWire(col("r"), reg).as("payload")).cache()
    encoded.count()
    def time(df: => DataFrame): Double = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    })
    val enc = time(rows.select(AvroFunctions.toAvroWire(col("r"), reg).as("payload")))
    val dec = time(encoded.select(AvroFunctions.fromAvroRegistry(col("payload"), registry, Subject).as("e")).select("e.*"))
    val roundTrip = encoded.select(AvroFunctions.fromAvroRegistry(col("payload"), registry, Subject).as("e"))
      .select(col("e.seq"), col("e.value")).except(rows.select(col("r.seq"), col("r.value"))).count()
    ctx.op(roundTrip == 0, s"formats: $roundTrip rows did not survive encode/decode")
    ctx.metric("formats.encode_rows_per_s", n / enc, "rows/s")
    ctx.metric("formats.decode_rows_per_s", n / dec, "rows/s")
    rows.unpersist(); encoded.unpersist()
  }
}
