package perfbench

import java.nio.file.Files

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row}

import graft.{CacheScope, SparkEntry, Tables}

/** browse_mix: one client runs a fixed list of oracle-gated gates from
  * `SparkEntry.queries` in a closed loop inside a warm JVM. Every result is
  * materialised through the `noop` sink. The list runs in a fixed order
  * over the committed copy of the tables under data/sf0.01, so this
  * workload's inputs do not depend on the seed. */
object BrowseMix {

  /** Gates with a shuffle: grouped aggregate, join, MinHash dedup. */
  val Heavy: Seq[String] = Seq("q04_agg_group", "q09_join_enrich", "q41_dedup_minhash")
  /** Per-row text scans. */
  val Light: Seq[String] = Seq("q31_lang_id", "q32_text_quality", "q172_gopher_rules")
  /** The order every pass runs them in. */
  val Gates: Seq[String] = Seq("q04_agg_group", "q09_join_enrich", "q31_lang_id", "q32_text_quality",
    "q41_dedup_minhash", "q172_gopher_rules")
  /** One timed pass per this many seconds of --seconds (a warm pass takes
    * 1.5-2.5 s on a 4-CPU box). */
  val PassSeconds = 1.2
  /** At least this many timed passes per gate figure. */
  val MinPasses = 4
  /** Untimed noop passes after the checked warm-up pass. The JIT compiles
    * for more than a second of CPU per pass through the first dozen passes,
    * and the gates speed up by about a third over them; timing starts
    * further down that curve. */
  val WarmPasses = 2

  def dataDir(ctx: Ctx): String = ctx.opts.root.resolve("perfbench/data/sf0.01").toString
  def pinnedPath(ctx: Ctx) = ctx.opts.root.resolve("perfbench/pinned_browse.tsv")

  /** Order-independent digest of a result: row count and the sum of 64-bit
    * hashes of each row's canonical text (doubles to 6 significant digits,
    * maps sorted by key). */
  def digest(rows: Array[Row]): (Long, String) = {
    def canon(v: Any): String = v match {
      case null => "null"
      case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.6g"
      case f: Float => f"${f.toDouble}%.6g"
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case b: Array[Byte] => b.map(x => f"$x%02x").mkString
      case x => x.toString
    }
    var h = 0L
    rows.foreach { r =>
      val s = canon(r)
      h += (scala.util.hashing.MurmurHash3.stringHash(s, 17).toLong << 32) ^
        (scala.util.hashing.MurmurHash3.stringHash(s, 71).toLong & 0xffffffffL)
    }
    (rows.length.toLong, java.lang.Long.toHexString(h))
  }

  def loadPinned(ctx: Ctx): Map[String, (Long, String)] =
    scala.io.Source.fromFile(pinnedPath(ctx).toFile, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(g, n, h) = l.split("\t")
        g -> (n.toLong, h)
      }.toMap

  /** One timed execution: materialise, then release the gate's caches
    * (release is part of the gate's cost, as in graft.Bench). Returns the
    * wall time in seconds, CacheScope's pending count before release and
    * the release time in ms, or None when the gate failed. */
  def execute(ctx: Ctx, gate: String): Option[(Double, Int, Double)] = {
    val t0 = System.nanoTime()
    try {
      SparkEntry.queries(gate)(ctx.spark, dataDir(ctx)).write.format("noop").mode("overwrite").save()
      val pending = CacheScope.pendingCount
      val r0 = System.nanoTime()
      CacheScope.release()
      val t1 = System.nanoTime()
      ctx.op(ok = true, gate)
      Some(((t1 - t0) / 1e9, pending, (t1 - r0) / 1e6))
    } catch {
      case NonFatal(e) =>
        try CacheScope.release() catch { case NonFatal(_) => () }
        ctx.op(ok = false, s"$gate: $e")
        None
    }
  }

  /** Materialise a gate through collect and compare its digest with the
    * pinned value (the untimed warm-up pass). A mismatch prints both. */
  def check(ctx: Ctx, gate: String, pinned: Map[String, (Long, String)]): Unit =
    try {
      val d = digest(SparkEntry.queries(gate)(ctx.spark, dataDir(ctx)).collect())
      CacheScope.release()
      ctx.op(pinned.get(gate).contains(d), s"$gate: digest $d, pinned ${pinned.get(gate)}")
    } catch {
      case NonFatal(e) =>
        try CacheScope.release() catch { case NonFatal(_) => () }
        ctx.op(ok = false, s"$gate check: $e")
    }

  def run(ctx: Ctx): Unit = {
    val o = ctx.opts
    val runStart = System.currentTimeMillis()
    val spark = ctx.newSession()
    val sessionMs = Main.sinceJvmStartMs()
    val d = dataDir(ctx)
    require(Files.isDirectory(java.nio.file.Paths.get(d)), s"missing browse data $d")
    // Set-up, three times: open every table and read its schema.
    val setups = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      Tables.All.foreach(t => spark.read.parquet(s"$d/$t.parquet").schema)
      (System.nanoTime() - t0) / 1e9
    }
    ctx.metric("setup_s", sessionMs / 1000.0 + Stats.median(setups), "s")
    ctx.note(f"setup: session ${sessionMs / 1000.0}%.3f s from JVM start, table opens ${setups.map(s => f"$s%.3f").mkString(", ")} s")

    val pinned = loadPinned(ctx)
    // Warm-up (untimed): one pass that checks the outputs, then noop
    // passes, for JIT and codegen.
    val w0 = System.nanoTime()
    Gates.foreach(g => check(ctx, g, pinned))
    ctx.note(f"warm-up pass checked ${Gates.size} gates in ${(System.nanoTime() - w0) / 1e9}%.1f s")
    ctx.heapCheckpoint()
    val w1 = System.nanoTime()
    for (_ <- 1 to WarmPasses) { Gates.foreach(g => execute(ctx, g)); ctx.heapCheckpoint() }
    ctx.note(f"$WarmPasses untimed noop passes in ${(System.nanoTime() - w1) / 1e9}%.1f s")

    // Closed loop: a fixed number of passes over the list, one per
    // PassSeconds of --seconds, so that every gate runs equally often and
    // every run does the same work. Each gate's figure is the mean of the
    // middle half of its timed passes: the JIT still speeds the gates up
    // slowly here, and the host has slow moments; dropping the fastest and
    // the slowest quarter keeps both out, and averaging the rest is steadier
    // than one middle value.
    val passes = math.max(MinPasses, math.ceil(o.seconds / PassSeconds).toInt)
    val walls = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    for (_ <- 1 to passes) {
      for (g <- Gates)
        execute(ctx, g).foreach { case (w, _, _) => walls.getOrElseUpdate(g, mutable.ArrayBuffer()) += w }
      ctx.heapCheckpoint()
    }
    val fig = walls.map { case (g, ws) => g -> Stats.iqm(ws) }
    val mix = fig.values.sum
    val rows = Gates.map(g => pinned.get(g).map(_._1).getOrElse(0L)).sum
    ctx.note(f"closed loop: $passes passes, ${walls.values.map(_.size).sum} gate executions, mix $mix%.3f s, $rows rows per pass")
    fig.toSeq.sortBy(-_._2).foreach { case (g, m) => ctx.note(f"  $g%-28s middle-half mean $m%.3f s of ${walls(g).map(w => f"$w%.3f").mkString(", ")}") }
    if (fig.size == Gates.size) {
      ctx.metric("mix_s", mix, "s")
      ctx.metric("max_rows_per_s", rows / mix, "rows/s")
    }
    // Class percentiles over the per-gate figures: one sample per gate.
    for ((label, cls) <- Seq("light" -> Light, "heavy" -> Heavy)) {
      val xs = cls.flatMap(fig.get).map(_ * 1000.0).sorted.toArray
      if (xs.length == cls.size) {
        ctx.metric(s"lat_p50_ms.$label", Stats.pct(xs, 50), "ms")
        ctx.metric(s"lat_p99_ms.$label", Stats.pct(xs, 99), "ms")
        ctx.note(s"$label gates: percentiles over ${xs.length} per-gate middle-half means (p99 is the slowest)")
      }
    }

    if (o.trace) {
      // A traced pass between two untraced ones; per-layer numbers come
      // from the traced pass's gate spans, the overhead from all three.
      def pass(): Double = Gates.flatMap(g => execute(ctx, g).map(_._1)).sum
      val before = pass()
      ctx.tracer.attach(spark)
      val root = ctx.tracer.newId()
      val phase = ctx.tracer.newId()
      val spans = mutable.ArrayBuffer[Span]()
      var pending, releaseMs = 0.0
      var traced = 0.0
      Gates.foreach { g =>
        val t0 = System.currentTimeMillis()
        execute(ctx, g).foreach { case (w, p, r) => pending += p; releaseMs += r; traced += w }
        val s = Span(ctx.tracer.newId(), phase, "gate", g, t0, System.currentTimeMillis())
        ctx.tracer.add(s); spans += s
      }
      Thread.sleep(300) // let the listener bus deliver the last job events
      ctx.tracer.detach(spark)
      val after = pass()
      ctx.tracer.add(Span(phase, root, "phase", "traced_pass", spans.head.startMs, spans.last.endMs))
      ctx.tracer.add(Span(root, 0L, "workload", "browse_mix", runStart, System.currentTimeMillis()))
      ctx.tracer.layers(spans.toSeq).foreach { case (k, v) => ctx.metric(k, v, PerLayer.unitOf(k)) }
      ctx.metric("cachescope.pending", pending, "count")
      ctx.metric("cachescope.release_ms", releaseMs, "ms")
      ctx.metric("trace.overhead_share", traced / ((before + after) / 2) - 1.0, "share")
      fig.foreach { case (g, m) => ctx.metric(PerLayer.gateWall(g), m, "s") }
      PerLayer.fillMissing(ctx)
      ctx.tracer.writeJson(o.workDir.resolve(s"trace-browse_mix-${o.seed}.json"))
    }
  }
}
