package perfbench

/** The per-layer metrics a traced run prints (BENCHMARK.json `per_layer`).
  * Each workload prints all of them; a layer the workload does not touch
  * reads 0 (see README.md for which metric moves on which workload). */
object PerLayer {

  /** The queries layer: the middle-half mean materialised wall time of each browse gate. */
  def gateWall(gate: String): String = s"mix.$gate.wall_s"

  val Names: Seq[(String, String)] = Seq(
    "sources.release_wait_ms" -> "ms", "sources.backlog_rows.max" -> "rows",
    "sources.backlog_growth_rows_per_s" -> "rows/s", "sources.latest_offset_ms" -> "ms",
    "streaming.batches" -> "count", "streaming.trigger_ms.p50" -> "ms", "streaming.trigger_ms.p99" -> "ms",
    "streaming.queue_wait_ms" -> "ms", "streaming.planning_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.commit_ms" -> "ms",
    "streaming.state_rows" -> "rows", "streaming.state_mem_bytes" -> "bytes",
    "streaming.state_commit_ms" -> "ms", "streaming.rows_dropped_by_watermark" -> "rows",
    "formats.encode_rows_per_s" -> "rows/s", "formats.decode_rows_per_s" -> "rows/s",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms", "catalyst.planning_ms" -> "ms",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.in_job_ms" -> "ms", "driver.gap_ms" -> "ms",
    "exec.run_ms" -> "ms", "exec.cpu_ms" -> "ms", "exec.cpu_share" -> "share", "exec.gc_ms" -> "ms",
    "shuffle.read_bytes" -> "bytes", "shuffle.write_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "cachescope.pending" -> "count", "cachescope.release_ms" -> "ms",
    "max_rows_per_s" -> "rows/s", "max_rows_per_s.local1" -> "rows/s", "trace.overhead_share" -> "share") ++
    BrowseMix.Gates.map(g => gateWall(g) -> "s")

  def unitOf(name: String): String = Names.find(_._1 == name).map(_._2).getOrElse("count")

  /** sources and streaming layers from the committed micro-batches of the
    * measured phases and the open-loop latency splits. */
  def streaming(ctx: Ctx, batches: Seq[BatchObs],
      open: Map[String, (LatencySplit, Seq[(Double, Double)], Vector[BatchObs])]): Unit = {
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val executed = batches.filter(b => b.numInputRows > 0 || b.addBatchMs > 0)
    val trig = executed.map(_.triggerMs.toDouble).sorted.toArray
    val splits = open.values.map(_._1).toSeq
    ctx.metric("sources.release_wait_ms", med(splits.flatMap(_.releaseWait.toSeq)), "ms")
    ctx.metric("streaming.queue_wait_ms", med(splits.flatMap(_.queueWait.toSeq)), "ms")
    ctx.metric("sources.backlog_rows.max", (open.values.flatMap(_._2.map(_._2)) ++ Seq(0.0)).max, "rows")
    ctx.metric("sources.backlog_growth_rows_per_s", open.get("heavy").map(o => Stats.slope(o._2)).getOrElse(0.0), "rows/s")
    ctx.metric("sources.latest_offset_ms", med(executed.map(_.latestOffsetMs.toDouble)), "ms")
    ctx.metric("streaming.batches", executed.size.toDouble, "count")
    ctx.metric("streaming.trigger_ms.p50", if (trig.isEmpty) 0.0 else Stats.pct(trig, 50), "ms")
    ctx.metric("streaming.trigger_ms.p99", if (trig.isEmpty) 0.0 else Stats.pct(trig, 99), "ms")
    ctx.metric("streaming.planning_ms", med(executed.map(_.planningMs.toDouble)), "ms")
    ctx.metric("streaming.add_batch_ms", med(executed.map(_.addBatchMs.toDouble)), "ms")
    ctx.metric("streaming.commit_ms", med(executed.map(_.commitMs.toDouble)), "ms")
    ctx.metric("streaming.state_rows", (executed.map(_.stateRows.toDouble) :+ 0.0).max, "rows")
    ctx.metric("streaming.state_mem_bytes", (executed.map(_.stateMemBytes.toDouble) :+ 0.0).max, "bytes")
    ctx.metric("streaming.state_commit_ms", med(executed.map(_.stateCommitMs.toDouble)), "ms")
    ctx.metric("streaming.rows_dropped_by_watermark", executed.map(_.droppedByWatermark.toDouble).sum, "rows")
  }

  /** Layers this workload does not reach read 0. */
  def fillMissing(ctx: Ctx): Unit =
    Names.foreach { case (k, u) => if (!ctx.metrics.contains(k)) ctx.metric(k, 0.0, u) }
}
