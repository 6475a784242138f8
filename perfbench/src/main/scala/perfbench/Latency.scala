package perfbench

import graft.sources.RateConf

/** One committed micro-batch as the benchmark sees it, taken from a
  * `StreamingQueryProgress` by [[Progress.observe]]. Times are epoch
  * milliseconds; offsets are the `graft-rate` record counts and logical
  * seconds carried in its `count:seconds` offsets. */
final case class BatchObs(
    batchId: Long, startMs: Long, triggerMs: Long, latestOffsetMs: Long,
    planningMs: Long, addBatchMs: Long, commitMs: Long,
    startCount: Long, endCount: Long, endSeconds: Long, numInputRows: Long,
    stateRows: Long, stateMemBytes: Long, stateCommitMs: Long, droppedByWatermark: Long) {
  def endMs: Long = startMs + triggerMs
}

/** Per-event latency split for one open-loop phase. All in ms. */
final case class LatencySplit(
    latency: Array[Double], releaseWait: Array[Double], queueWait: Array[Double],
    batchTime: Array[Double]) {
  def samples: Int = latency.length
}

/** Event-to-commit latency of a wall-clock `graft-rate` stream.
  *
  * The source stamps record `seq` of logical second u with
  * `ts = startTimestamp + u s + within(seq)`, but paces from its own
  * `startWallMs`, captured when the stream object is built during query
  * start, and hands out second u only once `floor((now - startWallMs) / 1 s)`
  * exceeds u. Taking `commit - ts` directly would therefore carry the
  * per-run gap between `startTimestamp` and `startWallMs`. The benchmark
  * instead measures that anchor from the progress stream and times each
  * event from when the generator was due to create it:
  *
  *   due(seq)     = anchor + (ts(seq) - startTimestamp)
  *   release(seq) = anchor + (u(seq) + 1) s
  *   latency      = commit(batch) - due
  *                = (release - due) + (batchStart - release) + (commit - batchStart)
  *                =  release wait   +  queue wait            +  batch time
  */
object Latency {

  /** Upper bound on `startWallMs`. The stream object exists before the
    * first trigger starts, and a batch whose offset reached logical second
    * s called `latestOffset` at some t in [start, start + latestOffsetMs]
    * with t - startWallMs >= s seconds. When the engine is idle at a
    * release, the next poll makes this bound tight to one polling interval. */
  def anchorUpper(batches: Seq[BatchObs]): Option[Long] = {
    val bounds = batches.map(_.startMs) ++ batches.filter(b => b.numInputRows > 0 && b.endSeconds > 0)
      .map(b => b.startMs + b.latestOffsetMs - b.endSeconds * 1000L)
    if (bounds.isEmpty) None else Some(bounds.min)
  }

  /** Lower bound on `startWallMs`: the stream is built after the query's
    * start call, and a batch that stopped at logical second s called
    * `latestOffset` before second s + 1 was due. */
  def anchorLower(startCallMs: Long, batches: Seq[BatchObs]): Long =
    (batches.map(b => b.startMs - (b.endSeconds + 1) * 1000L) :+ startCallMs).max

  /** Offset of record `seq` from `startTimestamp` in microseconds, exactly
    * as the source's reader computes it, and its logical second. Walks the
    * schedule forward from a cursor, so consecutive calls are O(1). */
  final class Schedule(conf: RateConf) {
    private var second = 0L
    private var cumAtSecond = 0L
    private var rate = conf.rateAt(0L)
    def secondOf(seq: Long): Long = { seek(seq); second }
    def offsetMicros(seq: Long): Long = {
      seek(seq)
      val within = seq - cumAtSecond
      second * 1000000L + (if (rate > 0) within * (1000000L / math.max(1L, rate)) else 0L)
    }
    private def seek(seq: Long): Unit = {
      require(seq >= cumAtSecond, s"schedule cursor moved backwards to $seq")
      while (cumAtSecond + rate <= seq) { cumAtSecond += rate; second += 1; rate = conf.rateAt(second) }
    }
  }

  /** Split the latency of every record in `batches` whose logical second
    * is at least `fromSecond` (earlier seconds are warm-up). Batches must
    * be in commit order and carry contiguous offset ranges. */
  def split(conf: RateConf, anchorMs: Long, batches: Seq[BatchObs], fromSecond: Long): LatencySplit = {
    val sched = new Schedule(conf)
    val lat = Array.newBuilder[Double]
    val rel = Array.newBuilder[Double]
    val que = Array.newBuilder[Double]
    val bat = Array.newBuilder[Double]
    batches.filter(_.numInputRows > 0).sortBy(_.batchId).foreach { b =>
      var seq = b.startCount
      while (seq < b.endCount) {
        val u = sched.secondOf(seq)
        if (u >= fromSecond) {
          val due = anchorMs + sched.offsetMicros(seq) / 1000.0
          val release = anchorMs + (u + 1) * 1000.0
          lat += b.endMs - due
          rel += release - due
          que += b.startMs - release
          bat += b.triggerMs.toDouble
        }
        seq += 1
      }
    }
    LatencySplit(lat.result(), rel.result(), que.result(), bat.result())
  }

  /** Rows released by the source but not yet committed, sampled at each
    * data batch's commit: (commit time in s since the first sample, rows). */
  def backlog(conf: RateConf, anchorMs: Long, batches: Seq[BatchObs]): Seq[(Double, Double)] = {
    val data = batches.filter(_.numInputRows > 0).sortBy(_.batchId)
    if (data.isEmpty) return Seq.empty
    val t0 = data.head.endMs
    data.map { b =>
      val released = conf.cumulative(math.max(0L, (b.endMs - anchorMs) / 1000L))
      ((b.endMs - t0) / 1000.0, math.max(0L, released - b.startCount).toDouble)
    }
  }
}
