package perfbench

import graft.sources.RateConf
import org.scalatest.funsuite.AnyFunSuite

class LatencySpec extends AnyFunSuite {

  // 4 records per second, no sine, no jitter: record i of second u is
  // stamped u s + (i mod 4) * 250 ms after startTimestamp.
  private val t0 = 1700000000000L
  private val conf = RateConf(rowsPerSecond = 4, jitter = 0, periodSeconds = 0, amplitude = 0,
    seed = 1, startTimestampMs = t0, numPartitions = 1, advancePerBatchSeconds = 0)
  private val wall = t0 + 337L // the source's startWallMs, unknown to the benchmark

  private def batch(id: Long, start: Long, trigger: Long, from: Long, to: Long, seconds: Long, latestOffsetMs: Long = 2) =
    BatchObs(id, start, trigger, latestOffsetMs, 0, 0, 0, from, to, seconds, to - from, 0, 0, 0, 0)

  // Second 0 is released at wall + 1000; the engine polls 4 ms later and
  // runs a 120 ms batch. Second 1 is released while batch 2 of a busy
  // engine is still running (started late at wall + 2300), so it waits.
  private val batches = Seq(
    batch(0, wall + 40, 30, 0, 0, 0),
    batch(1, wall + 1004, 120, 0, 4, 1),
    batch(2, wall + 2300, 200, 4, 8, 2))

  test("latency splits into release wait + queue wait + batch time from the due time") {
    val s = Latency.split(conf, wall, batches, fromSecond = 0)
    assert(s.samples == 8)
    // record 2 of second 0: due wall + 500, released wall + 1000,
    // batch 1 starts wall + 1004 and commits wall + 1124
    assert(s.releaseWait(2) == 500.0)
    assert(s.queueWait(2) == 4.0)
    assert(s.batchTime(2) == 120.0)
    assert(s.latency(2) == 624.0)
    // record 0 of second 1: due wall + 1000, released wall + 2000, batch 2
    // starts wall + 2300 and commits wall + 2500
    assert((s.releaseWait(4), s.queueWait(4), s.batchTime(4), s.latency(4)) == ((1000.0, 300.0, 200.0, 1500.0)))
    s.latency.indices.foreach { i =>
      assert(s.latency(i) == s.releaseWait(i) + s.queueWait(i) + s.batchTime(i))
    }
  }

  test("warm-up seconds are excluded from the samples") {
    val s = Latency.split(conf, wall, batches, fromSecond = 1)
    assert(s.samples == 4)
    assert(s.releaseWait.toSeq == Seq(1000.0, 750.0, 500.0, 250.0))
  }

  test("the measured anchor brackets the source's start and is tight after an idle poll") {
    val upper = Latency.anchorUpper(batches).get
    val lower = Latency.anchorLower(t0 + 300, batches)
    assert(lower <= wall && wall <= upper)
    // batch 1 polled 4 ms after the release and spent 2 ms in latestOffset
    assert(upper - wall == 6L)
    assert(Latency.anchorLower(t0 - 1000, batches) == wall + 2300 - 3000)
  }

  test("latency taken from the measured anchor carries no per-run skew") {
    // the same run, shifted so startTimestamp and startWallMs differ by 2.5 s
    val shifted = batches.map(b => b.copy(startMs = b.startMs + 2500))
    val direct = Latency.split(conf, Latency.anchorUpper(batches).get, batches, 0).latency.toSeq
    val skewed = Latency.split(conf, Latency.anchorUpper(shifted).get, shifted, 0).latency.toSeq
    assert(direct == skewed)
  }

  test("backlog is released minus committed just before each commit") {
    // at batch 2's commit (wall + 2500) seconds 0 and 1 are out: 8 released, 4 committed before it
    assert(Latency.backlog(conf, wall, batches).map(_._2) == Seq(4.0, 4.0))
  }

  test("percentiles are nearest-rank") {
    val xs = (1 to 200).map(_.toDouble).toArray
    assert(Stats.pct(xs, 50) == 100.0)
    assert(Stats.pct(xs, 99) == 198.0)
    assert(Stats.pct(Array(5.0), 99) == 5.0)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 20L), (30L, 35L))) == 25L)
  }

  test("the interquartile mean averages the middle half") {
    // n = 10: drop two from each end, average the middle six
    assert(Stats.iqm(Seq(9.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 100.0)) == 5.5)
    assert(Stats.iqm(Seq(5.0)) == 5.0)
  }
}
