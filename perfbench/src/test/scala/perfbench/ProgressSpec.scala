package perfbench

import org.apache.spark.sql.streaming.FabricatedProgress
import org.scalatest.funsuite.AnyFunSuite

class ProgressSpec extends AnyFunSuite {

  private val phases = Map("latestOffset" -> 3L, "queryPlanning" -> 20L, "walCommit" -> 30L,
    "addBatch" -> 400L, "commitOffsets" -> 40L, "triggerExecution" -> 500L)

  test("batch duration is triggerExecution alone, not the sum of every phase") {
    val b = Progress.observe(FabricatedProgress.event(7, "2026-01-01T00:00:01.250Z", phases,
      "100:2", "160:3", 60, stateRows = 12).progress)
    assert(b.triggerMs == 500L)
    assert(phases.values.sum == 993L) // what summing every entry would report
    assert(b.startMs == java.time.Instant.parse("2026-01-01T00:00:01.250Z").toEpochMilli)
    assert(b.endMs == b.startMs + 500L)
    assert((b.latestOffsetMs, b.planningMs, b.addBatchMs, b.commitMs) == ((3L, 20L, 400L, 70L)))
    assert((b.startCount, b.endCount, b.endSeconds, b.numInputRows) == ((100L, 160L, 3L, 60L)))
    assert((b.stateRows, b.stateMemBytes, b.stateCommitMs) == ((12L, 1024L, 7L)))
  }

  test("the first batch has no start offset and starts at record 0") {
    val b = Progress.observe(FabricatedProgress.event(0, "2026-01-01T00:00:00Z", phases, null, "5:1", 5).progress)
    assert((b.startCount, b.endCount, b.endSeconds) == ((0L, 5L, 1L)))
  }

  test("the listener keeps at most `capacity` batches per query and counts the rest") {
    val p = new Progress(capacity = 2)
    (0 until 5).foreach { i =>
      p.onQueryProgress(FabricatedProgress.event(i, "2026-01-01T00:00:00Z", phases, s"$i:0", s"${i + 1}:0", 1))
    }
    val log = p.log("00000000-0000-0000-0000-000000000001")
    assert(log.batches.map(_.batchId) == Vector(0L, 1L))
    assert(log.dropped == 3L)
  }
}
