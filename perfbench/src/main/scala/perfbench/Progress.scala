package perfbench

import java.time.Instant

import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Collects committed micro-batches per streaming query.
  *
  * Batch duration is `durationMs("triggerExecution")` alone: that phase
  * already spans latestOffset, planning, addBatch and the commits, so
  * summing every `durationMs` entry would count them twice. Memory is
  * bounded: each query keeps at most `capacity` batches, later ones only
  * bump `dropped` (a benchmark phase commits far fewer). */
final class Progress(capacity: Int = 20000) extends StreamingQueryListener {

  private val byQuery = new java.util.concurrent.ConcurrentHashMap[String, QueryLog]()

  final class QueryLog {
    private val buf = new java.util.ArrayList[BatchObs]()
    @volatile var dropped = 0L
    def add(b: BatchObs): Unit = synchronized { if (buf.size < capacity) buf.add(b) else dropped += 1 }
    def batches: Vector[BatchObs] = synchronized {
      import scala.jdk.CollectionConverters._
      buf.asScala.toVector
    }
  }

  def log(queryId: String): QueryLog = byQuery.computeIfAbsent(queryId, _ => new QueryLog)

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryProgress(event: QueryProgressEvent): Unit =
    log(event.progress.id.toString).add(Progress.observe(event.progress))
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
}

object Progress {

  /** `graft-rate` offsets are `count:seconds`; no offset means record 0. */
  def parseOffset(s: String): (Long, Long) =
    Option(s).map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty) match {
      case Some(o) =>
        val parts = o.split(":", 2)
        (parts(0).toLong, if (parts.length > 1) parts(1).toLong else 0L)
      case None => (0L, 0L)
    }

  def observe(p: StreamingQueryProgress): BatchObs = {
    def dur(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val src = p.sources.headOption
    val (startCount, _) = parseOffset(src.map(_.startOffset).orNull)
    val (endCount, endSeconds) = parseOffset(src.map(_.endOffset).orNull)
    val state = p.stateOperators
    BatchObs(
      batchId = p.batchId,
      startMs = Instant.parse(p.timestamp).toEpochMilli,
      triggerMs = dur("triggerExecution"),
      latestOffsetMs = dur("latestOffset"),
      planningMs = dur("queryPlanning"),
      addBatchMs = dur("addBatch"),
      commitMs = dur("commitOffsets") + dur("walCommit"),
      startCount = startCount, endCount = endCount, endSeconds = endSeconds,
      numInputRows = p.numInputRows,
      stateRows = state.map(_.numRowsTotal).sum,
      stateMemBytes = state.map(_.memoryUsedBytes).sum,
      stateCommitMs = state.map(_.commitTimeMs).sum,
      droppedByWatermark = state.map(_.numRowsDroppedByWatermark).sum)
  }
}
