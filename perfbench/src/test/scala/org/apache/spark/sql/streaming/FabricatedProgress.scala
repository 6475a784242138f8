package org.apache.spark.sql.streaming

import java.util.UUID

import scala.jdk.CollectionConverters._

/** Builds progress events by hand for the benchmark's listener tests (the
  * constructors are package-private to Spark). */
object FabricatedProgress {
  def event(batchId: Long, timestamp: String, durations: Map[String, Long],
      startOffset: String, endOffset: String, rows: Long,
      stateRows: Long = 0L): StreamingQueryListener.QueryProgressEvent = {
    val source = new SourceProgress("graft-rate", startOffset, endOffset, endOffset, rows, 0.0, 0.0,
      Map.empty[String, String].asJava)
    val state = new StateOperatorProgress("stateStoreSave", stateRows, 0L, 0L, 0L, 0L, 7L, 1024L, 0L, 4L, 4L,
      Map.empty[String, java.lang.Long].asJava)
    val p = new StreamingQueryProgress(UUID.fromString("00000000-0000-0000-0000-000000000001"), UUID.randomUUID(),
      "fabricated", timestamp, batchId, durations.getOrElse("triggerExecution", 0L),
      durations.map { case (k, v) => k -> java.lang.Long.valueOf(v) }.asJava,
      Map.empty[String, String].asJava, Array(state), Array(source), new SinkProgress("sink", rows, Map.empty[String, String].asJava),
      Map.empty[String, org.apache.spark.sql.Row].asJava)
    new StreamingQueryListener.QueryProgressEvent(p)
  }
}
