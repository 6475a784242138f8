package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` is the span that caused it (0 = root). */
final case class Span(id: Long, parent: Long, kind: String, name: String, startMs: Long, endMs: Long,
    counts: Map[String, Double] = Map.empty)

/** Per-layer recorder for the traced run, attached from outside the
  * engine: a `SparkListener` for jobs, stages and task metrics, and a
  * `QueryExecutionListener` that reads `QueryExecution.tracker` phase
  * times. The benchmark opens workload, phase, gate and micro-batch spans
  * around its calls into the engine; each Spark job becomes a child of the
  * innermost open span whose interval holds the job's start. Everything is
  * kept in memory and written out by [[writeJson]] when the run ends. */
final class Tracer(val enabled: Boolean) {

  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobs = new ConcurrentLinkedQueue[Span]()
  private val stages = new ConcurrentLinkedQueue[Span]()
  private val phases = new ConcurrentLinkedQueue[(Long, Map[String, Double])]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  def newId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (enabled) spans.add(s)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStart.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(t0 => jobs.add(Span(newId(), 0L, "job", s"job-${e.jobId}", t0, e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m != null) stages.add(Span(newId(), 0L, "stage", s"stage-${si.stageId}.${si.attemptNumber()}",
        si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L), Map(
          "tasks" -> si.numTasks.toDouble,
          "run_ms" -> m.executorRunTime.toDouble,
          "cpu_ms" -> m.executorCpuTime / 1e6,
          "gc_ms" -> m.jvmGCTime.toDouble,
          "shuffle_read_bytes" -> (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
      phases.add((System.currentTimeMillis(), ph))
    }
  }

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def detach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Layer totals over the given window spans (gates or micro-batches):
    * jobs, stages and task metrics whose start falls inside one of them,
    * Catalyst phase times recorded inside one of them, the union of job
    * time, and the wall time outside any job. */
  def layers(windows: Seq[Span]): Map[String, Double] = {
    def inside(t: Long) = windows.exists(w => t >= w.startMs && t <= w.endMs)
    val js = jobs.asScala.toSeq.filter(j => inside(j.startMs))
    val st = stages.asScala.toSeq.filter(s => inside(s.startMs))
    val ph = phases.asScala.toSeq.filter(p => inside(p._1)).map(_._2)
    def sum(k: String) = st.map(_.counts.getOrElse(k, 0.0)).sum
    val wall = windows.map(w => (w.endMs - w.startMs).toDouble).sum
    val inJob = windows.map { w =>
      Stats.unionLength(js.filter(j => j.startMs >= w.startMs && j.startMs <= w.endMs)
        .map(j => (j.startMs, math.min(j.endMs, w.endMs)))).toDouble
    }.sum
    val run = sum("run_ms")
    Map(
      "sched.jobs" -> js.size.toDouble,
      "sched.stages" -> st.size.toDouble,
      "sched.tasks" -> sum("tasks"),
      "sched.in_job_ms" -> inJob,
      "driver.gap_ms" -> math.max(0.0, wall - inJob),
      "exec.run_ms" -> run,
      "exec.cpu_ms" -> sum("cpu_ms"),
      "exec.cpu_share" -> (if (run > 0) sum("cpu_ms") / run else 0.0),
      "exec.gc_ms" -> sum("gc_ms"),
      "shuffle.read_bytes" -> sum("shuffle_read_bytes"),
      "shuffle.write_bytes" -> sum("shuffle_write_bytes"),
      "spill_bytes" -> sum("spill_bytes"),
      "catalyst.analysis_ms" -> ph.map(_.getOrElse("analysis", 0.0)).sum,
      "catalyst.optimization_ms" -> ph.map(_.getOrElse("optimization", 0.0)).sum,
      "catalyst.planning_ms" -> ph.map(_.getOrElse("planning", 0.0)).sum)
  }

  /** Spans, jobs and stages as one JSON document; each job and stage names
    * the innermost recorded span holding its start as its parent. */
  def writeJson(path: java.nio.file.Path): Unit = {
    val own = spans.asScala.toSeq.sortBy(s => (s.startMs, -s.endMs))
    def parentOf(t: Long): Long = own.filter(s => t >= s.startMs && t <= s.endMs)
      .sortBy(s => s.endMs - s.startMs).headOption.map(_.id).getOrElse(0L)
    val all = own ++ (jobs.asScala.toSeq ++ stages.asScala.toSeq).map(s => s.copy(parent = parentOf(s.startMs)))
    val body = all.map { s =>
      val c = s.counts.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString("{", ",", "}")
      s"""{"id":${s.id},"parent":${s.parent},"kind":${Json.str(s.kind)},"name":${Json.str(s.name)},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"counts":$c}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, body.getBytes("UTF-8"))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
