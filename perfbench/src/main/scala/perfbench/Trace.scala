package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed interval. `parent` is 0 for a root span. Times are wall
  * milliseconds since the epoch, so listener-derived spans (whose times
  * Spark stamps) and harness spans share one clock.
  */
final case class Span(id: Long, parent: Long, name: String, t0: Double,
                      t1: Double, tags: Map[String, Any])

/** In-memory span recorder. Spans are recorded only when tracing is on;
  * with tracing off `span` runs its body and nothing else, so untraced
  * runs pay no tracing cost. Parents are tracked per thread.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def nextId(): Long = ids.incrementAndGet()
  def current: Long = stack.get.headOption.getOrElse(0L)

  def span[T](name: String, tags: (String, Any)*)(body: => T): T =
    if (!enabled) body
    else spanWithId(nextId(), name, tags: _*)(body)

  /** A span whose id the caller allocated up front (so it can name a
    * Spark job group after it before the body runs).
    */
  def spanWithId[T](id: Long, name: String, tags: (String, Any)*)(
      body: => T): T = {
    val parent = current
    stack.set(id :: stack.get)
    val t0 = nowMs()
    try body
    finally {
      stack.set(stack.get.tail)
      add(Span(id, parent, name, t0, nowMs(), tags.toMap))
    }
  }

  def add(s: Span): Unit = if (enabled) spans.add(s)

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  private val wall0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()

  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = wall0 + (System.nanoTime() - nano0) / 1e6
}

object Tracer {
  /** The Spark job group naming the span that issued a job. */
  def group(spanId: Long): String = s"perfbench-op-$spanId"

  def spanOfGroup(group: String): Long =
    if (group != null && group.startsWith("perfbench-op-"))
      group.stripPrefix("perfbench-op-").toLong
    else 0L
}

/** Job and stage spans from the scheduler, parented to the harness span
  * that issued them through the job group. Each stage span carries the
  * stage's task metrics and its task-time skew (max / median task time).
  */
final class StageListener(tracer: Tracer) extends SparkListener {
  private val jobSpan = mutable.Map.empty[Int, (Long, Long, Double)]
  private val stageJob = mutable.Map.empty[Int, Long]
  private val taskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    val id = tracer.nextId()
    jobSpan(e.jobId) = (id, Tracer.spanOfGroup(group), e.time.toDouble)
    e.stageIds.foreach(s => stageJob(s) = id)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (id, parent, t0) =>
      tracer.add(Span(id, parent, "exec.job", t0, e.time.toDouble,
                      Map("job" -> e.jobId)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null)
      taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
                             mutable.ArrayBuffer.empty[Long]) +=
        e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val s = e.stageInfo
      val m = s.taskMetrics
      val durs = taskMs.remove((s.stageId, s.attemptNumber()))
        .map(_.sorted).getOrElse(mutable.ArrayBuffer.empty[Long])
      val skew =
        if (durs.isEmpty) 1.0
        else durs.last.toDouble / math.max(1L, durs((durs.size - 1) / 2))
      val tags: Map[String, Any] =
        if (m == null) Map("stage" -> s.stageId, "tasks" -> s.numTasks)
        else Map(
          "stage" -> s.stageId, "tasks" -> s.numTasks,
          "task_run_ms" -> m.executorRunTime,
          "task_cpu_ms" -> m.executorCpuTime / 1e6,
          "gc_ms" -> m.jvmGCTime,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
          "skew" -> skew)
      val t0 = s.submissionTime.getOrElse(0L).toDouble
      val t1 = s.completionTime.getOrElse(t0.toLong).toDouble
      tracer.add(Span(tracer.nextId(), stageJob.getOrElse(s.stageId, 0L),
                      "exec.stage", t0, t1, tags))
    }
}

/** Every progress report of the session's streaming queries, kept in
  * arrival order. alert_stream reads its per-batch
  * offsets and durations from here.
  */
final class ProgressListener extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)

  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def records: Seq[Map[String, Any]] = progress.asScala.toSeq.map { p =>
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    Map(
      "id" -> p.id.toString, "run_id" -> p.runId.toString,
      "name" -> p.name, "batch" -> p.batchId,
      "timestamp_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "rows" -> p.numInputRows, "duration_ms" -> d.toMap,
      "start_offset" -> p.sources.headOption.map(_.startOffset).orNull,
      "end_offset" -> p.sources.headOption.map(_.endOffset).orNull,
      "state" -> p.stateOperators.toSeq.map { s =>
        Map("commit_ms" -> s.commitTimeMs,
            "update_ms" -> s.allUpdatesTimeMs,
            "rows_total" -> s.numRowsTotal,
            "memory_bytes" -> s.memoryUsedBytes)
      })
  }
}

object Listeners {
  /** Blocks until every event posted so far reached the listeners. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBridge.waitForListeners(spark.sparkContext)
}
