package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `startMs`/`endMs` are wall-clock, so
  * listener events (which carry wall-clock times) can be placed inside the
  * span that caused them; `durNs` is the monotonic duration.
  */
final case class Span(id: Int, name: String, parent: Int, req: Int,
    startMs: Long, endMs: Long, durNs: Long)

/** In-memory span recorder for traced phases; written out when the run
  * ends.
  */
final class Spans {
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)

  /** Run `f`, recording a span around it; `f` receives the span id so it
    * can parent child spans.
    */
  def apply[A](name: String, parent: Int = 0, req: Int = 0)(f: Int => A): A = {
    val id = ids.incrementAndGet()
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f(id)
    finally buf.add(Span(id, name, parent, req, ms0, System.currentTimeMillis(),
      System.nanoTime() - t0))
  }

  def all: Seq[Span] = buf.asScala.toSeq.sortBy(_.id)
}

/** Spark work done in one operation. */
final case class Work(jobs: Int, stages: Int, tasks: Long, busyMs: Long,
    taskRunMs: Long, taskCpuNs: Long, gcMs: Long, inputBytes: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)

/** An operation window that Spark jobs are attributed to: by job group
  * when the benchmark set one (`group`), else by submission time.
  */
final case class OpWindow(group: String, startMs: Long, endMs: Long)

/** Counts Spark jobs, stages and task metrics. Registered by the
  * benchmark itself for traced runs only.
  */
final class SparkCounters extends SparkListener {
  final case class Job(id: Int, group: String, submitMs: Long, stageIds: Seq[Int])
  final case class StageAgg(tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      inBytes: Long, shRead: Long, shWrite: Long, spill: Long)

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val jobEnd = new ConcurrentHashMap[Int, Long]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs.put(e.jobId, Job(e.jobId, group, e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnd.put(e.jobId, e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null)
      stages.put(i.stageId, StageAgg(i.numTasks, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Spark work per window. A job goes to the window whose group it
    * carries; jobs without a known group go to the window containing their
    * submission time (only meaningful when windows do not overlap).
    */
  def attribute(windows: Seq[OpWindow]): Seq[Work] = {
    val byGroup = windows.zipWithIndex.filter(_._1.group != null).toMap
      .map { case (w, i) => w.group -> i }
    val owned = Array.fill(windows.size)(Vector.empty[Job])
    jobs.values.asScala.foreach { j =>
      val idx = Option(j.group).flatMap(byGroup.get).getOrElse(
        windows.indexWhere(w => w.group == null &&
          j.submitMs >= w.startMs && j.submitMs <= w.endMs))
      if (idx >= 0) owned(idx) = owned(idx) :+ j
    }
    owned.toSeq.map { js =>
      val st = js.flatMap(_.stageIds).distinct.flatMap(s => Option(stages.get(s)))
      // busy time: the union of the jobs' [submit, end] intervals, so
      // concurrent jobs are not counted twice
      val iv = js.map(j => (j.submitMs, jobEnd.getOrDefault(j.id, j.submitMs)))
        .sortBy(_._1)
      var busy = 0L; var curS = -1L; var curE = -1L
      iv.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) busy += curE - curS
      Work(js.size, st.size, st.map(_.tasks.toLong).sum, busy,
        st.map(_.runMs).sum, st.map(_.cpuNs).sum, st.map(_.gcMs).sum,
        st.map(_.inBytes).sum, st.map(_.shRead).sum, st.map(_.shWrite).sum,
        st.map(_.spill).sum)
    }
  }
}

/** Catalyst phase times of every action run in the sessions it is
  * registered on.
  */
final class QueryPhases extends QueryExecutionListener {
  final case class Action(session: Int, planEndMs: Long, optimizeMs: Long,
      physicalMs: Long)
  private val buf = new ConcurrentLinkedQueue[Action]()

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def dur(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val end = ph.get("planning").map(_.endTimeMs)
      .orElse(ph.values.map(_.endTimeMs).maxOption).getOrElse(0L)
    buf.add(Action(System.identityHashCode(qe.sparkSession), end,
      dur("optimization"), dur("planning")))
  }
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()

  def all: Seq[Action] = buf.asScala.toSeq
}

/** Phase durations of every non-empty micro-batch of the streaming
  * queries in a session.
  */
final class StreamProgress extends StreamingQueryListener {
  final case class Batch(durations: Map[String, Long])
  private val buf = new ConcurrentLinkedQueue[Batch]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0)
      buf.add(Batch(p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
  def all: Seq[Batch] = buf.asScala.toSeq
}

object Listeners {
  /** Block until every posted listener event has been delivered. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.BenchBus.drain(spark.sparkContext)
}
