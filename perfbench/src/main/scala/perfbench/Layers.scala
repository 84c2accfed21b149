package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Named counters. `add` sums, `max` keeps the largest value. */
final class Counters {
  val values: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, v: Double): Unit = values(k) = values.getOrElse(k, 0.0) + v
  def max(k: String, v: Double): Unit =
    values(k) = math.max(values.getOrElse(k, 0.0), v)
  def apply(k: String): Double = values.getOrElse(k, 0.0)
}

/** Local properties that tag every job with the query execution it belongs
  * to and the phase it ran in. Threads the program starts inherit them. */
object Tags {
  val Qid = "perfbench.qid"
  val Phase = "perfbench.phase"
}

/** Collects job, stage and task metrics, Catalyst phase times of executed
  * commands and streaming progress, keyed by (query execution id, phase).
  * All callbacks run on Spark's listener threads; the driver reads the
  * results only after draining the bus. */
final class LayerListener(currentPhase: () => (Long, String))
    extends SparkListener {
  final class JobRec(val qid: Long, val phase: String, val tables: Boolean,
      val start: Long) {
    var end: Long = start
    var tasks = 0
  }

  private val jobs = mutable.HashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmit = mutable.HashMap.empty[(Int, Int), Long]
  private val stageRuns = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val counters = mutable.HashMap.empty[(Long, String), Counters]
  private val streamQid = mutable.HashMap.empty[java.util.UUID, (Long, String)]

  private def acc(key: (Long, String)): Counters =
    counters.getOrElseUpdate(key, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val qid = prop(Tags.Qid).map(_.toLong).getOrElse(-1L)
    val phase = prop(Tags.Phase).getOrElse("other")
    // The result stage is named after the job's call site, e.g.
    // "parquet at Tables.scala:16" for a table open's footer job.
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs(e.jobId) = new JobRec(qid, phase, site.contains("Tables.scala"), e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stageSubmit((i.stageId, i.attemptNumber())) =
      i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val key = (i.stageId, i.attemptNumber())
    for (j <- stageJob.get(i.stageId).flatMap(jobs.get)) {
      val c = acc((j.qid, j.phase))
      c.add("exec.stages", 1)
      stageRuns.get(key).filter(_.size >= 2).foreach { runs =>
        val sorted = runs.sorted
        val median = sorted(sorted.size / 2)
        c.max("exec.task_skew", sorted.last.toDouble / math.max(median, 1L))
      }
    }
    stageRuns.remove(key)
    stageSubmit.remove(key)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val key = (e.stageId, e.stageAttemptId)
    for (j <- stageJob.get(e.stageId).flatMap(jobs.get)) {
      val c = acc((j.qid, j.phase))
      val info = e.taskInfo
      j.tasks += 1
      c.add("exec.tasks", 1)
      if (e.reason != Success) c.add("exec.task_failures", 1)
      stageSubmit.get(key).foreach { s =>
        c.add("exec.task_wait_s", math.max(0L, info.launchTime - s) / 1e3)
      }
      val m = e.taskMetrics
      if (m != null) {
        stageRuns.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += m.executorRunTime
        c.add("exec.task_run_s", m.executorRunTime / 1e3)
        c.add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        c.add("exec.gc_s", m.jvmGCTime / 1e3)
        c.add("exec.shuffle_read_mb", (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead) / 1e6)
        c.add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        c.add("exec.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        c.max("exec.peak_exec_mem_mb", m.peakExecutionMemory / 1e6)
        c.add("exec.input_mb", m.inputMetrics.bytesRead / 1e6)
        c.add("exec.input_rows", m.inputMetrics.recordsRead.toDouble)
        c.add("io.write_mb", m.outputMetrics.bytesWritten / 1e6)
        c.add("io.write_rows", m.outputMetrics.recordsWritten.toDouble)
      }
    }
  }

  /** Catalyst phase times of every command or action a phase executed. */
  val queryExecutions: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = LayerListener.this.synchronized {
      val c = acc(currentPhase())
      qe.tracker.phases.foreach { case (p, s) =>
        c.add(s"catalyst.${p}_s", s.durationMs / 1e3)
      }
    }
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    // Called synchronously from `start()`, so the current phase is the
    // query execution that started the stream.
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      LayerListener.this.synchronized { streamQid(e.runId) = currentPhase() }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      LayerListener.this.synchronized {
        val p = e.progress
        val c = acc(streamQid.getOrElse(p.runId, (-1L, "other")))
        c.add("streaming.batches", 1)
        c.add("streaming.batch_s", p.batchDuration / 1e3)
        c.add("streaming.rows_in", p.numInputRows.toDouble)
        c.max("streaming.state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
        c.max("streaming.state_mem_mb", p.stateOperators.map(_.memoryUsedBytes).sum / 1e6)
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Removes and returns what was recorded for one query execution: the
    * counters of each phase, plus job counts and the time covered by
    * jobs (overlapping jobs counted once), split into table-open jobs and
    * the rest. */
  def take(qid: Long): Map[String, Counters] = synchronized {
    val mine = jobs.filter(_._2.qid == qid)
    mine.keys.foreach(jobs.remove)
    stageJob.filterInPlace((_, j) => !mine.contains(j))
    val phases = counters.keys.filter(_._1 == qid).map(_._2).toSet ++
      mine.values.map(_.phase)
    phases.map { ph =>
      val c = counters.remove((qid, ph)).getOrElse(new Counters)
      val js = mine.values.filter(_.phase == ph).toSeq
      val (tables, rest) = js.partition(_.tables)
      c.add("jobs.tables", tables.size)
      c.add("jobs.tables_s", LayerListener.covered(tables.map(j => (j.start, j.end))))
      c.add("jobs.other", rest.size)
      c.add("jobs.other_s", LayerListener.covered(rest.map(j => (j.start, j.end))))
      c.add("jobs.all_s", LayerListener.covered(js.map(j => (j.start, j.end))))
      c.add("exec.single_task_jobs", rest.count(_.tasks == 1))
      ph -> c
    }.toMap
  }
}

object LayerListener {
  /** Counters that keep a maximum rather than a sum. */
  val maxKeys: Set[String] = Set("exec.task_skew", "exec.peak_exec_mem_mb",
    "streaming.state_rows", "streaming.state_mem_mb")

  /** Seconds covered by the union of [start, end] millisecond intervals. */
  def covered(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total += curE - curS
    total / 1e3
  }
}
