package graft.perfbench

import org.apache.spark.scheduler._

/** Spark scheduler counters of one job or a sum of jobs. Calls run one at
  * a time, so the harness attributes each job to the phase of the call
  * whose time window holds the job's submission time; `Par` legs need no
  * change for this.
  */
final case class Snapshot(
    jobs: Long = 0,
    schemaJobs: Long = 0,
    stages: Long = 0,
    tasks: Long = 0,
    taskWaitMs: Long = 0,
    taskBusyMs: Long = 0,
    shuffleWriteBytes: Long = 0,
    shuffleReadBytes: Long = 0,
    spillBytes: Long = 0,
    gcMs: Long = 0,
    inputBytes: Long = 0,
    inputRows: Long = 0) {

  def +(o: Snapshot): Snapshot = Snapshot(
    jobs + o.jobs, schemaJobs + o.schemaJobs, stages + o.stages, tasks + o.tasks,
    taskWaitMs + o.taskWaitMs, taskBusyMs + o.taskBusyMs,
    shuffleWriteBytes + o.shuffleWriteBytes, shuffleReadBytes + o.shuffleReadBytes,
    spillBytes + o.spillBytes, gcMs + o.gcMs, inputBytes + o.inputBytes,
    inputRows + o.inputRows)

  /** Field names match the per-layer metric names of BENCHMARK.json. */
  def toMap: Map[String, Any] = Map(
    "spark.jobs" -> jobs,
    "queries.schema_jobs" -> schemaJobs,
    "spark.stages" -> stages,
    "spark.tasks" -> tasks,
    "spark.task_wait_s" -> taskWaitMs / 1e3,
    "spark.task_busy_s" -> taskBusyMs / 1e3,
    "spark.shuffle_write_mb" -> shuffleWriteBytes / 1e6,
    "spark.shuffle_read_mb" -> shuffleReadBytes / 1e6,
    "spark.spill_mb" -> spillBytes / 1e6,
    "spark.gc_s" -> gcMs / 1e3,
    "sources.input_mb" -> inputBytes / 1e6,
    "sources.input_rows" -> inputRows)
}

class Counters extends SparkListener {
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, (Long, Snapshot)]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]

  /** Each job seen since the last call, keyed by its submission time (epoch
    * ms) with the counters of its own stages and tasks; clears the record.
    */
  def takeJobs(): Seq[(Long, Snapshot)] = synchronized {
    val out = jobs.values.toVector
    jobs.clear(); stageJob.clear()
    out
  }

  private def add(stageId: Int)(f: Snapshot => Snapshot): Unit =
    stageJob.get(stageId).foreach(j => jobs.get(j).foreach { case (t, s) => jobs(j) = (t, f(s)) })

  /** Parquet schema discovery (`spark.read.parquet`) runs one small job per
    * read, named after the reader call; it is counted apart from the jobs a
    * query function starts on purpose (checkpoints, counts, collects).
    */
  private def isSchemaJob(e: SparkListenerJobStart): Boolean =
    e.stageInfos.headOption.exists(_.name.startsWith("parquet at "))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = (e.time, Snapshot(jobs = 1, schemaJobs = if (isSchemaJob(e)) 1 else 0))
    e.stageIds.foreach(id => if (!stageJob.contains(id)) stageJob(id) = e.jobId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add(e.stageInfo.stageId)(s => s.copy(stages = s.stages + 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null) synchronized {
      // Spark UI's scheduler delay: the part of the task's life that is
      // neither deserializing, running, serializing nor fetching its result.
      val fetch = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
      val delay = math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - fetch)
      add(e.stageId)(s => s.copy(
        tasks = s.tasks + 1,
        taskWaitMs = s.taskWaitMs + delay + m.executorDeserializeTime,
        taskBusyMs = s.taskBusyMs + m.executorRunTime,
        shuffleWriteBytes = s.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        shuffleReadBytes = s.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
        spillBytes = s.spillBytes + m.diskBytesSpilled,
        gcMs = s.gcMs + m.jvmGCTime,
        inputBytes = s.inputBytes + m.inputMetrics.bytesRead,
        inputRows = s.inputRows + m.inputMetrics.recordsRead))
    }
  }
}
