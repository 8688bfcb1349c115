package graftbench

import java.io.IOException
import java.nio.file.{FileVisitResult, Files, Path, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-job totals of the tasks that ran for one Spark job. */
final class JobRec(val id: Int, val startMs: Long, val stages: Int) {
  @volatile var endMs: Long = -1L
  var tasks = 0L; var busyTasks = 0L
  var taskWallMs = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var inputBytes = 0L; var shuffleReadBytes = 0L; var shuffleWriteBytes = 0L; var spillBytes = 0L

  def json: String = Json.obj(
    "id" -> id, "start_ms" -> startMs, "end_ms" -> endMs, "stages" -> stages,
    "tasks" -> tasks, "busy_tasks" -> busyTasks, "task_wall_ms" -> taskWallMs,
    "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "input_bytes" -> inputBytes,
    "shuffle_read_bytes" -> shuffleReadBytes, "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_bytes" -> spillBytes)
}

/** Scheduler and streaming events of the traced passes, kept in memory.
  * Only public listener APIs are used; nothing inside the engine changes.
  */
final class Trace(spark: SparkSession) {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val byStage = new ConcurrentHashMap[Int, JobRec]()
  /** (trigger start epoch ms, triggerExecution, queryPlanning, walCommit) in ms */
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val j = new JobRec(e.jobId, e.time, e.stageIds.size)
      e.stageIds.foreach(byStage.put(_, j))
      jobs.put(e.jobId, j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = byStage.get(e.stageId)
      val m = e.taskMetrics
      if (j != null && m != null) j.synchronized {
        val records = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        j.tasks += 1
        if (records > 0) j.busyTasks += 1
        j.taskWallMs += e.taskInfo.finishTime - e.taskInfo.launchTime
        j.runMs += m.executorRunTime; j.cpuNs += m.executorCpuTime; j.gcMs += m.jvmGCTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      batches.add((start, ms("triggerExecution"), ms("queryPlanning"), ms("walCommit")))
    }
  }

  def on(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Detach once every job seen has ended. The listener bus delivers a
    * job's task-end events before its job-end event, so the traced pass is
    * then fully recorded. */
  def off(): Unit = {
    val deadline = System.currentTimeMillis() + 30000L
    while (jobs.values.asScala.exists(_.endMs < 0) && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }
}

object Trace {
  /** Regular files under `roots`: path -> (bytes, mtime ms). Spark's own
    * block-manager dirs (shuffle, spill, checkpoints) are skipped, and so is
    * anything deleted while the walk runs. */
  def walk(roots: Seq[Path]): Map[String, (Long, Long)] = {
    val out = mutable.Map.empty[String, (Long, Long)]
    val visitor = new SimpleFileVisitor[Path] {
      override def preVisitDirectory(d: Path, a: BasicFileAttributes): FileVisitResult =
        if (d.getFileName.toString.startsWith("blockmgr-")) FileVisitResult.SKIP_SUBTREE
        else FileVisitResult.CONTINUE
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        if (a.isRegularFile) out(f.toString) = (a.size, a.lastModifiedTime.toMillis)
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: IOException): FileVisitResult = FileVisitResult.CONTINUE
      override def postVisitDirectory(d: Path, e: IOException): FileVisitResult = FileVisitResult.CONTINUE
    }
    roots.filter(Files.isDirectory(_)).foreach(Files.walkFileTree(_, visitor))
    out.toMap
  }

  /** Log, manifest and metadata files of TxTable, Delta and Iceberg tables. */
  def isMeta(path: String): Boolean =
    path.contains("/_txlog/") || path.contains("/_delta_log/") || path.contains("/metadata/")

  /** Files created or rewritten between two walks: (files, meta files, bytes). */
  def written(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): (Long, Long, Long) = {
    val changed = after.filter { case (p, v) => !before.get(p).contains(v) }
    (changed.size.toLong, changed.keys.count(isMeta).toLong, changed.values.map(_._1).sum)
  }
}
