package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The local filesystem the repo's bench uses (`RawLocalFileSystem`: no
  * checksum sidecars, like an object store), plus operation counters.
  * Hadoop's own statistics for `file://` record bytes but no operation
  * counts. The counters cost one atomic add per call and are installed in
  * traced and untraced runs alike. */
class CountingLocalFileSystem extends RawLocalFileSystem {
  import CountingLocalFileSystem._
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet(); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = {
    reads.incrementAndGet(); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet(); super.listStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet(); super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet(); super.append(f, bufferSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet(); super.delete(p, recursive)
  }
  override def mkdirs(f: Path): Boolean = { writes.incrementAndGet(); super.mkdirs(f) }
}

object CountingLocalFileSystem {
  val reads, writes, lists = new AtomicLong

  /** (read ops, write ops, list ops, bytes written) so far; the bytes come
    * from Hadoop's FileSystem statistics for the `file` scheme. */
  def snapshot(): Array[Long] = Array(reads.get, writes.get, lists.get,
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesWritten"))).map(_.longValue).getOrElse(0L))
}

/** A timed interval; `parent` is the id of the enclosing span, 0 at top. */
case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** In-memory spans, recorded only while enabled. */
class Spans(val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List(0)
  private var next = 1
  def all: Seq[Span] = done.toSeq

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = next; next += 1
      val parent = stack.head
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }
}

/** Spark-side counters for one traced run: a SparkListener for jobs,
  * stages and task metrics, a QueryExecutionListener for Catalyst phase
  * times, and a log appender counting whole-stage codegen fallbacks.
  * Events arrive asynchronously; [[drain]] waits until every event
  * posted before it has been seen. */
class SparkTrace(spark: SparkSession) {
  case class Job(id: Int, start: Long, var end: Long, stages: Seq[Int])
  case class Task(stage: Int, runMs: Long, cpuMs: Long, gcMs: Long, shuffleBytes: Long, spillBytes: Long)
  case class Phases(start: Long, analysis: Long, optimization: Long, planning: Long)

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stagesDone = new ConcurrentLinkedQueue[Int]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val phases = new ConcurrentLinkedQueue[Phases]()
  val codegenFallbacks = new AtomicLong
  @volatile private var marker: CountDownLatch = _
  private val markerTag = "perfbench.drain"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).flatMap(p => Option(p.getProperty(markerTag))).isEmpty)
        jobs.put(e.jobId, Job(e.jobId, e.time, -1L, e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobs.get(e.jobId)) match {
      case Some(j) => j.end = e.time
      case None => Option(marker).foreach(_.countDown())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stagesDone.add(e.stageInfo.stageId): Unit
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      tasks.add(Task(e.stageId, m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)): Unit
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val p = qe.tracker.phases
      def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
      val start = p.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
      phases.add(Phases(start, ms("analysis"), ms("optimization"), ms("planning"))): Unit
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val codegenLogger = "org.apache.spark.sql.execution.WholeStageCodegenExec"
  private val appender = new AbstractAppender("perfbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      if (e.getMessage.getFormattedMessage.contains("codegen disabled") ||
          e.getMessage.getFormattedMessage.contains("codegen was disabled"))
        codegenFallbacks.incrementAndGet(): Unit
  }

  private def classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    drain()
    jobs.clear(); stagesDone.clear(); tasks.clear()
    classic.listenerManager.register(qeListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    appender.start()
    val cfg = ctx.getConfiguration
    val lc = new org.apache.logging.log4j.core.config.LoggerConfig(codegenLogger, Level.WARN, false)
    lc.addAppender(appender, Level.WARN, null)
    cfg.addLogger(codegenLogger, lc)
    ctx.updateLoggers()
  }

  def stop(): Unit = {
    drain()
    classic.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(listener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.removeLogger(codegenLogger)
    ctx.updateLoggers()
    appender.stop()
  }

  /** Runs a one-task marker job and waits for its end event: the listener
    * bus delivers in order, so every earlier event has then been seen. */
  def drain(): Unit = {
    marker = new CountDownLatch(1)
    val sc = spark.sparkContext
    sc.setLocalProperty(markerTag, "1")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(markerTag, null)
    if (!marker.await(60, TimeUnit.SECONDS)) throw new IllegalStateException("listener bus did not drain")
  }
}

/** Per-interval rollup of [[SparkTrace]] events: everything whose job (or
  * Catalyst phase) started inside `[startMs, endMs]`. */
case class ExecStats(jobs: Int, stages: Int, tasks: Int, jobMs: Long, taskMs: Long, cpuMs: Long,
    gcMs: Long, driverGapMs: Long, shuffleBytes: Long, spillBytes: Long,
    analysisMs: Long, optimizationMs: Long, planningMs: Long)

object ExecStats {
  def of(t: SparkTrace, startMs: Long, endMs: Long): ExecStats = {
    val js = t.jobs.values.asScala.toSeq.filter(j => j.start >= startMs && j.start <= endMs)
    val stageIds = js.flatMap(_.stages).toSet
    val done = t.stagesDone.asScala.count(stageIds)
    val ts = t.tasks.asScala.toSeq.filter(x => stageIds(x.stage))
    val ps = t.phases.asScala.toSeq.filter(p => p.start >= startMs && p.start <= endMs)
    // union of job intervals, clipped to the window
    val covered = js.map(j => (j.start, if (j.end < 0) endMs else math.min(j.end, endMs)))
      .sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((acc, reach), (s, e)) =>
        if (e <= reach) (acc, reach) else (acc + e - math.max(s, reach), e)
      }._1
    ExecStats(js.size, done, ts.size, js.map(j => math.max(0L, j.end - j.start)).sum,
      ts.map(_.runMs).sum, ts.map(_.cpuMs).sum, ts.map(_.gcMs).sum,
      math.max(0L, endMs - startMs - covered), ts.map(_.shuffleBytes).sum,
      ts.map(_.spillBytes).sum, ps.map(_.analysis).sum, ps.map(_.optimization).sum,
      ps.map(_.planning).sum)
  }
}
