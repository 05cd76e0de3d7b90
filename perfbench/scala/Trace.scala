package graftbench

import java.util.concurrent.atomic.AtomicLong

import graft.ingest.Embedder
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, Path}
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Filesystem-metadata counters, fed by [[CountingLocalFs]]. Local mode
  * runs executors in the driver JVM, so one static set sees every call. */
object FsCounters {
  val list = new AtomicLong
  val status = new AtomicLong
  val open = new AtomicLong
  val create = new AtomicLong
  val renameDelete = new AtomicLong
  def snapshot: Array[Long] =
    Array(list.get, status.get, open.get, create.get, renameDelete.get)
}

/** Hadoop's local filesystem with call counters; the traced run sets it
  * as `fs.file.impl`, so the program's own code is unchanged. */
class CountingLocalFs extends LocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = {
    FsCounters.list.incrementAndGet(); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    FsCounters.status.incrementAndGet(); super.getFileStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    FsCounters.open.incrementAndGet(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    FsCounters.create.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    FsCounters.renameDelete.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    FsCounters.renameDelete.incrementAndGet(); super.delete(f, recursive)
  }
}

/** Embedding-layer counters, fed by [[CountingEmbedder]]. */
object EmbedCounters {
  val texts = new AtomicLong
  val nanos = new AtomicLong
}

/** Wraps an [[Embedder]] at the public seam and counts texts and time. */
final class CountingEmbedder(inner: Embedder) extends Embedder {
  override def dim: Int = inner.dim
  override def embed(texts: Seq[String]): Seq[Array[Float]] = {
    val t0 = System.nanoTime()
    val out = inner.embed(texts)
    EmbedCounters.nanos.addAndGet(System.nanoTime() - t0)
    EmbedCounters.texts.addAndGet(texts.size)
    out
  }
}

/** A closed interval on the wall clock, in epoch milliseconds. */
final case class Span(start: Long, end: Long)

/** Job, task and Catalyst-phase events, kept in memory and attributed to
  * the request whose wall-clock window contains them. */
final class TraceListener extends SparkListener with QueryExecutionListener {
  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var taskMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L
    var inRecords = 0L; var inBytes = 0L; var outBytes = 0L
    var qes = 0L; var analysisMs = 0L; var optimizationMs = 0L
    var planningMs = 0L
    val jobSpans = scala.collection.mutable.ArrayBuffer.empty[Span]
    val phaseSpans = scala.collection.mutable.ArrayBuffer.empty[Span]
  }
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  @volatile private var acc = new Acc

  /** Hand over everything recorded since the last call. */
  def take(): Acc = synchronized { val a = acc; acc = new Acc; a }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time; acc.jobs += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => acc.jobSpans += Span(s, e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { acc.stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    acc.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      acc.taskMs += m.executorRunTime
      acc.cpuNs += m.executorCpuTime
      acc.gcMs += m.jvmGCTime
      acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      acc.inRecords += m.inputMetrics.recordsRead
      acc.inBytes += m.inputMetrics.bytesRead
      acc.outBytes += m.outputMetrics.bytesWritten
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = phases(qe)
  private def phases(qe: QueryExecution): Unit = synchronized {
    acc.qes += 1
    qe.tracker.phases.foreach { case (name, p) =>
      val ms = p.endTimeMs - p.startTimeMs
      name match {
        case "analysis" => acc.analysisMs += ms
        case "optimization" => acc.optimizationMs += ms
        case "planning" => acc.planningMs += ms
        case _ =>
      }
      acc.phaseSpans += Span(p.startTimeMs, p.endTimeMs)
    }
  }
}

object Spans {
  /** Length of the union of `spans` clipped to `window`. */
  def covered(spans: Seq[Span], window: Span): Long = {
    val clipped = spans.map(s => Span(math.max(s.start, window.start),
        math.min(s.end, window.end)))
      .filter(s => s.end > s.start).sortBy(_.start)
    var total = 0L; var curS = -1L; var curE = -1L
    clipped.foreach { s =>
      if (s.start > curE) {
        if (curE > curS) total += curE - curS
        curS = s.start; curE = s.end
      } else curE = math.max(curE, s.end)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
