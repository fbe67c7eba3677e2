package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** One traced interval. `parent` is the id of the enclosing span (-1 for
  * the run span); times are `System.nanoTime` values.
  */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    start: Long, end: Long, counts: Map[String, Double] = Map.empty)

/** In-memory span store. Spans are only appended; they are written out
  * when the run ends.
  */
final class Tracer {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val wall0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()

  /** Converts a wall-clock millisecond time (listener events) to the
    * `nanoTime` base the benchmark's own spans use.
    */
  def fromWallMs(ms: Long): Long = nano0 + (ms - wall0) * 1000000L

  def add(parent: Int, kind: String, name: String, start: Long, end: Long,
      counts: Map[String, Double] = Map.empty): Span = synchronized {
    val s = Span(buf.size, parent, kind, name, start, end, counts)
    buf += s
    s
  }

  def spans: Seq[Span] = synchronized(buf.toList)

  /** Self time of each span: its duration minus what its children cover. */
  def selfSeconds: Map[Int, Double] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> Stats.selfTime(s.start, s.end, ch) / 1e9
    }.toMap
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val counts = s.counts.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":${Json.str(s.name)},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"counts":{$counts}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Spark execution counters of one job. */
final class ExecCounts {
  var stages = 0L
  var tasks = 0L
  var taskNs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var scanBytes = 0L
  var scanRows = 0L
  var writeBytes = 0L
  var writeRows = 0L
}

/** A Spark job as the listener saw it. `group` is its job group when that
  * names a benchmark key; other jobs (a stream's micro-batches, pool
  * threads started before the key) are tied to the key running when they
  * started.
  */
final case class JobRec(id: Int, group: Option[String], startMs: Long, var endMs: Long,
    counts: ExecCounts = new ExecCounts)

/** A streaming micro-batch's progress, tied to the key that started the query. */
final case class BatchRec(key: String, startMs: Long, durationMs: Map[String, Long],
    inputRows: Long, stateRows: Long)

/** Collects jobs, stages, task metrics and streaming progress. Events are
  * delivered on the listener bus thread; read the results only after the
  * bus is drained.
  */
final class ExecListener(keys: Set[String]) extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val jobById = mutable.HashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val orphan = new JobRec(-1, None, 0L, 0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val j = JobRec(e.jobId, group.filter(keys), e.time, -1L)
    jobs += j
    jobById(e.jobId) = j
    e.stageIds.foreach(id => if (!stageJob.contains(id)) stageJob(id) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobById.get(e.jobId).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageJob.getOrElse(e.stageInfo.stageId, orphan).counts.stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = stageJob.getOrElse(e.stageId, orphan).counts
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskNs += m.executorRunTime * 1000000L
      c.taskCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.diskBytesSpilled
      c.scanBytes += m.inputMetrics.bytesRead
      c.scanRows += m.inputMetrics.recordsRead
      c.writeBytes += m.outputMetrics.bytesWritten
      c.writeRows += m.outputMetrics.recordsWritten
    }
  }

  /** Counters of every job, including tasks whose stage had no known job. */
  def allCounts: Seq[ExecCounts] = jobs.map(_.counts).toSeq :+ orphan.counts
}

/** Collects micro-batch progress. A query's start is reported on the thread
  * that starts it, so `currentKey` there names the key that owns the query.
  */
final class StreamListener extends StreamingQueryListener {
  @volatile var currentKey: String = ""
  private val runKey = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchRec]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    runKey.put(e.runId, currentKey)

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    val ms = d.keySet.toArray.map(k => k.toString -> d.get(k).longValue()).toMap
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    batches.add(BatchRec(runKey.getOrDefault(p.runId, currentKey), start, ms,
      p.numInputRows, p.stateOperators.map(_.numRowsUpdated).sum))
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Minimal JSON text helpers: the benchmark prints flat objects only. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }

  /** Full-precision number; JSON has no NaN or infinity, so those become null. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
