package graftbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/**
 * Tracing for the per-layer run. Everything here lives in the benchmark: spans wrap the
 * benchmark's own calls into each program layer, and the counters come from a Spark
 * listener and a streaming-query listener the benchmark registers itself. Nothing is
 * registered unless the run is traced.
 */
final class Trace(spark: SparkSession) {
  private final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0

  val jobs = new JobStats
  val streams = new StreamStats
  spark.sparkContext.addSparkListener(jobs)
  spark.streams.addListener(streams)

  /** Run `body` inside a span named `name`, nested under the caller's open span. */
  def span[T](name: String)(body: => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val parent = stack.get.headOption.getOrElse(0)
    stack.set(id :: stack.get)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(stack.get.tail)
      synchronized { spans += Span(id, parent, name, t0, t1) }
    }
  }

  /** Listener events post asynchronously; give the bus a moment to deliver the tail. */
  def settle(): Unit = Thread.sleep(1000)

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(jobs)
    spark.streams.removeListener(streams)
  }

  def writeSpans(path: String): Unit = {
    val lines = synchronized(spans.toSeq).map { s =>
      Report.render(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("[", ",\n", "]").getBytes("UTF-8"))
  }
}

/** Job, task, executor-time, shuffle and spill counts, plus every job's interval. */
final class JobStats extends SparkListener {
  var jobs = 0L
  var tasks = 0L
  var executorRunMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** (start ms, end ms) of every finished job. */
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val open = mutable.Map.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    open(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach(start => intervals += ((start, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      executorRunMs += m.executorRunTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Milliseconds of [fromMs, toMs] covered by at least one job. */
  def busyMs(fromMs: Long, toMs: Long): Long = synchronized {
    val clipped = intervals.toSeq
      .map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    busy + (curE - curS)
  }

  def jobsIn(fromMs: Long, toMs: Long): Int = synchronized {
    intervals.count { case (s, _) => s >= fromMs && s <= toMs }
  }

  /** The Spark-side counters since registration, and driver idle time over
    * [fromMs, toMs]. */
  def summary(fromMs: Long, toMs: Long): Map[String, Double] = synchronized {
    Map(
      "spark.jobs" -> jobs.toDouble,
      "spark.tasks" -> tasks.toDouble,
      "spark.executor_run_s" -> executorRunMs / 1e3,
      "spark.shuffle_write_mb" -> shuffleWriteBytes / 1e6,
      "spark.spill_mb" -> spillBytes / 1e6,
      "driver.idle_s" -> (toMs - fromMs - busyMs(fromMs, toMs)) / 1e3)
  }
}

/** Every streaming progress event posted while registered. */
final class StreamStats extends StreamingQueryListener {
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def all: Seq[StreamingQueryProgress] = progress.asScala.toSeq
}

object StreamStats {
  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Per-micro-batch medians of the trigger phases over batches that read input, and the
    * state-store peaks over all batches. */
  def summary(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val data = ps.filter(_.numInputRows > 0)
    def med(f: StreamingQueryProgress => Double): Double =
      if (data.isEmpty) 0.0 else Main.median(data.map(f))
    val stateful = ps.filter(_.stateOperators.nonEmpty)
    Map(
      "stream.batches" -> data.size.toDouble,
      "stream.planning_ms" -> med(dur(_, "queryPlanning")),
      "stream.latest_offset_ms" -> med(dur(_, "latestOffset")),
      "stream.commit_ms" -> med(p => dur(p, "walCommit") + dur(p, "commitOffsets")),
      "stream.add_batch_ms" -> med(dur(_, "addBatch")),
      "state.rows_total" ->
        (if (stateful.isEmpty) 0.0 else stateful.map(_.stateOperators.map(_.numRowsTotal).sum).max.toDouble),
      "state.commit_ms" ->
        (if (data.isEmpty) 0.0 else Main.median(data.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble))),
      "state.mem_mb" ->
        (if (stateful.isEmpty) 0.0 else stateful.map(_.stateOperators.map(_.memoryUsedBytes).sum).max / 1e6))
  }
}
