package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed interval around a call into a layer. `parent` is 0 for a
  * root span; times are `System.nanoTime` readings. */
final case class Span(id: Long, parent: Long, name: String,
                      start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** A completed stage, attributed to the span whose thread submitted its
  * job.  Times are epoch milliseconds; metrics are task aggregates. */
final case class StageRec(spanId: Long, jobId: Int, submitMs: Long,
                          doneMs: Long, taskMs: Long, gcMs: Long,
                          inputBytes: Long, outputBytes: Long,
                          shuffleBytes: Long, spillBytes: Long)

/** Spans kept in memory plus the Spark job and stage records attributed
  * to them.  Attribution rides on a local property that [[within]] sets
  * on the calling thread: every job that thread submits carries the
  * innermost open span's id. */
final class Tracer(spark: SparkSession) {
  val runId: String = java.util.UUID.randomUUID().toString
  private val Key = "perfbench.span"
  private val nextId = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Key))).map(_.toLong).getOrElse(0L)
      jobSpan.put(e.jobId, span)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val job = stageJob.getOrDefault(i.stageId, -1)
      val span = if (job < 0) 0L else jobSpan.getOrDefault(job, 0L)
      val submit = i.submissionTime.getOrElse(0L)
      stages.add(StageRec(span, job, submit,
        i.completionTime.getOrElse(submit),
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.jvmGCTime,
        if (m == null) 0L else m.inputMetrics.bytesRead,
        if (m == null) 0L else m.outputMetrics.bytesWritten,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }
  spark.sparkContext.addSparkListener(listener)

  def close(): Unit = spark.sparkContext.removeSparkListener(listener)

  /** Opens a span under `parent`, runs `body` with the span set as the
    * thread's job attribution, and records the span when it ends. */
  def within[T](name: String, parent: Long)(body: Long => T): T = {
    val id = newId()
    val outer = attribute(id)
    val start = System.nanoTime()
    try body(id)
    finally {
      record(id, name, parent, start, System.nanoTime())
      attribute(outer)
    }
  }

  def newId(): Long = nextId.incrementAndGet()

  /** Attributes the calling thread's next jobs to span `id`; returns the
    * previous attribution. */
  def attribute(id: Long): Long = {
    val sc = spark.sparkContext
    val outer = Option(sc.getLocalProperty(Key)).map(_.toLong).getOrElse(0L)
    sc.setLocalProperty(Key, if (id == 0L) null else id.toString)
    outer
  }

  /** Records a span whose interval the caller measured. */
  def record(id: Long, name: String, parent: Long, start: Long,
             end: Long): Unit = spans.add(Span(id, parent, name, start, end))

  /** Blocks until all posted listener events are recorded. */
  def drain(): Unit = org.apache.spark.BusDrain(spark.sparkContext)

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  /** The spans under `root`, root included. */
  def subtree(root: Long): Seq[Span] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    def walk(id: Long): Seq[Span] =
      kids.getOrElse(id, Nil).flatMap(s => s +: walk(s.id))
    all.filter(_.id == root) ++ walk(root)
  }

  /** Stages whose job was submitted under one of `spanIds`. */
  def stagesOf(spanIds: Set[Long]): Seq[StageRec] =
    stages.asScala.filter(s => spanIds.contains(s.spanId)).toSeq

  /** Every recorded stage submitted within `[startMs, endMs]`. */
  def stagesBetween(startMs: Long, endMs: Long): Seq[StageRec] =
    stages.asScala.filter(s => s.submitMs >= startMs && s.submitMs <= endMs)
      .toSeq

  /** Jobs submitted under one of `spanIds`. */
  def jobsOf(spanIds: Set[Long]): Int =
    jobSpan.asScala.count { case (_, s) => spanIds.contains(s) }

  /** Span duration minus the part of it covered by its child spans. */
  def selfSeconds(span: Span): Double = {
    val kids = allSpans.filter(_.parent == span.id)
      .map(k => (k.start max span.start, k.end min span.end))
    (span.end - span.start - Trace.unionLength(kids)) / 1e9
  }

  /** The spans as JSON lines, each with its self time. */
  def dump(path: String): Unit = {
    val lines = allSpans.map { s =>
      Json.write(Map("run_id" -> runId, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
        "self_s" -> selfSeconds(s)))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.asJava, java.nio.charset.StandardCharsets.UTF_8)
  }
}

object Trace {
  /** Total length of the union of `[start, end)` intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach {
      case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else curE = curE max e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Wall time of `[startMs, endMs]` not covered by any stage. */
  def driverGapSeconds(startMs: Long, endMs: Long,
                       stages: Seq[StageRec]): Double = {
    val covered = unionLength(stages.map(s =>
      (s.submitMs max startMs, s.doneMs min endMs)))
    ((endMs - startMs) - covered).max(0L) / 1e3
  }

  /** Bytes allocated so far by all live JVM threads. */
  def allocatedBytes(): Long = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    mx.getThreadAllocatedBytes(mx.getAllThreadIds).filter(_ > 0).sum
  }

  /** Live driver heap in MiB: used heap after two full GCs, the second
    * after Spark's context cleaner has had time to drop what the first
    * one released. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Engine counters over a set of stages. */
  def engine(stages: Seq[StageRec], startMs: Long, endMs: Long,
             allocBytes: Long): Map[String, Double] = Map(
    "engine.task_s" -> stages.map(_.taskMs).sum / 1e3,
    "engine.gc_s" -> stages.map(_.gcMs).sum / 1e3,
    "engine.alloc_mb" -> allocBytes / 1048576.0,
    "engine.shuffle_bytes" -> stages.map(_.shuffleBytes).sum.toDouble,
    "engine.spill_bytes" -> stages.map(_.spillBytes).sum.toDouble,
    "engine.driver_gap_s" -> driverGapSeconds(startMs, endMs, stages))
}
