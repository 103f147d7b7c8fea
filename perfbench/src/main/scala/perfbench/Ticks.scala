package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import graft.pipeline.{CmuPipeline, Pipelines, Scheduler}
import graft.sinks.Sinks
import graft.transform.Transform
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The scheduler-tick workloads: one `hour` tick of all 16 providers
  * through `Scheduler.runDue(parallelism = 4)`, closed loop.
  *
  * tick-cold writes each tick into an empty sink directory.
  * tick-steady first runs the previous hour into a state directory, and
  * before each timed tick restores a copy of it (untimed), so every
  * timed tick diff-writes against the same previous state. */
object Ticks {
  val Parallelism = 4
  /** The station-object providers, whose stations are diff-written. */
  val StationProviders = Seq("cmu", "habitatmap", "purpleair", "senstate")

  final case class Manifest(configDir: String,
                            inputs: Map[String, Map[String, String]])

  def manifest(work: String): Manifest = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new File(s"$work/manifest.json"))
    val inputs = root.get("inputs").fields().asScala.map { h =>
      h.getKey -> h.getValue.fields().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap
    }.toMap
    Manifest(root.get("config_dir").asText(), inputs)
  }

  /** One provider's outcome within a tick. */
  final case class ProviderRun(doneS: Double, summary: Map[String, Any])

  final case class TickResult(wallS: Double, runs: Seq[Scheduler.RunResult],
                              done: Map[String, ProviderRun],
                              startMs: Long, endMs: Long)

  /** The summary row as the reference publishes it: evaluated in the
    * success callback. */
  private def summaryRow(df: DataFrame): Map[String, Any] = {
    val r = df.collect()(0)
    def ts(i: Int) = if (r.isNullAt(i)) null
      else r.getTimestamp(i).toInstant.toString
    Map("source_name" -> r.getString(0), "locations" -> r.getLong(1),
      "measures" -> r.getLong(2), "from" -> ts(3), "to" -> ts(4))
  }

  /** Runs one tick; `process` is the per-provider seam. */
  def tick(spark: SparkSession, m: Manifest, hour: String, sink: String,
           process: (SparkSession, String, String, String) => DataFrame,
           onSummary: (String, DataFrame) => Map[String, Any] =
             (_, df) => summaryRow(df)): TickResult = {
    val done = new ConcurrentHashMap[String, ProviderRun]()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val listener = new Scheduler.RunListener {
      override def onSuccess(provider: String, summary: DataFrame): Unit = {
        val row = onSummary(provider, summary)
        done.put(provider, ProviderRun((System.nanoTime() - t0) / 1e9, row))
      }
    }
    val runs = Scheduler.runDue(spark, m.configDir, "hour", m.inputs(hour),
      sink, listener, parallelism = Parallelism, process = process)
    val wall = (System.nanoTime() - t0) / 1e9
    TickResult(wall, runs, done.asScala.toMap, startMs,
      System.currentTimeMillis())
  }

  // ---- filesystem helpers (all untimed) ----

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally w.close()
    }
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val w = Files.walk(src)
    try w.forEach { f =>
      val t = Paths.get(to).resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally w.close()
  }

  private def files(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally w.close()
    }
  }

  def treeBytes(path: String): Long = files(path).map(Files.size).sum

  /** Relative output paths with the writer's random part-file ids
    * masked, so two ticks of the same inputs list identically. */
  def listing(dir: String): Seq[String] = {
    val root = Paths.get(dir)
    files(dir).map(f => root.relativize(f).toString
      .replaceAll("part-(\\d+)-[0-9a-f-]{36}", "part-$1-*")).sorted
  }

  /** Data files written at or after `sinceMs`. */
  def filesWritten(dir: String, sinceMs: Long): Int =
    files(dir).count { f =>
      val n = f.getFileName.toString
      !n.startsWith(".") && !n.startsWith("_") &&
        Files.getLastModifiedTime(f).toMillis >= sinceMs
    }

  // ---- the traced seam ----

  /** Mirror of `Pipelines.processor` that calls the same public
    * functions in the same order, each inside its own span.  The
    * provider span stays open until the success callback has evaluated
    * the summary; [[tracedSummary]] closes it. */
  final class TracedSeam(tr: Tracer, tickSpan: Long) {
    // (span id, start, outer attribution) of the open provider span
    private val open = new ThreadLocal[(Long, Long, Long)]
    val starts = new ConcurrentHashMap[String, Long]()
    val offered = new ConcurrentHashMap[String, Long]()
    val written = new ConcurrentHashMap[String, Long]()

    def process(spark: SparkSession, provider: String, inputPath: String,
                outDir: String): DataFrame = {
      val id = tr.newId()
      val start = System.nanoTime()
      starts.put(provider, start)
      open.set((id, start, tr.attribute(id)))
      try mirror(spark, provider, inputPath, outDir, id)
      catch {
        case e: Throwable =>
          tr.attribute(open.get()._3)
          open.remove()
          throw e
      }
    }

    private def mirror(spark: SparkSession, provider: String,
                       inputPath: String, outDir: String,
                       id: Long): DataFrame = {
      val p = Pipelines.registry.getOrElse(provider,
        throw new IllegalArgumentException(s"Unknown provider: $provider"))
      val batch = tr.within("pipeline.run", id)(_ => p.run(spark, inputPath))
      p match {
        case v01 if v01.isV01 =>
          tr.within("sinks.writeEnvelopeJson", id)(_ =>
            Sinks.writeEnvelopeJson(batch.measures.drop("flags"),
              batch.stations, provider, s"$outDir/measures-json/$provider"))
        case _ =>
          val stationsJson = Transform.stationJson(batch.stations)
          val changed = tr.within("sinks.diffWriteStations", id)(_ =>
            Sinks.diffWriteStations(spark, stationsJson, "sensor_node_id",
              "json", s"$outDir/stations/$provider"))
          written.put(provider, changed.count())
          tr.within("sinks.writeMeasuresCsv", id) { _ =>
            Sinks.writeMeasuresCsv(batch.measures,
              s"$outDir/measures/$provider")
            batch.mobileMeasures.foreach(m =>
              Sinks.writeMeasuresCsv(m, s"$outDir/measures/$provider-mobile",
                mobile = true))
          }
          if (p == CmuPipeline) {
            tr.within("sinks.writeWatermark", id)(_ =>
              Sinks.writeWatermark(spark, s"$outDir/meta/watermark",
                provider, CmuPipeline.maxFileTimestamp(spark, inputPath)))
          }
      }
      val n = tr.within("pipeline.countStations", id)(_ =>
        batch.stations.count())
      if (!p.isV01) offered.put(provider, n)
      Sinks.summarize(p.name, n, batch.measures)
    }

    def tracedSummary(provider: String, df: DataFrame): Map[String, Any] = {
      val (id, start, outer) = open.get()
      val row = tr.within("sinks.summarize", id)(_ => summaryRow(df))
      tr.record(id, s"provider/$provider", tickSpan, start, System.nanoTime())
      tr.attribute(outer)
      open.remove()
      row
    }
  }

  // ---- the workload ----

  def run(spark: SparkSession, work: String, steady: Boolean, passes: Int,
          traced: Boolean): Map[String, Any] = {
    val m = manifest(work)
    val hour = if (steady) "h1" else "h0"
    val state = s"$work/state"
    val t0 = System.nanoTime()
    // the untimed warm-up tick; for tick-steady it is the previous hour,
    // whose output is the state every timed tick starts from
    requireOk(tick(spark, m, "h0", state, Pipelines.processor))
    if (!steady) deleteTree(state)
    def prepare(sink: String): Unit = {
      deleteTree(sink)
      if (steady) copyTree(state, sink)
    }
    val warmupS = (System.nanoTime() - t0) / 1e9
    val payloadBytes = m.inputs(hour).values.map(treeBytes).sum
    val stateBytes = if (steady) StationProviders.map(p =>
      treeBytes(s"$state/stations/$p")).sum + treeBytes(s"$state/meta")
      else 0L

    var peakHeap = 0.0
    def timedPass(i: Int, tracer: Option[Tracer]): Map[String, Any] = {
      val sink = s"$work/sink-$i"
      prepare(sink)
      System.gc()
      val (r, seam) = tracer match {
        case None => (tick(spark, m, hour, sink, Pipelines.processor), None)
        case Some(t) =>
          t.within("tick", 0L) { tickId =>
            val s = new TracedSeam(t, tickId)
            val alloc0 = Trace.allocatedBytes()
            val res = tick(spark, m, hour, sink, s.process, s.tracedSummary)
            (res, Some((t, s, Trace.allocatedBytes() - alloc0)))
          }
      }
      val out = Map[String, Any](
        "wall_s" -> r.wallS,
        "items" -> r.runs.map { rr =>
          Map("name" -> rr.provider, "ok" -> rr.ok,
            "error" -> rr.error.orNull,
            "done_s" -> r.done.get(rr.provider).map(_.doneS),
            "summary" -> r.done.get(rr.provider).map(_.summary))
        },
        "sink" -> sink,
        "listing" -> listing(sink),
        "layers" -> seam.map { case (t, s, alloc) =>
          tickLayers(t, s, r, sink, alloc, payloadBytes, stateBytes)
        })
      peakHeap = peakHeap max Trace.liveHeapMb()
      out
    }

    // a traced run makes one untraced tick, the reference for the
    // overhead and for the traced ticks' outputs, then the traced ones
    val timed = (1 to (if (traced) 1 else passes)).map(i => timedPass(i, None))
    val timedPeak = peakHeap
    val tracedPasses =
      if (!traced) Nil
      else {
        val t = new Tracer(spark)
        val ps = (1 to passes).map(i => timedPass(1 + i, Some(t)))
        t.dump(s"$work/trace-spans.jsonl")
        t.close()
        ps
      }
    Map("warmup_s" -> warmupS, "peak_heap_mb" -> timedPeak,
      "payload_bytes" -> payloadBytes, "passes" -> timed,
      "traced_passes" -> tracedPasses)
  }

  private def requireOk(r: TickResult): Unit =
    r.runs.filterNot(_.ok).foreach(f =>
      throw new IllegalStateException(
        s"set-up tick failed for ${f.provider}: ${f.error.orNull}"))

  /** Per-layer metrics of one traced tick. */
  private def tickLayers(t: Tracer, seam: TracedSeam, r: TickResult,
                         sink: String, allocBytes: Long, payloadBytes: Long,
                         stateBytes: Long): Map[String, Double] = {
    t.drain()
    val tickSpan = t.allSpans.filter(_.name == "tick").last
    val spans = t.subtree(tickSpan.id)
    val ids = spans.map(_.id).toSet
    val stages = t.stagesOf(ids)
    def total(name: String) =
      spans.filter(_.name == name).map(_.seconds).sum
    val runIds = spans.filter(_.name == "pipeline.run").map(_.id).toSet
    val bytesRead = stages.map(_.inputBytes).sum.toDouble
    val offered = seam.offered.asScala.values.sum
    val written = seam.written.asScala.values.sum
    val queueWait = seam.starts.asScala.values
      .map(s => (s - tickSpan.start) / 1e9).sum
    Map(
      "sources.payload_bytes" -> payloadBytes.toDouble,
      "sources.bytes_read" -> bytesRead,
      "sources.read_amplification" -> bytesRead / payloadBytes,
      "sources.inference_jobs" -> t.jobsOf(runIds).toDouble,
      "pipeline.plan_s" -> total("pipeline.run"),
      "pipeline.count_s" -> total("pipeline.countStations"),
      "pipeline.queue_wait_s" -> queueWait,
      "pipeline.jobs" -> t.jobsOf(ids).toDouble,
      "pipeline.stages" -> stages.size.toDouble,
      "pipeline.cpu_busy_share" ->
        stages.map(_.taskMs).sum / 1e3 / (r.wallS * Parallelism),
      "sinks.csv_s" -> total("sinks.writeMeasuresCsv"),
      "sinks.envelope_s" -> total("sinks.writeEnvelopeJson"),
      "sinks.bytes_written" -> stages.map(_.outputBytes).sum.toDouble,
      "sinks.files_written" -> filesWritten(sink, r.startMs).toDouble,
      "sinks.diff_s" -> total("sinks.diffWriteStations"),
      "sinks.watermark_s" -> total("sinks.writeWatermark"),
      "sinks.state_bytes_read" -> stateBytes.toDouble,
      "sinks.stations_written_share" ->
        (if (offered == 0) 0.0 else written.toDouble / offered),
      "sinks.summary_s" -> total("sinks.summarize"),
    ) ++ Trace.engine(stages, r.startMs, r.endMs, allocBytes)
  }
}
