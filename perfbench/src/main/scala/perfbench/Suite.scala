package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.util.QueryExecutionListener

/** The query-suite workload: one pass over a fixed list of
  * `SparkEntry.queries`, one query at a time, each materialised with
  * the `noop` sink.  Every pass starts from a fresh warehouse and the
  * session slate is cleared between queries. */
object Suite {
  /** SURVEY §2 operator queries: scan, function, predicate, join, sink,
    * window, aggregate and utility families. */
  def isCore(q: String): Boolean = q.matches("[sfpjkwau]\\d.*")

  /** One or two extension queries per family that the per-layer
    * metrics follow: pair generators (near-dup kernels), crawl and
    * persist/resume.  The pass holds these rather than all 236 queries
    * so that a run, warm-up included, stays under a minute. */
  val Pairs: Seq[String] = Seq("x3_minhash_lsh_pairs", "x55_edit_neardup")
  val Crawl: Seq[String] = Seq("st21_link_frontier")
  val Persist: Seq[String] = Seq("st24_rank_resume")

  /** The pass, in its fixed order: the operator queries, then the
    * named extension queries. */
  def queries: Seq[String] =
    SparkEntry.queries.keys.filter(isCore).toSeq.sorted ++
      Pairs ++ Crawl ++ Persist

  final case class QueryRun(name: String, buildS: Double, execS: Double,
                            rows: Option[Long], error: Option[String],
                            startMs: Long, endMs: Long) {
    def wallS: Double = buildS + execS
  }

  /** Builds the query's DataFrame (eager driver work included) and
    * materialises it; `span` wraps each phase when tracing. */
  private def runQuery(spark: SparkSession, dir: String, name: String,
                       span: (String, () => Any) => Any): QueryRun = {
    val startMs = System.currentTimeMillis()
    var buildS, execS = 0.0
    try {
      val t0 = System.nanoTime()
      val df = span("queries.build",
        () => SparkEntry.queries(name)(spark, dir)).asInstanceOf[DataFrame]
      val t1 = System.nanoTime()
      buildS = (t1 - t0) / 1e9
      val obs = Observation()
      span("queries.execute", () => df.observe(obs, count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save())
      val rows = obs.get("n").asInstanceOf[Long]
      execS = (System.nanoTime() - t1) / 1e9
      QueryRun(name, buildS, execS, Some(rows), None, startMs,
        System.currentTimeMillis())
    } catch {
      case scala.util.control.NonFatal(e) =>
        QueryRun(name, buildS, execS, None,
          Some(Option(e.getMessage).getOrElse(e.toString).take(500)),
          startMs, System.currentTimeMillis())
    }
  }

  /** Drops every table and database the previous pass left and empties
    * the warehouse directory. */
  private def freshWarehouse(spark: SparkSession, warehouse: String): Unit = {
    spark.catalog.listDatabases().collect().map(_.name)
      .filter(_ != "default")
      .foreach(db => spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE"))
    spark.catalog.listTables("default").collect()
      .filter(!_.isTemporary)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
    Ticks.deleteTree(warehouse)
  }

  /** Records the planning phases of every query execution. */
  private final class Phases extends QueryExecutionListener {
    val seen = new ConcurrentLinkedQueue[Map[String, Long]]()
    private def add(qe: QueryExecution): Unit =
      seen.add(qe.tracker.phases.map { case (k, v) => k -> v.durationMs })
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      add(qe)
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = add(qe)
    def take(): Seq[Map[String, Long]] = {
      val out = seen.asScala.toSeq
      seen.clear()
      out
    }
  }

  def run(spark: SparkSession, work: String, passes: Int,
          traced: Boolean): Map[String, Any] = {
    val dir = s"$work/tables"
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    val names = queries
    val untraced: (String, () => Any) => Any = (_, f) => f()

    def pass(tracer: Option[Tracer], phases: Option[Phases])
        : (Double, Seq[QueryRun], Map[String, Double]) = {
      freshWarehouse(spark, warehouse)
      System.gc()
      val acc = scala.collection.mutable.Map[String, Double]()
        .withDefaultValue(0.0)
      def add(k: String, v: Double): Unit = acc(k) = acc(k) + v
      var wall = 0.0
      val startMs = System.currentTimeMillis()
      val alloc0 = Trace.allocatedBytes()
      val suiteSpan = tracer.map(_.newId()).getOrElse(0L)
      val suiteStart = System.nanoTime()
      val runs = names.map { q =>
        graft.perfbench.Slate.clear(spark)
        val r = tracer match {
          case None =>
            val r = runQuery(spark, dir, q, untraced)
            wall += r.wallS
            r
          case Some(t) =>
            val r = t.within(s"query/$q", suiteSpan) { qid =>
              runQuery(spark, dir, q, (name, f) => t.within(name, qid)(_ => f()))
            }
            wall += r.wallS
            t.drain()
            val root = t.allSpans.filter(_.name == s"query/$q").last
            val ids = t.subtree(root.id).map(_.id).toSet
            val stages = t.stagesOf(ids)
            val gap = Trace.driverGapSeconds(r.startMs, r.endMs, stages)
            phases.get.take().foreach { p =>
              add("queries.analysis_s", p.getOrElse("analysis", 0L) / 1e3)
              add("queries.optimization_s",
                p.getOrElse("optimization", 0L) / 1e3)
              add("queries.planning_s", p.getOrElse("planning", 0L) / 1e3)
            }
            if (isCore(q)) add("queries.core_s", r.wallS)
            add("queries.build_s", r.buildS)
            add("queries.exec_s", r.execS)
            add("queries.driver_gap_s", gap)
            add("queries.jobs", t.jobsOf(ids).toDouble)
            add("queries.stages", stages.size.toDouble)
            if (Pairs.contains(q)) {
              add("ext.pairs_s", r.wallS)
              add("ext.pairs_gc_s", stages.map(_.gcMs).sum / 1e3)
            }
            if (Crawl.contains(q)) add("ext.crawl_s", r.wallS)
            if (Persist.contains(q)) {
              add("ext.persist_s", r.wallS)
              add("ext.persist_driver_gap_s", gap)
            }
            r
        }
        System.err.println(f"[perfbench] $q%-32s ${r.wallS}%8.3f s " +
          r.error.fold(s"rows=${r.rows.getOrElse(0L)}")(e => s"FAILED $e"))
        r
      }
      tracer.foreach { t =>
        t.record(suiteSpan, "suite", 0L, suiteStart, System.nanoTime())
        val endMs = System.currentTimeMillis()
        acc ++= Trace.engine(t.stagesBetween(startMs, endMs), startMs, endMs,
          Trace.allocatedBytes() - alloc0)
      }
      (wall, runs, acc.toMap)
    }

    def report(p: (Double, Seq[QueryRun], Map[String, Double])) =
      Map("wall_s" -> p._1,
        "items" -> p._2.map(r => Map("name" -> r.name, "ok" -> r.error.isEmpty,
          "error" -> r.error.orNull, "done_s" -> r.wallS, "rows" -> r.rows)),
        "layers" -> (if (p._3.isEmpty) None else Some(p._3)))

    val t0 = System.nanoTime()
    pass(None, None) // untimed warm-up
    val warmupS = (System.nanoTime() - t0) / 1e9
    var peakHeap = 0.0
    // a traced run makes one untraced pass, the reference for the
    // overhead, then the traced ones
    val timed = (1 to (if (traced) 1 else passes)).map { _ =>
      val p = pass(None, None)
      peakHeap = peakHeap max Trace.liveHeapMb()
      report(p)
    }
    val tracedPasses =
      if (!traced) Nil
      else {
        val t = new Tracer(spark)
        val phases = new Phases
        spark.listenerManager.register(phases)
        val ps = (1 to passes).map(_ => report(pass(Some(t), Some(phases))))
        spark.listenerManager.unregister(phases)
        t.dump(s"$work/trace-spans.jsonl")
        t.close()
        ps
      }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) =>
      names.contains(k) }
    Map("warmup_s" -> warmupS, "peak_heap_mb" -> peakHeap,
      "passes" -> timed, "traced_passes" -> tracedPasses,
      "oracle_sql" -> oracle)
  }
}
