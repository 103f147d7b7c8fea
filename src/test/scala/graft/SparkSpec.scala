package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session (one per JVM; suites reuse via getOrCreate). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.acquire()

  /** Session-lifecycle pin (round-20 verdict #1): Spark 4's
    * `getActiveSession` filters the thread-local through `usableSession`
    * (null / stopped-context → None), and `SparkPlan` captures
    * `getActiveSession.orNull` at node CONSTRUCTION — so a test thread
    * whose inheritable thread-local is unset (or stale after an
    * abnormal earlier run) builds plans with a null session and dies
    * later inside Spark internals (`LocalTableScanExec.metrics` NPE in
    * the round-20 driver run's K1).  Re-pin the live session as this
    * thread's active session before every test, and fail FAST with a
    * diagnosis if the shared context was stopped by an earlier suite —
    * an NPE deep in `localCheckpoint` must never be the first symptom. */
  override def withFixture(test: NoArgTest): org.scalatest.Outcome = {
    assert(!spark.sparkContext.isStopped,
      "shared test SparkContext was stopped by an earlier suite/test — " +
        "every later plan would capture a null session (K1-class NPE)")
    SparkSession.setActiveSession(spark)
    SparkSession.setDefaultSession(spark)
    super.withFixture(test)
  }

  lazy val sf0001 = "/root/testdata/sf0.001"

  /** Drop a managed table AND its warehouse directory — the in-memory
    * catalog forgets tables across JVM restarts while the directory
    * persists, so a bare overwrite hits LOCATION_ALREADY_EXISTS. */
  def dropTableFully(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val loc = new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath
    val dir = new java.io.File(loc, name)
    if (dir.exists()) {
      dir.listFiles().foreach(_.delete())
      dir.delete()
      ()
    }
  }

  def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath
}

object SparkSpec {
  /** Build-or-reuse the shared session AND pin it as the calling
    * thread's active session (getOrCreate only sets the thread-local
    * on the thread that calls it; suite bodies and test runners are
    * not guaranteed to share a thread). */
  def acquire(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir",
        s"/tmp/graft-warehouse-${sys.props.getOrElse("user.name", "t")}")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    SparkSession.setActiveSession(s)
    s
  }
}
