package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side.  `perfbench/run.py` generates the inputs,
  * starts this with
  * `--workload <name> --work <dir> --passes <n> --trace <0|1> --out <file>`,
  * and checks and summarises the raw timings it writes to `--out`. */
object Main {
  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val work = Paths.get(opt("work")).toAbsolutePath.toString
    val passes = opt("passes").toInt
    val traced = opt.getOrElse("trace", "0") == "1"
    val t0 = System.nanoTime()
    val spark = session(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val result =
      try opt("workload") match {
        case "tick-cold" => Ticks.run(spark, work, false, passes, traced)
        case "tick-steady" => Ticks.run(spark, work, true, passes, traced)
        case "query-suite" => Suite.run(spark, work, passes, traced)
        case w => sys.error(s"unknown workload $w")
      } finally spark.stop()
    val env = Map(
      "jdk" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576)
    Files.write(Paths.get(opt("out")), Json.write(
      result ++ Map("session_s" -> sessionS, "env" -> env))
      .getBytes(StandardCharsets.UTF_8))
  }
}
