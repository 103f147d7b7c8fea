package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The program's session-slate reset (registered caches plus every
  * persisted RDD block), for clearing state between timed queries. */
object Slate {
  def clear(spark: SparkSession): Unit =
    graft.queries.ExtQueries.clearSessionSlate(spark, blocking = true)
}
