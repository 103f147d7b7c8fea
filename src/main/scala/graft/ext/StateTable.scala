package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one save path and the one load path behind every persisted
  * graft state table: the indexes (LSH, IVF, PQ, winnow, media
  * fingerprint, URL and URL-freshness seen-sets), the trained models
  * (k-means codebook, DSIR, quality model), the dedup cluster labels
  * and the graph/crawl state (edges, ranks, balls, components, host
  * politeness state).
  *
  *  - Names are unqualified: a state table lives in the session's
  *    current database.
  *  - [[save]] honors overwrite ACROSS sessions.  A prior session's
  *    managed table leaves its warehouse directory behind while the
  *    (in-memory) catalog forgets it, and saveAsTable then refuses
  *    with LOCATION_ALREADY_EXISTS even in overwrite mode.  The
  *    leftover location is deleted only when it is PROVABLY orphaned:
  *    the table is absent from the catalog (a live entry is left to
  *    saveAsTable's own overwrite, which also refuses to replace a
  *    table the written frame still reads), and the path resolves
  *    through the CURRENT database's location — not a hard-coded
  *    default-db path that could destroy another database's live data.
  *  - Markers and parameters live in table properties (`graft.*`), so
  *    a reopened table carries its own scheme.
  *  - [[load]] reads the properties once and refuses a table that
  *    lacks a key or carries the wrong marker value.
  *
  * Versioning (the five graph/crawl families: edges, ranks, balls,
  * components, hoststate): every save stamps `'graft.<family>' =
  * '<version>'` and every load requires the exact version this build
  * writes.  The version bumps whenever the on-disk SEMANTICS change
  * (not the schema — parquet handles that): the round-18 rank rescale
  * showed why a bare presence check is not enough — a `'1'`-era rank
  * table read under the `'2'` per-node scale would silently warm-start
  * a walk from values ~N× too small.  Any version mismatch therefore
  * refuses with the family's rebuild hint instead of producing quietly
  * wrong numbers. */
private[ext] object StateTable {

  /** Overwrite `table` with `df` as parquet — bucketed and sorted on
    * `bucketBy` when given — and stamp `props` as table properties. */
  def save(df: DataFrame, table: String, props: Seq[(String, Any)],
           bucketBy: Seq[String] = Nil, buckets: Int = 16): Unit = {
    require(!table.contains("."),
      s"save/load tables are unqualified names (got $table)")
    val spark = df.sparkSession
    if (!spark.catalog.tableExists(table)) {
      val dbLoc = spark.catalog
        .getDatabase(spark.catalog.currentDatabase).locationUri
      val path = new org.apache.hadoop.fs.Path(dbLoc,
        table.toLowerCase(java.util.Locale.ROOT))
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(path)) fs.delete(path, true)
    }
    val w = df.write.mode("overwrite").format("parquet")
    (bucketBy match {
      case Seq() => w
      case Seq(c, cs @ _*) => w.bucketBy(buckets, c, cs: _*).sortBy(c, cs: _*)
    }).saveAsTable(table)
    val kv = props.map { case (k, v) => s"'$k'='$v'" }.mkString(", ")
    spark.sql(s"ALTER TABLE ${quote(table)} SET TBLPROPERTIES ($kv)")
  }

  /** Open `table` as a graft `what` table: every key in `keys` must be
    * present and the `marker` key must carry exactly its version.
    * Refusals are `IllegalArgumentException`s naming the table and
    * `what`, followed by `hint` when one is given.  Returns the table
    * and its properties. */
  def load(spark: SparkSession, table: String, what: String,
           keys: Seq[String] = Nil, marker: Option[(String, String)] = None,
           hint: String = ""): (DataFrame, Map[String, String]) = {
    val props = spark.sql(s"SHOW TBLPROPERTIES ${quote(table)}").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    def refuse(why: String): Nothing = throw new IllegalArgumentException(
      s"$table is not a graft $what table$why" +
        (if (hint.isEmpty) "" else s" — $hint"))
    (keys ++ marker.map(_._1)).find(!props.contains(_))
      .foreach(k => refuse(s" (missing $k)"))
    marker.filter { case (k, v) => props(k) != v }.foreach { case (k, v) =>
      refuse(s": it carries $k='${props(k)}' but this build reads " +
        s"version '$v'")
    }
    (spark.table(table), props)
  }

  /** [[load]] for a two-table index whose tables must carry the same
    * integer `scheme` parameters `keys`; returns both tables and the
    * values. */
  def loadPair(spark: SparkSession, a: String, b: String, what: String,
               scheme: String, keys: Seq[String])
      : (DataFrame, DataFrame, Seq[Int]) = {
    val (da, pa) = load(spark, a, what, keys)
    val (db, pb) = load(spark, b, what, keys)
    val params = keys.map(pa(_).toInt)
    require(keys.map(pb(_).toInt) == params,
      s"$a / $b carry different $scheme parameters")
    (da, db, params)
  }

  /** Backtick-quote a caller-supplied name for the raw SQL above (each
    * part wrapped, embedded backticks doubled), so a name with spaces,
    * dashes or quote characters round-trips instead of splicing into
    * the statement. */
  private def quote(name: String): String =
    name.split('.').map(p => "`" + p.replace("`", "``") + "`").mkString(".")
}
