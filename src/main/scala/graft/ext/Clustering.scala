package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.{Codebook, NearestCell}

/** Deterministic distributed k-means (Lloyd's) over an embedding
  * column — the clustering primitive SemDeDup-style curation pipelines
  * run before per-cluster pruning, exposed as a first-class,
  * oracle-checkable operator rather than an index-training detail.
  *
  * [[Similarity.ivfIndexRefined]] already runs Lloyd's to train IVF
  * codebooks, but its [[graft.plans.VectorAvgAgg]] centroid means are
  * deterministic only up to FP associativity — acceptable there
  * because codebook quality steers recall, not answers.  Here the
  * cluster REPORT is the answer, so every step is made exactly
  * replayable by a SQL engine:
  *
  *  - init: centroids = the k lowest-id vectors (distributed top-k,
  *    not a global sort);
  *  - assign: cosine argmax via the [[graft.plans.NearestCellExpr]]
  *    codegen kernel (rounded to 6 decimals, ties to the lowest cell)
  *    — a MAP-ONLY pass: the k-per-row candidate space never
  *    materializes and no join of any kind enters the plan;
  *  - update: components quantized half-up to the 2^20 dyadic grid
  *    (floor(x·S + 0.5) — grid-identical in both engines, pure double
  *    arithmetic in codegen) and summed as LONGS
  *    ([[graft.plans.VectorLongSumAgg]], map-side combining) — exact
  *    and order-independent, the [[QualityModel.trainQualityModel]]
  *    discipline; the k summed rows collect to the driver, where the
  *    divide-back to double centroids is the same IEEE expression both
  *    engines evaluate.
  *
  * Scale shape: each training iteration is one map-only corpus pass
  * whose ONLY exchange is the k-row partial-sum aggregate (map-side
  * combine ⇒ O(partitions × k × dim) bytes) — the corpus itself never
  * crosses the network.  The first formulation of this operator
  * (crossJoin(broadcast) → max_by → re-join the quantized vectors by
  * id) measured 3 fat corpus-row exchanges of ~17 s each on the 100×
  * rehearsal corpus; this one has zero.  Training is eager by nature
  * (the loop), so [[kmeansCentroids]] releases every block it pinned
  * before returning; downstream consumers ([[kmeans]]'s report,
  * [[clusterPrototypes]], [[kmeansAssign]] routing) are ordinary LAZY
  * map-only plans with zero session-lifetime cache footprint. */
object Clustering {

  /** 2^20 — the dyadic quantization grid for exact centroid sums. */
  val QuantScale = 1048576L

  private def toDouble(v: Column): Column = transform(v, _.cast("double"))

  private def normOf(a: Array[Double]): Double = Codebook.normOf(a)
  private def mkCodebook(cents: Seq[(Long, Array[Double])]): Codebook =
    Codebook.of(cents)
  private def codebookOf(centroids: DataFrame): Option[Codebook] =
    Codebook.fromFrame(centroids, "cell", "cv")

  private val centSchema = StructType(Seq(
    StructField("cell", LongType, nullable = false),
    StructField("cv", ArrayType(DoubleType, containsNull = false),
      nullable = false),
    StructField("cv_norm", DoubleType, nullable = false)))

  private def centFrame(spark: org.apache.spark.sql.SparkSession,
                        cents: Seq[(Long, Array[Double])]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      cents.sortBy(_._1)
        .map { case (cell, cv) => Row(cell, cv.toSeq, normOf(cv)) }.asJava,
      centSchema)
  }

  /** Train the codebook: `iters` Lloyd's iterations from the k
    * lowest-id seeds.  Returns a k-row LocalRelation
    * (cell, cv: array<double>, cv_norm); every pinned intermediate is
    * released before returning (getPersistentRDDs diff: checkpoint
    * RDDs are not reachable through the public DataFrame API). */
  def kmeansCentroids(embeddings: DataFrame, k: Int = 8, dim: Int = 64,
                      iters: Int = 2): DataFrame = {
    val spark = embeddings.sparkSession
    import graft.plans.VectorLongSumAgg.vectorLongSum
    // (v, vq) pinned once: iterations re-read prepared rows instead of
    // re-scanning parquet and re-quantizing.  floor(x·S + 0.5) is the
    // half-up grid as pure double arithmetic — Spark's round() on
    // doubles detours through BigDecimal (measured 6.6 s vs 2.8 s for
    // this 64-element prep on a 200k-vector corpus).
    val v = embeddings
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .withColumn("vq", array((1 to dim).map(i =>
        floor(element_at(col("v"), i) * QuantScale + 0.5d).cast("long")): _*))
      .localCheckpoint()
    try {
      var cents = v.orderBy(col("vec_id").asc).limit(k) // distributed top-k
        .select(col("vec_id"), col("v")).collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      var it = 0
      while (it < iters && cents.nonEmpty) {
        val cb = mkCodebook(cents)
        // ONE map-only pass + k-row aggregate; k rows to the driver
        val sums = v.select(
            NearestCell.nearestCell(col("v"), cb)("cell").as("cell"),
            col("vq"))
          .groupBy(col("cell"))
          .agg(vectorLongSum(col("vq")).as("s"), count(lit(1)).as("n"))
          .collect()
        cents = sums.toSeq.flatMap { r =>
          val cell = r.getLong(0)
          val s = r.getSeq[Long](1)
          val n = r.getLong(2)
          // (long → double) / long / long: the exact IEEE steps the
          // oracle's (CAST(s AS DOUBLE) / n) / 1048576 evaluates
          val cv = s.map(x => (x.toDouble / n) / QuantScale).toArray
          // empty cells vanish from the groupBy; a degenerate
          // zero-vector centroid (mean of opposing members) would
          // poison every cosine against it — drop it like an empty cell
          if (normOf(cv) > 0) Some((cell, cv)) else None
        }
        it += 1
      }
      centFrame(spark, cents) // zero rows on an empty/degenerate corpus
    } finally {
      // Unpersist exactly the checkpoint THIS call created (its RDD id
      // off v's own LogicalRDD) — a global persistent-RDD-set diff
      // would also evict blocks pinned concurrently by another
      // job/thread on the same session (e.g. a streaming query).
      val mine = org.apache.spark.sql.graftbridge.ColumnBridge
        .pinnedRddIds(v).toSet
      spark.sparkContext.getPersistentRDDs
        .filter { case (id, _) => mine.contains(id) }
        .values.foreach(_.unpersist(blocking = false))
    }
  }

  /** Lazy corpus→cell assignment against a codebook:
    * (vec_id, cell, csim).  One NearestCellExpr evaluation per row
    * inside whole-stage codegen — scan → project, nothing else. */
  def kmeansAssign(embeddings: DataFrame,
                   centroids: DataFrame): DataFrame =
    codebookOf(centroids) match {
    case Some(cb) =>
      embeddings
        .select(col("vec_id"),
          NearestCell.nearestCell(toDouble(col("embedding")), cb).as("w"))
        .select(col("vec_id"), col("w.cell").as("cell"),
          col("w.csim").as("csim"))
    case None => // no cells: nothing routes (the crossJoin-empty shape)
      embeddings.select(col("vec_id"), lit(0L).as("cell"),
        lit(0.0d).as("csim")).where(lit(false))
  }

  /** Lloyd's k-means report over `embeddings(vec_id, embedding,
    * label)`: one row per surviving cluster —
    * (cell, n_vecs, inertia_micro, top_label, purity).  Training is
    * eager ([[kmeansCentroids]]); the report is a lazy map-only pass +
    * two k-bounded aggregates (no join: label and assignment come off
    * the same scan row).
    *
    * Corpus contract: embeddings must be NON-ZERO-NORM.  The kernel
    * itself degrades a zero vector gracefully (csim = NaN, lowest
    * cell — pinned in PropertySpec), but this REPORT quantizes csim
    * via `round(csim·1e6).cast(long)`, which throws CAST_INVALID_INPUT
    * on NaN under ANSI mode — the same failure DuckDB's
    * `CAST(round(...) AS BIGINT)` raises on that row, so the contract
    * is symmetric with the oracle rather than silently divergent.
    * Pre-filter degenerate vectors if the corpus may contain them
    * (ClusteringSpec pins the throw). */
  def kmeans(embeddings: DataFrame, k: Int = 8, dim: Int = 64,
             iters: Int = 2): DataFrame = {
    val cent = kmeansCentroids(embeddings, k, dim, iters)
    val cb = codebookOf(cent) match {
      case Some(c) => c
      case None => // empty corpus: an empty report, not a throw
        return embeddings.sparkSession.createDataFrame(
          new java.util.ArrayList[Row](), StructType(Seq(
            StructField("cell", LongType),
            StructField("n_vecs", LongType),
            StructField("inertia_micro", LongType),
            StructField("top_label", IntegerType),
            StructField("purity", DoubleType))))
    }
    val byLab = embeddings
      .select(col("label"),
        NearestCell.nearestCell(toDouble(col("embedding")), cb).as("w"))
      .select(col("w.cell").as("cell"), col("label"),
        // inertia accumulates as exact integer micro-units: csim is
        // already on the 1e-6 grid, so round(csim·1e6) recovers the
        // exact integer and the sum is order-independent
        (lit(1000000L) - round(col("w.csim") * 1000000L).cast("long"))
          .as("micro"))
      .groupBy(col("cell"), col("label"))
      .agg(count(lit(1)).as("cnt"), sum(col("micro")).as("im"))
    byLab.groupBy(col("cell"))
      .agg(sum(col("cnt")).as("n_vecs"),
        sum(col("im")).as("inertia_micro"),
        max_by(col("label"),
          struct(col("cnt"), (-col("label")).as("nl"))).as("top_label"),
        max_by(col("cnt"),
          struct(col("cnt"), (-col("label")).as("nl"))).as("top_cnt"))
      .select(col("cell"), col("n_vecs"), col("inertia_micro"),
        col("top_label"),
        round(col("top_cnt").cast("double") / col("n_vecs"), 6)
          .as("purity"))
  }

  /** Persist a trained codebook (k rows) as a table, so st14-style
    * route gates reopen the model across jobs without retraining (and
    * [[kmeansAssign]] stays O(batch) forever after). */
  def saveCentroids(centroids: DataFrame, table: String): Unit =
    StateTable.save(centroids, table, Seq("graft.kmeans.codebook" -> "1"))

  /** Reopen a [[saveCentroids]] table. */
  def loadCentroids(spark: org.apache.spark.sql.SparkSession,
                    table: String): DataFrame =
    StateTable.load(spark, table, "k-means codebook",
      marker = Some("graft.kmeans.codebook" -> "1"))._1

  /** Per-cluster prototype selection: the `perCell` most CENTRAL
    * members of each cluster (highest cosine to their centroid, id
    * tiebreak) — the "keep the representatives" half of
    * cluster-then-thin curation (the complement of x22's SemDeDup
    * prune, which drops redundant members).  Bounded per-partition
    * heaps via the TopKPerKey physical operator — no corpus-wide
    * window, no full sort. */
  def clusterPrototypes(embeddings: DataFrame, k: Int = 8,
                        dim: Int = 64, iters: Int = 2,
                        perCell: Int = 10): DataFrame = {
    val cent = kmeansCentroids(embeddings, k, dim, iters)
    graft.plans.TopKPerKey.topKPerKey(
      kmeansAssign(embeddings, cent),
      Seq(col("cell")), Seq(col("csim").desc, col("vec_id").asc), perCell)
  }
}
