package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Model-based quality scoring — the fastText-style linear classifier
  * pass of a training-data pipeline (CCNet/LLaMA-recipe quality
  * filtering): hash each token into a fixed feature space, average the
  * bucket weights of a trained linear model, keep documents above a
  * threshold.
  *
  * The 100 TB shape is what matters here and is exactly this plan:
  *  - the MODEL is a tiny (dim-row) table broadcast to every executor;
  *  - FEATURIZATION is a map-side hash (md5-derived, engine-portable);
  *  - SCORING is explode → broadcast-hash-join → partial hash
  *    aggregation, so the corpus crosses the network once as (id, sum,
  *    count) partials and the full text never shuffles at all.
  *
  * [[hashedWeights]] derives a deterministic pseudo-random weight table
  * from md5 so the whole path is verifiable against the SQL oracle; a
  * production job loads real trained weights into the same (bucket, w)
  * shape and calls [[scoreWith]] unchanged.
  */
object QualityModel {

  /** Deterministic weight table: `dim` rows of (bucket, w) with
    * w ∈ [-1, 1), derived from md5(bucket ‖ salt).  Stand-in for a
    * trained model with the same schema; md5-derivation keeps it
    * bit-identical across engines and partitionings. */
  def hashedWeights(spark: SparkSession, dim: Int,
                    salt: String = "graft-qm"): DataFrame =
    spark.range(dim.toLong).select(
      col("id").as("bucket"),
      (conv(substring(md5(concat(col("id").cast("string"), lit(salt))),
          1, 8), 16, 10).cast("long") / lit(2147483648.0) - 1.0).as("w"))

  /** Score each document with an explicit (bucket, w) weight table:
    * mean weight of the hashed tokens (+ bias), rounded to 4 decimals,
    * and the keep decision at `threshold`.  `dim` must match the space
    * the weights were trained in. */
  def scoreWith(docs: DataFrame, idCol: String, textCol: String,
                weights: DataFrame, dim: Int, bias: Double = 0.0,
                threshold: Double = 0.0): DataFrame = {
    val bucketed = docs
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol)))
        .as("tok"))
      .select(col(idCol),
        (conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long")
          % dim).as("bucket"))
    val score = round(sum(col("w")) / count(lit(1)) + bias, 4)
    bucketed.join(broadcast(weights), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(score.as("score"))
      .withColumn("keep", col("score") > threshold)
  }

  /** [[scoreWith]] over the deterministic [[hashedWeights]] model. */
  def scoreDocs(docs: DataFrame, idCol: String, textCol: String,
                dim: Int = 1024, bias: Double = 0.0,
                threshold: Double = 0.0): DataFrame =
    scoreWith(docs, idCol, textCol,
      hashedWeights(docs.sparkSession, dim), dim, bias, threshold)

  /** Bigram language model trained on a corpus: (bigram, log_p) with
    * the MLE conditional  P(w₂|w₁) = c(w₁ w₂) / c(w₁)  (unigram-count
    * denominator, so P ∈ (0, 1] for every observed bigram).  The
    * KenLM/CCNet quality-filter family reduced to its Spark shape: two
    * global hash aggregations plus one vocabulary-keyed join — the
    * model is a table, so it persists/broadcasts/reuses like any other
    * dimension. */
  def bigramModel(docs: DataFrame, textCol: String): DataFrame = {
    val toks = docs.select(monotonically_increasing_id().as("doc_id"),
      TextAnalysis.tokens(col(textCol)).as("toks"))
    val uni = toks.select(explode(col("toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c1"))
    val bi = Dedup.assembleNgrams(toks, 2)
      .groupBy(col("sh").as("bigram")).agg(count(lit(1)).as("c2"))
    bi.join(uni, substring_index(col("bigram"), " ", 1) === col("tok"))
      .select(col("bigram"),
        log(col("c2").cast("double") / col("c1")).as("log_p"))
  }

  /** Mean bigram log-probability per document under a trained
    * [[bigramModel]] — low scores flag text the model finds surprising
    * (noise) or that repeats what it has already memorized poorly.
    * Bigrams absent from the model score `unseenLogP` (never fires
    * when scoring the training corpus itself).  Documents shorter than
    * two tokens have no bigrams and no row.
    *
    * Scale: doc bigrams join the model on the bigram key — a narrow
    * (string, double) relation that AQE broadcasts when the vocabulary
    * fits; the corpus side then aggregates map-side to (id, sum,
    * count) partials.  Text never shuffles. */
  def lmScoreWith(docs: DataFrame, idCol: String, textCol: String,
                  model: DataFrame,
                  unseenLogP: Double = -23.0): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      TextAnalysis.tokens(col(textCol)).as("toks"))
    Dedup.assembleNgrams(toks, 2)
      .join(model.withColumnRenamed("bigram", "sh"), Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(coalesce(col("log_p"), lit(unseenLogP)))
          / count(lit(1)), 4).as("lm_score"))
  }

  /** Self-scored corpus: train the bigram model on `docs` and score the
    * same docs (the standard boilerplate/noise sweep). */
  def lmScoreDocs(docs: DataFrame, idCol: String,
                  textCol: String): DataFrame =
    lmScoreWith(docs, idCol, textCol, bigramModel(docs, textCol))

  /** DSIR-style importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): score
    * every raw document by how target-like its hashed-unigram profile
    * is —  w(doc) = Σ_tok [log p̂_target(bucket(tok)) −
    * log p̂_raw(bucket(tok))]  with add-1 smoothing over a `dim`-bucket
    * hashed feature space.  Sampling ∝ exp(w) (or just taking the top
    * slice by weight — [[CorpusStats.globalRank]] / budgetSelect
    * compose directly) reweights the raw corpus toward the target
    * domain; hashing makes the estimator a fixed-size table no matter
    * the vocabulary.
    *
    * Scale shape (the [[scoreWith]] discipline): both distributions
    * collapse to ≤ dim-row bucket-count tables (one pass each side,
    * map-side partials); the log-ratio model is a dim-row broadcast
    * dimension; scoring is explode → broadcast-hash-join → partial agg,
    * so raw text crosses the network never and the corpus once as
    * (id, sum, count) partials.  The token-total normalizers ride
    * single-row broadcast cross joins (the x23 class).
    *
    * Output: (doc_id, n_tokens, weight) — weight rounded to 6 decimals,
    * higher = more target-like. */
  def dsirWeights(raw: DataFrame, target: DataFrame, idCol: String,
                  textCol: String, dim: Int = 1024): DataFrame =
    dsirScoreWith(dsirModel(raw, target, textCol, dim), raw,
      idCol, textCol, dim)

  /** md5-hashed token bucket in [0, dim). */
  private def dsirBucket(tok: org.apache.spark.sql.Column, dim: Int) =
    conv(substring(md5(tok), 1, 8), 16, 10).cast("long") % dim

  /** The trained half of [[dsirWeights]]: the dim-row (bucket, __lr)
    * log-ratio table.  Train once, persist/broadcast like any model
    * dimension; the streaming ingest gate scores micro-batches against
    * it without ever re-reading the reference corpora (the st5 gate
    * pattern — pin with localCheckpoint or save as a table). */
  def dsirModel(raw: DataFrame, target: DataFrame, textCol: String,
                dim: Int = 1024): DataFrame = {
    require(dim >= 2, s"dim must be >= 2 (got $dim)")
    val spark = raw.sparkSession
    def counts(df: DataFrame, name: String): DataFrame = df
      .select(explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .select(dsirBucket(col("tok"), dim).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as(name))
    val tCnt = counts(target, "__ct")
    val rCnt = counts(raw, "__cr")
    val tTot = tCnt.agg(sum(col("__ct")).as("__nt"))
    val rTot = rCnt.agg(sum(col("__cr")).as("__nr"))
    spark.range(dim.toLong).select(col("id").as("bucket"))
      .join(tCnt, Seq("bucket"), "left")
      .join(rCnt, Seq("bucket"), "left")
      .crossJoin(broadcast(tTot)).crossJoin(broadcast(rTot))
      .select(col("bucket"),
        (log((coalesce(col("__ct"), lit(0L)) + 1).cast("double")
            / (col("__nt") + dim))
          - log((coalesce(col("__cr"), lit(0L)) + 1).cast("double")
            / (col("__nr") + dim))).as("__lr"))
  }

  /** Persist a trained [[dsirModel]] as a table with its feature
    * dimension in table properties — the ingest gate then scores
    * months of micro-batches against a model trained once, across
    * restarts (no bucketing needed — the model is dim rows and always
    * broadcasts). */
  def saveDsirModel(model: DataFrame, table: String, dim: Int): Unit =
    StateTable.save(model, table, Seq("graft.dsir.dim" -> dim))

  /** Reopen a persisted DSIR model, restoring `dim` from the table
    * properties.  Returns (model, dim) — pass both to
    * [[dsirScoreWith]]. */
  def loadDsirModel(spark: SparkSession, table: String): (DataFrame, Int) = {
    val (model, props) = StateTable.load(spark, table, "DSIR model",
      Seq("graft.dsir.dim"))
    (model, props("graft.dsir.dim").toInt)
  }

  /** Score a document batch against a trained [[dsirModel]] —
    * explode → broadcast-model join → partial agg (the [[scoreWith]]
    * shape; text never shuffles). */
  def dsirScoreWith(model: DataFrame, docs: DataFrame, idCol: String,
                    textCol: String, dim: Int = 1024): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .select(col("doc_id"), dsirBucket(col("tok"), dim).as("bucket"))
      .join(broadcast(model), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("__lr")), 6).as("weight"))

  /** TRAIN the linear quality classifier that [[scoreWith]] applies —
    * full-batch gradient descent on hashed bag-of-words counts against
    * a binary label, the fastText-recipe quality-filter trainer
    * reduced to its Spark shape: per iteration the corpus-side work is
    * one margin aggregation plus one gradient aggregation (both
    * map-side-combinable over a pinned (doc, bucket, count) feature
    * table), and the only driver-side state is the dim-double weight
    * vector — the standard distributed-ML layout (gradients collapse
    * to `dim` rows; the corpus never leaves the executors).
    *
    * Every arithmetic step is EXACT in IEEE double, so training is
    * bit-reproducible across engines, partitionings, and summation
    * orders — which is what makes a trained model oracle-checkable at
    * all (the x81 BPE discipline, extended to real-valued learning):
    *  - the activation is the HARD sigmoid clamp(z/4 + 1/2, 0, 1) —
    *    no transcendentals, so no libm divergence;
    *  - weights live on the 2⁻²⁰ dyadic grid (re-quantized after every
    *    update, floor(w·2²⁰ + ½)/2²⁰) and are clamped to [-8, 8], so
    *    every weight has ≤ 23 significand bits;
    *  - feature values are integer counts, the learning rate is the
    *    power of two 2^-lrShift (absorbing the 1/N of the usual mean
    *    gradient), and every product/partial-sum therefore fits in 53
    *    significand bits up to ~2³¹ token-weighted documents — float
    *    addition over exactly-representable values with exactly-
    *    representable partial sums is associative, so shuffle order
    *    cannot change the result.  Beyond that corpus size training
    *    still converges identically in distribution; only bit-level
    *    oracle replay is forfeited (documented, not load-bearing).
    *
    * `label` is any boolean/0-1 Column over `docs` (e.g.
    * `col("lang") === "en"`).  Returns the (bucket, w) table
    * [[scoreWith]] consumes — buckets the corpus never touched keep
    * w = 0.  Train once, persist like any model dimension. */
  def trainQualityModel(docs: DataFrame, idCol: String, textCol: String,
                        label: org.apache.spark.sql.Column,
                        dim: Int = 64, iters: Int = 4,
                        lrShift: Int = 15): DataFrame = {
    require(dim >= 2, s"dim must be >= 2 (got $dim)")
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    require(lrShift >= 0 && lrShift <= 40,
      s"lrShift must be in [0, 40] (got $lrShift)")
    val spark = docs.sparkSession
    val base = docs.select(
      col(idCol).as("__doc"),
      label.cast("boolean").cast("int").cast("double").as("__y"),
      col(textCol).as("__t"))
    // Featurize ONCE; pin partitioned by doc so the per-iteration
    // margin→gradient join never re-shuffles the feature table.  The
    // pinned block sets are released after the final iteration (the
    // returned weight table is a driver-array LocalRelation with no
    // lineage into them) — without that, every training call leaks two
    // cached block sets for the session lifetime, the exact cross-call
    // accumulation mode the rehearsal slate fix measured (x90 at 11×
    // vs 2.9× from accumulated pinned blocks).  The ids are captured
    // by diffing getPersistentRDDs around the checkpoint calls: the
    // checkpoint RDD is not reachable through the public DataFrame
    // API, and df.unpersist only consults the cacheManager.
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val xc = base
      .select(col("__doc"), explode(TextAnalysis.tokens(col("__t")))
        .as("tok"))
      .select(col("__doc"), dsirBucket(col("tok"), dim).as("bucket"))
      .groupBy(col("__doc"), col("bucket"))
      .agg(count(lit(1)).cast("double").as("__x"))
      .repartition(col("__doc"))
      .localCheckpoint()
    val ys = base.select(col("__doc"), col("__y"))
      .repartition(col("__doc")).localCheckpoint()
    val pinnedHere = spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !pinnedBefore.contains(id) }.values.toSeq
    val lr = (1L << lrShift).toDouble
    val q = (1L << 20).toDouble
    var w = Array.fill(dim)(0.0)
    import spark.implicits._
    try for (_ <- 0 until iters) {
      // the weight vector rides as a broadcast (bucket, w) dimension —
      // NOT a literal array expression, which would put `dim` literals
      // into the plan and break at real feature widths (2^18 buckets)
      val wDf = broadcast(spark.createDataset(
        w.toSeq.zipWithIndex.map { case (wt, b) => (b.toLong, wt) })
        .toDF("bucket", "__w"))
      val margins = xc.join(wDf, Seq("bucket"))
        .select(col("__doc"), (col("__w") * col("__x")).as("__wx"))
        .groupBy(col("__doc")).agg(sum(col("__wx")).as("__z"))
        .select(col("__doc"),
          greatest(lit(0.0), least(lit(1.0),
            col("__z") * 0.25 + 0.5)).as("__p"))
      val grad = margins.join(ys, "__doc").join(xc, "__doc")
        .groupBy(col("bucket"))
        .agg(sum((col("__p") - col("__y")) * col("__x")).as("__g"))
        .collect()
      val g = Array.fill(dim)(0.0)
      grad.foreach(r => g(r.getLong(0).toInt) = r.getDouble(1))
      w = Array.tabulate(dim) { b =>
        val stepped = w(b) - g(b) / lr
        val quant = math.floor(stepped * q + 0.5) / q
        math.max(-8.0, math.min(8.0, quant))
      }
    } finally pinnedHere.foreach(_.unpersist(blocking = false))
    import spark.implicits._
    spark.createDataset(w.toSeq.zipWithIndex
        .map { case (wt, b) => (b.toLong, wt) })
      .toDF("bucket", "w")
  }

  /** The corpus's token-frequency-weighted mean score under a model —
    * the natural CENTER of [[scoreWith]]'s mean-weight score on the
    * corpus the model was trained on (class imbalance shifts raw
    * scores off zero; "above corpus mean" is the centered keep rule a
    * relative quality gate wants).  One explode → broadcast-join →
    * global agg pass; the sum is over dyadic-grid weights, so it is
    * exact (order-independent) up to ~2³² tokens and the returned
    * scalar replays bit-identically in the oracle. */
  def corpusMeanScore(docs: DataFrame, textCol: String,
                      model: DataFrame, dim: Int): Double = {
    val r = docs
      .select(explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .select(dsirBucket(col("tok"), dim).as("bucket"))
      .join(broadcast(model), Seq("bucket"))
      .agg((sum(col("w")) / count(lit(1))).as("tau"))
      .head()
    if (r.isNullAt(0)) 0.0 else r.getDouble(0) // empty corpus → center 0
  }

  /** Classification report for a trained model against a labeled
    * corpus: confusion counts at the given threshold plus
    * accuracy/precision/recall — the evaluate side of the
    * train→persist→apply lifecycle (hold out a split with
    * [[CorpusStats.splitColumn]] and point this at it).  One scoring
    * pass ([[scoreWith]] shape) + a doc-keyed label join + a single
    * global agg; nothing driver-side, nothing data-sized downstream.
    * Ratios are exact BIGINT-count divisions rounded to 4 — replayable.
    * Empty corpus → the global-agg one-null-row shape (the a1/k3
    * class), same as the oracle's. */
  def evaluateModel(docs: DataFrame, idCol: String, textCol: String,
                    label: org.apache.spark.sql.Column,
                    weights: DataFrame, dim: Int,
                    threshold: Double = 0.0): DataFrame = {
    val scored = scoreWith(docs, idCol, textCol, weights, dim,
      threshold = threshold)
    val labeled = docs.select(col(idCol),
      label.cast("boolean").as("__y"))
    val cell = (p: Boolean, y: Boolean) =>
      sum(when(col("keep") === p && col("__y") === y, 1L).otherwise(0L))
    scored.join(labeled, idCol)
      .agg(cell(true, true).as("tp"), cell(true, false).as("fp"),
        cell(false, false).as("tn"), cell(false, true).as("fn"))
      .select(col("tp"), col("fp"), col("tn"), col("fn"),
        // zero denominators (nothing kept / no positives) leave the
        // ratio undefined rather than throwing under ANSI mode
        when(col("tp") + col("fp") + col("tn") + col("fn") > 0,
          round((col("tp") + col("tn")).cast("double")
            / (col("tp") + col("fp") + col("tn") + col("fn")), 4))
          .as("accuracy"),
        when(col("tp") + col("fp") > 0,
          round(col("tp").cast("double") / (col("tp") + col("fp")), 4))
          .as("precision"),
        when(col("tp") + col("fn") > 0,
          round(col("tp").cast("double") / (col("tp") + col("fn")), 4))
          .as("recall"))
  }

  /** Operating-point selection for a trained classifier: the confusion
    * matrix and precision/recall/F1 at a GRID of thresholds
    * `center + k·delta, k ∈ [-steps, steps]` — the sweep a pipeline
    * runs once to pick its gate cut, produced in ONE corpus pass.
    *
    * Scale shape: docs are scored once ([[scoreWith]]); the grid rides
    * an `explode` over a (2·steps+1)-element array literal — a bounded
    * map-side fanout of skinny (score, label) rows, never a join — and
    * the per-threshold cells are one partial-aggregated groupBy on the
    * tiny threshold key.  Threshold values are computed as
    * `round(center + k·delta, 6)` in COLUMN arithmetic so the SQL
    * oracle replays them bit-for-bit from its own recomputed center. */
  def thresholdSweep(docs: DataFrame, idCol: String, textCol: String,
                     label: org.apache.spark.sql.Column,
                     weights: DataFrame, dim: Int, center: Double,
                     steps: Int = 4, delta: Double = 0.005): DataFrame = {
    val scored = scoreWith(docs, idCol, textCol, weights, dim)
    val labeled = docs.select(col(idCol), label.cast("boolean").as("__y"))
    val grid = array((-steps to steps).map(k =>
      round(lit(center) + lit(k * delta), 6)): _*)
    val cell = (p: Boolean, y: Boolean) =>
      sum(when((col("score") > col("threshold")) === p &&
        col("__y") === y, 1L).otherwise(0L))
    scored.join(labeled, idCol)
      .select(col("score"), col("__y"), explode(grid).as("threshold"))
      .groupBy(col("threshold"))
      .agg(cell(true, true).as("tp"), cell(true, false).as("fp"),
        cell(false, false).as("tn"), cell(false, true).as("fn"))
      .select(col("threshold"), col("tp"), col("fp"), col("tn"),
        col("fn"),
        when(col("tp") + col("fp") > 0,
          round(col("tp").cast("double") / (col("tp") + col("fp")), 4))
          .as("precision"),
        when(col("tp") + col("fn") > 0,
          round(col("tp").cast("double") / (col("tp") + col("fn")), 4))
          .as("recall"),
        when(col("tp") * 2 + col("fp") + col("fn") > 0,
          round(col("tp").cast("double") * 2
            / (col("tp") * 2 + col("fp") + col("fn")), 4))
          .as("f1"))
  }

  /** Persist a trained [[trainQualityModel]] weight table with its
    * feature dimension in table properties — score months of batches
    * against a model trained once, across restarts. */
  def saveQualityModel(model: DataFrame, table: String, dim: Int): Unit =
    StateTable.save(model, table, Seq("graft.qm.dim" -> dim))

  /** Reopen a persisted quality model, restoring `dim`.  Returns
    * (model, dim) — pass both to [[scoreWith]]. */
  def loadQualityModel(spark: SparkSession,
                       table: String): (DataFrame, Int) = {
    val (model, props) = StateTable.load(spark, table, "quality-model",
      Seq("graft.qm.dim"))
    (model, props("graft.qm.dim").toInt)
  }
}
