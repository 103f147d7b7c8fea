package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k — a broadcast of the (small) query
  * set against a full scan of the corpus; Spark turns this into a
  * narrow map + per-partition top-k + final merge (TakeOrdered), no
  * all-pairs shuffle.
  *
  * Scale path: random-hyperplane LSH — map-side bucket signature per
  * vector, equi-join on bucket, exact re-rank within bucket.  At 100 TB
  * the bucket join replaces the corpus broadcast; recall is tunable by
  * #hyperplanes / #tables.
  *
  * Arithmetic note: dot products fold left-to-right in DOUBLE so scores
  * are deterministic; ranking keys round to 6 decimals and tie-break on
  * id so rank order is stable across engines and partitionings.
  */
object Similarity {

  /** Left-fold dot product of two float-array columns, in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Fixed-dimension expanded dot product: `dim` explicit multiply-add
    * terms on pre-cast double arrays — stays inside whole-stage codegen
    * with no per-pair array allocation (unlike zip_with + aggregate,
    * which materializes an intermediate array per comparison).  The
    * summation order matches the left-fold of [[dot]] so results are
    * bit-identical. */
  private def dotExpanded(a: Column, b: Column, dim: Int): Column =
    graft.plans.VecKernels.vecDot(a, b, dim)

  private def toDouble(v: Column): Column = transform(v, _.cast("double"))

  /** (id, vec) → (id, vec:array<double>, norm) — norms computed once,
    * map-side, before any pairwise work. */
  private def withNorm(df: DataFrame, idc: String, vc: String): DataFrame =
    df.select(col("vec_id").as(idc), toDouble(col("embedding")).as(vc))
      .withColumn(s"${vc}_norm",
        sqrt(graft.plans.VecKernels.vecSumSq(col(vc))))

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors.  Ranking key = (round(cos,6) desc, id asc).
    *
    * Exact at any scale WITHOUT shuffling the scored space: scoring is
    * narrow (small query side broadcast against the corpus scan), a
    * per-partition bounded heap keeps each partition's k best per
    * query, and only partitions×queries×k survivors reach the final
    * ranking window — the global top-k is always a subset of the
    * per-partition top-k, so results are identical to ranking the full
    * q×corpus space.
    *
    * That contract holds only while the QUERY side is batch-sized:
    * the cross join scores queries×corpus rows, so a corpus-sized
    * query set is an unbounded quadratic.  Refused past `maxQueries`
    * (counted with an early-exit `limit`, never a full scan) — the
    * same guard contract as [[cosineNearDupPairs]]; use [[ivfTopK]]
    * for large query sets, or raise the cap deliberately. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     dim: Int = 64, maxQueries: Int = 100000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = queries.sparkSession
    import spark.implicits._
    val nq = queries.limit(maxQueries + 1).count()
    require(nq <= maxQueries,
      s"bruteForceTopK broadcasts the query side against a corpus " +
        s"scan: > $maxQueries query vectors makes the cross join an " +
        "unbounded quadratic. Use ivfTopK for large query sets, or " +
        "raise maxQueries for a deliberate ground-truth run.")
    val q = withNorm(queries, "q_id", "q")
    val c = withNorm(corpus, "c_id", "c")
    val scored = q.crossJoin(c)
      .withColumn("score", round(
        dotExpanded(col("q"), col("c"), dim) /
          (col("q_norm") * col("c_norm")), 6))
      .select(col("q_id"), col("c_id"), col("score"))
      .as[(Long, Long, Double)]
    val reduced = scored.mapPartitions(Similarity.partitionTopK(_, k))
      .toDF("q_id", "c_id", "score")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("c_id").asc)
    reduced.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("score"), col("rank"))
  }

  /** Hard-negative mining — the contrastive-training data op: for each
    * anchor vector, the k most cosine-similar corpus vectors whose
    * LABEL DIFFERS (similar-looking but wrong-class examples, the ones
    * a contrastive/triplet objective learns most from).  Ranking key =
    * (round(cos,6) desc, id asc), the [[bruteForceTopK]] contract.
    *
    * Same scale shape as [[bruteForceTopK]]: the anchor batch
    * broadcasts against the corpus scan, the label-mismatch predicate
    * culls INSIDE the scoring stage (before any state), and
    * per-partition bounded heaps mean only partitions×anchors×k
    * survivors reach the final ranking window.  And the same guard:
    * the cross join is anchors×corpus, so a corpus-sized anchor set is
    * refused past `maxAnchors` (early-exit `limit` count) — mine hard
    * negatives for a large anchor set through [[ivfTopK]] per label
    * stratum, or raise the cap deliberately. */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame, k: Int,
                    dim: Int = 64, maxAnchors: Int = 100000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = anchors.sparkSession
    import spark.implicits._
    val na = anchors.limit(maxAnchors + 1).count()
    require(na <= maxAnchors,
      s"hardNegatives broadcasts the anchor side against a corpus " +
        s"scan: > $maxAnchors anchors makes the cross join an " +
        "unbounded quadratic. Mine large anchor sets via ivfTopK per " +
        "label stratum, or raise maxAnchors for a deliberate run.")
    val q = anchors.select(col("vec_id").as("q_id"),
        col("label").as("q_label"), toDouble(col("embedding")).as("q"))
      .withColumn("q_norm", sqrt(graft.plans.VecKernels.vecSumSq(col("q"))))
    val c = corpus.select(col("vec_id").as("c_id"),
        col("label").as("c_label"), toDouble(col("embedding")).as("c"))
      .withColumn("c_norm", sqrt(graft.plans.VecKernels.vecSumSq(col("c"))))
    val scored = q.crossJoin(c)
      .filter(col("q_label") =!= col("c_label"))
      .withColumn("score", round(
        graft.plans.VecKernels.vecDot(col("q"), col("c"), dim) /
          (col("q_norm") * col("c_norm")), 6))
      .select(col("q_id"), col("c_id"), col("score"))
      .as[(Long, Long, Double)]
    val reduced = scored.mapPartitions(Similarity.partitionTopK(_, k))
      .toDF("q_id", "c_id", "score")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("c_id").asc)
    reduced.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("score"), col("rank"))
  }

  /** Per-partition bounded top-k per query id, under the global ranking
    * order (score desc, c_id asc).  Object-level for closure hygiene. */
  private def partitionTopK(it: Iterator[(Long, Long, Double)],
                            k: Int): Iterator[(Long, Long, Double)] = {
    // worst-first ordering so the heap head is the eviction candidate
    val worstFirst = Ordering.by[(Long, Long, Double), (Double, Long)] {
      case (_, cId, s) => (-s, cId)
    }
    val heaps = scala.collection.mutable.Map
      .empty[Long, scala.collection.mutable.PriorityQueue[(Long, Long, Double)]]
    it.foreach { row =>
      val h = heaps.getOrElseUpdate(row._1,
        scala.collection.mutable.PriorityQueue.empty(worstFirst))
      if (h.size < k) h.enqueue(row)
      else if (worstFirst.lt(row, h.head)) { h.dequeue(); h.enqueue(row) }
    }
    heaps.valuesIterator.flatMap(_.iterator)
  }

  /** ±1 plane component for (plane h, dim i): high bit of the first
    * md5("h:i") nibble.  Deterministic, engine-portable, no stored
    * plane matrix; the DuckDB oracle bakes the same signs in as
    * literals. */
  def planeSign(h: Int, i: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$h:$i".getBytes("UTF-8")).take(1).map("%02x".format(_))
      .mkString
    if (Integer.parseInt(hex.substring(0, 1), 16) >= 8) 1.0 else -1.0
  }

  /** Random-hyperplane signature: bit h = sign of <v, plane_h>. */
  def hyperplaneSig(v: Column, dim: Int, planes: Int): Column = {
    // one kernel projection (ascending-order dots, bit-identical to
    // the expanded tree this replaces) + a planes-element bit map —
    // the HOF lambda runs interpreted but over `planes` elements, not
    // the corpus dimension
    val proj = graft.plans.VecKernels.rpProject(toDouble(v),
      graft.plans.SignMatrix((0 until planes).map { h =>
        (0 until dim).map(i => planeSign(h, i)).toArray
      }.toArray))
    array_join(transform(proj,
      x => when(x >= 0, "1").otherwise("0")), "")
  }

  /** LSH-bucketed ANN: bucket both sides by hyperplane signature,
    * equi-join on bucket, exact cosine re-rank within bucket.  Misses
    * only neighbors landing in a different bucket (recall measured in
    * the test suite against [[bruteForceTopK]]). */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              dim: Int = 64, planes: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // norms/signatures compute once map-side; in-bucket scoring is the
    // codegen'd expanded dot (same left-fold as [[cosine]], which as an
    // interpreted HOF costs ~µs per candidate pair)
    val qb = withNorm(queries, "q_id", "q")
      .withColumn("bucket", hyperplaneSig(col("q"), dim, planes))
    val cb = withNorm(corpus, "c_id", "c")
      .withColumn("bucket", hyperplaneSig(col("c"), dim, planes))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("c_id").asc)
    qb.join(cb, "bucket")
      .withColumn("score", round(
        dotExpanded(col("q"), col("c"), dim) /
          (col("q_norm") * col("c_norm")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("score"), col("rank"))
  }

  /** Multi-table LSH ANN: `tables` independent hyperplane families
    * (seeded by table index), candidates = union of per-table bucket
    * matches, exact cosine re-rank over the deduped candidate set.
    * Recall rises as 1−(1−p)^L for per-table hit rate p — the standard
    * trade: more tables = more candidates = higher recall, still
    * corpus-sublinear.  Spark shape: ONE projection per side emits all
    * L per-table signatures as an array, `posexplode` turns them into
    * (table, bucket) rows, and a single equi-join on the
    * table-qualified bucket key replaces L separate joins — the corpus
    * is scanned once, not once per table (L separate projections were
    * linear waste in L at scale).  The table index is baked into the
    * bucket key so signatures only match WITHIN a table, exactly the
    * candidate set the per-table joins produced. */
  def lshTopKMulti(queries: DataFrame, corpus: DataFrame, k: Int,
                   dim: Int = 64, planes: Int = 6,
                   tables: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def sig(v: Column, table: Int): Column =
      concat((0 until planes).map { h =>
        val proj = (0 until dim).map { i =>
          val hex = java.security.MessageDigest.getInstance("MD5")
            .digest(s"$table:$h:$i".getBytes("UTF-8"))
            .take(1).map("%02x".format(_)).mkString
          val sign = if (Integer.parseInt(hex.substring(0, 1), 16) >= 8) 1.0 else -1.0
          element_at(v, i + 1).cast("double") * sign
        }.reduce(_ + _)
        when(proj >= 0, "1").otherwise("0")
      }: _*)
    def buckets(df: DataFrame, idAs: String): DataFrame =
      df.select(col("vec_id").as(idAs),
          posexplode(array((0 until tables).map(t =>
            sig(col("embedding"), t)): _*)))
        .select(col(idAs),
          concat_ws(":", col("pos"), col("col")).as("bucket"))
    val cands = buckets(queries, "q_id")
      .join(buckets(corpus, "c_id"), "bucket")
      .select(col("q_id"), col("c_id")).distinct()
    val q = withNorm(queries, "q_id", "q")
    val c = withNorm(corpus, "c_id", "c")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("c_id").asc)
    cands.join(q, "q_id").join(c, "c_id")
      .withColumn("score", round(
        dotExpanded(col("q"), col("c"), dim) /
          (col("q_norm") * col("c_norm")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("score"), col("rank"))
  }

  /** Johnson–Lindenstrauss sign-random-projection reduction:
    * out[r] = Σ_i v[i]·s(r,i) with s = ±1 from the md5 plane-sign
    * oracle ([[planeSign]], seed offset past the LSH plane family so
    * the two sign matrices are independent).  The signs are
    * compile-time literals, so the whole reduction codegens into one
    * projection — no stored matrix, no shuffle, bit-identical across
    * engines (the DuckDB oracle bakes the same literals). */
  def rpReduce(v: Column, dim: Int, rDim: Int, seed: Int = 101): Column =
    graft.plans.VecKernels.rpProject(toDouble(v),
      signMatrix(seed, dim, rDim))

  /** The driver-side ±1 JL matrix behind [[rpReduce]] — one
    * [[graft.plans.SignMatrix]] reference object instead of rDim×dim
    * plan literals (structural equality keeps Catalyst CSE working
    * across two projections from the same seed). */
  def signMatrix(seed: Int, dim: Int, rDim: Int): graft.plans.SignMatrix =
    graft.plans.SignMatrix((0 until rDim).map { r =>
      (0 until dim).map(i => planeSign(seed + r, i)).toArray
    }.toArray)

  /** Compress-then-rerank ANN: candidates ranked by cosine in the
    * [[rpReduce]]d space (rDim ≪ dim), then the top `cand` per query
    * reranked by EXACT full-dimension cosine.  This is the standard
    * 100 TB serving shape for dense retrieval: the corpus side of the
    * candidate stage carries rDim doubles per row (16 dims = 128 B
    * instead of a 512 B float vector — 4× less network/scan) and each
    * candidate dot costs rDim multiplies; full vectors are fetched by
    * id for only queries×cand survivors.  Same two-phase bounded-heap
    * scoring as [[bruteForceTopK]], so no scored-space shuffle either.
    * Recall vs exact is pinned by the test suite (JL: reduced cosine
    * concentrates around true cosine; misses need a pair whose reduced
    * score drops below the candidate cut).
    *
    * `pinRerank` round-robin repartitions the survivor id-pairs before
    * the full-dim rerank (the x55 discipline: survivors are 16-byte
    * rows, so AQE — sizing stages by input bytes — can coalesce the
    * expensive full-vector dot onto a handful of tasks).  Default OFF
    * because it is a measured LOSS at test scale (3.09 s → 4.78 s
    * min-of-3 at sf0.1: the candidate window's own q_id exchange
    * already spreads the survivors, and the extra exchange + codegen
    * stage is pure overhead when the rerank fits in milliseconds).
    * Turn it on when queries×cand is large enough that rerank compute
    * dominates an exchange — the corpus-scale serving regime. */
  def rpTopK(queries: DataFrame, corpus: DataFrame, k: Int,
             dim: Int = 64, rDim: Int = 16, cand: Int = 30,
             pinRerank: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = queries.sparkSession
    import spark.implicits._
    // norms via the expanded (codegen'd) dot — the `aggregate` HOF
    // evaluates interpreted per row, which would put a lambda in the
    // hot projection
    def rnorm(rv: Column): Column =
      sqrt(graft.plans.VecKernels.vecSumSq(rv))
    val q = withNorm(queries, "q_id", "q")
    val c = withNorm(corpus, "c_id", "c")
    val qr = q.select(col("q_id"), rpReduce(col("q"), dim, rDim).as("rq"))
      .withColumn("rq_norm", rnorm(col("rq")))
    val cr = c.select(col("c_id"), rpReduce(col("c"), dim, rDim).as("rc"))
      .withColumn("rc_norm", rnorm(col("rc")))
    val rscored = qr.crossJoin(cr)
      .withColumn("rscore", round(
        dotExpanded(col("rq"), col("rc"), rDim) /
          (col("rq_norm") * col("rc_norm")), 6))
      .select(col("q_id"), col("c_id"), col("rscore"))
      .as[(Long, Long, Double)]
    val heaped = rscored.mapPartitions(partitionTopK(_, cand))
      .toDF("q_id", "c_id", "rscore")
    val wc = Window.partitionBy(col("q_id"))
      .orderBy(col("rscore").desc, col("c_id").asc)
    val survivors = heaped.withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= cand)
      .select(col("q_id"), col("c_id"))
    val topCand =
      if (pinRerank)
        survivors.repartition(spark.sessionState.conf.numShufflePartitions)
      else survivors
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("c_id").asc)
    topCand.join(q, "q_id").join(c, "c_id")
      .withColumn("score", round(
        dotExpanded(col("q"), col("c"), dim) /
          (col("q_norm") * col("c_norm")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("score"), col("rank"))
  }

  /** Embedding-cosine near-duplicate pairs: all (a<b) pairs above a
    * cosine threshold.  Brute-force within the corpus — the embedding
    * analog of [[Dedup.blockedJaccardPairs]], retained as the exact
    * semantic baseline; production near-dup goes through
    * [[cosineNearDupPairsBucketed]] (LSH-bucket-blocked, never
    * all-pairs).  Refuses corpus-sized input outright — an O(n²) cross
    * join past the cap is a cluster-melter, and the refusal names the
    * right operator (same guard contract as [[cosinePairsKernel]]).
    * `maxRows` raises the cap for deliberate ground-truth runs. */
  def cosineNearDupPairs(corpus: DataFrame, threshold: Double,
                         dim: Int = 64, maxRows: Long = 100000L): DataFrame = {
    val n = corpus.count()
    require(n <= maxRows,
      s"cosineNearDupPairs is the brute-force O(n²) baseline: $n rows > " +
        s"cap $maxRows (~${n * n / 2} pairs). Use " +
        "cosineNearDupPairsBucketed for corpus-scale near-dup instead, " +
        "or raise maxRows for a deliberate ground-truth run.")
    val a = withNorm(corpus, "a", "va")
    val b = withNorm(corpus, "b", "vb")
    a.crossJoin(b).filter(col("a") < col("b"))
      .withColumn("score", round(
        dotExpanded(col("va"), col("vb"), dim) /
          (col("va_norm") * col("vb_norm")), 6))
      .filter(col("score") >= threshold)
      .select(col("a"), col("b"), col("score"))
  }

  /** IVF-style ANN: coarse quantizer + probed-cell search — the
    * inverted-file counterpart to [[lshTopK]] (the two standard
    * sublinear ANN layouts).
    *
    *  1. centroids = the `nlist` lowest-id corpus vectors (a
    *     deterministic stand-in for a k-means codebook — the operator
    *     shape is identical, and determinism is what lets the SQL
    *     oracle replay cell assignment exactly);
    *  2. every corpus vector assigns to its nearest centroid by cosine
    *     (corpus × broadcast-centroids, argmax per vector) — at scale
    *     this is ONE narrow pass over the corpus against a tiny
    *     broadcast table, and the resulting (cell, vector) layout is
    *     the partition-pruning structure: a cell is a partition key;
    *  3. queries probe their `nprobe` nearest centroids and re-rank
    *     exactly within the probed cells only — candidates shrink by
    *     ~nlist/nprobe versus a full scan.
    *
    * Ranking keys round to 6 decimals with id tiebreaks throughout, so
    * results are stable across engines and partitionings; recall vs
    * [[bruteForceTopK]] is measured in the test suite. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              dim: Int = 64, nlist: Int = 16, nprobe: Int = 4): DataFrame =
    ivfTopKIndexed(ivfIndex(corpus, dim, nlist), queries, k, nprobe)

  /** Materialized IVF index: cell-assigned corpus + centroid codebook,
    * with (dim, nlist) baked in — the build-once half of ANN serving. */
  case class IvfIndex(assigned: DataFrame, cent: DataFrame,
                      dim: Int, nlist: Int)

  /** Build the IVF index ONCE for [[ivfTopKIndexed]]: centroid
    * selection and the corpus→cell assignment are corpus passes, so
    * query batches must not re-run them — localCheckpoint pins both
    * (cross-job persistence: [[saveIvfIndex]]). */
  def ivfIndex(corpus: DataFrame, dim: Int = 64,
               nlist: Int = 16): IvfIndex = {
    // pin (vector, norm) once: probes re-rank against these rows
    val c = withNorm(corpus, "c_id", "c").localCheckpoint()
    // lowest-id selection is a distributed TakeOrdered (top-k), NOT a
    // global-sort window — stays scale-safe
    val cent = withNorm(corpus, "cell", "cv")
      .orderBy(col("cell").asc).limit(nlist)
      .localCheckpoint()
    IvfIndex(assignedFrame(c, cent), cent, dim, nlist)
  }

  /** corpus→cell argmax via the [[graft.plans.NearestCellExpr]]
    * codegen kernel (the Clustering discipline, round 13): one
    * map-only projection against the task-serialized codebook.  The
    * earlier crossJoin(broadcast) → skinny max_by → re-join-vectors-
    * by-id formulation kept the SCORING rows skinny but still re-
    * joined the FAT vector rows to attach the winner — measured on the
    * 100× rehearsal corpus (200k × dim-64), those fat-row exchanges
    * were the dominant stages (~17 s each).  Here the assigned layout
    * comes straight off the corpus scan: argmax ties keep the lowest
    * cell (the max_by(csim, -cell) rule, kernel-side), csim on the
    * shared round-6 grid, so cell assignment is bit-identical to the
    * SQL oracle's row_number replay.  An empty codebook (empty corpus)
    * degrades to zero rows, the crossJoin-with-empty shape. */
  private def assignedFrame(c: DataFrame, cent: DataFrame): DataFrame = {
    import graft.plans.{Codebook, NearestCell}
    Codebook.fromFrame(cent, "cell", "cv") match {
      case Some(cb) =>
        c.select(NearestCell.nearestCell(col("c"), cb)("cell").as("cell"),
            col("c_id"), col("c"), col("c_norm"))
          .localCheckpoint()
      case None =>
        c.select(lit(0L).as("cell"), col("c_id"), col("c"), col("c_norm"))
          .where(lit(false)).localCheckpoint()
    }
  }

  /** [[ivfIndex]] with Lloyd's k-means refinement of the codebook —
    * what production IVF training does.  Each iteration is one
    * map-only kernel-assignment pass (winner + vector off the same
    * scan row) feeding a centroid update via the
    * [[graft.plans.VectorAvgAgg]] custom aggregate (map-side-combining
    * elementwise mean — the posexplode formulation would shuffle
    * dim× the corpus row count).  Empty cells drop out (standard
    * Lloyd's); probe correctness is codebook-independent because the
    * re-rank is exact — centroid quality only steers RECALL, which is
    * why the FP-order nondeterminism of the mean is acceptable here
    * and why the oracle-checked query (`x17`) stays on the
    * deterministic lowest-id codebook. */
  def ivfIndexRefined(corpus: DataFrame, dim: Int = 64, nlist: Int = 16,
                      iters: Int = 2): IvfIndex = {
    import graft.plans.VectorAvgAgg.vectorAvg
    val c = withNorm(corpus, "c_id", "c").localCheckpoint()
    var cent = withNorm(corpus, "cell", "cv")
      .orderBy(col("cell").asc).limit(nlist)
      .localCheckpoint()
    import graft.plans.{Codebook, NearestCell}
    for (_ <- 1 to iters) {
      // kernel winner + centroid mean off the same scan row — a
      // Lloyd's iteration's only exchange is the nlist-row partial agg
      cent = Codebook.fromFrame(cent, "cell", "cv") match {
        case None => cent // empty corpus: keep the (empty) codebook
        case Some(cb) => c
          .select(NearestCell.nearestCell(col("c"), cb)("cell").as("cell"),
            col("c"))
          .groupBy(col("cell"))
          .agg(vectorAvg(col("c")).as("cv"))
          .withColumn("cv_norm", sqrt(aggregate(
            transform(col("cv"), x => x * x), lit(0.0), (acc, x) => acc + x)))
          // a degenerate zero-vector centroid (mean of opposing members)
          // would null every similarity against it — drop it like an
          // empty cell
          .filter(col("cv_norm") > 0)
          .localCheckpoint() // nlist rows; HOF norm is fine off the hot path
      }
    }
    IvfIndex(assignedFrame(c, cent), cent, dim, nlist)
  }

  /** Persist an [[IvfIndex]] as tables — assignment BUCKETED by cell so
    * probe joins read the corpus side pre-partitioned (only the
    * query-batch side shuffles), parameters in table properties. */
  def saveIvfIndex(index: IvfIndex, assignedTable: String,
                   centTable: String, buckets: Int = 16): Unit = {
    val props = Seq("graft.ivf.dim" -> index.dim,
      "graft.ivf.nlist" -> index.nlist)
    StateTable.save(index.assigned, assignedTable, props, Seq("cell"),
      buckets)
    StateTable.save(index.cent, centTable, props)
  }

  /** Reopen a persisted [[IvfIndex]], restoring (dim, nlist) from the
    * table properties. */
  def loadIvfIndex(spark: SparkSession, assignedTable: String,
                   centTable: String): IvfIndex = {
    val (assigned, cent, Seq(dim, nlist)) = StateTable.loadPair(spark,
      assignedTable, centTable, "IVF index", "IVF",
      Seq("graft.ivf.dim", "graft.ivf.nlist"))
    IvfIndex(assigned, cent, dim, nlist)
  }

  /** Grow an [[IvfIndex]] with a batch of accepted vectors — the
    * incremental half of the embedding ingest loop (the
    * `extendFpIndex`/`extendLshIndex` discipline applied to the last
    * build-once index family): assign the batch against the EXISTING
    * centroids (one narrow pass vs the broadcast codebook — O(batch),
    * never O(index)), pin only the new leg, and union lazily over the
    * already-materialized legs.  The codebook deliberately does NOT
    * drift: cell assignment stays deterministic and oracle-replayable,
    * and a probe against the extended index equals a probe against a
    * fresh [[ivfIndex]] of the union corpus whenever the fresh build
    * would select the same centroids (SimilaritySpec pins it).
    * Compact periodically via [[saveIvfIndex]]/[[loadIvfIndex]]. */
  def extendIvfIndex(index: IvfIndex, accepted: DataFrame): IvfIndex = {
    val leg = assignedFrame(withNorm(accepted, "c_id", "c"), index.cent)
    IvfIndex(index.assigned.unionByName(leg), index.cent,
      index.dim, index.nlist)
  }

  /** Ingest-time embedding near-dup gate over a pinned [[IvfIndex]]:
    * each incoming vector's BEST indexed match (rounded cosine desc,
    * id asc) within its `nprobe` probed cells, kept when the score
    * reaches `threshold` — the st4/st9 gate shape for the vector
    * modality, run per micro-batch under `foreachBatch` against an
    * index built once and grown with [[extendIvfIndex]] as batches are
    * accepted.  The k=1 thresholded form of [[ivfTopKIndexed]], so
    * determinism and oracle replay carry over unchanged.  Output:
    * (vec_id, match_id, score). */
  def ivfGate(index: IvfIndex, incoming: DataFrame, threshold: Double,
              nprobe: Int = 4): DataFrame =
    ivfTopKIndexed(index, incoming, k = 1, nprobe = nprobe)
      .filter(col("score") >= threshold)
      .select(col("q_id").as("vec_id"), col("c_id").as("match_id"),
        col("score"))

  /** Probe a prebuilt [[IvfIndex]] with a query batch — the per-batch
    * half of ANN serving. */
  def ivfTopKIndexed(index: IvfIndex, queries: DataFrame, k: Int,
                     nprobe: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dim = index.dim
    val cent = index.cent
    val assigned = index.assigned
    // pin the query batch's (vector, norm): unpinned, the interpreted
    // HOF norm + toDouble collapse into the per-candidate score
    // projection and re-evaluate per (query, corpus-in-cell) row —
    // #candidates interpreted 64-element folds instead of #queries.
    // The batch side is queries-sized, so the pin is one tiny job.
    val q = withNorm(queries, "q_id", "q").localCheckpoint()
    // query probes: nprobe nearest cells per query — same skinny
    // shape (a window, because nprobe > 1, but over 3-column rows;
    // query vectors join back after)
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("qsim").desc, col("cell").asc)
    val probeCells = q.crossJoin(broadcast(cent))
      .select(col("q_id"), col("cell"), round(
        dotExpanded(col("q"), col("cv"), dim) /
          (col("q_norm") * col("cv_norm")), 6).as("qsim"))
      .withColumn("__rk", row_number().over(wq))
      .filter(col("__rk") <= nprobe)
      .select(col("q_id"), col("cell"))
    val probes = q.join(probeCells, "q_id")
    // exact re-rank within probed cells; candidates stripped to
    // (q_id, c_id, score) before the ranking window
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("c_id").asc)
    probes.join(assigned, "cell")
      .select(col("q_id"), col("c_id"), round(
        dotExpanded(col("q"), col("c"), dim) /
          (col("q_norm") * col("c_norm")), 6).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("score"), col("rank"))
  }

  /** Embedding-cosine near-duplicate pairs, LSH-bucket-blocked: the
    * corpus is bucketed by random-hyperplane signature
    * ([[hyperplaneSig]]), buckets hash-partition across executors, and
    * each bucket's pairs are scored exactly by a primitive numeric
    * kernel inside its own task.  This is the 100 TB shape: no driver
    * collect, no broadcast, no cross join — candidate volume is
    * Σ_bucket n_b², corpus-sublinear for any corpus that spreads across
    * buckets, and `planes` tunes bucket granularity (more planes →
    * smaller buckets that must individually fit a task, fewer
    * candidates, lower recall).  Pairs whose members land in different
    * buckets are missed — recall is measured against the exact
    * [[cosineNearDupPairs]] in the test suite, and the pipeline is
    * deterministic end-to-end (md5-derived plane signs), so the SQL
    * oracle replays it exactly. */
  def cosineNearDupPairsBucketed(corpus: DataFrame, threshold: Double,
                                 dim: Int = 64, planes: Int = 4,
                                 blocks: Int = 1): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // bucket signature map-side; one skinny shuffle partitions buckets
    // across executors; each bucket's all-pairs scoring runs as a
    // primitive double-array kernel inside its task (the same
    // memory-bandwidth loop as [[cosinePairsKernel]] — a 64-term
    // column expression in a join projection evaluates ~50× slower).
    // Ascending-index accumulation + HALF_UP rounding keep scores
    // bit-identical to the oracle's replay.
    //
    // blocks > 1 decomposes each bucket's pair space block-wise: a
    // vector replicates to the `blocks` unordered block-pairs it joins,
    // so a skewed mega-bucket's O(n²) work spreads over B(B+1)/2 tasks
    // instead of pinning one (replication factor B on the skinny
    // (id, vec) rows — the standard block-nested distribution trade).
    // Results are identical for any `blocks`.
    val v = corpus.select(col("vec_id").cast("long").as("id"),
        hyperplaneSig(col("embedding"), dim, planes).as("bucket"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .as[(Long, String, Array[Double])]

    val tau = threshold
    val pairs =
      if (blocks <= 1) {
        v.groupByKey(_._2).flatMapGroups { (_, it) =>
          val vecs = it.map { case (id, _, arr) =>
            (id, arr, math.sqrt(blasDot(arr, arr)))
          }.toArray.sortBy(_._1)
          for {
            i <- vecs.indices.iterator
            j <- (i + 1) until vecs.length
            (aId, av, na) = vecs(i)
            (bId, bv, nb) = vecs(j)
            out <- Similarity.scoredPair(aId, av, na, bId, bv, nb, tau).iterator
          } yield out
        }
      } else {
        val b = blocks
        v.flatMap { case (id, bkt, arr) =>
          val mine = (java.lang.Long.hashCode(id) & Int.MaxValue) % b
          (0 until b).map { other =>
            val (i, j) = (math.min(mine, other), math.max(mine, other))
            (s"$bkt|$i|$j", mine, id, arr)
          }
        }.groupByKey(_._1).flatMapGroups { (key, it) =>
          val Array(_, is, js) = key.split('|')
          val (bi, bj) = (is.toInt, js.toInt)
          val rows = it.map { case (_, blk, id, arr) =>
            (blk, id, arr, math.sqrt(blasDot(arr, arr)))
          }.toArray
          if (bi == bj) {
            val vecs = rows.map { case (_, id, arr, n) => (id, arr, n) }
              .sortBy(_._1)
            for {
              i <- vecs.indices.iterator
              j <- (i + 1) until vecs.length
              (aId, av, na) = vecs(i)
              (bId, bv, nb) = vecs(j)
              out <- Similarity.scoredPair(aId, av, na, bId, bv, nb, tau).iterator
            } yield out
          } else {
            val left = rows.filter(_._1 == bi)
            val right = rows.filter(_._1 == bj)
            for {
              (_, aId, av, na) <- left.iterator
              (_, bId, bv, nb) <- right
              out <- Similarity.scoredPair(aId, av, na, bId, bv, nb, tau).iterator
            } yield out
          }
        }
      }
    pairs.toDF("a", "b", "score")
  }

  /** Semantic eval-set decontamination — the embedding-space
    * complement of the n-gram contamination family
    * ([[graft.ext.Dedup.contaminatedDocs]] / `contaminationOverlap`):
    * a TRAIN document is semantically contaminated when its embedding
    * sits too close (cosine ≥ tau) to ANY benchmark embedding —
    * paraphrased or re-worded leakage that shares no 5-gram and walks
    * straight past the n-gram pass.
    *
    * Scale shape: the 100 TB side (train) indexes ONCE via
    * [[ivfIndex]] and never re-shuffles per eval set; the bench side —
    * small by construction, eval sets are thousands of rows — probes
    * `nprobe` cells per query with exact re-rank ([[ivfTopKIndexed]]).
    * Matches ≥ tau then aggregate per train doc (max score, best bench
    * id with lowest-id tiebreak — one skinny hash agg), so the output
    * is the ranked DROP-LIST JOIN TABLE: (train_id, bench_id, score).
    *
    * Recall caveat, same as every IVF consumer: a match outside the
    * probed cells is missed; `nprobe = nlist` degrades to exhaustive
    * exact search (the suite pins that equality), and `k` bounds how
    * many bench neighbors a single train doc can be flagged through
    * (only the BEST one is reported anyway). */
  def semanticContamination(train: DataFrame, bench: DataFrame,
                            tau: Double, dim: Int = 64, nlist: Int = 16,
                            nprobe: Int = 4, k: Int = 10): DataFrame = {
    val idx = ivfIndex(train, dim, nlist)
    ivfTopKIndexed(idx, bench, k, nprobe)
      .filter(col("score") >= tau)
      .select(col("c_id").as("train_id"), col("q_id").as("bench_id"),
        col("score"))
      .groupBy(col("train_id"))
      .agg(max(col("score")).as("score"),
        min_by(col("bench_id"),
          struct((-col("score")).as("ns"), col("bench_id")))
          .as("bench_id"))
      .select(col("train_id"), col("bench_id"), col("score"))
  }

  /** SemDeDup-style semantic prune: coarse-quantize the corpus into
    * `nlist` cells (the deterministic lowest-id codebook of [[ivfTopK]])
    * and, WITHIN each cell, drop every vector that has a lower-id
    * cell-mate with cosine >= tau.  Returns every vector with its cell,
    * a `dropped` flag, and the responsible keeper (`dropped_by` = the
    * smallest qualifying cell-mate, null when kept).
    *
    * The keep-lowest-id rule is the order-free variant of SemDeDup's
    * sequential greedy sweep: decisions depend only on (cell, pairwise
    * scores), never on visit order, so the operator is deterministic,
    * embarrassingly parallel per cell, and oracle-replayable.  Scale
    * shape: the nlist-row codebook collects once (bounded) and
    * broadcasts; cell assignment is a narrow mapPartitions kernel (no
    * join, no argmax shuffle); cells shuffle as skinny (id, vec) rows
    * and score with the primitive-array kernel.  Cells larger than
    * `cellBlockTarget` rows block-decompose triangle-wise (the
    * [[cosineNearDupPairsBucketed]] pattern) so a hot cell's O(cell²)
    * spreads over nb(nb+1)/2 tasks at nb× row replication instead of
    * pinning one executor — the guard costs one extra assignment pass
    * for the per-cell sizes (≤ nlist agg rows). */
  def semanticPrune(corpus: DataFrame, tau: Double, dim: Int = 64,
                    nlist: Int = 16,
                    cellBlockTarget: Int = 1 << 13): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = corpus.select(col("vec_id").cast("long").as("id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .as[(Long, Array[Double])]
    // codebook: the nlist lowest-id vectors — bounded by construction
    // (nlist rows × dim doubles), so collecting it is a TakeOrdered job
    // and the assignment stage needs no join at all
    val cb = vecs.orderBy(col("id").asc).limit(nlist).collect()
      .sortBy(_._1)
      .map { case (id, v) => (id, v, math.sqrt(blasDot(v, v))) }
    val cbB = spark.sparkContext.broadcast(cb)
    // one narrow kernel pass: argmax cell per vector, ascending-cell
    // scan with strict > so ties keep the lowest cell id (the
    // row_number(csim DESC, cell ASC) rule, kernel-side)
    val assigned = vecs.mapPartitions { it =>
      val cells = cbB.value
      it.map { case (id, v) =>
        val nv = math.sqrt(blasDot(v, v))
        var best = Double.NegativeInfinity
        var bestCell = -1L
        var i = 0
        while (i < cells.length) {
          val (cid, cv, nc) = cells(i)
          val raw = blasDot(v, cv) / (nv * nc)
          if (!raw.isNaN) {
            val s = BigDecimal(raw)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
            if (s > best) { best = s; bestCell = cid }
          }
          i += 1
        }
        // all-NaN (zero vector): every csim ties, so the ascending
        // tie-break lands on the lowest cell — same as the SQL
        // row_number rule, where NaN sorts above every double
        if (bestCell == -1L && cells.nonEmpty) bestCell = cells(0)._1
        (bestCell, id, v)
      }
    }
    // skew guard: per-cell sizes (a map-side-combinable agg collapsing
    // to ≤ nlist rows) decide how many hash blocks each cell's pair
    // space decomposes into, so a hot cell's O(cell²) spreads over
    // nb(nb+1)/2 tasks instead of melting one executor — the
    // [[cosineNearDupPairsBucketed]] triangle pattern, size-gated so
    // the common small cell keeps the zero-replication single-group
    // path.  Cost: one extra assignment pass for the sizes (at corpus
    // scale, persist `corpus` upstream to pay the scan once).
    val sizes = assigned.toDF("cell", "id", "v").groupBy("cell").count()
      .as[(Long, Long)].collect().toMap
    val szB = spark.sparkContext.broadcast(sizes)
    val target = math.max(1, cellBlockTarget)
    val grouped = assigned.flatMap { case (cell, id, v) =>
      val m = szB.value.getOrElse(cell, 1L)
      val nb = math.max(1L, (m + target - 1) / target).toInt
      if (nb == 1) Iterator.single((cell, 0, 0, 0, id, v))
      else {
        val mine = (java.lang.Long.hashCode(id) & Int.MaxValue) % nb
        Iterator.range(0, nb).map { other =>
          (cell, math.min(mine, other), math.max(mine, other), mine, id, v)
        }
      }
    }
    // per (cell, block-pair) kernel: ascending scan + break ⇒ the MIN
    // qualifying lower id within the group; diagonal groups see every
    // row once and emit keeps too, so the final shape is one skinny
    // agg (min over groups restores the global min dropper) — no
    // corpus-side join
    val flagged = grouped.groupByKey(t => (t._1, t._2, t._3))
      .flatMapGroups { (key, it) =>
        val (cell, bi, bj) = key
        val rows = it.map { case (_, _, _, blk, id, arr) =>
          (blk, id, arr, math.sqrt(blasDot(arr, arr)))
        }.toArray.sortBy(_._2)
        Iterator.range(0, rows.length).flatMap { j =>
          val (jb, bId, bv, nbr) = rows(j)
          var i = 0
          var hit = -1L
          while (i < j && hit < 0) {
            val (ib, aId, av, na) = rows(i)
            if (math.min(ib, jb) == bi && math.max(ib, jb) == bj &&
              scoredPair(aId, av, na, bId, bv, nbr, tau).isDefined) hit = aId
            i += 1
          }
          if (hit >= 0) Iterator.single((bId, cell, hit))
          else if (jb == bi && bi == bj) // diagonal owns the keep row
            Iterator.single((bId, cell, -1L))
          else Iterator.empty
        }
      }.toDF("vec_id", "cell", "hit")
    flagged.groupBy("vec_id")
      .agg(first(col("cell")).as("cell"),
        min(when(col("hit") >= 0, col("hit"))).as("dropped_by"))
      .select(col("vec_id"), col("cell"),
        col("dropped_by").isNotNull.as("dropped"), col("dropped_by"))
  }

  /** All-pairs cosine via a broadcast + mapPartitions numeric kernel.
    *
    * A BroadcastNestedLoopJoin evaluates the 64-term dot expression
    * outside whole-stage codegen (interpreted, ~µs/pair); a primitive
    * double-array loop runs at memory bandwidth (~ns/pair).  This is
    * the MLlib-style escape hatch for dense numeric kernels — the ONE
    * place the engine drops below the DataFrame API, kept semantically
    * identical: ascending-index accumulation and HALF_UP rounding match
    * the expression path bit-for-bit (oracle-verified).
    *
    * Scale: the collected-and-broadcast side MUST be small — a query /
    * centroid / recent-batch set (MBs).  Corpus×corpus near-dup goes
    * through [[cosineNearDupPairsBucketed]] instead, which never
    * materializes anything on the driver.
    */
  def cosinePairsKernel(spark: SparkSession, corpus: DataFrame,
                        threshold: Double,
                        maxCollectRows: Long = 1000000L,
                        maxCollectBytes: Long = 1L << 30): DataFrame = {
    import spark.implicits._
    val vecs = corpus.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v"))
      .as[(Long, Array[Double])]
    // Enforced contract, not advisory: the whole side is collected to
    // the driver and broadcast, so refuse anything corpus-sized up
    // front with a clear message instead of an eventual driver OOM.
    // Single pass: collect at most max+1 rows (no separate count job,
    // no two-pass divergence on non-deterministic sources), then check
    // bytes too — a row cap alone still admits 1M × 768-d doubles
    // (~6 GB), so the cap is rows AND rows×dims×8 bytes.
    val capped = math.min(maxCollectRows, Int.MaxValue - 1L).toInt
    val collected = vecs.limit(capped + 1).collect()
    require(collected.length <= capped,
      s"cosinePairsKernel collects its input to the driver: input " +
        s"exceeds maxCollectRows=$maxCollectRows. Use " +
        "cosineNearDupPairsBucketed for corpus-scale near-dup instead.")
    val dims = if (collected.nonEmpty) collected.head._2.length else 0
    val approxBytes = collected.length.toLong * dims * 8L
    require(approxBytes <= maxCollectBytes,
      s"cosinePairsKernel collected side is ~$approxBytes bytes " +
        s"(${collected.length} rows x $dims dims x 8) > " +
        s"maxCollectBytes=$maxCollectBytes. Use " +
        "cosineNearDupPairsBucketed for corpus-scale near-dup instead.")
    val side = spark.sparkContext.broadcast(
      collected.sortBy(_._1)
        .map { case (id, v) => (id, v, math.sqrt(blasDot(v, v))) })
    val out = vecs.mapPartitions { it =>
      val bc = side.value
      it.flatMap { case (aId, av) =>
        val na = math.sqrt(blasDot(av, av))
        bc.iterator
          .filter(_._1 > aId)
          .flatMap { case (bId, bv, nb) =>
            val s = blasDot(av, bv) / (na * nb)
            val r = BigDecimal(s)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
            if (r >= threshold) Some((aId, bId, r)) else None
          }
      }
    }.toDF("a", "b", "score")
    out
  }

  private def blasDot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Kernel pair scorer (object-level so task closures call it
    * statically instead of capturing method scope — a local def here
    * would drag non-serializable driver state into the task). */
  private def scoredPair(aId: Long, av: Array[Double], na: Double,
                         bId: Long, bv: Array[Double], nb: Double,
                         threshold: Double): Option[(Long, Long, Double)] = {
    val s = blasDot(av, bv) / (na * nb)
    val r = BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    if (r >= threshold) Some((math.min(aId, bId), math.max(aId, bId), r))
    else None
  }

  // ---- product quantization -----------------------------------------------

  /** Materialized PQ index: per-(vector, subspace) code rows + the
    * subspace codebook, with (dim, m, k) baked in.  A coded corpus
    * vector is m ln2(k)-bit codes — at (dim=64, m=8, k=16) that is
    * 8 nibbles instead of 64 floats, a 64× compression of what the
    * query-time scoring stage has to scan and ship. */
  case class PqIndex(codes: DataFrame, codebook: DataFrame,
                     dim: Int, m: Int, k: Int)

  /** (id, s, sv) subvector rows: vector split into m contiguous
    * dim/m-wide slices, exploded map-side (narrow — no shuffle). */
  private def subRows(df: DataFrame, idC: String, vC: String,
                      dim: Int, m: Int): DataFrame = {
    val sub = dim / m
    df.select(col(idC), posexplode(array((0 until m).map(s =>
        slice(toDouble(col(vC)), s * sub + 1, sub)): _*)).as(Seq("s", "sv")))
  }

  /** Codegen'd squared L2 distance between two `sub`-dim arrays. */
  private def l2sqExpanded(a: Column, b: Column, sub: Int): Column =
    (0 until sub).map { i =>
      val d = element_at(a, i + 1) - element_at(b, i + 1)
      d * d
    }.reduce(_ + _)

  /** Build the PQ index ONCE: deterministic codebook (the k lowest-id
    * corpus vectors' subvectors, selected by a distributed TakeOrdered
    * — the codes carry the codeword's source id, so no window is
    * needed to number them; production kit would Lloyd's-refine each
    * subspace exactly like [[ivfIndexRefined]] refines cells), then
    * encode = per-(vector, subspace) argmin over the k codewords.
    *
    * Scale shape mirrors [[ivfIndex]]'s assignment: the codebook (m·k
    * rows) broadcasts; scoring rows stay SKINNY (c_id, s, dist, j) and
    * the argmin is a `min(struct(dist, j))` hash aggregate that
    * collapses map-side — full vectors never ride a replicated
    * shuffle, and nothing here is a window over the corpus. */
  def pqIndex(corpus: DataFrame, dim: Int = 64, m: Int = 8,
              k: Int = 16): PqIndex = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val cb = subRows(
      corpus.orderBy(col("vec_id").asc).limit(k)
        .select(col("vec_id").as("j"), col("embedding")),
      "j", "embedding", dim, m)
      .select(col("s"), col("j"), col("sv").as("cbv"))
      .localCheckpoint()
    val sub = dim / m
    val codes = subRows(
      corpus.select(col("vec_id").as("c_id"), col("embedding")),
      "c_id", "embedding", dim, m)
      .join(broadcast(cb), "s")
      .select(col("c_id"), col("s"),
        struct(round(l2sqExpanded(col("sv"), col("cbv"), sub), 6).as("d"),
          col("j").as("j")).as("dj"))
      .groupBy(col("c_id"), col("s"))
      .agg(min(col("dj")).getField("j").as("code"))
      .localCheckpoint()
    PqIndex(codes, cb, dim, m, k)
  }

  /** Probe a prebuilt [[PqIndex]] by asymmetric distance computation:
    * the query builds its m×k distance lookup table against the
    * broadcast codebook (queries×m×k tiny rows), the coded corpus
    * joins that LUT on (subspace, code) — a broadcast hash join
    * against nibble-wide rows, the corpus' float vectors untouched —
    * and per-(query, vector) partial sums aggregate the approximate
    * distance.  Ranking key = (round(adist,6) asc, c_id asc). */
  def pqTopKIndexed(index: PqIndex, queries: DataFrame,
                    topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sub = index.dim / index.m
    val lut = subRows(
      queries.select(col("vec_id").as("q_id"), col("embedding")),
      "q_id", "embedding", index.dim, index.m)
      .join(broadcast(index.codebook), "s")
      .select(col("q_id"), col("s"), col("j").as("code"),
        l2sqExpanded(col("sv"), col("cbv"), sub).as("d"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adist").asc, col("c_id").asc)
    index.codes.join(broadcast(lut), Seq("s", "code"))
      .groupBy(col("q_id"), col("c_id"))
      .agg(round(sum(col("d")), 6).as("adist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("c_id"), col("adist"), col("rank"))
  }

  /** One-shot PQ ANN: build + probe ([[pqIndex]] / [[pqTopKIndexed]]).
    * PQ distances are approximations — production retrieval reranks
    * the top candidates exactly (same second phase as [[rpTopK]]);
    * the declared query keeps the raw ADC ranking so the oracle pins
    * the quantization itself. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, topK: Int,
             dim: Int = 64, m: Int = 8, k: Int = 16): DataFrame =
    pqTopKIndexed(pqIndex(corpus, dim, m, k), queries, topK)

  /** Persist a [[PqIndex]] — codes bucketed by subspace+code so serving
    * joins read the corpus side pre-partitioned (mirrors
    * [[saveIvfIndex]]); parameters in table properties. */
  def savePqIndex(index: PqIndex, codesTable: String,
                  codebookTable: String, buckets: Int = 16): Unit = {
    val props = Seq("graft.pq.dim" -> index.dim, "graft.pq.m" -> index.m,
      "graft.pq.k" -> index.k)
    StateTable.save(index.codes, codesTable, props, Seq("s", "code"),
      buckets)
    StateTable.save(index.codebook, codebookTable, props)
  }

  /** Grow a [[PqIndex]] with a batch of accepted vectors — the
    * [[extendIvfIndex]] discipline for the coded family (closes the
    * last build-once index): encode the batch against the EXISTING
    * codebook (broadcast m·k rows, skinny argmin rows, O(batch) work —
    * never O(index)), pin only the new leg, union lazily over the
    * already-materialized codes.  The codebook does not drift, so a
    * probe against the extended index equals a probe against a fresh
    * [[pqIndex]] of the union corpus whenever the fresh build would
    * select the same codewords (SimilaritySpec pins it).  Compact
    * periodically via [[savePqIndex]]/[[loadPqIndex]]. */
  def extendPqIndex(index: PqIndex, accepted: DataFrame): PqIndex = {
    val sub = index.dim / index.m
    val leg = subRows(
      accepted.select(col("vec_id").as("c_id"), col("embedding")),
      "c_id", "embedding", index.dim, index.m)
      .join(broadcast(index.codebook), "s")
      .select(col("c_id"), col("s"),
        struct(round(l2sqExpanded(col("sv"), col("cbv"), sub), 6).as("d"),
          col("j").as("j")).as("dj"))
      .groupBy(col("c_id"), col("s"))
      .agg(min(col("dj")).getField("j").as("code"))
      .localCheckpoint()
    PqIndex(index.codes.unionByName(leg), index.codebook,
      index.dim, index.m, index.k)
  }

  /** Scalar (per-dimension min-max) int8 quantization AUDIT — the
    * storage-planning companion to the PQ family: before committing a
    * 100 TB embedding store to 4×-smaller int8 (the standard
    * vector-store compression step), measure what the corpus would
    * actually lose.  Quantizes every element to `levels` uniform steps
    * on its dimension's [min, max] span and reports per-vector
    * reconstruction error.
    *
    * Scale shape: the span table is ONE skinny (pos, x) pass — 12-byte
    * rows with map-side partial min/max, so the shuffle is
    * #partitions × dim rows — packed into a single broadcast row of
    * two dim-length arrays; the per-vector audit is then a map-side
    * higher-order fold (quantize → dequantize → error), no second
    * corpus shuffle.  All arithmetic is engine-portable: round()
    * half-up on non-negative scaled values, sequential fold for the
    * error sum (the x69 list_sum parity).
    *
    * Output: (vec_id, mse, max_abs_err) rounded to 6 decimals. */
  def quantizationStats(emb: DataFrame, idCol: String = "vec_id",
                        vecCol: String = "embedding", dim: Int = 64,
                        levels: Int = 256): DataFrame = {
    require(levels >= 2, s"levels must be >= 2 (got $levels)")
    val steps = lit((levels - 1).toDouble)
    val dims = emb
      .select(posexplode(toDouble(col(vecCol))).as(Seq("__p", "__x")))
      .groupBy(col("__p"))
      .agg(min(col("__x")).as("__mn"), max(col("__x")).as("__mx"))
    val packed = dims
      .agg(array_sort(collect_list(
        struct(col("__p"), col("__mn"), col("__mx")))).as("__d"))
      .select(transform(col("__d"), s => s("__mn")).as("__mns"),
        transform(col("__d"), s => s("__mx")).as("__mxs"))
    val errs = transform(sequence(lit(1), lit(dim)), i => {
      val x = element_at(toDouble(col(vecCol)), i)
      val mn = element_at(col("__mns"), i)
      val mx = element_at(col("__mxs"), i)
      val deq = when(mx === mn, mn).otherwise(
        mn + round((x - mn) * steps / (mx - mn), 0) * (mx - mn) / steps)
      x - deq
    })
    emb.crossJoin(broadcast(packed))
      .select(col(idCol).as("vec_id"),
        round(aggregate(errs, lit(0.0), (acc, e) => acc + e * e)
          / dim, 6).as("mse"),
        round(array_max(transform(errs, e => abs(e))), 6)
          .as("max_abs_err"))
  }

  /** Embedding-distribution DRIFT between two corpus snapshots — the
    * monitoring number a re-embedding or upstream-model change is
    * caught by: per label (or any grouping), the cosine between the
    * old and new snapshot CENTROIDS.  1.0 = same direction; a drop
    * flags that the space moved and downstream ANN indexes /
    * similarity thresholds need revalidation.
    *
    * Scale shape: each side collapses to (label, dim) partial sums —
    * one skinny posexplode pass with map-side combine, the x85 span
    * idiom — then #labels-row tables join and the cosine folds over
    * the packed 64-element centroid arrays (HOFs off the hot path:
    * they run on #labels rows, not the corpus).
    *
    * Output: (label, n_old, n_new, centroid_cos) rounded to 6. */
  def centroidDrift(oldE: DataFrame, newE: DataFrame,
                    labelCol: String = "label",
                    vecCol: String = "embedding"): DataFrame = {
    def side(df: DataFrame, n: String, c: String): DataFrame =
      df.select(col(labelCol).as("label"),
          posexplode(transform(col(vecCol), _.cast("double")))
            .as(Seq("pos", "x")))
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("cnt"))
        .groupBy(col("label"))
        .agg(max(col("cnt")).as(n),
          array_sort(collect_list(struct(col("pos"),
            (col("s") / col("cnt")).as("m")))).as("__p"))
        .select(col("label"), col(n),
          transform(col("__p"), e => e("m")).as(c))
    val o = side(oldE, "n_old", "__co")
    val nw = side(newE, "n_new", "__cn")
    def fold(v: Column): Column =
      sqrt(aggregate(transform(v, x => x * x), lit(0.0), (a, x) => a + x))
    val dot = aggregate(zip_with(col("__co"), col("__cn"), (a, b) => a * b),
      lit(0.0), (a, x) => a + x)
    o.join(nw, "label")
      .select(col("label"), col("n_old"), col("n_new"),
        round(dot / (fold(col("__co")) * fold(col("__cn"))), 6)
          .as("centroid_cos"))
  }

  /** Reopen a persisted [[PqIndex]], restoring (dim, m, k) from table
    * properties. */
  def loadPqIndex(spark: SparkSession, codesTable: String,
                  codebookTable: String): PqIndex = {
    val (codes, codebook, Seq(dim, m, k)) = StateTable.loadPair(spark,
      codesTable, codebookTable, "PQ index", "PQ",
      Seq("graft.pq.dim", "graft.pq.m", "graft.pq.k"))
    PqIndex(codes, codebook, dim, m, k)
  }
}
