package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.Graph

/** Link-graph authority family: host-edge rollup semantics, the
  * fixed-point PageRank recurrence (checked against an INDEPENDENT
  * driver-side reimplementation over an explicit adjacency list — the
  * oracle proves Spark↔DuckDB agreement, this proves both match the
  * declared algebra), anchor top-k, and frontier rank annotation. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Reference fixed-point PageRank: plain Scala Longs, same floor
    * math as the scaladoc recurrence, no Spark. */
  private def refPr(edges: Seq[(String, String)], iters: Int,
                    dMicro: Long,
                    init: Map[String, Long] = Map.empty): Map[String, Long] = {
    val M = 1000000L
    val dist = edges.distinct.filter(e => e._1 != e._2)
    val nodes = (dist.map(_._1) ++ dist.map(_._2)).distinct.sorted
    val out = dist.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val n = nodes.size.toLong
    val base = M - dMicro
    var r = nodes.map(v => v -> init.getOrElse(v, M)).toMap
    for (_ <- 1 to iters) {
      val share = r.collect {
        case (u, ru) if out.getOrElse(u, 0L) > 0 => u -> ru / out(u) }
      val contrib = dist.groupBy(_._2).view
        .mapValues(_.map(e => share.getOrElse(e._1, 0L)).sum).toMap
      val dang = r.collect {
        case (u, ru) if out.getOrElse(u, 0L) == 0 => ru }.sum
      r = nodes.map(v => v ->
        (base + (dMicro * (contrib.getOrElse(v, 0L) + dang / n)) / M)).toMap
    }
    r
  }

  private def runPr(edges: Seq[(String, String)], iters: Int,
                    dMicro: Long = 850000L): Map[String, Long] =
    Graph.pageRankMicro(edges.toDF("src", "dst"), "src", "dst",
      iterations = iters, dampingMicro = dMicro)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  // a: two in-links (b, d); c: leaf fed only by a; d: dangling feeder
  private val g = Seq(
    ("a", "b"), ("a", "c"), ("b", "a"), ("d", "a"),
    // duplicates and a self-loop must not change the result
    ("a", "b"), ("c", "c"))

  test("pageRankMicro matches the driver-side reference recurrence " +
    "exactly, at 1 and at 6 sweeps") {
    assert(runPr(g, 1) === refPr(g, 1, 850000L))
    assert(runPr(g, 6) === refPr(g, 6, 850000L))
  }

  test("pageRankMicro: dangling mass is redistributed (c has outdeg 0 " +
    "after self-loop drop; total mass stays ~n·1e6) and authority " +
    "ordering holds (a out-ranks the leaf c)") {
    val r = runPr(g, 8)
    // self-loop ("c","c") dropped => c is dangling; floor leakage per
    // sweep is bounded by ~n(n+2) micro (share/dang/damp floors)
    val total = r.values.sum
    assert(total <= 4 * 1000000L && total >= 4 * 1000000L - 8 * 4 * (4 + 2),
      s"mass drifted: $total")
    assert(r("a") > r("c"), s"hub a=${r("a")} must out-rank leaf c=${r("c")}")
    assert(r("a") > r("d"), "a (2 in-links) must out-rank d (0 in-links)")
  }

  test("pageRankMicro: damping 0 gives the uniform base row; " +
    "argument validation rejects bad iterations/damping/empty graphs") {
    val r = runPr(g, 3, dMicro = 0L)
    assert(r.values.toSet === Set(1000000L))
    intercept[IllegalArgumentException] {
      Graph.pageRankMicro(g.toDF("src", "dst"), "src", "dst", iterations = 0)
    }
    intercept[IllegalArgumentException] {
      Graph.pageRankMicro(g.toDF("src", "dst"), "src", "dst",
        dampingMicro = 1000001L)
    }
    // a self-loop-only (hence empty) graph flows through empty — the
    // library-wide empty-input contract
    assert(Graph.pageRankMicro(
      Seq(("x", "x")).toDF("src", "dst"), "src", "dst").count() === 0)
  }

  test("hostEdges: self-loops and unparseable hosts drop, multiplicity " +
    "counts, www/port canonicalization folds hosts together") {
    val links = Seq(
      ("http://a.com/p", "http://b.com/x"),
      ("http://a.com/q", "http://www.b.com:80/y"), // same edge as above
      ("http://a.com/p", "http://a.com/other"),    // self-loop: drop
      ("http://a.com/p", "not a url"),             // no host: drop
      ("http://b.com/p", "http://a.com/z")
    ).toDF("url", "link_url")
    val got = Graph.hostEdges(links, "url", "link_url")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(got === Set(("a.com", "b.com", 2L), ("b.com", "a.com", 1L)))
  }

  test("anchorTopK: empty anchors never rank, k bounds the group, ties " +
    "on count break anchor-ascending") {
    val links = Seq(
      ("u1", "beta"), ("u1", "beta"), ("u1", "alpha"), ("u1", "alpha"),
      ("u1", "gamma"), ("u1", ""),
      ("u2", "only")
    ).toDF("link_url", "anchor")
    val got = Graph.anchorTopK(links, "link_url", "anchor", k = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    // u1: alpha/beta tie at 2 → both kept (alpha first is an ordering
    // property, set-wise both beat gamma=1); u2: the single anchor
    assert(got === Set(("u1", "alpha", 2L), ("u1", "beta", 2L),
      ("u2", "only", 1L)))
  }

  test("pageRankMicroFrom: warm start from a k-sweep prior equals a " +
    "(k+i)-sweep cold walk on the unchanged graph; on an extended " +
    "graph new nodes default to the uniform 1e6 and the walk matches " +
    "the reference recurrence") {
    val prior = Graph.pageRankMicro(g.toDF("src", "dst"), "src", "dst",
      iterations = 3)
    val warm = Graph.pageRankMicroFrom(g.toDF("src", "dst"), "src", "dst",
      prior, iterations = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(warm === refPr(g, 5, 850000L))
    // extend: e→a gives the dangling c company and adds node e
    val g2 = g :+ (("e", "a"))
    val warm2 = Graph.pageRankMicroFrom(g2.toDF("src", "dst"),
      "src", "dst", prior, iterations = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(warm2 === refPr(g2, 2, 850000L,
      init = refPr(g, 3, 850000L)))
  }

  test("saveRanks/loadRanks round-trip; loadRanks refuses a table " +
    "without the marker") {
    val ranks = Graph.pageRankMicro(g.toDF("src", "dst"), "src", "dst",
      iterations = 2)
    dropTableFully("ranks_rt")
    Graph.saveRanks(ranks, "ranks_rt")
    val back = Graph.loadRanks(spark, "ranks_rt")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(back === ranks.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap)
    dropTableFully("not_ranks")
    Seq(("a", 1L)).toDF("node", "rank_micro")
      .write.format("parquet").saveAsTable("not_ranks")
    intercept[IllegalArgumentException] {
      Graph.loadRanks(spark, "not_ranks")
    }
  }

  test("URL-grain degrade path: saveEdges round-trips the cleaned " +
    "pairs bucketed by src, pageRankMicroBucketed matches the " +
    "broadcast walk bit-for-bit with broadcast joins DISABLED, warm " +
    "start included; loadEdges refuses unmarked tables") {
    dropTableFully("pr_edges_bkt")
    Graph.saveEdges(g.toDF("src", "dst"), "src", "dst", "pr_edges_bkt",
      buckets = 4)
    // the saved table is the cleaned distinct pairs (dups/self-loops
    // gone), bucketed on src
    val saved = spark.table("pr_edges_bkt")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(saved === Set(("a", "b"), ("a", "c"), ("b", "a"), ("d", "a")))
    val bcast = runPr(g, 5)
    val warmPrior = Graph.pageRankMicro(g.toDF("src", "dst"),
      "src", "dst", iterations = 3)
    val warmExpect = refPr(g, 5, 850000L)
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val cold = Graph.pageRankMicroBucketed(spark, "pr_edges_bkt",
        iterations = 5)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(cold === bcast)
      val warm = Graph.pageRankMicroBucketed(spark, "pr_edges_bkt",
        iterations = 2, prior = Some(warmPrior))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(warm === warmExpect)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    dropTableFully("not_edges")
    Seq(("a", "b")).toDF("src", "dst")
      .write.format("parquet").saveAsTable("not_edges")
    intercept[IllegalArgumentException] {
      Graph.loadEdges(spark, "not_edges")
    }
  }

  test("hostEdgesFromPages ≡ extractLinks + join-back + hostEdges " +
    "(the fusion changes the plan, never the rollup)") {
    val pages = Seq(
      (1L, "http://a.com/d/p.html",
        "<a href=\"http://b.com/x\">B</a><a href=\"/self\">S</a>" +
          "<a href=\"//c.com/y\">C</a>"),
      (2L, "http://b.com/q.html", "<a href=\"http://a.com/z\">A</a>")
    ).toDF("doc_id", "url", "html")
    val fused = Graph.hostEdgesFromPages(pages, "url", "html")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    val viaJoin = Graph.hostEdges(
      graft.ext.Web.extractLinks(pages, "doc_id", "url", "html")
        .join(pages.select(col("doc_id"), col("url")), Seq("doc_id")),
      "url", "link_url")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(fused === viaJoin)
    assert(fused === Set(("a.com", "b.com", 1L), ("a.com", "c.com", 1L),
      ("b.com", "a.com", 1L)))
  }

  test("pageRankMicro is partitioning-invariant: the same ranks come " +
    "out of a 1-partition and a 16-partition edge table (integer " +
    "fixed-point has no sum-order wobble)") {
    val e = g.toDF("src", "dst")
    val one = Graph.pageRankMicro(e.coalesce(1), "src", "dst", 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val many = Graph.pageRankMicro(e.repartition(16), "src", "dst", 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(one === many)
  }

  test("hostComponents: chains merge into one family, disconnected " +
    "pairs stay apart, the rep is a member, self-loops are inert") {
    val edges = Seq(
      ("x.com", "y.com"), ("y.com", "z.com"),   // chain → one component
      ("p.com", "q.com"),                       // separate pair
      ("x.com", "x.com")                        // self-loop: inert
    ).toDF("src", "dst")
    val got = Graph.hostComponents(edges, "src", "dst")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.keySet === Set("x.com", "y.com", "z.com", "p.com", "q.com"))
    // one label per family, label is a member of its own family
    assert(Set(got("x.com"), got("y.com"), got("z.com")).size === 1)
    assert(Set("x.com", "y.com", "z.com").contains(got("x.com")))
    assert(got("p.com") === got("q.com"))
    assert(Set("p.com", "q.com").contains(got("p.com")))
    assert(got("x.com") !== got("p.com"))
  }

  test("harmonicCentrality: in-balls grow along edges (star center " +
    "accumulates, sources score 0), a symmetric cycle scores " +
    "uniformly, radius is monotone, and the sketch walk is " +
    "partitioning-invariant") {
    // star: l1..l3 → hub; hub has the only non-trivial in-ball
    val star = Seq(("l1", "hub"), ("l2", "hub"), ("l3", "hub"))
      .toDF("src", "dst")
    val hs = Graph.harmonicCentrality(star, "src", "dst", maxRadius = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(hs("hub")._2 > 0.0)
    Seq("l1", "l2", "l3").foreach { l =>
      assert(hs(l)._2 === 0.0, s"source $l must score 0: ${hs(l)}")
    }
    // 3-cycle: perfect symmetry → one (est_reach, harmonic) value
    val cyc = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("src", "dst")
    val hc = Graph.harmonicCentrality(cyc, "src", "dst", maxRadius = 2)
      .collect().map(r => (r.getDouble(1), r.getDouble(2))).toSet
    assert(hc.size === 1, s"cycle must be uniform: $hc")
    // radius monotone: more sweeps never lower the truncated sum
    val g2 = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"))
      .toDF("src", "dst")
    val h1 = Graph.harmonicCentrality(g2, "src", "dst", maxRadius = 1)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val h3 = Graph.harmonicCentrality(g2, "src", "dst", maxRadius = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    h1.keys.foreach(k => assert(h3(k) >= h1(k) - 1e-9, s"$k shrank"))
    assert(h3("e") > h1("e"), "deep chain tail must gain at radius 3")
    // partitioning invariance: md5 registers + bucket-ordered sums
    val one = Graph.harmonicCentrality(g2.coalesce(1), "src", "dst", 3)
      .collect().map(r => (r.getString(0), r.getDouble(1),
        r.getDouble(2))).toSet
    val many = Graph.harmonicCentrality(g2.repartition(16), "src", "dst", 3)
      .collect().map(r => (r.getString(0), r.getDouble(1),
        r.getDouble(2))).toSet
    assert(one === many)
  }

  test("hostComponentsFrom: a warm start from yesterday's labels " +
    "equals a cold run over the full history — merging chains, a new " +
    "node bridging two old components, and an untouched component " +
    "keeping its rep; save/load round-trips with a marker") {
    val day1 = Seq(
      ("x.com", "y.com"), ("y.com", "z.com"),   // chain component
      ("p.com", "q.com"),                       // pair component
      ("s.com", "t.com")                        // untouched tomorrow
    ).toDF("src", "dst")
    val labels1 = Graph.hostComponents(day1, "src", "dst")
    dropTableFully("comp_day1")
    Graph.saveComponents(labels1, "comp_day1")
    // day 2 appends: a NEW host bridges the chain and the pair into
    // one family; s/t sees no new edges
    val delta = Seq(
      ("bridge.com", "z.com"), ("bridge.com", "p.com")
    ).toDF("src", "dst")
    val warm = Graph.hostComponentsFrom(delta, "src", "dst",
      Graph.loadComponents(spark, "comp_day1"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val cold = Graph.hostComponents(day1.unionByName(delta), "src", "dst")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(warm === cold)
    // the bridged family is one component containing all six hosts
    assert(Seq("x.com", "y.com", "z.com", "p.com", "q.com", "bridge.com")
      .map(warm).toSet.size === 1)
    assert(warm("s.com") === warm("t.com"))
    assert(warm("s.com") !== warm("x.com"))
    dropTableFully("not_comp")
    Seq(("a", "a")).toDF("host", "component_rep")
      .write.format("parquet").saveAsTable("not_comp")
    intercept[IllegalArgumentException] {
      Graph.loadComponents(spark, "not_comp")
    }
  }

  test("linkReciprocity: reciprocated out-edges count once each, " +
    "one-way links score 0, duplicates and self-loops are inert") {
    val edges = Seq(
      ("a", "b"), ("b", "a"), ("a", "c"),
      ("c", "d"), ("d", "c"), ("c", "d"), ("a", "a")
    ).toDF("src", "dst")
    val got = Graph.linkReciprocity(edges, "src", "dst")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got("a") === ((2L, 1L, 0.5)))
    assert(got("b") === ((1L, 1L, 1.0)))
    assert(got("c") === ((1L, 1L, 1.0)))
    assert(got("d") === ((1L, 1L, 1.0)))
  }

  test("sweep's damped multiply survives contrib mass past the naive " +
    "d·a Long ceiling (the split floor division is exact, so huge " +
    "authorities neither wrap nor change small-graph values — " +
    "round-18 ADVICE)") {
    // one authority concentrating 9e15 micro: the naive
    // 850000 · contrib product is 7.65e21 — a wrapped Long — while the
    // split d·(a DIV M) + (d·(a mod M)) DIV M peaks at ~7.65e15
    val big = 9000000000000000L
    val e = Seq(("a", "b")).toDF("src", "dst").localCheckpoint()
    val r = Seq(("a", 1L, big), ("b", 0L, 0L))
      .toDF("node", "outdeg", "r").localCheckpoint()
    val got = graft.ext.Graph.sweep(r, e, 2L, 850000L).collect()
      .map(x => x.getString(0) -> x.getLong(2)).toMap
    val M = BigInt(1000000)
    val expectB =
      (BigInt(150000) + (BigInt(850000) * BigInt(big)) / M).toLong
    assert(got("b") === expectB)
    assert(got("b") > 0L, s"damped product wrapped: ${got("b")}")
    assert(got("a") === 150000L) // no in-links, no dangling mass
  }

  test("loadRanks refuses a '1'-marked table from the retired " +
    "total-mass scale (its values are ~N× below the per-node scale)") {
    dropTableFully("old_scale_ranks")
    Seq(("a", 1L)).toDF("node", "rank_micro")
      .write.format("parquet").saveAsTable("old_scale_ranks")
    spark.sql(
      "ALTER TABLE old_scale_ranks SET TBLPROPERTIES ('graft.ranks'='1')")
    val err = intercept[IllegalArgumentException] {
      Graph.loadRanks(spark, "old_scale_ranks")
    }
    assert(err.getMessage.contains("total-mass"), err.getMessage)
  }

  test("harmonicCentralityBucketed matches the broadcast walk " +
    "bit-for-bit with broadcast joins DISABLED (the URL-grain " +
    "degrade keeps every register and float)") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"),
      ("d", "a")).toDF("src", "dst")
    val bcast = Graph.harmonicCentrality(edges, "src", "dst", maxRadius = 3)
      .collect().map(r => (r.getString(0), r.getDouble(1),
        r.getDouble(2))).toSet
    dropTableFully("hb_edges_bkt")
    Graph.saveEdges(edges, "src", "dst", "hb_edges_bkt", buckets = 4)
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val got = Graph.harmonicCentralityBucketed(spark, "hb_edges_bkt",
        maxRadius = 3)
        .collect().map(r => (r.getString(0), r.getDouble(1),
          r.getDouble(2))).toSet
      assert(got === bcast)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
  }

  test("harmonicBallsFrom: the delta-gated warm walk equals a cold " +
    "walk over the full history register for register; " +
    "harmonicFromBalls reads the same scores as harmonicCentrality; " +
    "saveBalls round-trips with a marker; a shallow prior is refused") {
    val day1 = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("s", "t"))
      .toDF("src", "dst")
    // delta extends the cycle through a NEW node d, adds an old↔old
    // edge, and touches the s/t island with a new source
    val delta = Seq(("c", "d"), ("d", "a"), ("x", "s"), ("a", "c"))
      .toDF("src", "dst")
    val full = day1.unionByName(delta)
    val prior = Graph.harmonicBalls(day1, "src", "dst", maxRadius = 3)
    dropTableFully("hb_state")
    Graph.saveBalls(prior, "hb_state")
    val warm = Graph.harmonicBallsFrom(Graph.loadBalls(spark, "hb_state"),
      day1, delta, "src", "dst", maxRadius = 3)
    val cold = Graph.harmonicBalls(full, "src", "dst", maxRadius = 3)
    def regs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getInt(1)) ->
        r.getAs[Array[Byte]](2).toSeq).toMap
    assert(regs(warm) === regs(cold))
    // read-out ≡ the in-walk accumulation, float for float
    val viaState = Graph.harmonicFromBalls(warm, maxRadius = 3)
      .collect().map(r => (r.getString(0), r.getDouble(1),
        r.getDouble(2))).toSet
    val direct = Graph.harmonicCentrality(full, "src", "dst",
      maxRadius = 3)
      .collect().map(r => (r.getString(0), r.getDouble(1),
        r.getDouble(2))).toSet
    assert(viaState === direct)
    dropTableFully("not_balls")
    Seq(("a", 0, Array[Byte](1))).toDF("node", "r", "ball")
      .write.format("parquet").saveAsTable("not_balls")
    intercept[IllegalArgumentException] {
      Graph.loadBalls(spark, "not_balls")
    }
    val shallow = Graph.harmonicBalls(day1, "src", "dst", maxRadius = 1)
    val err = intercept[IllegalArgumentException] {
      Graph.harmonicBallsFrom(shallow, day1, delta, "src", "dst",
        maxRadius = 3)
    }
    assert(err.getMessage.contains("radius"), err.getMessage)
    // an EMPTY prior (first cycle, no history) degrades to the cold
    // walk instead of refusing — the library-wide empty-input contract
    assert(regs(Graph.harmonicBallsFrom(prior.filter(lit(false)),
      day1, delta, "src", "dst", maxRadius = 3)) === regs(cold))
  }

  test("harmonicBallsFrom at a few hundred nodes: warm ≡ cold across " +
    "many partitions (the gating must hold when changed sets, prior " +
    "levels, and edges land on different executors — a tiny graph " +
    "cannot catch a partition-dependent gating bug)") {
    // 311-node ring (step 1 + step 7 chord on every 3rd node): long
    // chains, irregular out-degree, diameter well past maxRadius
    val n = 311
    val day1 = (0 until n).flatMap { i =>
      Seq((s"n$i", s"n${(i + 1) % n}")) ++
        (if (i % 3 == 0) Seq((s"n$i", s"n${(i + 7) % n}")) else Nil)
    }.toDF("src", "dst").repartition(16)
    // delta: a handful of long-range edges + 3 brand-new nodes
    val delta = (Seq((s"n5", s"n200"), (s"n100", s"n10"),
      ("new1", "n50"), ("n60", "new2"), ("new3", "new1")))
      .toDF("src", "dst").repartition(4)
    val prior = Graph.harmonicBalls(day1, "src", "dst", maxRadius = 3)
    val warm = Graph.harmonicBallsFrom(prior, day1, delta,
      "src", "dst", maxRadius = 3)
    val cold = Graph.harmonicBalls(day1.unionByName(delta),
      "src", "dst", maxRadius = 3)
    def regs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getInt(1)) ->
        r.getAs[Array[Byte]](2).toSeq).toMap
    assert(regs(warm) === regs(cold))
  }

  test("harmonicBallsBucketed: the degraded STATE walk matches the " +
    "broadcast walk register for register with broadcast joins " +
    "DISABLED (the round-19 scale wall, closed for the persistence " +
    "path)") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"),
      ("d", "a")).toDF("src", "dst")
    def regs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getInt(1)) ->
        r.getAs[Array[Byte]](2).toSeq).toMap
    val bcast = regs(Graph.harmonicBalls(edges, "src", "dst",
      maxRadius = 3))
    dropTableFully("hbs_edges_bkt")
    Graph.saveEdges(edges, "src", "dst", "hbs_edges_bkt", buckets = 4)
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val got = regs(Graph.harmonicBallsBucketed(spark, "hbs_edges_bkt",
        maxRadius = 3))
      assert(got === bcast)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
  }

  test("harmonicBallsFromBucketed: the degraded WARM resume over " +
    "persisted ball/edge tables equals a cold full-history walk " +
    "register for register with broadcast joins DISABLED — including " +
    "a delta that re-observes persisted edges (idempotent unions)") {
    val n = 97
    val day1 = (0 until n).flatMap { i =>
      Seq((s"n$i", s"n${(i + 1) % n}")) ++
        (if (i % 3 == 0) Seq((s"n$i", s"n${(i + 7) % n}")) else Nil)
    }.toDF("src", "dst").repartition(8)
    // delta: long-range rewires, two brand-new nodes, and one edge
    // day 1 already observed (n0 → n1) — the bucketed variant skips
    // the corpus-shuffling dedup, so the duplicate must be harmless
    val delta = Seq(("n5", "n60"), ("new1", "n50"), ("n60", "new2"),
      ("n0", "n1")).toDF("src", "dst")
    dropTableFully("hbw_edges_bkt"); dropTableFully("hbw_balls_bkt")
    Graph.saveEdges(day1, "src", "dst", "hbw_edges_bkt", buckets = 4)
    def regs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getInt(1)) ->
        r.getAs[Array[Byte]](2).toSeq).toMap
    val cold = regs(Graph.harmonicBalls(day1.unionByName(delta),
      "src", "dst", maxRadius = 3))
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Graph.saveBalls(Graph.harmonicBallsBucketed(spark, "hbw_edges_bkt",
        maxRadius = 3), "hbw_balls_bkt")
      val warm = regs(Graph.harmonicBallsFromBucketed(spark,
        "hbw_balls_bkt", "hbw_edges_bkt", delta, "src", "dst",
        maxRadius = 3))
      assert(warm === cold)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
  }

  /** One persisted-state family: a sample state saved by `save` and
    * reopened by `load` (tables and restored parameters), the `what`
    * its refusals name, and the marker key of a versioned family.
    * Two-table families store the second table under `<name>_b`. */
  private case class Family(what: String, tables: String => Seq[String],
                            save: String => Unit,
                            load: String => (Seq[DataFrame], Seq[Int]),
                            params: Seq[Int], samples: Seq[DataFrame],
                            versioned: Option[String] = None)

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case x => x
    }).toSet

  private lazy val families: Seq[Family] = {
    import graft.ext.{Clustering, Dedup, Multimodal, QualityModel,
      Similarity, Web}
    val one = (t: String) => Seq(t)
    val two = (t: String) => Seq(t, s"${t}_b")
    val ivfA = Seq((0L, 1L, Seq(1.0, 0.0), 1.0))
      .toDF("cell", "c_id", "c", "c_norm")
    val ivfC = Seq((0L, Seq(1.0, 0.0), 1.0)).toDF("cell", "cv", "cv_norm")
    val pqCodes = Seq((0, 2, 1L), (1, 0, 1L)).toDF("s", "code", "c_id")
    val pqCb = Seq((0, 2, Seq(0.5, 0.5))).toDF("s", "j", "cbv")
    val bands = Seq((7L, 1L)).toDF("band_key", "ex_id")
    val enc = Seq((1L, 4)).toDF("ex_id", "se")
    val sel = Seq((1L, 99L)).toDF("ex_id", "h")
    val cent = Seq((0L, Seq(1.0, 0.0))).toDF("cell", "cv")
    val clusters = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "cluster_id")
    val dsir = Seq((0L, 0.25)).toDF("bucket", "__lr")
    val qm = Seq((3L, -0.5)).toDF("bucket", "w")
    val urls = Seq("http://a.com/x").toDF("url_canon")
    val urlMods = Seq(("http://a.com/x", 5L)).toDF("url_canon", "last_seen_mod")
    val blocked = Seq((1L, 42L, 9L)).toDF("ex_id", "fp_ex", "bk")
    val edges = Seq(("a", "b")).toDF("src", "dst")
    val ranks = Seq(("a", 1000000L)).toDF("node", "rank_micro")
    val balls = Seq(("a", 1, Array[Byte](1, 2))).toDF("node", "r", "ball")
    val comps = Seq(("a.com", "a.com")).toDF("host", "component_rep")
    val hosts = Seq(("a.com", 1.5)).toDF("host", "next_eta_sec")
    Seq(
      Family("IVF index", two,
        t => Similarity.saveIvfIndex(
          Similarity.IvfIndex(ivfA, ivfC, 2, 3), t, s"${t}_b", buckets = 2),
        t => { val i = Similarity.loadIvfIndex(spark, t, s"${t}_b")
          (Seq(i.assigned, i.cent), Seq(i.dim, i.nlist)) },
        Seq(2, 3), Seq(ivfA, ivfC)),
      Family("PQ index", two,
        t => Similarity.savePqIndex(
          Similarity.PqIndex(pqCodes, pqCb, 4, 2, 3), t, s"${t}_b",
          buckets = 2),
        t => { val i = Similarity.loadPqIndex(spark, t, s"${t}_b")
          (Seq(i.codes, i.codebook), Seq(i.dim, i.m, i.k)) },
        Seq(4, 2, 3), Seq(pqCodes, pqCb)),
      Family("LSH index", two,
        t => Dedup.saveLshIndex(Dedup.LshIndex(bands, enc, 2, 3, 1),
          t, s"${t}_b", buckets = 2),
        t => { val i = Dedup.loadLshIndex(spark, t, s"${t}_b")
          (Seq(i.bands, i.enc), Seq(i.n, i.k, i.bandRows)) },
        Seq(2, 3, 1), Seq(bands, enc)),
      Family("winnow index", one,
        t => Dedup.saveWinnowIndex(Dedup.WinnowIndex(sel, 5, 4, 9), t,
          buckets = 2),
        t => { val i = Dedup.loadWinnowIndex(spark, t)
          (Seq(i.sel), Seq(i.k, i.w, i.dfCap)) },
        Seq(5, 4, 9), Seq(sel)),
      Family("k-means codebook", one,
        t => Clustering.saveCentroids(cent, t),
        t => (Seq(Clustering.loadCentroids(spark, t)), Nil),
        Nil, Seq(cent)),
      Family("cluster", one,
        t => Dedup.saveClusters(clusters, t, buckets = 2),
        t => (Seq(Dedup.loadClusters(spark, t)), Nil),
        Nil, Seq(clusters)),
      Family("DSIR model", one,
        t => QualityModel.saveDsirModel(dsir, t, dim = 8),
        t => { val (m, d) = QualityModel.loadDsirModel(spark, t)
          (Seq(m), Seq(d)) },
        Seq(8), Seq(dsir)),
      Family("quality-model", one,
        t => QualityModel.saveQualityModel(qm, t, dim = 16),
        t => { val (m, d) = QualityModel.loadQualityModel(spark, t)
          (Seq(m), Seq(d)) },
        Seq(16), Seq(qm)),
      Family("URL index", one,
        t => Web.saveUrlIndex(Web.UrlIndex(urls), t, buckets = 2),
        t => (Seq(Web.loadUrlIndex(spark, t).urls), Nil),
        Nil, Seq(urls)),
      Family("URL freshness-index", one,
        t => Web.saveUrlModIndex(Web.UrlModIndex(urlMods), t, buckets = 2),
        t => (Seq(Web.loadUrlModIndex(spark, t).urls), Nil),
        Nil, Seq(urlMods)),
      Family("media fingerprint index", one,
        t => Multimodal.saveFpIndex(Multimodal.MediaFpIndex(blocked, 3), t,
          buckets = 2),
        t => { val i = Multimodal.loadFpIndex(spark, t)
          (Seq(i.blocked), Seq(i.maskBlocks)) },
        Seq(3), Seq(blocked)),
      Family("edge", one,
        t => Graph.saveEdges(edges, "src", "dst", t, buckets = 2),
        t => (Seq(Graph.loadEdges(spark, t)), Nil),
        Nil, Seq(edges), Some("graft.edges")),
      Family("rank", one,
        t => Graph.saveRanks(ranks, t, buckets = 2),
        t => (Seq(Graph.loadRanks(spark, t)), Nil),
        Nil, Seq(ranks), Some("graft.ranks")),
      Family("HyperBall state", one,
        t => Graph.saveBalls(balls, t, buckets = 2),
        t => (Seq(Graph.loadBalls(spark, t)), Nil),
        Nil, Seq(balls), Some("graft.balls")),
      Family("component", one,
        t => Graph.saveComponents(comps, t, buckets = 2),
        t => (Seq(Graph.loadComponents(spark, t)), Nil),
        Nil, Seq(comps), Some("graft.components")),
      Family("politeness-state", one,
        t => Web.saveHostState(hosts, t, buckets = 2),
        t => (Seq(Web.loadHostState(spark, t)), Nil),
        Nil, Seq(hosts), Some("graft.hoststate")))
  }

  private def assertRoundTrip(f: Family, t: String): Unit = {
    val (loaded, params) = f.load(t)
    assert(params === f.params, f.what)
    assert(loaded.map(rows) === f.samples.map(rows), f.what)
  }

  test("all 16 state families: round trip, plain and stale refusal") {
    assert(families.size === 16)
    families.zipWithIndex.foreach { case (f, i) =>
      val t = s"fam_$i"
      f.tables(t).foreach(dropTableFully)
      f.save(t)
      assertRoundTrip(f, t)
      // a plain table (no graft properties) is refused, naming the family
      f.tables(t).foreach(dropTableFully)
      Seq((1L, "x")).toDF("id", "v").write.format("parquet").saveAsTable(t)
      val plain = intercept[IllegalArgumentException](f.load(t))
      assert(plain.getMessage.contains(s"not a graft ${f.what} table"),
        plain.getMessage)
      // the rank-table incident generalized: a format change must
      // refuse old tables, not silently read them
      f.versioned.foreach { key =>
        spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('$key'='0')")
        val stale = intercept[IllegalArgumentException](f.load(t))
        assert(stale.getMessage.contains("version '"), stale.getMessage)
      }
      dropTableFully(t)
    }
  }

  test("every state family saves over an orphaned warehouse directory " +
    "(one left behind when the catalog forgot the table)") {
    val warehouse = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath)
    families.zipWithIndex.foreach { case (f, i) =>
      val t = s"orphan_$i"
      f.tables(t).foreach { name =>
        dropTableFully(name)
        spark.range(1).write.parquet(new java.io.File(warehouse, name).toString)
        assert(!spark.catalog.tableExists(name))
      }
      f.save(t)
      assertRoundTrip(f, t)
      f.tables(t).foreach(dropTableFully)
    }
  }

  test("saving a state back over the table it was loaded from is " +
    "refused and leaves the table readable") {
    dropTableFully("self_ranks")
    Graph.saveRanks(Seq(("a", 7L)).toDF("node", "rank_micro"), "self_ranks")
    intercept[org.apache.spark.sql.AnalysisException] {
      Graph.saveRanks(Graph.loadRanks(spark, "self_ranks"), "self_ranks")
    }
    assert(Graph.loadRanks(spark, "self_ranks").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq === Seq("a" -> 7L))
    dropTableFully("self_ranks")
  }

  test("rankFrontier: rank joins by canonical host; hosts the rank " +
    "table never saw ride along at 0") {
    val gated = Seq(
      ("http://a.com/x", true),
      ("http://unknown.com/y", true)
    ).toDF("url_canon", "fetch")
    val ranks = Seq(("a.com", 777L)).toDF("node", "rank_micro")
    val got = Graph.rankFrontier(gated, ranks)
      .select(col("url_canon"), col("rank_micro"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === Set(("http://a.com/x", 777L),
      ("http://unknown.com/y", 0L)))
  }
}
