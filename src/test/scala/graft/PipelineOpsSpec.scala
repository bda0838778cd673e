package graft

import org.apache.spark.sql.functions._

import graft.operators.FuzzyJoin
import graft.text.TrainingMix

/** Round-3 training-set assembly + data-quality operators. */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("quality calibration: deciles tile the corpus and dup totals match the pair-incident node set") {
    val rows = graft.queries.PipelineQueries.q_quality_calibration(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getAs[Double]("dup_rate")))
    assert(rows.map(_._1).toSeq == (1 to 10))
    val corpus = graft.io.Tables.table(spark, sf, "documents").count()
    assert(rows.map(_._2).sum == corpus)
    val dupNodes = graft.queries.DedupStage.components(spark, sf)
      .select("node").distinct().count()
    assert(rows.map(_._3).sum == dupNodes)
    rows.foreach { case (_, nd, ndup, rate) =>
      assert(ndup <= nd && math.abs(rate - ndup.toDouble / nd) < 1e-6)
    }
  }

  test("contrastive triplets: positives share a dedup cluster, negatives never do, and the draw replays") {
    val cluster = graft.io.Tables.table(spark, sf, "documents").select("doc_id")
      .join(graft.queries.DedupStage.components(spark, sf)
        .select(col("node").as("doc_id"), col("label")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nDocs = cluster.size
    val got = graft.queries.PipelineQueries.q_contrastive(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    got.foreach { case (a, p, n) =>
      assert(cluster(a) == cluster(p) && a < p, (a, p))
      assert(cluster(n) != cluster(a), (a, p, n))
      // first-survivor replay of the hash draw
      val expected = (1 to 8).iterator
        .map(d => Math.floorMod(a * 2654435761L + p * 40503L + d * 1000003L, nDocs.toLong))
        .find(c => cluster(c) != cluster(a))
      assert(expected.contains(n), (a, p, n, expected))
    }
  }

  // ---- FuzzyJoin ---------------------------------------------------

  test("fuzzy join finds exactly the brute-force distance<=1 pairs") {
    val names = Seq(
      (1L, "alpha"), (2L, "alphb"),   // substitution
      (3L, "alph"),                   // deletion of 1/2
      (4L, "alphax"),                 // insertion on 1
      (5L, "beta"), (6L, "betA"),     // substitution
      (7L, "gamma"), (8L, "delta"),   // unrelated
      (9L, "ba"), (10L, "ab"),        // distance 2 (swap) — excluded
    ).toDF("id", "name")
    val got = FuzzyJoin.selfJoinDist1(names, "id", "name")
      .select("a_id", "b_id", "dist")
      .orderBy("a_id", "b_id")
    val brute = names.as("x").join(names.as("y"), $"x.id" < $"y.id")
      .select($"x.id".as("a_id"), $"y.id".as("b_id"),
        levenshtein($"x.name", $"y.name").cast("int").as("dist"))
      .where($"dist" <= 1)
      .orderBy("a_id", "b_id")
    assert(rowsOf(got) == rowsOf(brute))
    assert(rowsOf(got).nonEmpty)
  }

  test("fuzzy join: explicit verify width is bit-equal and governs the pair partitioning") {
    // round-13: verify parallelism by row count, not bytes — the
    // explicit repartition must not change results, and its width
    // must survive into the verify stage (AQE cannot coalesce a
    // REPARTITION_BY_NUM exchange)
    val names = Seq((1L, "alpha"), (2L, "alphb"), (3L, "alph"),
      (4L, "alphax"), (5L, "beta"), (6L, "betA")).toDF("id", "name")
    val blocked = FuzzyJoin.deletionIndex(names, "id", "name")
    val side = names.select($"id".as("bid"), $"name".as("bstr"))
    val default = FuzzyJoin.selfJoinDist1FromIndex(blocked, side)
      .orderBy("a_id", "b_id")
    val widened = FuzzyJoin.selfJoinDist1FromIndex(blocked, side,
      verifyPartitions = Some(3))
    assert(rowsOf(widened.orderBy("a_id", "b_id")) == rowsOf(default))
    assert(widened.queryExecution.executedPlan.toString
      .contains("REPARTITION_BY_NUM"))
    // sizing helper: data-derived, clamped at both ends
    assert(FuzzyJoin.verifyPartitionsFor(spark, 1L) == 1)
    assert(FuzzyJoin.verifyPartitionsFor(spark,
      FuzzyJoin.VerifyRowsPerTask * 5) == 5)
    val cap = 16 * spark.sparkContext.defaultParallelism
    assert(FuzzyJoin.verifyPartitionsFor(spark, Long.MaxValue / 4) == cap)
  }

  test("fuzzy join candidate join is an equi-join, not a cross product") {
    val names = Seq((1L, "alpha"), (2L, "alphb")).toDF("id", "name")
    val plan = FuzzyJoin.selfJoinDist1(names, "id", "name")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("fuzzy join on sf0.001 customers matches brute force") {
    val c = graft.io.Tables.table(spark, sf, "customer")
    val got = FuzzyJoin.selfJoinDist1(c, "c_custkey", "c_name")
      .select("a_id", "b_id", "dist").orderBy("a_id", "b_id")
    val brute = c.select($"c_custkey".as("xid"), $"c_name".as("xn"))
      .join(c.select($"c_custkey".as("yid"), $"c_name".as("yn")),
        $"xid" < $"yid")
      .select($"xid".as("a_id"), $"yid".as("b_id"),
        levenshtein($"xn", $"yn").cast("int").as("dist"))
      .where($"dist" <= 1).orderBy("a_id", "b_id")
    assert(rowsOf(got) == rowsOf(brute))
    assert(rowsOf(got).nonEmpty) // ids one digit apart exist
  }

  // ---- TrainingMix -------------------------------------------------

  test("packSequences bins respect the budget up to one-doc overflow") {
    val docs = graft.io.Tables.table(spark, sf, "documents")
    val packed = TrainingMix.packSequences(docs, 512)
    // every doc assigned exactly once
    assert(packed.count() == docs.count())
    // bin totals: a bin exceeds the budget only via its LAST doc
    // (exclusive-prefix binning ⇒ sum minus final doc < budget)
    val over = packed.groupBy("shard", "bin")
      .agg(sum("n_tokens").as("tot"), max("pos").as("n_docs"),
        max(struct(col("pos"), col("n_tokens"))).as("last"))
      .where(col("tot") - col("last.n_tokens") >= 512)
    assert(over.isEmpty)
    // positions are 1..n_docs dense per bin
    val posCheck = packed.groupBy("shard", "bin")
      .agg(count(lit(1)).as("n"), max("pos").as("mx"), min("pos").as("mn"))
      .where(col("mx") =!= col("n") || col("mn") =!= 1)
    assert(posCheck.isEmpty)
  }

  test("packSequences scales the shard fan-out without touching bin math") {
    val docs = graft.io.Tables.table(spark, sf, "documents")
    val wide = TrainingMix.packSequences(docs, 512, shardNibbles = 2)
    assert(wide.count() == docs.count())
    assert(wide.select("shard").distinct().count() > 16)
    // same budget invariant at 256 shards
    val over = wide.groupBy("shard", "bin")
      .agg(sum("n_tokens").as("tot"),
        max(struct(col("pos"), col("n_tokens"))).as("last"))
      .where(col("tot") - col("last.n_tokens") >= 512)
    assert(over.isEmpty)
  }

  test("packSequences is invariant to input partitioning") {
    val docs = graft.io.Tables.table(spark, sf, "documents")
    val a = TrainingMix.packSequences(docs, 512).orderBy("doc_id")
    val b = TrainingMix.packSequences(docs.repartition(7), 512).orderBy("doc_id")
    assert(rowsOf(a) == rowsOf(b))
  }

  test("upsample repeats per language tier with dense copy indexes") {
    val docs = graft.io.Tables.table(spark, sf, "documents")
    val up = TrainingMix.upsample(docs)
    val perDoc = up.groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n"), max("copy_idx").as("mx"))
    val bad = perDoc.where(
      (col("lang") === "en" && col("n") =!= 3) ||
        (col("lang").isin("de", "fr") && col("n") =!= 2) ||
        (!col("lang").isin("en", "de", "fr") && col("n") =!= 1) ||
        col("mx") =!= col("n"))
    assert(bad.isEmpty)
  }

  // ---- VectorOps.project ------------------------------------------

  test("random projection matches a manual dot product") {
    val planes = graft.vector.VectorOps.hyperplanes(99L, 2, 3)
    val v = Seq((1L, Array(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding")
    val got = graft.vector.VectorOps.project(v, planes).collect()(0)
    def dot(p: Seq[Double], x: Seq[Double]): Double =
      p.zip(x).foldLeft(0.0) { case (acc, (a, b)) => acc + a * b }
    val exp0 = BigDecimal(dot(planes(0), Seq(1.0, 2.0, 3.0)))
      .setScale(10, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.getDouble(1) == exp0)
  }

  test("sorted-neighborhood candidates are exactly the rank-gap<=w pairs") {
    import graft.operators.SortedNeighborhood
    val df = Seq("e", "a", "c", "b", "d", "f").zipWithIndex
      .map { case (s, i) => (s, i.toLong) }.toDF("name", "id")
    val cand = SortedNeighborhood.candidatePairs(df, Seq($"name", $"id"), 2)
      .select("a_name", "b_name").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val expect = Set(("a", "b"), ("a", "c"), ("b", "c"), ("b", "d"),
      ("c", "d"), ("c", "e"), ("d", "e"), ("d", "f"), ("e", "f"))
    assert(cand == expect)
    // the skew-proof property: identical values can't blow candidate
    // volume — it is EXACTLY n·w − w(w+1)/2 no matter the distribution
    val dup = Seq.fill(40)("same").zipWithIndex
      .map { case (s, i) => (s, i.toLong) }.toDF("name", "id")
    val c2 = SortedNeighborhood.candidatePairs(dup, Seq($"name", $"id"), 3)
    assert(c2.count() === 40L * 3 - 3 * 4 / 2)
  }

  // ---- PageRank ----------------------------------------------------

  test("integer pagerank matches a hand-computed iteration on a path graph") {
    // undirected path a—b—c: degrees 1, 2, 1
    val und = Seq(("a", "b"), ("b", "c")).toDF("x", "y")
    val edges = und.select($"x".as("src"), $"y".as("dst"))
      .unionByName(und.select($"y".as("src"), $"x".as("dst")))
    val m1 = graft.operators.PageRank.integerPageRank(edges, iters = 1)
      .orderBy("node")
    // sent: a→b 1e6, b→{a,c} 5e5 each, c→b 1e6
    // new = 150000 + (85·inc) div 100
    assertSameRows(m1.select("node", "degree", "mass"), Seq(
      Seq("a", 1L, 575000L),
      Seq("b", 2L, 1850000L),
      Seq("c", 1L, 575000L)))
  }

  test("warm-start pagerank is exact continuation: 5 rounds + 2 seeded = 7") {
    // power iteration is memoryless (m_{k+1} = f(m_k)), so on an
    // UNCHANGED graph, seeding 2 rounds from the 5-round state must
    // be bit-identical to 7 cold rounds — the identity that makes
    // warm-start after a graph delta principled rather than ad hoc
    val und = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("b", "d"))
      .toDF("x", "y")
    val edges = und.select($"x".as("src"), $"y".as("dst"))
      .unionByName(und.select($"y".as("src"), $"x".as("dst")))
      .localCheckpoint(true)
    val deg = edges.groupBy($"src".as("node"))
      .agg(count(lit(1)).as("degree")).localCheckpoint(true)
    import graft.operators.PageRank
    val m5 = PageRank.integerPageRankOver(edges, deg, 5)
    val warm = PageRank.integerPageRankOver(edges, deg, 2,
      init = Some(m5.select($"node", $"mass"))).orderBy("node")
    val cold = PageRank.integerPageRankOver(edges, deg, 7).orderBy("node")
    assert(rowsOf(warm) == rowsOf(cold))
    // a node absent from the seed starts uniform: seed only node "a"
    val partial = PageRank.integerPageRankOver(edges, deg, 1,
      init = Some(Seq(("a", 42L)).toDF("node", "mass")))
    val uniform1 = PageRank.integerPageRankOver(edges, deg, 1)
    // hand-computed round 1: a (degree 1) sends 42 div 1 = 42 to its
    // only neighbor b; every unseeded node sends its uniform share
    // (b: 1000000 div 3 = 333333, c/d: 500000). So
    //   a: 150000 + 85·333333 div 100                    = 433333
    //   b: 150000 + 85·(42 + 500000 + 500000) div 100    = 1000035
    //   c: 150000 + 85·(333333 + 500000) div 100         = 858333
    //   d: same inputs as c                              = 858333
    assertSameRows(
      partial.orderBy("node").select("node", "degree", "mass"), Seq(
        Seq("a", 1L, 433333L), Seq("b", 3L, 1000035L),
        Seq("c", 2L, 858333L), Seq("d", 2L, 858333L)))
    // vs uniform, the ONLY divergence is b — the sole node fed by the
    // seeded a; everyone else's round-1 inputs came from unseeded
    // (uniform-started) neighbors
    val diff = partial.as("p").join(uniform1.as("u"), "node")
      .where($"p.mass" =!= $"u.mass").select("node")
    assert(rowsOf(diff) == Seq(Seq("b")))
  }

  test("degree-carrying edges: join-free rounds bit-equal to the join shape, incl. no-incoming nodes") {
    // the round-12 fast path (edgesCarryDstDegree) aggregates straight
    // to (node, degree, mass) grouped by (dst, dst_degree) and unions
    // the static n_in = 0 node set at mass = teleport, instead of
    // left-joining the degree table each round. Pin bit-equality on a
    // DIRECTED graph with a genuine no-incoming node (c below never
    // appears as dst — the union branch is exercised, which the
    // undirected production incidences never do), both cold and
    // warm-started.
    import graft.operators.PageRank
    val e = Seq(("a", "b"), ("b", "a"), ("c", "a"), ("c", "b"))
      .toDF("src", "dst").localCheckpoint(true)
    val deg = e.groupBy($"src".as("node"))
      .agg(count(lit(1)).as("degree")).localCheckpoint(true)
    val degIn = deg.join(
        e.groupBy($"dst".as("node")).agg(count(lit(1)).as("n_in")),
        Seq("node"), "left")
      .select($"node", $"degree", coalesce($"n_in", lit(0L)).as("n_in"))
      .localCheckpoint(true)
    val eDeg = e.join(
        deg.select($"node".as("dst"), $"degree".as("dst_degree")), "dst")
      .select($"src", $"dst", $"dst_degree").localCheckpoint(true)
    for (iters <- Seq(1, 3)) {
      val joinShape = PageRank.integerPageRankOver(e, deg, iters).orderBy("node")
      val fast = PageRank.integerPageRankOver(eDeg, degIn, iters,
        edgesCarryDstDegree = true).orderBy("node")
      assert(rowsOf(fast) == rowsOf(joinShape), s"iters=$iters")
    }
    val seed = Seq(("a", 42L)).toDF("node", "mass")
    val warmJoin = PageRank.integerPageRankOver(e, deg, 2,
      init = Some(seed)).orderBy("node")
    val warmFast = PageRank.integerPageRankOver(eDeg, degIn, 2,
      init = Some(seed), edgesCarryDstDegree = true).orderBy("node")
    assert(rowsOf(warmFast) == rowsOf(warmJoin))
    // c never receives: its mass is exactly teleport from round 1 on
    assert(rowsOf(warmFast.where($"node" === "c").select($"mass"))
      == Seq(Seq(150000L)))
  }

  test("integer pagerank is invariant to partitioning and edge order") {
    val li = graft.io.Tables.table(spark, sf, "lineitem")
      .select(concat(lit("p:"), $"l_partkey").as("p"),
        concat(lit("s:"), $"l_suppkey").as("s")).distinct()
    val e = li.select($"p".as("src"), $"s".as("dst"))
      .unionByName(li.select($"s".as("src"), $"p".as("dst")))
    val a = graft.operators.PageRank.integerPageRank(e, 3).orderBy("node")
    val b = graft.operators.PageRank
      .integerPageRank(e.repartition(11).orderBy($"dst"), 3).orderBy("node")
    assert(rowsOf(a) == rowsOf(b))
  }

  test("co-partitioned pagerank: bit-equal to broadcast layout, no broadcast in the loop") {
    val li = graft.io.Tables.table(spark, sf, "lineitem")
      .select(concat(lit("p:"), $"l_partkey").as("p"),
        concat(lit("s:"), $"l_suppkey").as("s")).distinct()
    val e = li.select($"p".as("src"), $"s".as("dst"))
      .unionByName(li.select($"s".as("src"), $"p".as("dst")))
    val viaBroadcast = graft.operators.PageRank
      .integerPageRank(e, 3).orderBy("node")
    // forbid broadcast joins entirely for the co-partitioned run:
    // with no hint, AQE would still pick broadcast at test scale and
    // mask the layout under test
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val coPart = graft.operators.PageRank
        .integerPageRank(e, 3, broadcastState = false)
      // integer masses: layouts must agree on every bit
      assert(rowsOf(coPart.orderBy("node")) == rowsOf(viaBroadcast))
      // the edge side pre-positions once; the state join keeps the
      // loop free of any BroadcastExchange
      val plan = coPart.queryExecution.executedPlan.toString()
      assert(!plan.contains("BroadcastExchange"), plan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    }
  }

  test("pagerank and components free their intermediate checkpoint blocks") {
    import scala.jdk.CollectionConverters._
    val und = Seq(("a", "b"), ("b", "c"), ("d", "e")).toDF("x", "y")
    val edges = und.select($"x".as("src"), $"y".as("dst"))
      .unionByName(und.select($"y".as("src"), $"x".as("dst")))
    def persisted: Int = spark.sparkContext.getPersistentRDDs.size
    val before = persisted
    graft.operators.PageRank.integerPageRank(edges, iters = 4).collect()
    // only the returned frame's own checkpoint may remain (spent
    // per-round states, the edge list and the degree table are freed)
    assert(persisted - before <= 1, s"pagerank leaked: $before -> $persisted")
    val base = persisted
    graft.operators.Components
      .connectedComponents(und.select($"x".as("a"), $"y".as("b"))).collect()
    assert(persisted - base <= 1, s"components leaked: $base -> $persisted")
  }

  test("retire-managed query checkpoints reach a steady state across invocations") {
    import graft.operators.CheckpointBlocks
    def persisted: Int = spark.sparkContext.getPersistentRDDs.size
    // q_tfidf embeds one scope-freed checkpoint: each invocation runs
    // in its own scope, which frees it on close. Without the scope
    // this grows +1 per invocation; the loose +2 bound only absorbs
    // other suites' concurrent persists (the SparkContext is shared),
    // never a real per-invocation leak.
    CheckpointBlocks.scoped(graft.queries.AdvancedQueries.q_tfidf(spark, sf).collect())
    val after1 = persisted
    (1 to 3).foreach(_ => CheckpointBlocks.scoped(
      graft.queries.AdvancedQueries.q_tfidf(spark, sf).collect()))
    val after4 = persisted
    assert(after4 - after1 <= 2, s"scoped checkpoints leaked: $after1 -> $after4")
  }

  test("q_tfidf built twice over one dir: the first plan still executes") {
    val first = graft.queries.AdvancedQueries.q_tfidf(spark, sf)
    val second = graft.queries.AdvancedQueries.q_tfidf(spark, sf)
    val a = rowsOf(first)
    assert(a.nonEmpty)
    assert(a == rowsOf(second))
  }

  test("retire: operator sites are keyed by their input, so two built frames both execute") {
    import graft.operators.CheckpointBlocks
    import graft.text.TextOps
    val docsA = Seq((0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy cat"),
      (2L, "completely different words appear here today")).toDF("doc_id", "text")
    val docsB = Seq((10L, "lorem ipsum dolor sit amet consectetur adipiscing"),
      (11L, "lorem ipsum dolor sit amet consectetur elit")).toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("a", "b").as[(Long, Long)].collect().toSet
    val expectA = pairs(TextOps.ngramJaccardPairs(docsA, 3, 0.5))
    val expectB = pairs(TextOps.ngramJaccardPairs(docsB, 3, 0.5))
    assert(expectA == Set((0L, 1L)) && expectB == Set((10L, 11L)))
    // both built before either executes: building B's shingle
    // checkpoint must not free A's live blocks
    val a = TextOps.ngramJaccardPairs(docsA, 3, 0.5)
    val b = TextOps.ngramJaccardPairs(docsB, 3, 0.5)
    assert(pairs(a) == expectA)
    assert(pairs(b) == expectB)
    CheckpointBlocks.free(Seq(a, b))
  }

  // ---- weighted sampling / rank fusion -----------------------------

  test("weighted sample: k per source, deterministic, ES key favors long docs") {
    val out = graft.queries.PipelineQueries.q_weighted_sample(spark, sf)
    val rows = out.collect()
    val perSource = rows.groupBy(_.getString(0))
    val docs = graft.io.Tables.table(spark, sf, "documents")
    val sourceSizes = docs.groupBy($"source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perSource.foreach { case (src, picks) =>
      assert(picks.length == math.min(10L, sourceSizes(src)), src)
      // picks arrive in rank order with es_key non-increasing
      val keys = picks.sortBy(_.getInt(1)).map(_.getDouble(4))
      assert(keys.zip(keys.tail).forall { case (a, b) => a >= b }, src)
    }
    // weight bias: sampled docs should skew longer than the corpus mean
    // (ln(u)/w shrinks toward 0 as w grows) — a coarse but stable check
    val meanAll = docs.agg(avg($"n_chars")).head.getDouble(0)
    val meanPicked = rows.map(_.getLong(3)).sum.toDouble / rows.length
    assert(meanPicked > meanAll,
      s"weighted sample should favor long docs: picked=$meanPicked corpus=$meanAll")
    // determinism under physical layout
    val again = graft.queries.PipelineQueries.q_weighted_sample(spark, sf)
    assert(rowsOf(again) == rowsOf(out))
  }

  test("rank fusion: rrf is exactly the two-arm reciprocal sum, ranks bounded") {
    val out = graft.queries.CorpusQueries.q_rank_fusion(spark, sf).collect()
    assert(out.nonEmpty && out.length <= 20)
    out.foreach { r =>
      val lex = if (r.isNullAt(1)) None else Some(r.getInt(1))
      val sem = if (r.isNullAt(2)) None else Some(r.getInt(2))
      assert(lex.nonEmpty || sem.nonEmpty)
      (lex ++ sem).foreach(k => assert(k >= 1 && k <= 50))
      val expected = BigDecimal(
        lex.map(k => 1.0 / (60 + k)).getOrElse(0.0) +
          sem.map(k => 1.0 / (60 + k)).getOrElse(0.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(3) == expected, r)
    }
    // fused list is sorted by rrf desc
    val rrfs = out.map(_.getDouble(3))
    assert(rrfs.zip(rrfs.tail).forall { case (a, b) => a >= b })
  }

  // ---- BM25 --------------------------------------------------------

  test("bm25 is zero without query terms, positive with them") {
    val out = graft.queries.PipelineQueries.q_bm25(spark, sf)
    val zero = out.where($"tf0" === 0 && $"tf1" === 0 && $"tf2" === 0)
      .where($"bm25" =!= 0.0)
    assert(zero.isEmpty)
    val pos = out.where($"tf0" > 0 && $"bm25" <= 0.0)
    assert(pos.isEmpty)
    assert(out.where($"bm25" > 0).count() > 0)
  }

  test("bm25: merged daily stat partials score identically to one pass") {
    val sf = "/root/testdata/sf0.001"
    val one = graft.queries.PipelineQueries.q_bm25(spark, sf).collect().toSeq
    val inc = graft.queries.PipelineQueries.q_bm25_incremental(spark, sf)
      .collect().toSeq
    assert(inc == one && one.nonEmpty)
  }

  // ---- ZOrder code -------------------------------------------------

  test("morton code interleaves extremes to the known bit pattern") {
    val df = Seq((1L, 0L, 0L), (2L, 3L, 7L), (3L, 3L, 0L), (4L, 0L, 7L))
      .toDF("id", "a", "b")
    val z = df.select($"id", graft.io.ZOrder.mortonCode(
      $"a", lit(0L), lit(3L), $"b", lit(0L), lit(7L)).as("z"))
      .orderBy("id").as[(Long, Long)].collect().toSeq
    // cell(max) = 2²¹−1 → spread = ones at even bits = (4²¹−1)/3
    val evens = ((1L << 42) - 1L) / 3L // 0x15555555555
    assert(z == Seq(
      (1L, 0L),            // (min, min) → 0
      (2L, 3L * evens),    // (max, max) → all 42 bits
      (3L, evens),         // (max, min) → even bits only
      (4L, 2L * evens)))   // (min, max) → odd bits only
  }

  // ---- labeled-embedding ops ---------------------------------------

  test("hard negatives exclude same-label neighbors and rank by cosine") {
    val v = graft.io.Tables.table(spark, sf, "embeddings")
    val out = graft.vector.VectorOps.hardNegatives(
      v, v.where($"vec_id" % 100 === 0), 5)
    assert(out.where($"query_label" === $"neighbor_label").isEmpty)
    // ranks dense 1..k per query, cosine non-increasing
    val bad = out.groupBy("query_id")
      .agg(count(lit(1)).as("n"), max("rank").as("mx"),
        min("rank").as("mn"))
      .where($"mx" =!= $"n" || $"mn" =!= 1)
    assert(bad.isEmpty)
  }

  test("knn label noise: clean clusters vote their own label") {
    // two tight clusters with distinct labels + one mislabeled point
    val vecs = (
      (0 until 5).map(i => (i.toLong, Array(1.0f, 0.01f * i), 0)) ++
        (5 until 10).map(i => (i.toLong, Array(-1.0f, 0.01f * i), 1)) :+
        (10L, Array(1.0f, 0.02f), 1) // sits in cluster 0, labeled 1
      ).toDF("vec_id", "embedding", "label")
    val out = graft.vector.VectorOps.knnLabelNoise(vecs, vecs, 3)
    val byId = out.collect().map(r =>
      r.getLong(0) -> (r.getInt(2), r.getBoolean(4))).toMap
    assert(byId(0L) == ((0, false)))  // clean
    assert(byId(5L) == ((1, false)))  // clean
    assert(byId(10L) == ((0, true)))  // flagged
  }

  // ---- collocations ------------------------------------------------

  test("collocations: pmi non-increasing, counts respect the floor") {
    val out = graft.queries.PipelineQueries.q_collocations(spark, sf)
      .collect().toSeq
    assert(out.nonEmpty && out.size <= 50)
    assert(out.forall(_.getLong(2) >= 5))
    val pmis = out.map(_.getDouble(3))
    assert(pmis.zip(pmis.tail).forall { case (a, b) => a >= b })
  }

  // ---- negative sampling -------------------------------------------

  test("negative samples never collide with positives, at most k per user") {
    val out = graft.queries.PipelineQueries.q_neg_sample(spark, sf)
    val pos = graft.io.Tables.table(spark, sf, "orders")
      .join(graft.io.Tables.table(spark, sf, "lineitem"),
        $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("user_id"), $"l_partkey".as("item_id"))
      .distinct()
    assert(out.join(pos, Seq("user_id", "item_id"), "left_semi").isEmpty)
    val perUser = out.groupBy("user_id").agg(count(lit(1)).as("n"),
      countDistinct("item_id").as("nd"), max("neg_idx").as("mx"))
    assert(perUser.where($"n" > 5 || $"nd" =!= $"n" || $"mx" =!= $"n").isEmpty)
  }

  // ---- feature hashing ---------------------------------------------

  test("feature hashing: per-doc bucket weights bounded by token counts") {
    val out = graft.queries.PipelineQueries.q_feature_hash(spark, sf)
    // |signed sum| can never exceed the token count in the bucket
    assert(out.where(abs($"weight") > $"n_tokens").isEmpty)
    // total hashed tokens per doc = doc token count
    val docs = graft.io.Tables.table(spark, sf, "documents")
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n"))
    val tot = out.groupBy("doc_id").agg(sum("n_tokens").as("hashed"))
      .join(docs, "doc_id").where($"hashed" =!= $"n")
    assert(tot.isEmpty)
  }

  // ---- chunking + incremental agg ----------------------------------

  test("chunking covers every token with stride-sized overlap") {
    val out = graft.queries.PipelineQueries.q_chunk(spark, sf)
    // chunks tile the doc: first starts at 1, successive starts at
    // stride 48, last chunk ends at n
    val docs = graft.io.Tables.table(spark, sf, "documents")
      .select($"doc_id", size(split($"text", " ")).as("n"))
    val last = out.groupBy("doc_id").agg(max("end_tok").as("covered"),
      min("start_tok").as("first"))
      .join(docs, "doc_id")
      .where($"covered" =!= $"n" || $"first" =!= 1)
    assert(last.isEmpty)
    val badStride = out.where($"start_tok" =!= $"chunk_idx" * 48 + 1)
    assert(badStride.isEmpty)
    // every full-size chunk is 64 tokens; only the final may be short
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val shortNonFinal = out
      .withColumn("mx", max("chunk_idx").over(w))
      .where($"chunk_idx" < $"mx" && $"n_tokens" =!= 64)
    assert(shortNonFinal.isEmpty)
  }

  test("incremental aggregate merge equals the full-table aggregate") {
    val merged = graft.queries.PipelineQueries.q_agg_merge(spark, sf)
    val full = graft.io.Tables.table(spark, sf, "lineitem")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        sum($"l_quantity".cast("decimal(14,2)")).cast("double").as("sum_qty"))
      .orderBy($"l_returnflag")
    assert(rowsOf(merged) == rowsOf(full))
  }

  test("cluster canonical keeps exactly one longest member per cluster") {
    val out = graft.queries.PipelineQueries.q_cluster_canonical(spark, sf)
    val perCluster = out.groupBy("cluster")
      .agg(sum(when($"kept", 1).otherwise(0)).as("n_kept"))
      .where($"n_kept" =!= 1)
    assert(perCluster.isEmpty)
    // representative has the max n_chars of its cluster
    val docs = graft.io.Tables.table(spark, sf, "documents")
      .select($"doc_id", $"n_chars")
    val bad = out.join(docs, "doc_id")
      .groupBy("cluster", "rep_doc_id").agg(max("n_chars").as("mx"))
      .join(docs.withColumnRenamed("doc_id", "rep_doc_id"), "rep_doc_id")
      .where($"n_chars" =!= $"mx")
    assert(bad.isEmpty)
  }

  test("entropy is bounded by ln(n_types) and positive for mixed sources") {
    val out = graft.queries.PipelineQueries.q_entropy(spark, sf)
    val bad = out.where($"entropy" < 0 ||
      $"entropy" > log($"n_types".cast("double")) + 1e-6)
    assert(bad.isEmpty)
    assert(out.where($"entropy" > 0).count() > 0)
  }

  test("token budget quotas sum exactly to the global budget") {
    val out = graft.queries.PipelineQueries.q_token_budget(spark, sf)
    assert(out.agg(sum("quota")).as[Long].head() == 100000L)
    // monotone in source mass: bigger sources never get smaller quotas
    val rows = out.orderBy($"n_tokens".asc).collect()
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(2) <= b.getLong(2) + 1) // ±1 from remainder step
    }
  }

  test("curriculum interleaves tiers round-robin") {
    val out = graft.queries.PipelineQueries.q_curriculum(spark, sf)
    val n = out.count()
    // training_rank is a permutation of 1..n
    assert(out.agg(max("training_rank")).as[Int].head() == n)
    assert(out.select("training_rank").distinct().count() == n)
    // the first 4 training positions cover 4 distinct tiers
    val head4 = out.where($"training_rank" <= 4)
      .select("tier").distinct().count()
    assert(head4 == 4)
  }

  test("anomaly top-k is ordered by |z| and bounded") {
    val out = graft.queries.PipelineQueries.q_anomaly(spark, sf).collect()
    assert(out.length == 100)
    val zs = out.map(r => math.abs(r.getDouble(3)))
    assert(zs.zip(zs.tail).forall { case (a, b) => a >= b })
  }

  test("containment dominates jaccard and catches subset docs") {
    // doc 2 is a strict prefix-subset of doc 1: containment(2→1) = 1,
    // jaccard well below it
    val docs = Seq(
      (1L, "a b c d e f g h i j k l"),
      (2L, "a b c d e"),
      (3L, "zz yy xx ww vv")).toDF("doc_id", "text")
    val out = graft.text.TextOps.containmentPairs(docs, 3, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    assert(out.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("dedup stats: sizes weighted by counts cover the corpus exactly") {
    val out = graft.queries.PipelineQueries.q_dedup_stats(spark, sf)
    val covered = out.agg(sum($"cluster_size" * $"n_clusters")).as[Long].head()
    val nDocs = graft.io.Tables.table(spark, sf, "documents").count()
    assert(covered == nDocs)
  }

  test("winsorize clips roughly 5% on each side, within bounds") {
    val out = graft.queries.PipelineQueries.q_winsorize(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n, lo, hi) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val (nLow, nHigh, sumC) = (r.getLong(4), r.getLong(5), r.getLong(6))
      assert(lo <= hi)
      assert(nLow < n * 6 / 100 && nHigh <= n * 6 / 100)
      assert(sumC >= lo * n && sumC <= hi * n)
    }
  }

  // ---- q_profile ---------------------------------------------------

  test("profile reports exact counts and extrema per column") {
    val out = graft.queries.PipelineQueries.q_profile(spark, sf)
    val l = graft.io.Tables.table(spark, sf, "lineitem")
    val n = l.count()
    val rows = rowsOf(out)
    assert(rows.map(_.head) ==
      Seq("l_linenumber", "l_linestatus", "l_orderkey", "l_returnflag"))
    assert(rows.forall(_(1) == n))
    val rf = rows.find(_.head == "l_returnflag").get
    assert(rf(3) == l.select(countDistinct("l_returnflag")).as[Long].head())
  }
}
