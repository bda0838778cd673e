package graft

/** The PLANS.md claims as executable assertions: pushdown reaches the
  * scan, small sides broadcast, top-k avoids global sorts, the
  * ranking pipeline shares one exchange, and the custom top-k plan
  * replaces windows. Plan shape is a correctness surface at 100 TB —
  * these tests make regressions loud. */
class PlanPropertiesSpec extends SparkSpec {

  // sf0.01, not sf0.001: at the tiniest scale AQE collapses to
  // single-partition plans (no partial aggregates, extra coalesced
  // exchanges) and the properties under test degenerate
  private val dir = "/root/testdata/sf0.01"

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.collect() // let AQE finalize
    // keep only the final plan: under AQE, toString appends the
    // initial plan too, which double-counts any operator search
    df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
  }

  test("pricing summary: date filter pushed to parquet, partial agg before exchange") {
    val p = planOf("q_pricing_summary")
    assert(p.contains("LessThan(l_shipdate,2024-07-01"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("global top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = planOf("q_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("dim joins broadcast the dimension side") {
    val p = planOf("q_string_agg")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("event point filter pushes the raw nanos time range to the scan") {
    val p = planOf("q_point_filter")
    assert(p.contains("GreaterThanOrEqual(ts"), p)
    assert(p.contains("LessThan(ts"), p)
  }

  test("rank delta: one exchange serves agg + custom top-k; window rewrite applied") {
    val p = planOf("q_rank_delta")
    assert(p.contains("TopKPerGroup"), p)
    val dateExchanges = "Exchange hashpartitioning\\(date".r.findAllIn(p).size
    assert(dateExchanges == 1, s"expected the shared (date,platform) exchange, got $dateExchanges:\n$p")
  }

  test("decontamination broadcasts the eval shingle set") {
    val p = planOf("q_decontaminate")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
  }

  test("bloom decontamination: membership prefilter sits below the join") {
    val p = planOf("q_decontaminate_bloom")
    val filterIdx = p.indexOf("graft_bloom_might_contain")
    val joinIdx = p.indexOf("BroadcastHashJoin")
    assert(filterIdx >= 0, s"bloom prefilter missing:\n$p")
    assert(joinIdx >= 0, p)
    // executed-plan text prints parents before children: the filter
    // must appear BELOW (after) the join it prunes input for
    assert(filterIdx > joinIdx, s"bloom filter not under the join:\n$p")
  }

  test("custom text/vector expressions run inside whole-stage codegen") {
    // the engine's extension rule: a native Expression with doGenCode
    // beats a UDF precisely because it fuses into the surrounding
    // WholeStageCodegen stage — executed-plan lines carry the `*(n)`
    // codegen marker on the operator that embeds the expression, so a
    // graft_ function appearing ONLY on unstarred lines means the hot
    // path fell out of codegen (e.g. a CodegenFallback regression)
    // q_dedup_minhash reads the staged pair artifact since round 11,
    // so the inline-mining codegen guard rides q_dedup_incremental
    // (the daily probe computes its batch bands inline)
    Seq("q_dedup_incremental" -> "graft_", "q_ann_topk" -> "graft_dot",
        "q_decontaminate_bloom" -> "graft_bloom_might_contain")
      .foreach { case (name, fn) =>
        val p = planOf(name)
        val starred = p.linesIterator
          .exists(l => l.contains("*(") && l.contains(fn))
        assert(starred, s"$name: no codegen'd $fn stage:\n$p")
      }
  }

  test("staged minhashPairs builder: mining kernels run inside codegen") {
    // since round 11 q_dedup_minhash / q_curate read the staged pair
    // artifact, so the FULL inline mining plan (shingle → lsh-band →
    // band self-join → jaccard verify) no longer rides any registered
    // query's plan — a CodegenFallback regression in the mining pass
    // would only surface as a slow staging build. Guard the builder's
    // own pre-checkpoint plan: the banding and verify kernels must sit
    // on starred (codegen'd) lines, and the candidate join must be the
    // banded equi-join, never a cross product.
    import graft.queries.CorpusQueries._
    val df = graft.text.TextOps.minhashDupPairs(
      graft.io.Tables.table(spark, dir, "documents"),
      ShingleN, MinhashK, MinhashBands, JaccardThreshold)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==")(0)
    Seq("graft_lsh_bands", "graft_intersect_size").foreach { fn =>
      val starred = p.linesIterator
        .exists(l => l.contains("*(") && l.contains(fn))
      assert(starred, s"minhashPairs builder: no codegen'd $fn stage:\n$p")
    }
    assert(!p.contains("CartesianProduct"), p)
  }

  test("no query plan contains a cartesian product") {
    // BroadcastNestedLoopJoin is expected (range/inequality joins);
    // an unconstrained CartesianProduct is never intended
    val names = Seq("q_range_join", "q_embed_near_dup", "q_ann_topk", "q_dedup_incremental",
      "q_semantic_dedup", "q_exact_substring", "q_repetition")
    names.foreach { n =>
      val p = planOf(n)
      assert(!p.contains("CartesianProduct"), s"$n:\n$p")
    }
  }

  test("contract-sort queries sort over their lazy pre-sort segment, not a checkpoint") {
    import org.apache.spark.sql.catalyst.plans.logical.{RepartitionOperation, Sort}
    Seq("q_dedup_ngram", "q_ssjoin", "q_dedup_simhash", "q_repetition",
      "q_exact_substring", "q_fuzzy_join", "q_containment", "q_quantiles",
      "q_explode_normalize").foreach { n =>
      val plan = SparkEntry.queries(n)(spark, dir).queryExecution.optimizedPlan
      plan match {
        case s: Sort if s.global =>
          assert(s.child.isInstanceOf[RepartitionOperation], s"$n:\n$plan")
        case _ => fail(s"$n: no top-level global Sort:\n$plan")
      }
    }
  }

  test("exact-substring: documents scan prunes to (doc_id, text); partial aggs map-side") {
    val p = planOf("q_exact_substring")
    val read = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text"), p)
    assert(!read.contains("lang") && !read.contains("source"), read)
    assert(p.contains("partial_count"), p)
  }

  test("semantic dedup: cell assignment map-only, pair join keyed on cell") {
    val p = planOf("q_semantic_dedup")
    // assignment is pure projection over broadcast literals — the only
    // joins are the equi pair join on cell and the verdict join; no
    // nested-loop anywhere. (At bench scale AQE picks broadcast for
    // the cell join; what matters is it stays EQUI-keyed on cell.)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(
      "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[cell#".r
        .findFirstIn(p).isDefined, p)
  }

  // ---- round-3 additions -------------------------------------------

  test("pack sequences: one hash exchange serves both windows") {
    val p = planOf("q_pack_sequences")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 1,
      s"expected the single shard exchange, got $hashExchanges:\n$p")
  }

  test("profile: no multi-distinct Expand; scans prune to single columns") {
    val p = planOf("q_profile")
    assert(!p.contains("Expand"), p)
    val reads = "ReadSchema: struct<[^>]*>".r.findAllIn(p).toSeq
    assert(reads.nonEmpty && reads.forall(!_.contains(",")),
      s"per-column scans must read exactly one column:\n$reads")
  }

  test("bm25: corpus stats reduce through one single-partition exchange") {
    val p = planOf("q_bm25")
    assert("Exchange SinglePartition".r.findAllIn(p).size == 1, p)
    assert(p.contains("partial_count"), p)
  }

  test("fuzzy join: candidate generation is an equi-join, verify is post-dedup") {
    val p = planOf("q_fuzzy_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("levenshtein"), p)
  }

  test("negative sampling: anti-join against positives, no nested loop on candidates") {
    val p = planOf("q_neg_sample")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("pagerank: iterations run off a materialized checkpoint, not re-derived lineage") {
    val p = planOf("q_pagerank")
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("FileScan"), s"lineage must be truncated:\n$p")
  }

  test("bounded top-k outputs avoid global sorts (anomaly, collocations)") {
    Seq("q_anomaly", "q_collocations").foreach { n =>
      val p = planOf(n)
      assert(p.contains("TakeOrderedAndProject"), s"$n:\n$p")
    }
  }

  // ---- round-4 additions -------------------------------------------

  test("Q5 shape: order-date range pushed to the scan, dimensions broadcast") {
    val p = planOf("q_local_supplier_volume")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
    assert(p.contains("LessThan(o_orderdate"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  /** Engine-wide single-partition lint: NO registered query may plan a
    * Window over an empty partition spec (= `Exchange SinglePartition`
    * + one-task sort of the whole input — the 100 TB scale-killer the
    * round-3 verdict flagged on q_histogram/q_curriculum). Walks the
    * STATIC plan of all queries, so a reintroduction anywhere fails
    * loudly. Single-partition exchanges feeding a global AGGREGATE
    * (e.g. q_bm25's corpus-stats reduce of partial aggs — a few rows)
    * remain legitimate; windows and non-top-k sorts are not. */
  test("no registered query windows over a single partition") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition

    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case _ => p +: p.children.flatMap(flatten)
    }
    // first shuffle at-or-below p, following unary chains only
    @scala.annotation.tailrec
    def inputExchange(p: SparkPlan): Option[ShuffleExchangeExec] = p match {
      case e: ShuffleExchangeExec => Some(e)
      case _ if p.children.size == 1 => inputExchange(p.children.head)
      case _ => None
    }
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan
      flatten(plan).collect {
        case w: WindowExec if w.partitionSpec.isEmpty =>
          s"$name: global Window (${w.windowExpression.mkString(",").take(80)})"
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
          s"$name: global WindowGroupLimit"
        case s: SortExec if s.global &&
          inputExchange(s.child).exists(_.outputPartitioning == SinglePartition) =>
          s"$name: global Sort over SinglePartition exchange"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("histogram + curriculum + winsorize: no single-partition stage") {
    // histogram/curriculum: two-phase ExactRank, window-free.
    // winsorize: counting-pass percentiles — its one window runs over
    // the domain-bounded (platform, cent) COUNT table, partitioned by
    // platform (the general lint admits it; the fact never sorts).
    Seq("q_histogram", "q_curriculum", "q_winsorize").foreach { n =>
      val p = planOf(n)
      assert(!p.contains("Exchange SinglePartition"), s"$n:\n$p")
    }
    Seq("q_histogram", "q_curriculum").foreach { n =>
      assert(!planOf(n).contains("Window"), n)
    }
  }
}
