package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the step that
  * turns pairwise near-duplicate hits (MinHash/SimHash/embedding
  * pairs) into dedup CLUSTERS with a canonical representative per
  * cluster (min node id). Without it a dedup pipeline can only drop
  * one side of each pair and transitive duplicates survive.
  *
  * Algorithm: iterative min-label propagation (the Pregel/GraphX
  * formulation as plain DataFrame joins): every node starts as its
  * own label; each round takes the min of its label and its
  * neighbors' labels; at fixpoint every node carries the min node id
  * reachable from it — exactly the transitive closure a recursive
  * CTE computes, so the DuckDB oracle can mirror it.
  *
  * Scale: each round is one join + one aggregation, both shuffling
  * on node id; rounds needed = graph diameter, and near-dup graphs
  * are unions of small cliques (diameter ~2-3). Edges and labels are
  * cached across rounds; the driver only ever sees a per-round
  * changed-count (a scalar), never the data.
  */
object Components {

  /** `edges` must have columns (a, b). Returns (node, component)
    * for every node incident to an edge, component = min reachable
    * node id. Converges by fixpoint, `maxIters` is a safety bound. */
  def connectedComponents(edges: DataFrame, maxIters: Int = 20): DataFrame =
    connectedComponentsWithStats(edges, maxIters)._1

  /** As [[connectedComponents]], also returning the round count (the
    * scale-cost driver, asserted by the chain-graph spec).
    *
    * Each round combines one hop of neighbor-min propagation with
    * POINTER JUMPING (label ← label-of-label, the Shiloach–Vishkin
    * shortcut): propagation alone needs diameter rounds, which on a
    * long-chain graph (linked near-dup runs) is the scale risk; with
    * the self-join shortcut the effective reach doubles per round, so
    * rounds ≈ log₂(diameter). Labels stay reachable-node ids (a
    * neighbor's label and a label's label are both reachable), so the
    * fixpoint — per-component min id, the recursive-CTE closure the
    * DuckDB oracle mirrors — is unchanged; only the round count drops.
    *
    * Each round ends in `localCheckpoint(eager)` — iterative
    * DataFrame algorithms MUST truncate lineage or the logical plan
    * doubles per round (cache alone keeps the full plan tree and
    * planning itself OOMs long before the data does; on a real
    * cluster this would be `checkpoint()` to reliable storage). */
  def connectedComponentsWithStats(edges: DataFrame, maxIters: Int = 20): (DataFrame, Int) = {
    val und = edges.select(col("a").as("x"), col("b").as("y"))
      .unionByName(edges.select(col("b").as("x"), col("a").as("y")))
      .localCheckpoint(true)
    var labels = und.select(col("x").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    var iters = 0
    var converged = false
    var spent = List.empty[DataFrame] // checkpoint blocks to free
    while (!converged && iters < maxIters) {
      val nbrMin = und
        .join(labels.select(col("node").as("y"), col("label").as("nbr_label")), "y")
        .groupBy(col("x").as("node"))
        .agg(min(col("nbr_label")).as("nbr_min"))
      // pointer jump: follow the label table through itself once —
      // label values are node ids, so every label has a labels row
      val jump = labels
        .join(
          labels.select(col("node").as("label"), col("label").as("jump_label")),
          Seq("label"))
        .select(col("node"), col("jump_label"))
      // the convergence check rides the checkpoint job as an observed
      // metric (CollectMetrics accumulator, gathered while the round
      // materializes) instead of a second isEmpty action — one Spark
      // job per round, not two; for a tiny contracted delta graph
      // (Components.incremental) the per-job overhead IS the cost.
      // observedMetrics is read defensively: if the metric didn't
      // surface (plumbing change in a future Spark), fall back to the
      // explicit action rather than mis-detecting convergence.
      val tag = s"cc_changed_$iters"
      val observed = labels
        .join(nbrMin, Seq("node"), "left")
        .join(jump, Seq("node"), "left")
        .select(
          col("node"),
          least(
            col("label"),
            coalesce(col("nbr_min"), col("label")),
            coalesce(col("jump_label"), col("label"))).as("new_label"),
          col("label"))
        .observe(tag, count(when(col("new_label") < col("label"), lit(1))).as("n"))
      val updated = observed.localCheckpoint(true)
      converged = observed.queryExecution.observedMetrics.get(tag)
        .map(_.getLong(0) == 0L)
        .getOrElse(updated.where(col("new_label") < col("label")).isEmpty)
      spent ::= labels
      labels = updated.select(col("node"), col("new_label").as("label"))
      iters += 1
    }
    // free every intermediate round's blocks (the result reads only
    // the LAST checkpoint) — leaked checkpoint blocks otherwise
    // pressure executor storage for the rest of the session. NB:
    // Dataset.unpersist would be a silent no-op here (CacheManager
    // has no entry for checkpoint blocks) — [[CheckpointBlocks]]
    // unpersists the persisted RDDs themselves. und only dies once a
    // round replaced the initial labels (maxIters = 0 returns a
    // frame still reading it).
    if (iters > 0) {
      CheckpointBlocks.free(spent)
      CheckpointBlocks.free(und)
    }
    (labels, iters)
  }

  /** Fold one pair batch into a PERSISTED components labeling kept as
    * a versioned [[graft.etl.TableFormat]] table — the streaming
    * cadence of cluster maintenance
    * ([[graft.streaming.StreamingDedup.clusterMaintenance]] calls it
    * per micro-batch). The daily batch job (`q_cc_incremental`)
    * applies the same [[incremental]] fold to yesterday's staged
    * labeling directly. First batch bootstraps the table with a
    * from-scratch components run; later batches apply [[incremental]]
    * — CC over the delta graph only, the history never re-clusters —
    * and commit the merged labeling as the next version. An empty
    * batch commits nothing (the trait's "a no-op merge must not mint a
    * version" discipline: an idle stream would otherwise rewrite an
    * identical labeling every trigger). Returns the current version. */
  def foldInto(
      fmt: graft.etl.TableFormat,
      table: String,
      pairs: DataFrame): Long = {
    if (pairs.isEmpty) fmt.currentVersion(table)
    else {
      val merged =
        if (fmt.currentVersion(table) == 0) connectedComponents(pairs)
        else incremental(fmt.read(table), pairs)
      fmt.overwrite(table, merged)
      fmt.currentVersion(table)
    }
  }

  /** Incremental maintenance of a components labeling: fold a NEW
    * pair batch into an existing (node, label) labeling WITHOUT
    * re-running components over the historical pair set — the daily
    * shape of dedup-cluster maintenance at 100 TB, where the history
    * is huge and the delta is small.
    *
    * Old components CONTRACT to their representative (the label,
    * already the min member id); new pairs become edges between
    * representatives (or raw new nodes); components runs over that
    * DELTA graph only, whose size is bounded by the new pairs, never
    * the history; relabeling is two hash joins against the labeling.
    * Exactly equal to a full recompute over (old ∪ new) pairs: a
    * merged super-component's min contracted id is the min over all
    * underlying members, because each old label was already the min
    * of its members (AdvancedOpsSpec asserts bit-equality, including
    * the new-chain-bridges-two-old-components case). */
  def incremental(oldLabels: DataFrame, newPairs: DataFrame): DataFrame = {
    val la = oldLabels.select(col("node").as("a"), col("label").as("la"))
    val lb = oldLabels.select(col("node").as("b"), col("label").as("lb"))
    val contracted = newPairs
      .join(la, Seq("a"), "left")
      .join(lb, Seq("b"), "left")
      .select(
        coalesce(col("la"), col("a")).as("a"),
        coalesce(col("lb"), col("b")).as("b"))
      // a self-loop means the pair is already inside one old
      // component — no structural change
      .where(col("a") =!= col("b")).distinct()
    val sup = connectedComponents(contracted) // (contracted id, merged label)
    val oldFinal = oldLabels
      .join(sup.select(col("node").as("label"), col("label").as("merged")),
        Seq("label"), "left")
      .select(col("node"), coalesce(col("merged"), col("label")).as("label"))
    val newNodes = newPairs.select(col("a").as("node"))
      .unionAll(newPairs.select(col("b").as("node"))).distinct()
      .join(oldLabels.select("node"), Seq("node"), "left_anti")
    val newFinal = newNodes
      .join(sup.select(col("node"), col("label").as("merged")), Seq("node"), "left")
      .select(col("node"), coalesce(col("merged"), col("node")).as("label"))
    oldFinal.unionByName(newFinal)
  }
}
