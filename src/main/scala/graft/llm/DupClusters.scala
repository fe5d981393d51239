package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Near-dup pair -> cluster resolution: connected components over the
 * pair graph, with the canonical representative of each component (the
 * doc to KEEP) being its minimum id. Fuzzy dedup emits PAIRS
 * ([[MinHashNearDup]], [[SimHashNearDup]], [[NgramJaccard]],
 * [[graft.llm.Similarity.nearDupPairs]]); production dedup needs the
 * transitive closure — A~B and B~C must drop two docs, not one from
 * each pair independently.
 *
 * Shape: min-label propagation with pointer jumping. Each round
 * (1) unions every node's own label with its neighbors' labels (one
 * shuffle join on the bidirected edge set) and keeps the minimum, then
 * (2) jumps: replaces each node's label with its LABEL's label (one
 * join of the label table against itself — labels are always node ids,
 * so the lookup is total). The hop moves a label one edge per round;
 * the jump halves the remaining pointer-chain depth, so rounds needed
 * are O(log component diameter) — genuinely, not just for shallow
 * graphs (a bare hop loop is O(diameter): the label walks one hop per
 * round, and a chain longer than the round cap would come out silently
 * wrong). Labels are min-monotone, so convergence is detected by the
 * label sum going stable — one O(1)-row action per round, never a data
 * collect. Exhausting `maxRounds` without convergence THROWS rather
 * than returning partially-propagated cluster ids. The rounds run on
 * [[graft.CacheScope.rounds]]: lineage is cut per round with a LAZY
 * localCheckpoint that the convergence probe's action materializes —
 * no separate checkpoint action, but not one job per round either:
 * under AQE each shuffle-map stage of the round's plan runs as its own
 * job.
 * `graft.JobProfile pq23_dup_clusters` at sf0.1 measured 49 jobs: 9
 * set-up jobs, then 5 rounds of 7–8 jobs each — 5–6 from materializing
 * the round's checkpoint and 2 from the label-sum `head`. At cluster
 * scale each round is fully partition-parallel over the edge and label
 * sets.
 *
 * WHY NOT PROBE LESS OFTEN: a `probeEvery = 2` cadence (compose two
 * hop+jump rounds into one checkpointed plan, halving probe actions)
 * was built and A/B-measured at sf0.1: ~2x SLOWER (pq23 1.81 -> 3.92 s,
 * pq90 1.81 -> 3.30 s, back-to-back reps on one host) with only ~7%
 * fewer jobs. Two structural reasons: (1) the jump is a SELF-join that
 * consumes the hop output twice — on a checkpointed input that
 * recompute is one cheap join, but on an un-checkpointed composed
 * round it re-executes the entire prior round, doubling work per
 * skipped probe; (2) under AQE each shuffle materializes as its own
 * job regardless, so batching rounds barely reduces the job count the
 * cadence was meant to cut. The per-round checkpoint IS the cheap
 * option; the probe rides it for free.
 *
 * Only ids that appear in at least one pair come out (singletons need
 * no canonical pick). Output: (doc_id, cluster_id), one row per
 * distinct id, cluster_id = min id of the component.
 */
object DupClusters {

  def apply(pairs: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 20): DataFrame = {
    val e = pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
    // NOT pre-partitioned by dst, deliberately: a repartition(dst)
    // before the checkpoint was built and A/B-measured this round —
    // job counts did NOT drop (AQE coalesces the labels-side shuffle
    // to a data-sized partition count, which mismatches the
    // checkpoint's fixed partitioning, so EnsureRequirements re-adds
    // the edges exchange anyway) and the setup exchange was a net +1.
    val edges = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true) // scanned every round; compute the pair source once
    // lazy checkpoints throughout the loop (graft.CacheScope.rounds):
    // the convergence probe (labelSum) is the action that materializes
    // each round, so no round pays a separate checkpoint action. A
    // round is still 7–8 jobs at sf0.1 (pq23): 5–6 shuffle-map jobs
    // that AQE submits while materializing the checkpoint, and 2 for
    // the label-sum `head`. The loop holds at most two label-table
    // copies plus the edge set; the edges are released as soon as the
    // loop exits, the returned labels with the session.
    val labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id"))
      .localCheckpoint(false)
    // decimal sum: overflow-safe convergence witness for 64-bit ids
    // (null on an empty graph — an empty pair set converges immediately)
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("cluster_id").cast("decimal(38,0)"))).head().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    var prev = labelSum(labels)
    try {
      if (labels.isEmpty) graft.CacheScope.track(labels)
      else graft.CacheScope.rounds(labels, maxRounds, "DupClusters") { cur =>
        val nbr = edges.join(cur, edges("dst") === cur("doc_id"))
          .select(edges("src").as("doc_id"), cur("cluster_id"))
        val hop = cur.unionByName(nbr)
          .groupBy("doc_id").agg(min("cluster_id").as("cluster_id"))
        // pointer jump: label <- label(label). Every label is a node id
        // (mins over node ids), so the self-join resolves for every row;
        // the left join + coalesce is belt-and-braces. The parent's label
        // is <= the child's (min-monotone with self included), so the
        // jump only ever improves.
        val parent = hop.select(col("doc_id").as("_pid"), col("cluster_id").as("_plbl"))
        hop.join(parent, hop("cluster_id") === parent("_pid"), "left")
          .select(hop("doc_id"),
            coalesce(col("_plbl"), hop("cluster_id")).as("cluster_id"))
      } { next =>
        // the label sum stops falling exactly when no label moved
        val cur = labelSum(next)
        val stable = cur.compareTo(prev) == 0
        prev = cur
        stable
      }
    } finally graft.CacheScope.release(edges)
  }

  /**
   * Cluster-size histogram over an [[apply]] result — the dedup
   * diagnostics readout: (cluster_size, n_clusters). A fat head
   * (many size-2 clusters) means near-miss duplicates; a giant single
   * cluster usually means the pair threshold is too loose (boilerplate
   * bridging everything) — the first thing to look at before shipping
   * a dedup pass. Sizes count every member INCLUDING the keeper, so
   * the minimum size is 2 (singletons never enter the pair graph).
   * Two keyed aggregates: cluster-keyed (map-side combined), then the
   * size-keyed rollup over the cluster-sized result.
   */
  def sizeHistogram(clusters: DataFrame, ordered: Boolean = true): DataFrame =
    clusters.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .transform(graft.Presented(_, ordered, "cluster_size"))
}
