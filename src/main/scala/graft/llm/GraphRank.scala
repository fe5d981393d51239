package graft.llm

import graft.Presented
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * PageRank over an edge list — graph centrality for corpus curation:
 * run it over the k-NN similarity graph (cosineTopK / bucketedTopK
 * edges) and high-rank nodes are the HUBS — boilerplate templates,
 * near-duplicate centers, content that everything resembles — the
 * same pathology the bitext ratio-margin corrects locally, surfaced
 * globally; over a link/citation graph it is the classic quality
 * prior. Retriever/graph-agnostic: any (src, dst) frame works.
 *
 *   r_{i+1}(v) = (1−d)/N + d · ( Σ_{u→v} r_i(u)/outdeg(u) + D_i/N )
 *
 * with D_i the dangling mass (rank parked on nodes with no
 * out-edges), redistributed uniformly — ranks sum to 1 every
 * iteration (the law the spec pins).
 *
 * SCALE SHAPE: per iteration, ONE shuffle keyed on the destination
 * node (the contribution aggregate, map-side combined) plus the
 * node-spine join; ranks/degrees are node-sized, edges never
 * materialize to the driver; the dangling mass is a one-double
 * aggregate. Lineage is cut with an eager localCheckpoint per
 * iteration, released through [[graft.CacheScope.release]] once the
 * next supersedes it, so plans stay constant-depth however many
 * iterations run. A plain loop, not [[graft.CacheScope.rounds]]: fixed
 * iteration count by design — convergence detection is a sum probe
 * the caller can layer on; data pipelines run a fixed small budget.
 *
 * DETERMINISM: pure double arithmetic, no libm; per-node contribution
 * sums are order-dependent at the last ulp only, so ROUND(6) output
 * is engine-portable (the pq54 VALUES discipline).
 */
object GraphRank {

  /** @return (id, rank) per node, rank ROUND(6), Σ rank = 1. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3, damping: Double = 0.85,
      ordered: Boolean = true): DataFrame =
    run(edges, srcCol, dstCol, None, iters, damping, ordered)

  /**
   * WEIGHTED PageRank — contribution ∝ edge weight instead of uniform
   * 1/outdeg:
   *
   *   r_{i+1}(v) = (1−d)/N + d · ( Σ_{u→v} r_i(u)·w(u→v)/W(u) + D_i/N )
   *
   * with W(u) = Σ of u's outgoing weights. The natural input is the
   * k-NN similarity graph WITH its cosines: uniform splitting discards
   * the similarity the retriever already computed — a node whose four
   * neighbors score (0.99, 0.2, 0.2, 0.2) should push most of its rank
   * along the near-duplicate edge, not a quarter. Same plan as
   * [[pageRank]]: per iteration ONE dst-keyed map-side-combined
   * aggregate + the node-spine join; W(u) replaces the count in the
   * SAME degree pass; dangling = no out-edges, unchanged.
   *
   * Weights must be POSITIVE: a non-positive weight raises inline
   * (zero would divide rank by a W that doesn't include it; negative
   * flips contribution signs and breaks Σ rank = 1) — filter
   * non-positive-similarity edges out upstream, they are not edges of
   * a similarity graph. Null-weight rows are excluded like null
   * endpoints. PARALLEL (src, dst) duplicates combine by weight SUM
   * (the weighted twin of [[pageRank]]'s dropDuplicates).
   */
  def pageRankWeighted(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, iters: Int = 3, damping: Double = 0.85,
      ordered: Boolean = true): DataFrame =
    run(edges, srcCol, dstCol, Some(weightCol), iters, damping, ordered)

  /**
   * Rank-into-curation: drop the `topK` highest-rank nodes from a
   * corpus — the hub-suppression filter (boilerplate templates and
   * near-dup centers are exactly what tops a similarity graph's
   * PageRank; removing them BEFORE sampling keeps the mix from
   * over-representing what everything resembles). Ties at the cut
   * break by id ascending (the engine's deterministic-cut convention).
   *
   * Scale shape: `ranks` is node-sized, so the top-k is a rank-limit
   * sort over a small frame and the exclusion is one broadcast
   * anti-join — the corpus never shuffles. Corpus docs absent from
   * `ranks` (no edges → no hub evidence) pass through.
   */
  def suppressHubs(df: DataFrame, idCol: String, ranks: DataFrame,
      topK: Int): DataFrame = {
    require(topK >= 0, s"suppressHubs: topK must be >= 0, got $topK")
    val hubs = ranks
      .select(col("id"), col("rank"))
      .orderBy(col("rank").desc, col("id").asc)
      .limit(topK)
      .select(col("id").as("_hub"))
    df.join(broadcast(hubs), col(idCol) === col("_hub"), "left_anti")
  }

  private def run(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: Option[String], iters: Int, damping: Double,
      ordered: Boolean): DataFrame = {
    require(iters >= 1, s"pageRank: iters must be >= 1, got $iters")
    require(damping > 0 && damping < 1,
      s"pageRank: damping in (0, 1), got $damping")
    // all checkpoints are released on exit (and each iteration's ranks
    // as soon as the next supersedes it) — an iters=20 run must not pin
    // 20 node-sized RDDs in the block manager for the session's life
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def tracked(df: DataFrame): DataFrame = { held += df; df }
    try {
      val e = tracked((weightCol match {
        case Some(wc) => edges
          .select(col(srcCol).as("_src"), col(dstCol).as("_dst"),
            when(col(wc).cast("double") > 0.0, col(wc).cast("double"))
              .otherwise(raise_error(concat(
                lit(s"pageRankWeighted: non-positive weight in '$wc': "),
                col(wc).cast("string")))).as("_w"))
          .filter(col("_src").isNotNull && col("_dst").isNotNull &&
            col(wc).isNotNull)
          .groupBy("_src", "_dst").agg(sum(col("_w")).as("_w"))
        case None => edges
          .select(col(srcCol).as("_src"), col(dstCol).as("_dst"))
          .filter(col("_src").isNotNull && col("_dst").isNotNull)
          .dropDuplicates("_src", "_dst")
          .withColumn("_w", lit(1.0))
      }).localCheckpoint(true)) // consumed every iteration + degree pass
      val nodes = tracked(e.select(col("_src").as("_id"))
        .unionByName(e.select(col("_dst").as("_id")))
        .distinct().localCheckpoint(true))
      val n = nodes.count()
      require(n > 0, "pageRank: empty graph")
      // W(u): the out-weight mass each source splits its rank over —
      // the edge count when unweighted (every _w is 1.0; the double
      // sum of m ones is exactly m for any graph a JVM can hold)
      val outdeg = tracked(e.groupBy(col("_src"))
        .agg(sum(col("_w")).as("_d")).localCheckpoint(true))
      var ranks = nodes.select(col("_id"), lit(1.0 / n).as("_r"))
        .localCheckpoint(true)
      // the dangling-node SET (no out-edges) is fixed across
      // iterations — only its rank MASS moves. Probe its existence
      // once: a k-NN similarity graph (the operator's natural input)
      // has every node as a source, so the per-iteration anti-join +
      // aggregate action is pure scheduling floor there; an empty set's
      // mass is the literal 0.0 the old coalesce(sum(∅), 0.0) produced
      // — bit-identical, and graphs WITH dangling nodes keep the exact
      // per-iteration aggregate below.
      val hasDangling = nodes
        .join(outdeg, nodes("_id") === outdeg("_src"), "left_anti")
        .limit(1).count() > 0
      for (_ <- 0 until iters) {
        val dangling =
          if (!hasDangling) 0.0
          else ranks
            .join(outdeg, ranks("_id") === outdeg("_src"), "left_anti")
            .agg(coalesce(sum(col("_r")), lit(0.0)))
            .head.getDouble(0)
        val contrib = e
          .join(outdeg, "_src")
          .join(ranks, e("_src") === ranks("_id"))
          .groupBy(col("_dst").as("_cid"))
          // _w·x is exactly x when _w = 1.0, so the unweighted path's
          // arithmetic is bit-identical to the pre-weight form
          .agg(sum(col("_r") * col("_w") / col("_d")).as("_s"))
        val next = nodes
          .join(contrib, nodes("_id") === col("_cid"), "left")
          .select(col("_id"),
            (lit((1.0 - damping) / n) +
              lit(damping) * (coalesce(col("_s"), lit(0.0)) +
                lit(dangling / n))).as("_r"))
          .localCheckpoint(true)
        graft.CacheScope.release(ranks)
        ranks = next
      }
      // materialize the (tiny) result off the final checkpoint so the
      // release below can't pull blocks out from under a consumer
      val outRows = ranks
        .select(col("_id").as("id"), round(col("_r"), 6).as("rank"))
        .localCheckpoint(true)
      graft.CacheScope.release(ranks)
      outRows.transform(Presented(_, ordered, "id"))
    } finally graft.CacheScope.release(held.toSeq: _*)
  }
}
