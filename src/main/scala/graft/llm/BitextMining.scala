package graft.llm

import graft.Presented
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Margin-based bitext mining — the CCMatrix/LASER recipe for pairing
 * parallel sentences across two embedding spaces (e.g. two languages):
 * a raw cosine threshold over-selects hubs (vectors close to
 * everything), so each candidate pair is scored by its cosine RELATIVE
 * to both endpoints' neighborhoods,
 *
 *   margin(x, y) = cos(x, y) / (0.5 · (avg_k(x) + avg_k(y)))
 *
 * where avg_k(x) is the mean cosine of x to its k nearest candidates
 * on the other side (ratio-margin; Artetxe & Schwenk 2019). Per source
 * doc, the best target by margin is emitted when it clears
 * `minMargin`.
 *
 * SCALE SHAPE: retriever-agnostic composition (the
 * [[ContrastiveMining]] discipline). This brute-force form reuses
 * [[Similarity.cosineTopK]] both directions — the forward pass streams
 * the target corpus once against the broadcast source set; the
 * backward pass only scores the ≤ |src|·k CANDIDATE targets (semi-join
 * first), never the whole target side. At corpus×corpus scale swap
 * each direction for the bucketed/IVF retriever and feed the
 * (qid, rnk, cid, cos) frames to the same margin tail: the windows
 * and aggregates here are all top-k-bounded per anchor, never
 * Zipf-keyed, and nothing is collected.
 *
 * DETERMINISM: cosines are the pinned integer-quantized values
 * ([[Similarity.cosineTopK]] — bit-identical across engines); the
 * neighborhood means fold the ROUNDED reported cosines in rank order
 * (the sorted-fold discipline), so margins are ratios of identical
 * doubles and the per-source argmax is engine-portable; the
 * `minMargin` keep/drop compares the ROUNDED margin (inclusive).
 *
 * Same-id pairs across the two sides are excluded by the underlying
 * retriever (its self-exclusion rule) — give the sides disjoint id
 * spaces when "same id" is meaningful. Output:
 * (qid, cid, cos, margin), one row per source doc whose best pair
 * clears the threshold.
 */
object BitextMining {

  def marginTopPairs(src: DataFrame, tgt: DataFrame, idCol: String,
      vecCol: String, k: Int = 4, minMargin: Double = 1.0,
      ordered: Boolean = true): DataFrame =
    marginTopPairsWith(src, tgt, idCol,
      (corpus, queries) => Similarity.cosineTopK(corpus, queries, idCol,
        vecCol, k, ordered = false),
      k, minMargin, ordered)

  /**
   * [[marginTopPairs]] under a CALLER-SUPPLIED retriever — the scale
   * arm made concrete: `retrieve(corpus, queries)` must return the
   * (qid, rnk, cid, cos) frame of [[Similarity.cosineTopK]]'s contract
   * (top-`k` per query, pinned rounded cos, rnk 1-based). Pass the
   * bucketed/IVF retriever at corpus×corpus scale; at full-coverage
   * knobs (IVF nprobe = nlist — the pq19 law) the margin tail emits
   * pairs IDENTICAL to the brute-force arm, which pq111b pins against
   * pq111's oracle verbatim. The retriever is invoked once per
   * direction; the backward invocation's corpus side is already
   * semi-joined down to the forward candidates.
   */
  def marginTopPairsWith(src: DataFrame, tgt: DataFrame, idCol: String,
      retrieve: (DataFrame, DataFrame) => DataFrame,
      k: Int, minMargin: Double = 1.0,
      ordered: Boolean = true): DataFrame = {
    require(k >= 1, s"marginTopPairs: k must be >= 1, got $k")
    // forward: per source, top-k targets with the pinned rounded cos.
    // Eagerly checkpointed — three plan branches consume it (xavg, the
    // backward candidate set, the scored join), and without the cut the
    // full target-corpus pass would recompute per branch; the frame is
    // |src|·k rows, block-manager sized.
    val fwd = retrieve(tgt, src).localCheckpoint(true)
    // mean of the top-k cosines, folded in rank order (k-bounded)
    def neighborhoodAvg(topk: DataFrame, as: String): DataFrame =
      topk.groupBy(col("qid"))
        .agg(sort_array(collect_list(struct(col("rnk"), col("cos"))))
          .as("_cs"))
        .select(col("qid"),
          (aggregate(col("_cs"), lit(0.0), (a, s) => a + s.getField("cos"))
            / size(col("_cs"))).as(as))
    val xavg = neighborhoodAvg(fwd, "_xavg")
    // backward: only the candidate targets re-score against the source
    // side (|src|·k bounded — never the whole target corpus)
    val cands = fwd.select(col("cid")).distinct()
    val bwd = retrieve(src,
      tgt.join(cands, tgt(idCol) === cands("cid"), "left_semi"))
    val yavg = neighborhoodAvg(bwd, "_yavg")
      .withColumnRenamed("qid", "cid")
    val denom = lit(0.5) * (col("_xavg") + col("_yavg"))
    val scored = fwd
      .join(xavg, "qid")
      .join(yavg, "cid")
      .withColumn("margin",
        when(denom =!= 0.0, col("cos") / denom))
      .filter(col("margin").isNotNull)
    val w = Window.partitionBy("qid").orderBy(col("margin").desc, col("cid"))
    // materialize the (≤ |src|-row) result off the fwd checkpoint, then
    // release fwd's |src|·k blocks: without the release every call pins
    // its candidate frame in the block manager for the session's
    // lifetime
    val result = scored
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1 &&
        round(col("margin"), 6) >= minMargin)
      .select(col("qid"), col("cid"), col("cos"),
        round(col("margin"), 6).as("margin"))
      .localCheckpoint(true)
    graft.CacheScope.release(fwd)
    result.transform(Presented(_, ordered, "qid"))
  }
}
