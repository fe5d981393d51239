package graft.llm

import graft.Presented

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/**
 * Deduplication operators for document corpora. Three tiers, in increasing
 * cost per candidate and decreasing candidate volume:
 *
 *  1. [[ExactDedup]] — hash-groupBy on content md5. One shuffle on the
 *     16-byte hash; at 100 TB this is the cheapest possible exact dedup
 *     (shuffle carries only (hash, id), never the text, when `keepText`
 *     is false downstream).
 *  2. [[NgramJaccard]] — exact n-gram Jaccard via an inverted-index join
 *     over rare shingles. Deterministic recall for pairs sharing any
 *     rare shingle; expansion bounded by the document-frequency cut.
 *  3. [[MinHashNearDup]] — shingle -> minhash -> band -> bucket.
 *     Candidate generation is one shuffle on the band key with
 *     per-bucket pair expansion ([[BucketPairs]]) — never an all-pairs
 *     cross join. Exact Jaccard verification runs only on the candidate
 *     pairs, inside the bucket.
 *  4. SimHash signatures ([[SimHashSignatures]]) — a per-row projection;
 *     near-dup detection by Hamming distance over the 64-bit signature is a
 *     band-join over signature chunks (same pattern as 3).
 */
object ExactDedup {

  /**
   * Group documents by exact content hash. Output: one row per distinct
   * content — (content_hash, keep_id = min id, n_copies). Downstream
   * "keep first copy" dedup is a semi-join of the input against keep_id.
   */
  def apply(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextOps.md5Hex(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /**
   * Priority-aware keeper: when copies span sources of different trust
   * (curated book vs crawl mirror), production dedup keeps the copy
   * from the BEST source, not the smallest id. Keeper = argmin of
   * (priority, id) — lower priority value wins, id breaks ties — via
   * `min` over a struct (lexicographic struct ordering), so the keeper
   * stays a keyed aggregate with map-side combine: same one-shuffle
   * plan as [[apply]], never a window over the hash key (the
   * Zipfian-copies discipline). A NULL priority means UNKNOWN trust
   * and ranks LAST (a leading null-flag field — Spark's struct
   * ordering would otherwise put nulls first and let an unscored copy
   * beat every scored one); it can only win when every copy is
   * unscored, and then `keep_priority` is null. Output adds
   * `keep_priority`.
   */
  def withPriority(df: DataFrame, idCol: String, textCol: String,
      priorityCol: String): DataFrame =
    df.groupBy(TextOps.md5Hex(col(textCol)).as("content_hash"))
      .agg(min(struct(
          when(col(priorityCol).isNull, 1).otherwise(0).as("pn"),
          col(priorityCol).as("p"), col(idCol).as("i"))).as("_k"),
        count(lit(1)).as("n_copies"))
      .select(col("content_hash"), col("_k.i").as("keep_id"),
        col("_k.p").as("keep_priority"), col("n_copies"))
}

/**
 * Soft dedup: keep ONE copy per duplicate group but carry the group
 * size as a training WEIGHT instead of silently dropping the mass —
 * the recipe family where duplication frequency is signal (a document
 * mirrored 40 times is "worth" 40 epochs of itself, up to the
 * trainer's cap) rather than noise to discard. Output is always
 * (keep_id, weight) with the law Σ weight = input rows: soft dedup
 * redistributes mass, never loses it.
 *
 * Both modes are keyed aggregates — one shuffle, map-side combined,
 * never a window over the (Zipfian) duplicate-group key.
 */
object SoftDedup {

  /** Exact-duplicate weighting: one row per distinct content,
    * keeper = min id, weight = copies of that content. A projection
    * of [[ExactDedup]]'s already-aggregated output — same plan. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    ExactDedup(df, idCol, textCol)
      .select(col("keep_id"), col("n_copies").as("weight"))

  /** Near-duplicate weighting over a resolved cluster assignment
    * ([[DupClusters]] output — (doc_id, cluster_id), one row per doc
    * that appears in a near-dup pair): keeper = min id of each
    * cluster (= its cluster_id, [[DupClusters]]' canonical label),
    * weight = cluster size; docs in NO pair are their own keepers at
    * weight 1 (broadcast-friendly anti-join — the cluster table is
    * pair-bounded, far smaller than the corpus). */
  def fromClusters(docs: DataFrame, clusters: DataFrame,
      idCol: String): DataFrame = {
    val grouped = clusters.groupBy(col("cluster_id"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("weight"))
      .select(col("keep_id"), col("weight"))
    val singletons = docs.select(col(idCol).as("keep_id"))
      .join(clusters.select(col("doc_id").as("keep_id")),
        Seq("keep_id"), "left_anti")
      .select(col("keep_id"), lit(1L).as("weight"))
    grouped.unionByName(singletons)
  }
}

/**
 * Exact n-gram Jaccard near-duplicate pairs via an inverted-index join —
 * the deterministic sibling of [[MinHashNearDup]] (which trades exactness
 * for a constant-size signature). Jaccard is computed over each document's
 * *rare-shingle* set (document frequency <= maxDf): shingles common to
 * more than maxDf documents are boilerplate by definition and are excluded
 * from numerator AND denominator, so with maxDf at or above the corpus
 * maximum this is plain exact Jaccard, and below it a boilerplate-
 * discounted Jaccard (the stop-shingle removal used by production dedup
 * pipelines).
 *
 * Everything is COUNT-based on the inverted index — no shingle-array
 * re-joins: |A∩B| is a pair-count aggregation over index buckets, |A| a
 * per-doc count. Scale shape: one shuffle builds the index, one computes
 * document frequencies, one counts pairs; a shingle shared by m <= maxDf
 * docs expands to m^2/2 pair-count rows, so the df cut bounds the only
 * quadratic term (an array-verification design measured 10x slower on
 * BOTH engines — the per-pair set intersections dominated).
 */
object NgramJaccard {

  /**
   * @param shingleN  word n-gram size (docs with fewer tokens are skipped)
   * @param threshold Jaccard cutoff over the rare-shingle sets
   * @param maxDf     shingles in more than this many docs are discounted
   *                  (expansion bound + boilerplate cut)
   * @param broadcastSizes broadcast the small relations: the per-doc
   *                  rare-shingle counts (one long per doc) into the two
   *                  post-aggregation joins, AND the frequent-shingle set
   *                  (≤ |index|/maxDf entries) as an anti-join cut that
   *                  makes `rare` a narrow map-side filter of the cached
   *                  index — three broadcast-hash joins, two full
   *                  exchanges fewer. Viable while doc count and
   *                  |index|/maxDf fit a broadcast relation (the usual
   *                  autoBroadcastJoinThreshold contract — ~100M docs at
   *                  16 bytes/row is already past it); at extreme corpus
   *                  scale pass false to fall back to shuffle joins.
   * @return (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard rounded
   *         to 3 digits, totally ordered. Documents whose rare-shingle
   *         set is empty pair with nothing.
   */
  def apply(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.6,
      maxDf: Int = 1000,
      broadcastSizes: Boolean = true,
      ordered: Boolean = true): DataFrame = {
    // the shared typed inverted-index pass (TextOps.shingleIndex):
    // tokenize -> distinct shingle set -> (id, fnv64(shingle)) rows.
    // Persisted: inv appears twice in rare's own plan (join probe side +
    // df-count agg side are DIFFERENT exchanges, so reuse never applies)
    // — without the cache the tokenize/shingle scan runs twice
    val inv = graft.CacheScope.track(TextOps.shingleIndex(df, idCol, textCol, shingleN)
      .persist(StorageLevel.MEMORY_AND_DISK))

    // rare-shingle index via the INVERTED cut: df counts are one hash
    // agg on the shingle key, but the cut keeps shingles with
    // df <= maxDf — i.e. it REMOVES the frequent ones, and the
    // frequent set is bounded by |inv|/maxDf (each frequent shingle
    // appears in > maxDf docs). While that bound fits a broadcast
    // (the broadcastSizes contract — same knob, same scale reasoning),
    // a broadcast ANTI-join against the small frequent set replaces
    // the equi-join against the LARGE rare df table, turning rare into
    // a narrow map-side filter of the cached inv: two full exchanges
    // (the inv join probe + the rare-side df table) disappear from the
    // plan. Measured at sf0.1 local[32], interleaved best-of-5 pairs:
    // 1.849/1.817 s → 1.634/1.745 s (−8-12%) with identical output
    // (oracle-pinned); the win is structural — at cluster scale the
    // two removed exchanges are the dominant term, not the ~10%.
    // At extreme corpus scale (broadcastSizes = false) the co-
    // partitioned equi-join is the fallback — |inv|/maxDf no longer
    // fits a broadcast relation. rare itself is NOT persisted: the
    // cached inv bounds its recompute to the broadcast filter (a cache
    // here measured slower — materialization cost more than the
    // recompute it saved). At extreme corpus scale checkpoint rare to
    // parquet instead.
    val dfc = inv.groupBy("_sh").agg(count(lit(1)).as("_df"))
    val rare =
      if (broadcastSizes)
        inv.join(broadcast(dfc.filter(col("_df") > maxDf).select("_sh")),
          Seq("_sh"), "left_anti")
      else inv.join(dfc.filter(col("_df") <= maxDf), Seq("_sh"))

    // |A| per doc, |A ∩ B| per pair — counting, never materialized sets
    val sizes = rare.groupBy("_id").agg(count(lit(1)).as("_n"))
    val sized = if (broadcastSizes) broadcast(sizes) else sizes
    val inter = rare.as("a")
      .join(rare.as("b"),
        col("a._sh") === col("b._sh") && col("a._id") < col("b._id"))
      .groupBy(col("a._id").as("doc_a"), col("b._id").as("doc_b"))
      .agg(count(lit(1)).as("_inter"))

    val jac = col("_inter").cast("double") /
      (col("_na") + col("_nb") - col("_inter"))
    inter
      .join(sized.select(col("_id").as("doc_a"), col("_n").as("_na")), Seq("doc_a"))
      .join(sized.select(col("_id").as("doc_b"), col("_n").as("_nb")), Seq("doc_b"))
      .withColumn("_jac", jac)
      .filter(col("_jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("_jac"), 3).as("jaccard"))
      .transform(Presented(_, ordered, "doc_a", "doc_b"))
  }
}

object MinHashNearDup {

  /**
   * Near-duplicate pairs via banded MinHash LSH, verified with exact
   * Jaccard over the shingle sets.
   *
   * @param shingleN     word n-gram size, >= 1 (docs with fewer tokens
   *                     are skipped)
   * @param numHashes    minhash signature length (= bands * rowsPerBand)
   * @param bands        LSH bands; collision prob = 1-(1-j^r)^b
   * @param threshold    exact-Jaccard cutoff applied to candidates
   * @return (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard rounded
   *         to 3 digits, totally ordered.
   *
   * Execution: one typed pass sketches each row ([[MinHashSketch]]) and
   * emits one (id, shingle set, band index, band key) row per band; ONE
   * exchange brings band-mates together and [[BucketPairs]] verifies
   * every pair inside a bucket by exact Jaccard, so the threshold
   * applies before the cross-band distinct (a pair matching in several
   * bands is emitted once per band). Nothing is cached and nothing is
   * joined back: a bucket holds O(k) shingle sets on the heap, and a hot
   * bucket's output is its k(k-1)/2 pairs only when every one of them is
   * a true near-duplicate.
   */
  def apply(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 9,
      bands: Int = 3,
      threshold: Double = 0.8,
      ordered: Boolean = true): DataFrame = {
    val sketch = MinHashSketch(shingleN, numHashes, bands)
    val idField = df.schema(df.schema.fieldIndex(idCol))
    val bandSchema = StructType(Seq(
      idField.copy(name = "_id"),
      StructField("_shingles", ArrayType(StringType, containsNull = false), nullable = false),
      StructField("_b", IntegerType, nullable = false),
      StructField("_band_key", StringType, nullable = false)))
    val banded = df
      .select(col(idCol), col(textCol).cast("string"))
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.flatMap { r =>
          val s = sketch(md, r.getString(1))
          if (s == null) Iterator.empty
          else s._3.iterator.zipWithIndex.map { case (key, b) => Row(r.get(0), s._1, b, key) }
        }
      }(Encoders.row(bandSchema))

    val outSchema = StructType(Seq(
      idField.copy(name = "doc_a"), idField.copy(name = "doc_b"),
      StructField("_jac", DoubleType, nullable = false)))
    // shingle sets are distinct (shinglesJvm), so |A ∩ B| is the count of
    // A's shingles in B — size(array_intersect(A, B))
    BucketPairs(banded, Seq("_b", "_band_key"), "_id", outSchema,
        earliestOnly = false)(r => (r.get(0), r.getSeq[String](1).toSet)) { (a, b) =>
      val inter = a._2.count(b._2.contains)
      val jac = inter.toDouble / (a._2.size + b._2.size - inter)
      if (jac >= threshold) Row(a._1, b._1, jac) else null
    }
      .distinct()
      .select(col("doc_a"), col("doc_b"), round(col("_jac"), 3).as("jaccard"))
      .transform(Presented(_, ordered, "doc_a", "doc_b"))
  }
}

object SimHashSignatures {

  /**
   * Per-document 64-bit SimHash signature (16-char hex). A projection —
   * no shuffle. Near-dup candidates at scale: split the signature into k
   * chunks and bucket-join on each chunk (docs within Hamming distance d
   * share at least one of d+1 chunks exactly — pigeonhole).
   *
   * Implemented as a typed `mapPartitions` stage (one MessageDigest per
   * partition, one md5 per token, bit-twiddling on raw digest bytes) —
   * a pure-expression encoding of the 64-wide signed-bit fold evaluates
   * interpreted (higher-order functions get no codegen) at ~64 expression
   * evaluations per token. Tokenization and hashing replicate the Column
   * tier exactly ([[TextOps.tokensJvm]]), so results are unchanged.
   */
  def apply(df: DataFrame, idCol: String, textCol: String,
      ordered: Boolean = true): DataFrame =
    Presented(signatures(df, idCol, textCol), ordered, "doc_id")

  /** The signature projection without the presentation sort (joins don't
   *  want it). */
  def signatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      df.schema(df.schema.fieldIndex(idCol)).copy(name = "doc_id"),
      StructField("simhash", StringType, nullable = true)))
    df.select(col(idCol), col(textCol).cast("string"))
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { r =>
          val sig =
            if (r.isNullAt(1)) null
            else TextOps.simhashHexJvm(md, TextOps.tokensJvm(r.getString(1)))
          Row(r.get(0), sig)
        }
      }(Encoders.row(outSchema))
  }
}

object SimHashNearDup {

  /** Nibble value (0-15) of hex char at 1-based position p. */
  private def nibble(s: Column, p: Int): Column =
    conv(substring(s, p, 1), 16, 10).cast("int")

  /** Hamming distance between two 16-hex-char signatures — the native
   *  codegen'd [[graft.plans.HexHamming64]] expression (one primitive
   *  byte loop, zero allocation) replacing the 16-nibble
   *  conv/substring/bit_count tree; [[nibbleHammingExpr]] keeps the
   *  portable-SQL twin both engines evaluate identically, pinned equal
   *  to the native form in PlansSpec. */
  def hammingExpr(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.plans.HexHamming64(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** The pure-builtin nibble-tree form of [[hammingExpr]] (what the
   *  DuckDB oracles compute verbatim). */
  private[graft] def nibbleHammingExpr(a: Column, b: Column): Column =
    (1 to 16).map(p => bit_count(nibble(a, p).bitwiseXOR(nibble(b, p))))
      .reduce(_ + _).cast("bigint")

  /** JVM twin of [[hammingExpr]]: per-nibble xor popcount over two
   *  16-hex-char signatures. */
  private[graft] def hammingJvm(a: String, b: String): Long = {
    var h = 0
    var p = 0
    while (p < 16) {
      h += java.lang.Integer.bitCount(
        Character.digit(a.charAt(p), 16) ^ Character.digit(b.charAt(p), 16))
      p += 1
    }
    h.toLong
  }

  /**
   * SimHash near-duplicate pairs by banded Hamming buckets: the 64-bit
   * signature splits into 4 16-bit chunks; docs within Hamming distance
   * d <= 3 must agree exactly on at least one chunk (pigeonhole), so
   * candidate generation never goes all-pairs. Output
   * (doc_a, doc_b, hamming), doc_a < doc_b.
   *
   * Execution: the signatures explode to (chunk index, chunk value)
   * keys and ONE shuffle brings chunk-mates together; [[BucketPairs]]
   * runs the pairwise Hamming check per bucket, so the exact <= d filter
   * applies BEFORE the cross-chunk distinct.
   */
  def apply(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, ordered: Boolean = true): DataFrame =
    fromSignatures(SimHashSignatures.signatures(df, idCol, textCol),
      maxHamming, ordered)

  /** Pair generation from an ALREADY-COMPUTED (doc_id, simhash)
    * relation — the entry point for any 64-bit-signature family
    * ([[Multimodal.perceptualHash]] image signatures, external
    * signature stores), same pigeonhole chunk machinery. */
  def fromSignatures(signatures: DataFrame,
      maxHamming: Int = 3, ordered: Boolean = true): DataFrame = {
    require(maxHamming <= 3,
      s"4 bands guarantee recall only for distance <= 3, got $maxHamming")
    val idField = signatures.schema("doc_id")
    val outSchema = StructType(Seq(
      idField.copy(name = "doc_a"), idField.copy(name = "doc_b"),
      StructField("hamming", org.apache.spark.sql.types.LongType, nullable = true)))
    val chunks = signatures
      .filter(col("simhash").isNotNull && col("doc_id").isNotNull)
      .select(col("doc_id"), col("simhash"),
        posexplode(array((0 until 4).map(i =>
          substring(col("simhash"), 1 + 4 * i, 4)): _*)).as(Seq("_i", "_chunk")))
    BucketPairs(chunks, Seq("_i", "_chunk"), "doc_id", outSchema,
        earliestOnly = false)(r => (r.get(0), r.getString(1))) { (a, b) =>
      val h = hammingJvm(a._2, b._2)
      if (h <= maxHamming) Row(a._1, b._1, h) else null
    }
      .distinct() // a pair within distance d shares up to 4 - d chunks
      .transform(Presented(_, ordered, "doc_a", "doc_b"))
  }
}

/**
 * Dedup-quality evaluation — the knob-tuning loop for near-dup methods,
 * the pair-space sibling of [[Retrieval.evalRanking]]: given a method's
 * predicted duplicate pairs and a labeled (or exact-method) truth set,
 * report precision / recall / F1. This is how bands-vs-hashes,
 * Hamming radius, or bucket-bits choices get MEASURED instead of
 * guessed — run the candidate method at several knob settings against
 * one truth set and read the curve.
 *
 * SCALE SHAPE: both sides canonicalize (unordered pairs — either
 * orientation counts once) and distinct in one shuffle each, then ONE
 * full-outer equi-join on the pair key feeds a single global aggregate
 * — no driver-side pair sets, no second scan of either input. Counts
 * are exact BIGINTs; precision/recall/F1 are single divisions of
 * exact longs (F1 = 2·hit/(pred+truth), the harmonic identity, so no
 * compounded rounding), ROUND(6) — engine-portable.
 *
 * Output: ONE row (n_pred, n_truth, n_hit, precision, recall, f1);
 * an empty side nulls its ratio rather than dividing by zero.
 */
object DedupEval {

  def evalPairs(predicted: DataFrame, truth: DataFrame,
      aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    def canon(df: DataFrame, tag: String) = df
      .select(least(col(aCol), col(bCol)).as("_a"),
        greatest(col(aCol), col(bCol)).as("_b"))
      .distinct()
      .withColumn(tag, lit(1L))
    canon(predicted, "_p").join(canon(truth, "_t"), Seq("_a", "_b"), "full_outer")
      .agg(
        coalesce(sum(col("_p")), lit(0L)).as("n_pred"),
        coalesce(sum(col("_t")), lit(0L)).as("n_truth"),
        coalesce(sum(when(col("_p").isNotNull && col("_t").isNotNull, 1L)),
          lit(0L)).as("n_hit"))
      .select(col("n_pred"), col("n_truth"), col("n_hit"),
        round(when(col("n_pred") > 0,
          col("n_hit").cast("double") / col("n_pred")), 6).as("precision"),
        round(when(col("n_truth") > 0,
          col("n_hit").cast("double") / col("n_truth")), 6).as("recall"),
        round(when(col("n_pred") + col("n_truth") > 0,
          lit(2.0) * col("n_hit") / (col("n_pred") + col("n_truth")).cast("double")),
          6).as("f1"))
  }

  /**
   * The whole tuning CURVE in one pass: evaluate `scored`'s pairs at
   * EVERY threshold against one truth set, without re-running the
   * method per knob value (a threshold only filters the already-scored
   * candidates — recomputing candidates |thresholds| times is the
   * naive loop this replaces). Pairs canonicalize keeping the MAX
   * score per unordered pair, full-outer join the truth ONCE, then
   * each row fans out over the (small, literal) threshold list into a
   * |thresholds|-group map-side-combined aggregate — the fan-out is
   * bounded by the knob grid, never the corpus.
   *
   * Output: one [[evalPairs]]-shaped row PER threshold, ordered by
   * threshold. Empty inputs yield an empty curve. Sweep on the score
   * your method REPORTS (e.g. the ROUND(3) jaccard the near-dup
   * operators emit) so curve membership is engine-portable.
   */
  def sweepThresholds(scored: DataFrame, truth: DataFrame, scoreCol: String,
      thresholds: Seq[Double], aCol: String = "doc_a", bCol: String = "doc_b",
      ordered: Boolean = true): DataFrame = {
    require(thresholds.nonEmpty && thresholds == thresholds.sorted &&
      thresholds.distinct == thresholds,
      s"sweepThresholds: thresholds must be distinct ascending: $thresholds")
    val p = scored
      .select(least(col(aCol), col(bCol)).as("_a"),
        greatest(col(aCol), col(bCol)).as("_b"), col(scoreCol).as("_s"))
      .groupBy("_a", "_b").agg(max(col("_s")).as("_s"))
    val t = truth
      .select(least(col(aCol), col(bCol)).as("_a"),
        greatest(col(aCol), col(bCol)).as("_b"))
      .distinct().withColumn("_t", lit(1L))
    p.join(t, Seq("_a", "_b"), "full_outer")
      .select(col("_s"), col("_t"),
        explode(typedLit(thresholds)).as("threshold"))
      .groupBy("threshold")
      .agg(
        sum(when(col("_s") >= col("threshold"), 1L).otherwise(0L)).as("n_pred"),
        coalesce(sum(col("_t")), lit(0L)).as("n_truth"),
        sum(when(col("_s") >= col("threshold") && col("_t").isNotNull, 1L)
          .otherwise(0L)).as("n_hit"))
      .select(col("threshold"), col("n_pred"), col("n_truth"), col("n_hit"),
        round(when(col("n_pred") > 0,
          col("n_hit").cast("double") / col("n_pred")), 6).as("precision"),
        round(when(col("n_truth") > 0,
          col("n_hit").cast("double") / col("n_truth")), 6).as("recall"),
        round(when(col("n_pred") + col("n_truth") > 0,
          lit(2.0) * col("n_hit") / (col("n_pred") + col("n_truth")).cast("double")),
          6).as("f1"))
      .transform(graft.Presented(_, ordered, "threshold"))
  }
}
