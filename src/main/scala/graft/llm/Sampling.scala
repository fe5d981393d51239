package graft.llm

import graft.Presented
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deterministic hash-based sampling — the reproducible alternative to
 * `df.sample()` for training-data pipelines: membership is a pure
 * function of (salt, key), so the same key samples identically across
 * runs, engines, and cluster layouts (rerunning a pipeline must not
 * reshuffle the sample), and changing the salt draws an independent
 * sample for ablations.
 *
 * Mechanism: keep a row iff the first 8 hex chars of md5(salt || key)
 * fall below the rate threshold. The comparison is STRING comparison on
 * fixed-length lowercase hex, which orders exactly like the 32-bit
 * value it spells ('0'-'9' < 'a'-'f' in ASCII) — no integer parsing,
 * portable verbatim to any engine with md5(). Everything is a codegen'd
 * Column predicate: a filter on top of the scan, no shuffle, no UDF.
 *
 * Null keys have no stable identity to hash, so null-keyed rows are
 * excluded from every sample (the predicate is null -> filtered); a
 * null stratum in [[stratifiedSample]] falls through to `defaultRate`.
 */
object Sampling {

  /** Hard cap on [[unimaxMaterialize]]'s driver-built dispatch chain:
    * one when-branch per stratum, so the allocation must be
    * domain-sized (sources/domains/host classes), never host-scale. */
  val MaterializeMaxStrata = 4096

  /** The 8-hex-char threshold under which a key is in-sample:
    * floor(rate * 2^32) zero-padded — e.g. 0.5 -> "80000000". */
  def thresholdHex(rate: Double): String = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0, 1], got $rate")
    f"${math.min((rate * 4294967296.0).toLong, 0xffffffffL)}%08x"
  }

  /** The literal the predicate actually compares against: "g" for
    * rate >= 1 — lexicographically above every hex char, so every
    * NON-NULL key is kept (an 8-hex threshold could never include a
    * prefix of exactly "ffffffff", and a `lit(true)` short-circuit
    * would wrongly keep null keys and diverge from the oracle's string
    * compare). One form for every rate on both engines. */
  def thresholdLiteral(rate: Double): String =
    if (rate >= 1.0) "g" else thresholdHex(rate)

  /** In-sample predicate for one key at one rate. */
  def samplePredicate(key: Column, rate: Double, salt: String = ""): Column =
    substring(md5(concat(lit(salt), key.cast("string")).cast("binary")), 1, 8) <
      lit(thresholdLiteral(rate))

  /** Uniform deterministic sample of `rate` keyed on `keyCol`. */
  def hashSample(df: DataFrame, keyCol: String, rate: Double,
      salt: String = ""): DataFrame =
    df.filter(samplePredicate(col(keyCol), rate, salt))

  /**
   * Deterministic disjoint split assignment (train/val/test): each key
   * lands in the first split whose cumulative-weight hash threshold
   * exceeds its md5 prefix — the [[samplePredicate]] hex-compare, so
   * membership is reproducible across runs/engines/layouts, splits are
   * provably disjoint and exhaustive (the last split is the
   * `otherwise`), and a split's membership only depends on the weights
   * BEFORE it (growing the tail never reshuffles the head). Adds
   * `split`; null keys get a null split (no stable identity — the
   * [[Sampling]] contract). Weights must be positive and sum to 1
   * within 1e-9. Pure codegen'd projection, zero shuffle.
   */
  def assignSplits(df: DataFrame, keyCol: String,
      splits: Seq[(String, Double)], salt: String = ""): DataFrame = {
    require(splits.size >= 2, s"assignSplits: need >= 2 splits; got ${splits.size}")
    require(splits.forall(_._2 > 0), s"assignSplits: weights must be positive: $splits")
    val total = splits.map(_._2).sum
    require(math.abs(total - 1.0) < 1e-9, s"assignSplits: weights sum to $total, not 1")
    require(splits.map(_._1).distinct.size == splits.size,
      s"assignSplits: duplicate split names: $splits")
    val hex = substring(
      md5(concat(lit(salt), col(keyCol).cast("string")).cast("binary")), 1, 8)
    val cums = splits.map(_._2).scanLeft(0.0)(_ + _).tail
    val cases = splits.init.zip(cums.init)
    val expr = cases.foldRight(
      when(col(keyCol).isNotNull, lit(splits.last._1))) {
      case (((name, _), cum), elseExpr) =>
        when(col(keyCol).isNotNull && hex < lit(thresholdLiteral(cum)), name)
          .otherwise(elseExpr)
    }
    df.withColumn("split", expr)
  }

  /** Sorted when-chain dispatch on a stratum column — shared by
    * [[stratifiedSample]] and [[mixtureRates]] so the two agree on
    * stratum matching (they compose: rates out, sample in). */
  private def stratumCase(strata: Column, cases: Seq[(String, Column)],
      default: Column): Column =
    cases.sortBy(_._1).foldRight(default) {
      case ((stratum, value), elseExpr) =>
        when(strata === stratum, value).otherwise(elseExpr)
    }

  /**
   * Stratified deterministic sample: per-stratum rates (domain mixing —
   * upsample curated sources, downsample crawl), `defaultRate` for
   * strata not in the map. One when-chain predicate on the stratum
   * column; still filter-only, no shuffle.
   */
  def stratifiedSample(df: DataFrame, keyCol: String, strataCol: String,
      rates: Map[String, Double], defaultRate: Double = 1.0,
      salt: String = ""): DataFrame = {
    val key = col(keyCol)
    df.filter(stratumCase(col(strataCol),
      rates.toSeq.map { case (s, r) => s -> samplePredicate(key, r, salt) },
      samplePredicate(key, defaultRate, salt)))
  }

  /** Per-row token mass for the mixture aggregates: `tokens` or, with
    * a weight column, `tokens × weight` — weights are COUNT-valued
    * (long; [[graft.llm.SoftDedup]]'s duplicate multiplicities), and a
    * null weight counts 1 so unweighted rows pass through unchanged.
    * Long arithmetic keeps n_tokens exact and its schema BIGINT. */
  private def weightedTokens(tokensCol: String,
      weightCol: Option[String]): Column = weightCol match {
    case Some(w) =>
      col(tokensCol).cast("long") * coalesce(col(w).cast("long"), lit(1L))
    case None => col(tokensCol).cast("long")
  }

  /**
   * Per-stratum sampling rates that hit a target token mixture under a
   * budget — the data-mixing step in front of [[stratifiedSample]]:
   * `rate_s = min(1, budget * share_s / tokens_s)` keeps stratum s's
   * expected sampled tokens at `budget * share_s`, capped at keeping
   * everything (hash sampling cannot upsample; a capped stratum
   * undershoots its share and the output says so — including a
   * targeted stratum with zero tokens, which rates 0 and flags).
   * Strata absent from `targetShares` get rate 0 — excluded from the
   * mixture by contract. Shares must sum to at most 1: an
   * over-subscribed mixture would silently exceed the budget.
   *
   * One keyed aggregate (map-side combined) over the corpus, outer-
   * joined against the (tiny) target-share key set so EVERY
   * targeted stratum emits a row even when the corpus has no rows for
   * it — a targeted-but-absent stratum surfaces as (n_tokens=0, rate=0,
   * capped=true when its share is positive) instead of silently
   * disappearing, so callers watching `capped` see the undershoot. The
   * result is strata-sized. Output: (stratum, n_tokens, rate, capped).
   *
   * `weightCol` makes the token mass WEIGHT-AWARE: each row counts
   * `tokens × weight` instead of `tokens`, for count-valued weights
   * like [[graft.llm.SoftDedup]]'s duplicate multiplicities (the
   * weight is cast to long — fractional weights are not this
   * operator's contract; null weights count 1, i.e. unweighted). The
   * law this preserves ([[SoftDedupSpec]]): mixture rates computed
   * over the soft-deduped corpus with its weights equal the rates over
   * the un-deduped corpus — exact duplicates carry identical token
   * counts, so `Σ tokens·weight` over keepers = `Σ tokens` over all
   * copies, stratum by stratum.
   */
  def mixtureRates(df: DataFrame, strataCol: String, tokensCol: String,
      targetShares: Map[String, Double], budgetTokens: Long,
      weightCol: Option[String] = None): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be positive, got $budgetTokens")
    require(targetShares.values.forall(s => s >= 0 && s <= 1),
      s"target shares must be in [0, 1]: $targetShares")
    val total = targetShares.values.sum
    require(total <= 1.0 + 1e-9,
      f"target shares sum to $total%.4f > 1 — the mixture would exceed the budget")
    val share = stratumCase(col("stratum"),
      targetShares.toSeq.map { case (s, v) => s -> (lit(v): Column) }, lit(0.0))
    val targeted = df.sparkSession
      .createDataset(targetShares.keys.toSeq)(org.apache.spark.sql.Encoders.STRING)
      .toDF("stratum")
    df.groupBy(col(strataCol).as("stratum"))
      // coalesce: an all-null token column must read as zero tokens, not
      // poison the division into a null that least() would skip (turning
      // the rate into 1.0 — the opposite of "nothing to sample")
      .agg(coalesce(sum(weightedTokens(tokensCol, weightCol)), lit(0L))
        .as("n_tokens"))
      // full-outer against the target keys: absent targeted strata get a
      // zero-token row; a null-stratum aggregate row passes through (null
      // never equi-joins) and rates 0 via the share dispatch's default.
      // Both sides are strata-sized — the join cost is nil by construction
      .join(targeted, Seq("stratum"), "full_outer")
      .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
      .withColumn("_want", share * budgetTokens)
      .withColumn("rate",
        when(col("n_tokens") > 0,
          round(least(lit(1.0), col("_want") / col("n_tokens")), 6))
        .otherwise(lit(0.0)))
      .withColumn("capped", col("_want") > col("n_tokens"))
      .drop("_want")
  }

  /**
   * Temperature-scaled mixture — [[mixtureRates]] with the target
   * shares DERIVED from the observed sizes instead of hand-written:
   * `share_s = tokens_s^alpha / Σ_t tokens_t^alpha` (the multilingual
   * sampling standard, mC4/mT5's exponent-smoothed mixing). alpha = 1
   * reproduces the natural proportions; alpha → 0 flattens toward
   * uniform, boosting small strata at the big strata's expense —
   * pick ~0.3–0.7 to keep low-resource sources from vanishing.
   *
   * Same one-aggregate scale shape as [[mixtureRates]]; the share
   * normalizer Σ tokens^alpha is evaluated as a SORTED strata-sized
   * fold (stratum-ordered), so the double sum — and with it every rate
   * — is bit-identical under any partitioning. Output: (stratum,
   * n_tokens, share, rate, capped), shares and rates rounded to 6
   * (the cross-engine pow/round discipline: values, never
   * membership). A null stratum mixes as its own group, the
   * [[topKPerStratum]] convention.
   *
   * `weightCol` weighs each row's tokens by a count-valued multiplier
   * (see [[mixtureRates]]) — the [[graft.llm.SoftDedup]] composition:
   * Σ n^α over WEIGHTED per-stratum counts, so temperature shares over
   * the soft-deduped corpus equal shares over the un-deduped corpus.
   */
  def temperatureMixtureRates(df: DataFrame, strataCol: String,
      tokensCol: String, alpha: Double, budgetTokens: Long,
      ordered: Boolean = true, weightCol: Option[String] = None): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require(budgetTokens > 0, s"budgetTokens must be positive, got $budgetTokens")
    val counts = df.groupBy(col(strataCol).as("stratum"))
      .agg(coalesce(sum(weightedTokens(tokensCol, weightCol)), lit(0L))
        .as("n_tokens"))
    // Σ n^alpha as a broadcast one-row aggregate over a SORTED fold:
    // summing 20 doubles in partition order would make the last ulp —
    // and a rounding boundary with it — depend on layout
    val z = counts
      .select(struct(col("stratum"), col("n_tokens")).as("_s"))
      .agg(sort_array(collect_list(col("_s"))).as("_cs"))
      .select(aggregate(col("_cs"), lit(0.0),
        (acc, s) => acc +
          pow(s.getField("n_tokens").cast("double"), lit(alpha))).as("_z"))
    val rawShare = pow(col("n_tokens").cast("double"), lit(alpha)) / col("_z")
    val want = rawShare * budgetTokens
    counts.crossJoin(broadcast(z))
      .withColumn("share", round(rawShare, 6))
      .withColumn("rate",
        when(col("n_tokens") > 0,
          round(least(lit(1.0), want / col("n_tokens")), 6))
          .otherwise(lit(0.0)))
      .withColumn("capped", want > col("n_tokens"))
      .drop("_z")
      .transform(Presented(_, ordered, "stratum"))
  }

  /**
   * Deterministic fixed-COUNT per-stratum sample: exactly
   * min(k, |stratum|) rows per stratum — the k rows whose
   * (hash32(salt, key), key) is smallest, so the selection is a pure
   * function of (salt, keys) like every sampler here (and totally
   * ordered: unique keys break the vanishing hash ties).
   *
   * The ranking is [[rankedTopK]]'s rank-limited window, whose
   * map-side `WindowGroupLimit` already keeps a giant stratum out of
   * any one task — but it still SORTS every partition's full slice,
   * and the pushdown only fires while the `rn <= k` filter sits on the
   * window. On a corpus-sized input the two phases here replace that
   * per-partition sort with a codegen'd filter and shrink every
   * downstream operator to ~safety·k rows per stratum; on a batch-sized
   * input the phases' extra jobs cost more than the sort, so the
   * maintaining merge ([[graft.streaming.StreamingSample.mergeBatch]])
   * calls [[rankedTopK]] directly:
   *
   *  1. one map-side-combined count aggregate -> per-stratum counts
   *     (strata-sized, broadcast), giving each stratum a survivor rate
   *     `min(1, safety·k / count)`; the hash-prefilter at that rate is
   *     a codegen'd scan-side filter keeping ~safety·k rows per
   *     stratum — and because it keeps a PREFIX of the hash order, a
   *     stratum with >= min(k, count) survivors ranks EXACTLY as the
   *     full stratum would (every survivor precedes every non-survivor
   *     in (hash, key) order);
   *  2. the ranking window runs over the survivors — O(safety·k) rows
   *     per stratum regardless of stratum size. Strata that came up
   *     short (Chernoff-rare: P < e^-k at safety 4, and impossible when
   *     count <= safety·k since the rate is then 1) are re-ranked over
   *     their full rows via a broadcast join against the shortfall
   *     list — at scale the branch processes ~zero rows, but the result
   *     is exact ALWAYS, not just w.h.p. (the law the spec pins by
   *     forcing the fallback with a tiny safety).
   *
   * `safety` tunes survivor head-room; production wants >= 2. Values in
   * (0, 1) starve phase 1 and route strata through the fallback — only
   * useful to exercise that path deterministically.
   *
   * Output: the sampled input rows (original columns). Null keys are
   * excluded as in every sampler; a null STRATUM forms its own capped
   * group (null-safe joins throughout), consistent with
   * [[graft.llm.TextAnalysis.frequentTerms]] and `Hll.sketchByGroup`.
   * Keys must be unique within a stratum for a stable total order (the
   * [[graft.llm.Packing.shardShuffle]] precondition).
   */
  def topKPerStratum(df: DataFrame, keyCol: String, strataCol: String,
      k: Int, salt: String = "", safety: Double = 4.0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(safety > 0, s"safety must be positive, got $safety")
    val base = df.filter(col(keyCol).isNotNull)
    val counts = base.groupBy(col(strataCol).as("_tk_st"))
      .agg(count(lit(1)).as("_tk_cnt"))
    val need = least(lit(k.toLong), col("_tk_cnt"))
    val thr = when(lit(safety * k) >= col("_tk_cnt"), lit(1L << 32))
      .otherwise((lit(safety * k * 4294967296.0) / col("_tk_cnt")).cast("long"))
    // NOT persisted, deliberately: the survivor set feeds several plan
    // branches and a cache looks tempting, but a measured A/B at sf0.1
    // (min-of-3) showed persist-overhead costing MORE than the repeated
    // prefilter scans it saves; callers at true corpus scale can cache
    // `df` themselves if the input scan dominates.
    val survivors = base
      .join(broadcast(counts), col(strataCol) <=> col("_tk_st"))
      .filter(hash32(col(keyCol), salt) < thr)
      .select(df.columns.toSeq.map(col): _*)
    val shortfall = counts
      .join(survivors.groupBy(col(strataCol).as("_tk_st2"))
          .agg(count(lit(1)).as("_tk_sc")),
        col("_tk_st") <=> col("_tk_st2"), "left")
      .filter(coalesce(col("_tk_sc"), lit(0L)) < need)
      .select(col("_tk_st").as("_tk_fb"))
    val exact = rankedTopK(survivors
      .join(broadcast(shortfall), col(strataCol) <=> col("_tk_fb"), "left_anti"),
      keyCol, strataCol, k, salt)
    val rescued = rankedTopK(base
      .join(broadcast(shortfall), col(strataCol) <=> col("_tk_fb"), "left_semi"),
      keyCol, strataCol, k, salt)
    exact.unionByName(rescued)
  }

  /** The sampler's 32-bit key hash: the first 8 hex chars of
    * md5(salt || key) as a long. */
  private def hash32(key: Column, salt: String): Column =
    conv(substring(md5(concat(lit(salt), key.cast("string")).cast("binary")),
      1, 8), 16, 10).cast("long")

  /** THE fixed-count per-stratum rank: the rows ranked `<= k` by `rank`
    * over (hash32(salt, key), key) within each stratum, null keys
    * excluded, original columns. `rank` is `row_number()`, or
    * `dense_rank()` when duplicate rows must share one slot (the
    * maintaining merge's replay dedup). The filter sits on the window,
    * so Spark plans a map-side `WindowGroupLimit`: each map partition
    * keeps <= k rows per stratum before the exchange. */
  private[graft] def rankedTopK(df: DataFrame, keyCol: String,
      strataCol: String, k: Int, salt: String,
      rank: Column = row_number()): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(strataCol))
      .orderBy(hash32(col(keyCol), salt).asc, col(keyCol).asc)
    df.filter(col(keyCol).isNotNull)
      .withColumn("_tk_rn", rank.over(w))
      .filter(col("_tk_rn") <= k)
      .select(df.columns.toSeq.map(col): _*)
  }

  /**
   * Deterministic WEIGHTED sample without replacement: k rows drawn
   * with probability proportional to `weightCol` by sequential Poisson
   * sampling (Ohlsson 1998) — each row gets priority w/u for a uniform
   * u derived from md5(salt, key), and the k largest priorities are the
   * sample. The scheme is the order-sampling sibling of
   * Efraimidis-Spirakis A-ES (u^(1/w)); it is chosen here because its
   * priority is ONE correctly-rounded IEEE division of two exact
   * values — u = (u32(md5)+1)/2^32 is an exact dyadic rational and the
   * weight is cast once — so priorities (and therefore membership) are
   * bit-identical across engines/runs/layouts, where a pow/log form
   * would hang membership on libm's last ulp.
   *
   * Spark shape: codegen'd priority projection on the scan, then ONE
   * `orderBy(...).limit(k)` which Catalyst executes as
   * TakeOrderedAndProject — per-partition bounded heaps, only
   * partitions·k rows move, never a full sort exchange (the
   * [[graft.llm.Similarity]] top-k discipline). Ties break on the key
   * for a stable total order. Null keys are excluded ([[Sampling]]
   * contract); null/non-positive weights are excluded (a zero-weight
   * row must never be drawn, and w/u would not order it last).
   *
   * This is the "train on N docs favoring high quality-score" selection
   * stage; for a TOKEN budget instead of a row count, compose the same
   * priorities with [[graft.llm.BudgetSelect.takeUntilBudget]].
   */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: String, k: Int,
      salt: String = ""): DataFrame = {
    require(k > 0, s"weightedSample: k must be positive, got $k")
    df.filter(col(keyCol).isNotNull && col(weightCol).isNotNull &&
        col(weightCol).cast("double") > 0.0)
      .withColumn("priority", poissonPriority(col(keyCol), col(weightCol), salt))
      .orderBy(col("priority").desc, col(keyCol).asc)
      .limit(k)
  }

  /** The sequential-Poisson order-sampling priority w/u shared by
    * [[weightedSample]] and [[weightedTopKPerStratum]]: one
    * correctly-rounded IEEE division of two exact values (see the
    * [[weightedSample]] scaladoc for why this beats the A-ES pow form
    * on cross-engine determinism). */
  private def poissonPriority(key: Column, weight: Column,
      salt: String): Column =
    weight.cast("double") /
      ((hash32(key, salt) + lit(1L)).cast("double") / lit(4294967296.0))

  /**
   * Per-stratum WEIGHTED sample without replacement: min(k, |stratum|)
   * rows per stratum drawn with probability proportional to
   * `weightCol`, by the same sequential-Poisson priorities as
   * [[weightedSample]] (w/u, ties to the key) — the weighted sibling of
   * [[topKPerStratum]] for "keep each source's k docs favoring high
   * quality-score / duplicate-count weight".
   *
   * A max-k set under a per-row-intrinsic priority, so it is a
   * SEMILATTICE exactly like the uniform sampler's min-k — the property
   * [[graft.streaming.StreamingSample]]'s weighted merge leans on.
   *
   * Execution: the rank-limit filter sits immediately on the window, so
   * Spark's `WindowGroupLimit` pushdown keeps <= k rows per stratum per
   * map partition BEFORE the exchange — a Zipf-headed stratum never
   * lands whole in one task. [[topKPerStratum]]'s hash-prefilter phase
   * does NOT carry over: it works because a uniform rate keeps a PREFIX
   * of the hash order, but w/u priorities have no distribution-free
   * prefix (an unseen heavy weight can outrank any survivor), so the
   * pushdown window is the honest one-shot plan — and the maintaining
   * merge ([[graft.streaming.StreamingSample.mergeBatchWeighted]]),
   * where every ranking pass is batch-sized, is the scale path for a
   * corpus that arrives over time.
   *
   * Null keys and null/non-positive weights are excluded (the
   * [[weightedSample]] contract); a null stratum forms its own group.
   * Weights must be a pure function of the key (quality score, length,
   * duplicate count) — the priority, and with it membership, is only
   * replay-stable if a re-delivered key carries the same weight.
   */
  def weightedTopKPerStratum(df: DataFrame, keyCol: String,
      strataCol: String, weightCol: String, k: Int,
      salt: String = ""): DataFrame = {
    require(k > 0, s"weightedTopKPerStratum: k must be positive, got $k")
    val outCols = df.columns.toSeq.map(col)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol))
      .orderBy(poissonPriority(col(keyCol), col(weightCol), salt).desc,
        col(keyCol).asc)
    df.filter(col(keyCol).isNotNull && col(weightCol).isNotNull &&
        col(weightCol).cast("double") > 0.0)
      .withColumn("_wk_rn", row_number().over(w))
      .filter(col("_wk_rn") <= k)
      .select(outCols: _*)
  }

  /**
   * UniMax allocation (Chung et al. 2023, "UniMax: Fairer and More
   * Effective Language Sampling for Large-Scale Multilingual
   * Pretraining"): split a token budget across strata as UNIFORMLY as
   * possible, subject to a per-stratum repetition cap of `maxEpochs`
   * passes over its data — the epoch-capped alternative to
   * [[temperatureMixtureRates]]'s exponent smoothing (temperature
   * still over-samples small strata without bound as the corpus skews;
   * UniMax bounds repetition explicitly, which is what actually
   * protects against memorizing a tiny source).
   *
   * The greedy loop of the paper (ascending by capacity, give each
   * stratum min(its capacity, an equal share of what remains)) has a
   * WATER-FILLING closed form this evaluates declaratively: sort strata
   * ascending by capacity `cap = n_tokens * maxEpochs`; stratum i (of
   * n) SATURATES — receives its full capacity — iff
   * `cap_i * (n-i+1) + cum_{i-1} <= budget` (the predicate is monotone
   * along the sort, so the saturated set is a prefix); everyone else
   * shares the remainder equally at the water level
   * `lambda = (budget - sum(saturated caps)) / #unsaturated`.
   *
   * Numeric discipline: capacities are held in integer MILLI-tokens
   * (`n_tokens * round(maxEpochs*1000)` as BIGINT), so every cumulative
   * sum is exact and order-free — no summation-order ulp to diverge
   * across engines; the saturation predicate and the water level are
   * then single correctly-rounded double ops on those exact values,
   * bit-identical in any engine (the [[weightedSample]] discipline).
   * Output values round to 6.
   *
   * Scale shape: ONE map-side-combined corpus aggregate; everything
   * after runs on the strata-sized frame (the windows are
   * single-partition by construction, over tens-to-thousands of rows —
   * the [[temperatureMixtureRates]] normalizer judgment). Output:
   * (stratum, n_tokens, cap, alloc, epochs, saturated) — `epochs` is
   * the realized repetition alloc/n_tokens, <= maxEpochs by
   * construction. A null stratum allocates as its own group; a
   * zero-token stratum saturates at cap 0. `weightCol` weighs token
   * mass as in [[mixtureRates]] (the [[graft.llm.SoftDedup]]
   * composition).
   */
  def unimaxAllocation(df: DataFrame, strataCol: String, tokensCol: String,
      budgetTokens: Long, maxEpochs: Double, ordered: Boolean = true,
      weightCol: Option[String] = None): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be positive, got $budgetTokens")
    val epochsMilli = math.round(maxEpochs * 1000)
    require(epochsMilli > 0 && epochsMilli <= 1000000L,
      s"maxEpochs must be in [0.001, 1000] (milli-exact cap arithmetic), got $maxEpochs")
    require(budgetTokens <= Long.MaxValue / 2000,
      s"budgetTokens too large for exact milli-token arithmetic: $budgetTokens")
    val budgetMilli = budgetTokens * 1000L
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(col(strataCol).as("stratum"))
      .agg(coalesce(sum(weightedTokens(tokensCol, weightCol)), lit(0L))
        .as("n_tokens"))
      // the per-stratum cap shares the budget's exact-milli-arithmetic
      // guard: n_tokens * epochsMilli must not wrap (epochsMilli can
      // reach 1e6 at maxEpochs=1000, so a stratum past ~9.2e12 tokens
      // would silently corrupt the water-filling). raise_error keeps it
      // a codegen'd projection — no extra job on the strata-sized frame
      .withColumn("_cap_m",
        when(col("n_tokens") <= lit(Long.MaxValue / epochsMilli),
          col("n_tokens") * lit(epochsMilli))
        .otherwise(raise_error(concat(
          lit("unimaxAllocation: stratum token mass "),
          col("n_tokens").cast("string"),
          lit(s" overflows exact milli-token capacity at maxEpochs=$maxEpochs" +
            s" (limit ${Long.MaxValue / epochsMilli}) — lower maxEpochs or " +
            "pre-scale the token column")))))
    // ascending capacity, key tie-break; nulls first explicitly so the
    // oracle's NULLS FIRST spells the identical total order
    val byCap = Window.orderBy(col("_cap_m").asc,
      col("stratum").asc_nulls_first)
    val whole = Window.partitionBy()
    val ranked = counts
      .withColumn("_i", row_number().over(byCap))
      .withColumn("_n", count(lit(1)).over(whole))
      // exact BIGINT running sum — order-free, no double ulp drift
      .withColumn("_cum_prev", coalesce(
        sum(col("_cap_m")).over(byCap.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("saturated",
        col("_cap_m").cast("double") * (col("_n") - col("_i") + lit(1L)) <=
          (lit(budgetMilli) - col("_cum_prev")).cast("double"))
    val leveled = ranked
      .withColumn("_sat_sum", coalesce(
        sum(when(col("saturated"), col("_cap_m"))).over(whole), lit(0L)))
      .withColumn("_sat_cnt",
        sum(when(col("saturated"), lit(1L)).otherwise(lit(0L))).over(whole))
      .withColumn("_lambda_m",
        (lit(budgetMilli) - col("_sat_sum")).cast("double") /
          (col("_n") - col("_sat_cnt")).cast("double"))
      .withColumn("_alloc_m",
        when(col("saturated"), col("_cap_m").cast("double"))
          .otherwise(col("_lambda_m")))
    leveled
      .withColumn("cap", round(col("_cap_m") / lit(1000.0), 6))
      .withColumn("alloc", round(col("_alloc_m") / lit(1000.0), 6))
      .withColumn("epochs",
        when(col("n_tokens") > 0,
          round(col("_alloc_m") / (col("n_tokens").cast("double") * lit(1000.0)), 6))
        .otherwise(lit(0.0)))
      .select(col("stratum"), col("n_tokens"), col("cap"), col("alloc"),
        col("epochs"), col("saturated"))
      .transform(Presented(_, ordered, "stratum"))
  }

  /**
   * MATERIALIZE a [[unimaxAllocation]]: emit each doc `floor(epochs_s)`
   * times plus one more iff the key hash-samples at the fractional rate
   * `epochs_s - floor(epochs_s)` — the step that turns the allocation
   * into an actual epoch-repeated training corpus (UniMax's "repeat
   * small sources up to the cap" is REPETITION, which plain
   * rate-sampling cannot express: [[mixtureRates]] caps at keeping
   * everything once). Output: the input rows with a `copy` index
   * (0-based; a doc drawn c times appears with copy 0..c-1, so
   * downstream shuffling/packing can treat copies as distinct rows),
   * realized tokens per stratum = alloc in expectation, exact per-key
   * determinism via [[samplePredicate]].
   *
   * Scale shape: the allocation's strata-sized output collects
   * driver-side (the model-sized-collect discipline) into ONE sorted
   * when-chain of literal (full, fractional-threshold) pairs — the
   * [[stratifiedSample]] dispatch, zero shuffle beyond the
   * allocation's own aggregate; the copy explode is a codegen'd
   * `sequence` bounded by ceil(maxEpochs) per row. Null keys are
   * excluded (no hash identity — the [[Sampling]] contract); a null
   * stratum materializes through its own dispatch branch. The stratum
   * may be any literal-able type (string domains, BIGINT router preds —
   * dispatch compares on the column's native type, the
   * [[unimaxAllocation]] composition contract).
   *
   * DOMAIN-SIZED STRATA ONLY: the dispatch is a driver-built when-chain
   * with one branch per stratum, so the allocation's cardinality is
   * hard-capped at `MaterializeMaxStrata` (4096 — generous for
   * domain/source/host-class mixes, far under a plan-size blowup). A
   * host-scale stratum column (millions of distinct keys) must be
   * bucketed/classed BEFORE allocation — refusing here beats a
   * driver-side OOM building a million-branch expression tree.
   */
  def unimaxMaterialize(df: DataFrame, keyCol: String, strataCol: String,
      tokensCol: String, budgetTokens: Long, maxEpochs: Double,
      salt: String = "", weightCol: Option[String] = None): DataFrame = {
    val alloc = unimaxAllocation(df, strataCol, tokensCol, budgetTokens,
        maxEpochs, ordered = false, weightCol)
      .select("stratum", "epochs").collect()
    require(alloc.length <= MaterializeMaxStrata,
      s"unimaxMaterialize: ${alloc.length} strata exceed the when-chain " +
        s"dispatch bound ($MaterializeMaxStrata) — the stratum column is " +
        "host-scale, not domain-scale; bucket or classify it before " +
        "allocating (a million-branch expression tree would kill the driver)")
    val key = col(keyCol)
    def copiesOf(epochs: Double): Column = {
      val full = math.floor(epochs).toLong
      val frac = epochs - full
      lit(full) + when(samplePredicate(key, frac, salt), lit(1L))
        .otherwise(lit(0L))
    }
    // dispatch on the stratum's NATIVE value (r.get / lit of the raw
    // value): a BIGINT or other non-string stratum — anything
    // unimaxAllocation groups on — composes without a cast; branch
    // order sorts on the string form purely for plan determinism
    val named = alloc.filter(r => !r.isNullAt(0))
      .map(r => r.get(0) -> copiesOf(r.getDouble(1))).toSeq
      .sortBy(_._1.toString)
    val nullBranch = alloc.find(_.isNullAt(0))
      .map(r => copiesOf(r.getDouble(1))).getOrElse(lit(0L))
    val chain = named.foldRight(
      when(col(strataCol).isNull, nullBranch).otherwise(lit(0L))) {
        case ((stratum, value), elseExpr) =>
          when(col(strataCol) === lit(stratum), value).otherwise(elseExpr)
      }
    df.filter(key.isNotNull)
      .withColumn("_nc", chain)
      .filter(col("_nc") > 0)
      .withColumn("copy", explode(sequence(lit(0L), col("_nc") - 1)))
      .drop("_nc")
  }

  /**
   * The allocate → materialize AUDIT: per stratum, the token mass a
   * materialized corpus actually realized against what the allocation
   * asked for — the report that catches a drifted salt, a re-run on
   * changed data, or a downstream filter silently starving a stratum
   * before training reads the mix. Output: (stratum, n_tokens, alloc,
   * realized_tokens, realized_epochs, deviation) with deviation =
   * (realized - alloc)/alloc rounded to 6 (binomial noise from the
   * fractional draws shows up here as small deviations — that is the
   * point of reading the audit, not a defect of it).
   *
   * ONE map-side-combined aggregate over the materialized corpus
   * (copies count each — `tokensCol` rides every copy row), then a
   * strata-sized full-outer join against the allocation so a stratum
   * the materialization starved to zero rows still reports.
   */
  def realizedMixture(materialized: DataFrame, strataCol: String,
      tokensCol: String, alloc: DataFrame,
      ordered: Boolean = true): DataFrame = {
    val real = materialized.groupBy(col(strataCol).as("stratum"))
      .agg(coalesce(sum(col(tokensCol).cast("long")), lit(0L))
        .as("realized_tokens"))
      .withColumnRenamed("stratum", "_rstratum")
    // null-SAFE join key: unimaxAllocation treats a null stratum as its
    // own group, so the audit must line its allocation row up with its
    // realized row — a plain equi-join would emit two half-rows instead
    alloc.select(col("stratum"), col("n_tokens"), col("alloc"))
      .join(real, col("stratum") <=> col("_rstratum"), "full_outer")
      .withColumn("stratum", coalesce(col("stratum"), col("_rstratum")))
      .drop("_rstratum")
      .withColumn("realized_tokens", coalesce(col("realized_tokens"), lit(0L)))
      .withColumn("realized_epochs",
        when(col("n_tokens") > 0,
          round(col("realized_tokens").cast("double") /
            col("n_tokens").cast("double"), 6))
        .otherwise(lit(0.0)))
      .withColumn("deviation",
        when(col("alloc") > 0,
          round((col("realized_tokens").cast("double") - col("alloc")) /
            col("alloc"), 6))
        .otherwise(lit(0.0)))
      .transform(Presented(_, ordered, "stratum"))
  }
}
