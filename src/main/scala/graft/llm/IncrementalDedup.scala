package graft.llm

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/**
 * Incremental exact dedup: classify a NEW batch of documents against a
 * persisted content-hash index of everything already accepted, without
 * rescanning the historical corpus — the shape a 100 TB training-data
 * pipeline actually runs (history is petabytes on disk; the index is one
 * ~24-byte row per distinct content).
 *
 * Statuses, in precedence order:
 *  - `dup_of_history` — content already in the index (`dup_of` = the
 *    historical keeper's id); "seen once, dropped forever".
 *  - `dup_in_batch`   — unseen content, but another batch row with a
 *    smaller id carries it (`dup_of` = that row's id).
 *  - `new`            — the batch's keeper for an unseen content.
 *
 * Scale shape: the batch's (id, hash) rows cross the wire ONCE — into
 * the in-batch keeper window, whose content_hash partitioning the
 * history sort-merge join reuses (co-partitioned with a bucketed
 * index); the index is never broadcast and never rescans the corpus it
 * summarizes.
 * [[mergeIndex]] folds the accepted `new` rows back in for the next
 * run — the same last-wins union-groupBy as the initial build.
 */
object IncrementalDedup {

  /** Null-content sentinel: null texts hash to null, and a null key
    * never survives a plain equi-join — but the dedup contract wants
    * null-text docs treated as ONE content ("no content"), in-batch and
    * across batches. Normalizing null to a non-hex sentinel (md5 hex is
    * 32 lowercase hex chars, so "-" cannot collide) keeps every join a
    * plain equi-join — a null-SAFE join (<=>) would instead normalize
    * the join keys and re-shuffle the batch for the history join,
    * breaking the one-shuffle co-partitioning below. */
  private val NullHash = "-"
  private def contentHash(text: org.apache.spark.sql.Column) =
    coalesce(TextOps.md5Hex(text), lit(NullHash))

  /** The persisted index: (content_hash, keep_id) — exactly
    * [[ExactDedup]]'s output minus the copy count, with null-text
    * contents normalized to the [[NullHash]] sentinel. */
  def buildIndex(df: DataFrame, idCol: String, textCol: String): DataFrame =
    ExactDedup(df, idCol, textCol)
      .select(coalesce(col("content_hash"), lit(NullHash)).as("content_hash"),
        col("keep_id"))

  /**
   * Classify `batch` against `index`. Output
   * (doc_id, content_hash, status, dup_of), dup_of null for `new` rows.
   *
   * The in-batch keeper is a running `min(doc_id)` window over the
   * content_hash partition (ROWS unbounded preceding to current row,
   * ids ascending, nulls last — at every row that is the group's min
   * id, the aggregate's answer), so the plan reads the batch ONCE: no
   * keeper aggregate joined back, no second pass over the batch. A
   * crawl batch can carry millions of copies of one boilerplate
   * document; the window holds each content_hash group in its
   * SPILLABLE row buffer (O(group), never O(k²) — IncrementalPipelineSpec
   * pins a 20,000-copy group under a 64-row spill threshold). The
   * window's hash partitioning on content_hash is what the history
   * sort-merge join needs, so with buckets = shuffle partitions the
   * bucketed index joins without a second exchange on either side.
   *
   * The index must be sentinel-normalized (no null content_hash rows) —
   * every builder in this object emits it that way ([[buildIndex]],
   * [[mergeIndex]], the [[IndexStore]] writers). The history join reads
   * the index column RAW rather than re-coalescing defensively: a
   * normalizing projection is not an alias, so it would discard the
   * hash partitioning a bucketed index scan provides and re-shuffle the
   * terabyte-scale index side every batch — the exact cost the bucketed
   * store exists to remove.
   */
  def classify(batch: DataFrame, index: DataFrame,
      idCol: String, textCol: String): DataFrame =
    classifyCore(batch, index, idCol, textCol, keepText = false)

  /** [[classify]] with the batch's text column CARRIED THROUGH — the
    * [[IncrementalPipeline]] fold: the pipeline previously checkpointed
    * the gate/containment chain once for classify and AGAIN for the
    * kept-join that re-attached text; with text on the classified rows
    * one checkpoint serves both (kept = filter status = new, no join).
    * Output (doc_id, text, content_hash, status, dup_of). Same plan as
    * [[classify]]: text crosses the wire once, into the keeper
    * window's content_hash exchange, exactly the once the old kept-join
    * paid. */
  private[llm] def classifyWithText(batch: DataFrame, index: DataFrame,
      idCol: String, textCol: String): DataFrame =
    classifyCore(batch, index, idCol, textCol, keepText = true)

  /** The shared classify plan (the classifyBandedCore discipline: one
    * core, a flag for the variant — the keeper/status logic must never
    * fork between the public API and the pipeline twin). */
  private def classifyCore(batch: DataFrame, index: DataFrame,
      idCol: String, textCol: String, keepText: Boolean): DataFrame = {
    val hashed = batch.select(
      Seq(col(idCol).as("doc_id")) ++
      (if (keepText) Seq(col(textCol).as("text")) else Nil) :+
      // sentinel-normalized (see NullHash): null-text rows keep the
      // one-output-row-per-input-row contract and dedup as one content,
      // in-batch and across batches, through plain equi-joins
      contentHash(col(textCol)).as("content_hash"): _*)
    val keeper = org.apache.spark.sql.expressions.Window
      .partitionBy("content_hash").orderBy(col("doc_id").asc_nulls_last)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    hashed
      .withColumn("_batch_keep", min(col("doc_id")).over(keeper))
      .join(index.select(col("content_hash"), col("keep_id").as("_hist")),
        Seq("content_hash"), "left")
      .select(
        Seq(col("doc_id")) ++
        (if (keepText) Seq(col("text")) else Nil) ++
        Seq(
          col("content_hash"),
          when(col("_hist").isNotNull, lit("dup_of_history"))
            .when(col("doc_id") =!= col("_batch_keep"), lit("dup_in_batch"))
            .otherwise(lit("new")).as("status"),
          when(col("_hist").isNotNull, col("_hist"))
            .when(col("doc_id") =!= col("_batch_keep"), col("_batch_keep"))
            .as("dup_of")): _*)
  }

  /** The next run's index: history plus the batch's accepted keepers.
    * First-wins on the hash — a content already indexed keeps its
    * original keeper id (classified rows for it were dup_of_history,
    * so nothing downstream references the batch id). */
  def mergeIndex(index: DataFrame, classified: DataFrame): DataFrame =
    index.select( // normalize pre-sentinel persisted indexes on the way in
        coalesce(col("content_hash"), lit(NullHash)).as("content_hash"),
        col("keep_id"))
      .unionByName(
        classified.filter(col("status") === "new")
          .select(col("content_hash"), col("doc_id").as("keep_id")))
      .groupBy("content_hash")
      .agg(min(col("keep_id")).as("keep_id"))
}

/**
 * Incremental FUZZY dedup: classify a new batch against a persisted
 * MinHash band/signature index of everything already accepted — the
 * fuzzy sibling of [[IncrementalDedup]], closing the incremental tier
 * of the dedup ladder (exact -> normalized -> fuzzy, each batch vs
 * index). History is never rescanned: the index carries, per accepted
 * doc, its LSH band keys (candidate generation) and its `numHashes`
 * minhash components (verification) — a few hundred bytes per doc
 * regardless of document size, exactly what production near-dup
 * pipelines persist (shingle sets would be corpus-sized; signatures
 * are the sketch).
 *
 * Candidates come from band-key equality (same banding construction as
 * [[MinHashNearDup]]); verification is the standard MinHash ESTIMATE —
 * the count of equal signature components (E[matches/numHashes] =
 * Jaccard), compared against `minMatch`. Exact-Jaccard verification is
 * impossible against an index by design (no shingle sets), which is
 * the honest production trade: the estimate's variance is the price of
 * an O(sketch)-sized history.
 *
 * Statuses and precedence mirror [[IncrementalDedup.classify]]:
 * `dup_of_history` (min matching indexed id), else `dup_in_batch`
 * (min matching smaller batch id), else `new`; `dup_of` = -1 for new
 * rows. Batch docs too short to shingle are `new` by construction.
 *
 * Scale shape: one typed sketch pass over the BATCH only
 * ([[MinHashSketch]], the per-row sketch [[MinHashNearDup]] computes
 * too); band explode joins are bucket-equality on (band index, band
 * key) — the index side shuffles its band rows, not history text;
 * estimate verification reads the signatures carried on the band rows.
 * [[classify]] persists the batch sketch, which feeds the plan's
 * branches (the history join, the in-batch [[BucketPairs]] pass and the
 * id spine); [[IncrementalPipeline]] instead sketches inside its
 * classify checkpoint ([[sketchTotal]]) and its branches read that
 * storage.
 */
object IncrementalMinHash {

  /** Typed sketch pass: (_id, _sig, _bands) for rows with a non-null
    * id and >= shingleN tokens; ids cast to long. */
  private def sketch(df: DataFrame, idCol: String, textCol: String,
      mh: MinHashSketch): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("_id", LongType, nullable = true),
      StructField("_sig", ArrayType(StringType, containsNull = true), nullable = true),
      StructField("_bands", ArrayType(StringType, containsNull = true), nullable = true)))
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.flatMap { r =>
          val s = if (r.isNullAt(0)) null else mh(md, r.getString(1))
          if (s == null) Iterator.empty
          else Iterator.single(org.apache.spark.sql.Row(r.getLong(0), s._2, s._3))
        }
      }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** The persisted index: (keep_id, sig, bands) per accepted doc. */
  def buildIndex(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 9, bands: Int = 3): DataFrame =
    sketch(df, idCol, textCol, MinHashSketch(shingleN, numHashes, bands))
      .select(col("_id").as("keep_id"), col("_sig").as("sig"), col("_bands").as("bands"))

  /** [[buildIndex]] over the batch rows `classified` marks `new` — the
    * sketches the next run's index gains (recomputed on that small
    * subset; the batch sketch cache is released by then). */
  private[llm] def acceptedIndex(batch: DataFrame, classified: DataFrame,
      idCol: String, textCol: String, shingleN: Int, numHashes: Int,
      bands: Int): DataFrame = {
    // fresh alias for the id: `classified.doc_id` would collide with a
    // batch whose idCol is already named doc_id
    val accepted = batch.join(
      classified.filter(col("status") === "new")
        .select(col("doc_id").as("_accepted_id")),
      batch(idCol).cast("long") === col("_accepted_id")).drop("_accepted_id")
    buildIndex(accepted, idCol, textCol, shingleN, numHashes, bands)
  }

  /** Count of equal signature components — the MinHash Jaccard
    * estimator's numerator. */
  private def matchCount(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)

  /** Per-row guard that `arr` is exactly `expected` wide: a mismatched
    * index (built with different sketch parameters) would otherwise
    * flow through `zip_with`, which pads the shorter side with nulls and
    * silently under-counts matches — dups would classify as `new`.
    * Evaluates inline in the projection (codegen'd, no extra job). */
  private def widthChecked(arr: Column, expected: Int, what: String): Column =
    when(size(arr) === expected, arr).otherwise(raise_error(concat(
      lit(s"IncrementalMinHash.classify: index $what width "),
      size(arr).cast("string"),
      lit(s" != expected $expected — the index was built with different " +
        "sketch parameters (shingleN/numHashes/bands) than this call; " +
        "rebuild it or pass the parameters it was built with"))))

  /**
   * Classify `batch` against `index`. Output (doc_id, status, dup_of),
   * dup_of = -1 for `new` rows.
   *
   * The index must have been built with the SAME `numHashes`/`bands`
   * as this call: every index row's sketch widths are guarded inline
   * and a mismatch raises rather than silently under-counting matches.
   *
   * `dup_of` for a `dup_in_batch` row is a BATCH-LOCAL reference: the
   * min matching smaller batch id, which may itself be classified
   * `dup_of_history` (or `dup_in_batch` of a yet-smaller row) and then
   * never enters the merged index — MinHash similarity is not
   * transitive, so the row need not also match that row's own keeper.
   * Callers that need every `dup_of` to resolve into the merged index
   * apply [[resolveKeepers]] to the classified batch (opt-in: the
   * chain hops cost extra joins the raw classification doesn't).
   *
   * The batch sketch is cached for the duration of the (lazy) returned
   * plan — it feeds several plan branches. Release it between batches
   * via the `scope` handle (or [[graft.CacheScope.releaseSession]]).
   *
   * @param minMatch minimum equal signature components out of
   *                 `numHashes` (estimated Jaccard >= minMatch/numHashes)
   */
  def classify(batch: DataFrame, index: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3, numHashes: Int = 9,
      bands: Int = 3, minMatch: Int = 5,
      scope: graft.CacheScope = graft.CacheScope.session): DataFrame =
    classifyBanded(batch,
      bandedIndex(index.select(col("keep_id"),
        widthChecked(col("bands"), bands, "bands").as("bands"), col("sig"))),
      idCol, textCol, shingleN, numHashes, bands, minMatch, scope)

  /** An empty band-exploded index — [[classifyBanded]] against it is
    * pure in-batch near-dup semantics (the one-shot builder's stage
    * 6b, and the maintaining builder's first batch). */
  def emptyBandedIndex(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    // LocalRelation-backed (not emptyRDD): the optimizer can PROVE this
    // empty, so PropagateEmptyRelation deletes the whole history-join
    // arm from the first-batch/one-shot plan instead of scheduling its
    // stages against zero rows
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      StructType(Seq(
        StructField("band_idx", IntegerType),
        StructField("band_key", StringType),
        StructField("keep_id", LongType),
        StructField("sig", ArrayType(StringType)))))
  }

  /** The band-exploded index shape the bucketed [[IndexStore]] persists:
    * one row per (band position, band key) per accepted doc, with the
    * doc's full signature inline — sig is duplicated `bands`x (a few
    * hundred bytes per doc), the price for verifying candidates without
    * a second index join that would re-shuffle the index by keep_id. */
  def bandedIndex(index: DataFrame): DataFrame =
    index.select(col("keep_id"), col("sig"),
        posexplode(col("bands")).as(Seq("_b", "_bk")))
      .select(col("_b").as("band_idx"), col("_bk").as("band_key"),
        col("keep_id"), col("sig"))

  /**
   * [[classify]] against a band-exploded index
   * (band_idx, band_key, keep_id, sig) — the saved-index fast path.
   * When `banded` is an [[IndexStore]] table bucketed on
   * (band_idx, band_key), the candidate join consumes the scan's own
   * hash partitioning and the terabyte-scale index side runs with ZERO
   * exchange — only batch-derived sides shuffle (pinned in
   * PlanAssertionsSpec). The join keys are plain ALIASES of the bucket
   * columns; the parameter guards run as a partitioning-preserving
   * filter (assert_true) and a non-key projection (sig width), so the
   * scan's partitioning survives to the join.
   *
   * A candidate pair matched by k bands is verified k times (k <=
   * `bands`) instead of paying a distinct shuffle first; the min
   * aggregate dedups.
   */
  def classifyBanded(batch: DataFrame, banded: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3, numHashes: Int = 9,
      bands: Int = 3, minMatch: Int = 5,
      scope: graft.CacheScope = graft.CacheScope.session): DataFrame = {
    // the batch sketch (rows that CAN sketch only) feeds three plan
    // branches — the history join, the in-batch pass and, through the
    // distinct id spine, the one-row-per-id contract — so it persists
    val bs = scope.track(sketch(batch, idCol, textCol,
        MinHashSketch(shingleN, numHashes, bands))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val dups = matches(bs, banded, numHashes, bands, minMatch)
    val spine = batch.select(col(idCol).cast("long").as("doc_id")).distinct()
    spine.join(dups, spine("doc_id") === dups("_id"), "left")
      .select(statusCols(spine("doc_id")): _*)
  }

  /**
   * [[classifyBanded]] over a [[sketchTotal]] frame, with each doc's
   * sketch AND TEXT carried on the output — (doc_id, status, dup_of,
   * <textCol>, _sig, _bands, _self_exact), where doc_id keeps the id
   * column's ORIGINAL type, _sig/_bands are null for docs too short to
   * shingle and _self_exact is 1 iff the doc's HISTORY match on its own
   * id was signature-identical (all `numHashes` components equal). The
   * sketched frame is its own spine (one row per input row, id and
   * text aboard), so there is no distinct, no sketch re-join and no
   * kept re-join. [[IncrementalPipeline]] computes the sketch inside
   * its classify checkpoint, so every branch here reads checkpoint
   * storage — no persist — and checkpoints the ACCEPTED rows directly;
   * the maintainer then appends accepted sketches without
   * re-tokenizing. The crash-replay self-match acceptance demands an
   * IDENTICAL signature — a reused id carrying merely near-dup text
   * never slips through as its own keeper. Rows whose _id is null
   * (unsketched) are `new` with dup_of -1.
   */
  private[llm] def classifyBandedSketched(sketched: DataFrame,
      banded: DataFrame, idCol: String, textCol: String, numHashes: Int = 9,
      bands: Int = 3, minMatch: Int = 5): DataFrame = {
    val bs = sketched.select(col(idCol).as("_oid"), col("_id"), col(textCol),
      col("_sig"), col("_bands"))
    val d = matches(bs, banded, numHashes, bands, minMatch)
      .select(col("_id").as("_did"), col("_hist"), col("_prev"), col("_selfx"))
    bs.join(d, bs("_id") === col("_did"), "left")
      .select(statusCols(col("_oid").as("doc_id")) ++ Seq(
        col(textCol), col("_sig"), col("_bands"),
        coalesce(col("_selfx"), lit(0)).as("_self_exact")): _*)
  }

  /** TOTAL sketch pass: `df`'s columns (text cast to string) plus
    * (_id long, _sig, _bands) — one output row PER INPUT ROW, sketched
    * only where `where` holds; _id/_sig/_bands are null elsewhere, and
    * _sig/_bands also when the row cannot sketch (null id, null text,
    * or fewer than shingleN tokens). Carrying every column through
    * makes the frame both the [[classifyBandedSketched]] spine and its
    * text source; [[IncrementalPipeline]] runs it over its exact
    * classification (`where` = status 'new') before checkpointing.
    * `idName` names the id column in the non-long-id error (default
    * `idCol`; the pipeline passes its caller's column name). */
  private[llm] def sketchTotal(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 9, bands: Int = 3,
      where: Column = lit(true), idName: String = ""): DataFrame = {
    import org.apache.spark.sql.types._
    val mh = MinHashSketch(shingleN, numHashes, bands)
    // a non-null id that is not a long would sketch as unkeyed and so
    // always classify `new` — silently bypassing the fuzzy gate; raise
    // instead (inline, like the index width guards: no extra job)
    val lid = col(idCol).try_cast("long")
    val in = df.select(df.columns.toSeq.map(c =>
        if (c == textCol) col(c).cast("string").as(c) else col(c)) :+
      when(!where, lit(null).cast("long"))
        .when(col(idCol).isNull || lid.isNotNull, lid)
        .otherwise(raise_error(lit(
          s"IncrementalMinHash.classifyBanded: id column " +
            s"'${if (idName.isEmpty) idCol else idName}' holds a " +
            "non-null value that is not a long — fuzzy dedup keys on long " +
            "ids; cast or remap the id column first"))).as("_id"): _*)
    val schema = in.schema
      .add("_sig", ArrayType(StringType, containsNull = true), nullable = true)
      .add("_bands", ArrayType(StringType, containsNull = true), nullable = true)
    val (ti, ii) = (in.schema.fieldIndex(textCol), in.schema.fieldIndex("_id"))
    in.mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { r =>
          val s = if (r.isNullAt(ii)) null else mh(md, r.getString(ti))
          org.apache.spark.sql.Row.fromSeq(r.toSeq ++
            (if (s == null) Seq(null, null) else Seq(s._2, s._3)))
        }
      }(org.apache.spark.sql.Encoders.row(schema))
  }

  private def statusCols(id: Column): Seq[Column] = Seq(
    id,
    when(col("_hist").isNotNull, lit("dup_of_history"))
      .when(col("_prev").isNotNull, lit("dup_in_batch"))
      .otherwise(lit("new")).as("status"),
    coalesce(col("_hist"), col("_prev"), lit(-1L)).as("dup_of"))

  /** Per sketched doc (`bs`: _id, _sig, _bands), its min verified
    * history keeper `_hist`, its min verified smaller batch id `_prev`,
    * and `_selfx` = 1 iff it matched its own id in history on every
    * signature component. */
  private def matches(bs: DataFrame, banded: DataFrame, numHashes: Int,
      bands: Int, minMatch: Int): DataFrame = {
    // the batch band rows carry the signature INLINE (duplicated bands×
    // — the same sketch-sized trade the persisted index makes), so
    // candidate verification needs no signature re-join: the old shape
    // paid a pair distinct plus TWO extra shuffles joining bs back per
    // side; verifying a pair once per matching band instead is free
    // under the min/max aggregates. (posexplode drops null-_bands rows,
    // so the total sketch's unsketchable rows generate no candidates —
    // the same rows the public sketch never emits.)
    val bBand = bs.select(col("_id"), col("_sig"),
      posexplode(col("_bands")).as(Seq("_b", "_bk")))
    val hBand = banded
      // an index built with MORE bands than this call would surface as
      // band positions this batch never probes — matches silently lost;
      // raise instead. assert_true keeps this a Filter (partitioning
      // survives); fewer-bands mismatches are caught by the sig width
      // guard below (numHashes/bands always change together here)
      .filter(assert_true(col("band_idx") < bands,
        lit(s"IncrementalMinHash.classifyBanded: index band_idx >= expected " +
          s"bands ($bands) — the index was built with different sketch " +
          "parameters than this call; rebuild it or pass the parameters " +
          "it was built with")).isNull)
      .select(col("band_idx").as("_b"), col("band_key").as("_bk"),
        col("keep_id"),
        widthChecked(col("sig"), numHashes, "signature").as("sig"))

    // history matches and in-batch matches UNION into ONE keyed
    // aggregate (the old shape paid two groupBy exchanges and two
    // spine joins for what is a single per-doc reduction)
    val histPairs = bBand.join(hBand, Seq("_b", "_bk"))
      .withColumn("_mc", matchCount(col("_sig"), col("sig")))
      .filter(col("_mc") >= minMatch)
      .select(col("_id"), col("keep_id"), col("_mc"),
        lit(true).as("_fromHist"))
    // in-batch matches: the only consumer is the `_prev` min(keep_id)
    // per _id below, so each band member needs just its SMALLEST
    // verified partner among the smaller batch ids sharing its
    // (band position, band key) — the min over those per-band minima is
    // exactly the min over every verified pair, so the earliest-partner
    // rule is exact while output stays O(k) per band group and a group
    // of k near-identical docs costs k - 1 verifications
    // ([[BucketPairs]]). A pair verifies when >= minMatch signature
    // components are equal (null components never count — the zip_with
    // twin); equal ids never pair; null band keys never join, so they
    // generate nothing here either.
    val pairSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_id",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("keep_id",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("_mc",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("_fromHist",
        org.apache.spark.sql.types.BooleanType, nullable = false)))
    val mm = minMatch
    val batchPairs = BucketPairs(bBand, Seq("_b", "_bk"), "_id", pairSchema,
        earliestOnly = true) { r =>
      (r.getLong(0), if (r.isNullAt(1)) null else r.getSeq[String](1).toArray)
    } { (a, b) =>
      val sa = a._2
      val sb = b._2
      if (sa == null || sb == null) null
      else {
        var m = 0
        var p = 0
        val n = math.min(sa.length, sb.length)
        while (p < n) {
          val x = sa(p)
          if (x != null && x == sb(p)) m += 1
          p += 1
        }
        if (m >= mm) org.apache.spark.sql.Row(b._1, a._1, 0, false) else null
      }
    }
    histPairs.unionByName(batchPairs)
      .groupBy(col("_id"))
      .agg(
        min(when(col("_fromHist"), col("keep_id"))).as("_hist"),
        min(when(!col("_fromHist"), col("keep_id"))).as("_prev"),
        max(when(col("_fromHist") && col("keep_id") === col("_id") &&
          col("_mc") === numHashes, 1).otherwise(0)).as("_selfx"))
  }

  /**
   * Opt-in totality pass over [[classify]]'s output: rewrite every
   * `dup_of` so it references an id that survives the run — a member of
   * (merged index ∪ batch keepers). A `dup_in_batch` row's batch-local
   * target may itself be `dup_of_history` (then this row's `dup_of`
   * becomes that row's HISTORY keeper) or `dup_in_batch` of a smaller
   * row (then the chain is followed). Statuses are untouched — only
   * the reference is rewritten.
   *
   * Chains strictly decrease the id at every hop (a `dup_in_batch`
   * target is always a smaller batch id), so the loop terminates in at
   * most the longest chain's length; each round is one equi-join of the
   * batch against its own (id -> status, dup_of) map plus an O(1)-row
   * convergence count, with a lazy localCheckpoint cutting plan growth
   * (the [[DupClusters]] discipline). Each round's checkpoint is
   * released as soon as the next round's materializes — a deep chain
   * holds at most TWO batch-sized copies, not rounds x; the final
   * round's (which backs the returned DataFrame) is registered with
   * `scope`. History keeper ids are final by construction, and a
   * `_resolved` flag pins them so a history id that collides with a
   * batch id is never re-chased.
   *
   * @param maxRounds hard cap on chain hops; exceeding it throws
   *                  rather than returning partially resolved refs
   */
  def resolveKeepers(classified: DataFrame, maxRounds: Int = 20,
      scope: graft.CacheScope = graft.CacheScope.session): DataFrame = {
    val targets = classified.select(
      col("doc_id").as("_tid"), col("status").as("_tstatus"),
      col("dup_of").as("_tdup"))
    var cur = classified
      .withColumn("_resolved", col("status") =!= "dup_in_batch")
    // the storage behind cur's checkpoint, once cur IS a checkpoint —
    // never the caller's own plan (round 0 tracks None)
    var curCk: Option[org.apache.spark.rdd.RDD[_]] = None
    var round = 0
    var done = false
    while (!done) {
      val hopped = cur
        .join(targets, col("dup_of") === col("_tid") && !col("_resolved"), "left")
        .select(
          col("doc_id"), col("status"),
          when(!col("_resolved") &&
              col("_tstatus").isin("dup_in_batch", "dup_of_history"),
            col("_tdup")).otherwise(col("dup_of")).as("dup_of"),
          // still unresolved only when the hop landed on another
          // dup_in_batch row: its dup_of is again batch-local
          (col("_resolved") || col("_tstatus").isNull ||
            col("_tstatus") =!= "dup_in_batch").as("_resolved"))
        .localCheckpoint(false)
      val hoppedCk = graft.CacheScope.checkpointRdd(hopped)
      // the convergence probe materializes hopped's checkpoint (the lazy
      // checkpoint completes its missing partitions at job end), after
      // which the PREVIOUS round's storage is unreachable — release it
      val unresolved = hopped.filter(!col("_resolved")).limit(1).count()
      curCk.foreach(_.unpersist(blocking = false))
      curCk = hoppedCk
      cur = hopped
      done = unresolved == 0L
      round += 1
      if (!done && round >= maxRounds) {
        curCk.foreach(_.unpersist(blocking = false))
        sys.error(s"resolveKeepers did not converge in $maxRounds rounds " +
          "— chain longer than the cap; raise maxRounds")
      }
    }
    curCk.foreach(scope.track)
    cur.drop("_resolved")
  }

  /** The next run's index: history plus the sketches of the batch's
    * accepted `new` rows ([[acceptedIndex]]). */
  def mergeIndex(index: DataFrame, batch: DataFrame, classified: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3, numHashes: Int = 9,
      bands: Int = 3): DataFrame =
    index.unionByName(acceptedIndex(batch, classified, idCol, textCol,
      shingleN, numHashes, bands))
}
