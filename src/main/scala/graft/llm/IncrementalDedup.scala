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
    classifyWithText(batch, index, idCol, textCol).drop("text")

  /** [[classify]] with the batch's text column CARRIED THROUGH — the
    * [[IncrementalPipeline]] fold: the pipeline previously checkpointed
    * the gate/containment chain once for classify and AGAIN for the
    * kept-join that re-attached text; with text on the classified rows
    * one checkpoint serves both (kept = filter status = new, no join).
    * Output (doc_id, text, content_hash, status, dup_of). Text crosses
    * the wire once, into the keeper window's content_hash exchange,
    * exactly the once the old kept-join paid; [[classify]] drops it,
    * and column pruning removes it below the window, so both entry
    * points optimize to the same keeper plan. */
  private[llm] def classifyWithText(batch: DataFrame, index: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val keeper = org.apache.spark.sql.expressions.Window
      .partitionBy("content_hash").orderBy(col("doc_id").asc_nulls_last)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    batch.select(col(idCol).as("doc_id"), col(textCol).as("text"),
        // sentinel-normalized (see NullHash): null-text rows keep the
        // one-output-row-per-input-row contract and dedup as one
        // content, in-batch and across batches, through plain equi-joins
        contentHash(col(textCol)).as("content_hash"))
      .withColumn("_batch_keep", min(col("doc_id")).over(keeper))
      .join(index.select(col("content_hash"), col("keep_id").as("_hist")),
        Seq("content_hash"), "left")
      .select(
        col("doc_id"),
        col("text"),
        col("content_hash"),
        when(col("_hist").isNotNull, lit("dup_of_history"))
          .when(col("doc_id") =!= col("_batch_keep"), lit("dup_in_batch"))
          .otherwise(lit("new")).as("status"),
        when(col("_hist").isNotNull, col("_hist"))
          .when(col("doc_id") =!= col("_batch_keep"), col("_batch_keep"))
          .as("dup_of"))
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
 * One path for every caller: ONE sketch pass ([[sketchTotal]], one row
 * per input row carrying the doc's sketch) and ONE classify plan
 * ([[classifyBandedSketched]]), whose output keeps the sketched frame's
 * columns — so the status and the sketch an accepted doc appends to the
 * index ([[indexRows]]) come from the same row, and nothing is
 * sketched twice. The plan reads the sketched frame on several
 * branches (the candidate matches and the per-row spine they join back
 * to), so each caller materializes it once: [[classifyBanded]] and the
 * streaming sink and [[Pipeline]] stage 6b as a lazy local checkpoint,
 * and [[IncrementalPipeline]] inside its classify checkpoint. Band
 * explode joins are bucket-equality on (band index, band key) — the
 * index side shuffles its band rows, not history text; estimate
 * verification reads the signatures carried on the band rows.
 */
object IncrementalMinHash {

  /** The persisted index: (keep_id, sig, bands) per doc that sketches —
    * non-null id, >= shingleN tokens. A non-null id that is not a long
    * fails ([[sketchTotal]]). */
  def buildIndex(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 9, bands: Int = 3): DataFrame =
    indexRows(sketchTotal(df.select(col(idCol), col(textCol)), idCol, textCol,
      shingleN, numHashes, bands))

  /** (keep_id, sig, bands) of the sketched rows of a [[sketchTotal]]
    * frame — the rows an index gains from it. Rows with a null sketch
    * (unsketched, or too short to shingle) add nothing. */
  private[graft] def indexRows(sketched: DataFrame): DataFrame =
    sketched.filter(col("_sig").isNotNull)
      .select(col("_id").as("keep_id"), col("_sig").as("sig"),
        col("_bands").as("bands"))

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
   * Classify `batch` against `index`. Output (doc_id long, status,
   * dup_of), one row per distinct id, dup_of = -1 for `new` rows; a
   * null id is one `new` row. A non-null id that is not a long fails
   * ([[sketchTotal]]).
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
   * The batch sketch is materialized once for the (lazy) returned plan
   * and registered with [[graft.CacheScope.track]] ([[classifyBanded]]);
   * release it only after the result has been consumed.
   *
   * @param minMatch minimum equal signature components out of
   *                 `numHashes` (estimated Jaccard >= minMatch/numHashes)
   */
  def classify(batch: DataFrame, index: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3, numHashes: Int = 9,
      bands: Int = 3, minMatch: Int = 5): DataFrame =
    classifyBanded(batch,
      bandedIndex(index.select(col("keep_id"),
        widthChecked(col("bands"), bands, "bands").as("bands"), col("sig"))),
      idCol, textCol, shingleN, numHashes, bands, minMatch)

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
   * A thin wrapper over the one classify plan: it sketches the batch's
   * (id, text) once, runs [[classifyBandedSketched]] and projects
   * [[classify]]'s contract. The plan reads the sketch three times (the
   * history candidates, the in-batch pairs and the spine), so the
   * sketch is a LAZY local checkpoint, computed by the first action and
   * registered with [[graft.CacheScope.track]]. Not a `persist`: under
   * AQE every scan of a cached relation is a query stage with its own
   * materialization job, while checkpoint reads are plain RDD reads.
   * The checkpoint cuts lineage, so release the session only after the
   * result has been consumed.
   */
  def classifyBanded(batch: DataFrame, banded: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3, numHashes: Int = 9,
      bands: Int = 3, minMatch: Int = 5): DataFrame = {
    val sketched = sketchTotal(batch.select(col(idCol), col(textCol)), idCol,
        textCol, shingleN, numHashes, bands)
      .select(col("_id"), col("_sig"), col("_bands"))
      .localCheckpoint(false)
    graft.CacheScope.track(sketched)
    contractRows(classifyBandedSketched(sketched, banded, numHashes, bands,
      minMatch))
  }

  /** [[classify]]'s contract over [[classifyBandedSketched]] output:
    * (doc_id long, status, dup_of), one row per distinct id — rows that
    * share an id share its classification, so the distinct keeps one. */
  private[graft] def contractRows(classified: DataFrame): DataFrame =
    classified.select(col("_id").as("doc_id"), col("status"), col("dup_of"))
      .distinct()

  /**
   * The one classify plan, over a [[sketchTotal]] frame: the frame's
   * columns plus (status, dup_of, _self_exact), one output row per
   * input row. status/dup_of are per `_id` (rows sharing an id share
   * them); rows with a null `_id` (unsketched) are `new` with dup_of -1.
   * _self_exact is 1 iff the doc's HISTORY match on its own id was
   * signature-identical (all `numHashes` components equal) — the
   * crash-replay test [[IncrementalPipeline]] applies: a replayed batch
   * re-sketches the same text, so all components are equal, while a
   * reused id carrying merely near-dup text never slips through as its
   * own keeper. The sketched frame is its own spine (id, sketch and any
   * carried columns aboard), so there is no distinct, no sketch re-join
   * and no re-join of the caller's rows.
   */
  private[graft] def classifyBandedSketched(sketched: DataFrame,
      banded: DataFrame, numHashes: Int = 9, bands: Int = 3,
      minMatch: Int = 5): DataFrame = {
    val d = matches(sketched, banded, numHashes, bands, minMatch)
      .select(col("_id").as("_did"), col("_hist"), col("_prev"), col("_selfx"))
    sketched.join(d, sketched("_id") === col("_did"), "left")
      .select(sketched("*"),
        when(col("_hist").isNotNull, lit("dup_of_history"))
          .when(col("_prev").isNotNull, lit("dup_in_batch"))
          .otherwise(lit("new")).as("status"),
        coalesce(col("_hist"), col("_prev"), lit(-1L)).as("dup_of"),
        coalesce(col("_selfx"), lit(0)).as("_self_exact"))
  }

  /** The one sketch pass: `df`'s columns (text cast to string) plus
    * (_id long, _sig, _bands) — one output row PER INPUT ROW, sketched
    * only where `where` holds; _id/_sig/_bands are null elsewhere, and
    * _sig/_bands also when the row cannot sketch (null id, null text,
    * or fewer than shingleN tokens). Carrying every column through
    * makes the frame both the [[classifyBandedSketched]] spine and its
    * text source; [[IncrementalPipeline]] runs it over its exact
    * classification (`where` = status 'new') before checkpointing.
    * A non-null id that is not a long raises (inline, no extra job):
    * cast to null it would sketch as unkeyed and classify `new`, or
    * drop out of an index — silently bypassing the fuzzy gate. `idName`
    * names the id column in that error (default `idCol`; the pipeline
    * passes its caller's column name). */
  private[graft] def sketchTotal(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 9, bands: Int = 3,
      where: Column = lit(true), idName: String = ""): DataFrame = {
    import org.apache.spark.sql.types._
    val mh = MinHashSketch(shingleN, numHashes, bands)
    val lid = col(idCol).try_cast("long")
    val in = df.select(df.columns.toSeq.map(c =>
        if (c == textCol) col(c).cast("string").as(c) else col(c)) :+
      when(!where, lit(null).cast("long"))
        .when(col(idCol).isNull || lid.isNotNull, lid)
        .otherwise(raise_error(lit(
          s"IncrementalMinHash: id column " +
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
    // so unsketched rows generate no candidates.)
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
   * convergence count, on [[graft.CacheScope.rounds]] (the
   * [[DupClusters]] loop): each round's lazy checkpoint is released as
   * soon as the next round's materializes — a deep chain holds at most
   * TWO batch-sized copies, not rounds x; the final round's (which
   * backs the returned DataFrame) is registered with the session.
   * History keeper ids are final by construction, and a
   * `_resolved` flag pins them so a history id that collides with a
   * batch id is never re-chased.
   *
   * @param maxRounds hard cap on chain hops; exceeding it throws
   *                  rather than returning partially resolved refs
   */
  def resolveKeepers(classified: DataFrame, maxRounds: Int = 20): DataFrame = {
    val targets = classified.select(
      col("doc_id").as("_tid"), col("status").as("_tstatus"),
      col("dup_of").as("_tdup"))
    val init = classified
      .withColumn("_resolved", col("status") =!= "dup_in_batch")
    graft.CacheScope.rounds(init, maxRounds, "resolveKeepers") { cur =>
      cur
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
    } { hopped =>
      hopped.filter(!col("_resolved")).limit(1).count() == 0L
    }.drop("_resolved")
  }
}
