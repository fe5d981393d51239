package graft.llm

import graft.Presented

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Train/eval overlap detection ("decontamination") — the check a
 * training-data pipeline runs before training: for every eval document,
 * the fraction of its distinct word n-gram shingles that occur anywhere
 * in the training corpus. An eval doc fully contained in training data
 * (containment 1.0) is leaked; high partial containment flags paraphrase
 * or fragment overlap. Callers filter on `containment` at their chosen
 * cutoff (0.8 is the common n-gram-overlap convention).
 *
 * Scale shape — the train side is the whole corpus, so nothing about it
 * may be driver-sized or broadcast by construction:
 *  - one typed pass per side streams tokens into distinct 64-bit fnv
 *    shingle keys ([[TextOps.shingleHashesJvm]] — the shingle string
 *    never leaves the row, same trade as [[NgramJaccard]]);
 *  - the train set collapses to DISTINCT hashes (one shuffle on the
 *    8-byte key — the map-side partial dedup absorbs most volume);
 *  - eval shingles left-join the train set on the hash key (shuffle
 *    join; the planner may still broadcast a small train set, which is
 *    an optimization, not a requirement) and matches count per doc;
 *  - one final aggregation keyed on the (small) eval doc id.
 * Eval docs too short to shingle come out with n_shingles = 0 and
 * containment 0.0 — every eval id gets exactly one row.
 *
 * Output: (doc_id, n_shingles, n_matched, containment), containment
 * rounded to 3 digits.
 */
object Decontamination {

  def containment(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3, ordered: Boolean = true): DataFrame =
    finish(
      TextOps.shingleIndex(train, idCol, textCol, shingleN).select("_sh"),
      eval, idCol, textCol, shingleN, ordered)

  /**
   * The per-BENCHMARK rollup of [[containment]] — the number a model
   * card reports per eval set: (benchmark, n_docs, n_contaminated,
   * contamination_rate), where a doc counts as contaminated when its
   * shingle containment in the train corpus reaches `threshold`
   * (inclusive — the conventional "≥ 80% of n-grams seen in training").
   * The threshold compares the ROUNDED containment [[containment]]
   * emits, so the decision is engine-portable (the rounded values are
   * oracle-pinned; comparing them adds no new float hazard).
   *
   * Scale shape: [[containment]]'s plan (the train-side cost dominates;
   * at corpus scale prefer wiring [[containmentBloom]]'s pre-filter by
   * passing its output via `perDoc`) plus one eval-sized join to
   * attach the benchmark label and a benchmark-sized aggregate. A null
   * benchmark labels its own group rather than disappearing.
   *
   * @param perDoc optionally a precomputed per-doc containment frame
   *               ([[containment]] or [[containmentBloom]] output) —
   *               lets the 100-TB caller choose the bloom path or
   *               reuse one scoring pass across thresholds
   */
  def contaminationReport(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, benchCol: String, threshold: Double = 0.8,
      shingleN: Int = 3, perDoc: Option[DataFrame] = None,
      ordered: Boolean = true): DataFrame = {
    require(threshold >= 0 && threshold <= 1,
      s"contaminationReport: threshold in [0, 1], got $threshold")
    val per = perDoc.getOrElse(
      containment(train, eval, idCol, textCol, shingleN, ordered = false))
    per
      .join(eval.select(col(idCol).as("doc_id"),
        col(benchCol).cast("string").as("benchmark")).distinct(), Seq("doc_id"))
      .groupBy("benchmark")
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("containment") >= threshold, lit(1)))
          .as("n_contaminated"))
      .withColumn("contamination_rate",
        round(col("n_contaminated").cast("double") / col("n_docs"), 6))
      .transform(Presented(_, ordered, "benchmark"))
  }

  /**
   * [[containment]] with a Bloom pre-filter on the train side — the
   * 100-TB form. The plain plan's dominant cost is the train-side
   * DISTINCT: one shuffle of EVERY distinct corpus shingle, though only
   * the (tiny) eval shingle set can ever match. Here the eval shingle
   * keys build a [[graft.operators.BloomSemiFilter]] sketch (one
   * aggregate over the small side, sketch sized like a broadcast dim),
   * and the corpus shingle stream is probed BEFORE the distinct — a
   * codegen'd filter in the scan-side stage — so the shuffle carries
   * only eval-matching shingles plus ~fpp false positives. False
   * positives survive the distinct but match nothing in the exact left
   * join, so the result is bit-identical to [[containment]] (the law
   * BloomSemiSpec pins); only the shuffled volume changes.
   *
   * `expectedEvalShingles` sizes the sketch (overshooting costs bytes,
   * undershooting costs fpp); at the default 1M items / 1% fpp the
   * sketch is ~1.2 MB.
   */
  def containmentBloom(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3, ordered: Boolean = true,
      expectedEvalShingles: Long = 1L << 20, fpp: Double = 0.01): DataFrame = {
    val evalSh = TextOps.shingleIndex(eval, idCol, textCol, shingleN)
    val trainSh = graft.operators.BloomSemiFilter.prefilter(
      TextOps.shingleIndex(train, idCol, textCol, shingleN).select("_sh"),
      evalSh, "_sh", "_sh", expectedEvalShingles, fpp)
    finish(trainSh, eval, idCol, textCol, shingleN, ordered)
  }

  /**
   * SPAN-level contamination report — not just "how contaminated is
   * this eval doc" ([[containment]]'s scalar) but WHICH token runs
   * leak: every maximal eval-doc token span covered by train-occurring
   * shingles, (doc_id, span_start, span_end, n_tokens) with 1-based
   * inclusive/exclusive token indices. The review artifact a
   * decontamination pass hands to a human, and the input to span-level
   * excision (cut the leaked run, keep the doc).
   *
   * Scale shape: train collapses to DISTINCT 8-byte shingle keys (the
   * [[containment]] discipline — strings never shuffle, train is never
   * broadcast-by-construction or driver-sized), eval explodes to
   * per-OCCURRENCE (doc, pos, hash) rows
   * ([[SubstringDedup.gramPosIndex]]), one hash-keyed equi-join marks
   * leaked occurrences, and the gaps-and-islands merge runs per EVAL
   * DOC (bounded window partitions — the [[SubstringDedup]] rule).
   */
  def leakedSpans(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3, ordered: Boolean = true): DataFrame = {
    val trainKeys = TextOps.shingleIndex(train, idCol, textCol, shingleN)
      .select(col("_sh").as("_g")).distinct()
    val hits = SubstringDedup.gramPosIndex(eval, idCol, textCol, shingleN)
      .join(trainKeys, "_g")
    SubstringDedup.mergeSpans(hits, shingleN)
      .select(col("_id").as("doc_id"), col("span_start"), col("span_end"),
        col("n_tokens"))
      .transform(Presented(_, ordered, "doc_id", "span_start"))
  }

  /** [[leakedSpans]] applied: rebuild the eval docs WITHOUT the leaked
    * runs — span-level excision (cut the quote, keep the doc), the
    * decontamination remedy that doesn't throw away the whole eval
    * document. Same plan as [[SubstringDedup.removeDuplicated]]'s
    * rebuild tail; output (doc_id, n_tokens, n_removed, cleaned_text). */
  def exciseLeaked(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3, ordered: Boolean = true): DataFrame =
    SubstringDedup.applySpans(eval, idCol, textCol,
      leakedSpans(train, eval, idCol, textCol, shingleN, ordered = false),
      ordered)

  // ------------------------------------------------------------------
  // Incremental decontamination: persisted eval-shingle index,
  // audited one corpus batch at a time (pq21/pq44 discipline on pq25)
  // ------------------------------------------------------------------

  /**
   * Persist the eval set's shingle keys as a bucketed
   * [[IndexStore]]-style table so corpus batches can be audited
   * INCREMENTALLY — [[containment]] rescans the whole corpus per
   * audit, which is wrong-shaped once the corpus arrives in batches
   * and the audit runs continuously.
   *
   * Schema: (_id, _sh) — one row per distinct eval-doc shingle, plus
   * one `_sh = NULL` spine row per shingle-less doc (so
   * [[containmentState]] emits every eval doc, the [[containment]]
   * contract). Bucketed by `_sh` (the audit's join key): the per-batch
   * audit join plans with ZERO exchange above the eval-index scan —
   * only batch-derived shingles shuffle. `shingleN` is stamped as a
   * table property; a drifted audit fails fast.
   */
  def saveEvalShingleIndex(eval: DataFrame, idCol: String, textCol: String,
      tableName: String, path: String, shingleN: Int = 3,
      buckets: Int = 32): Unit = {
    val spark = eval.sparkSession
    IndexStore.writeBucketed(evalShingleRows(eval, idCol, textCol, shingleN),
      tableName, path, buckets, Seq("_sh"), "overwrite")
    spark.sql(s"ALTER TABLE $tableName SET TBLPROPERTIES " +
      s"('graft.shingleN'='$shingleN')")
  }

  /** New eval docs (a benchmark release) join the index O(new docs):
    * their shingle rows append into the bucketed table. Caller
    * contract: ids are NEW (re-appending an existing doc duplicates
    * its rows). Containment for the new docs counts only batches
    * audited FROM NOW ON — run a one-off [[containment]] against the
    * historical corpus if the past matters. */
  def appendEvalDocs(newEval: DataFrame, idCol: String, textCol: String,
      tableName: String): Unit = {
    val spark = newEval.sparkSession
    val (buckets, keys) = IndexStore.bucketSpecOf(spark, tableName)
    require(keys == Seq("_sh"),
      s"$tableName is not an eval-shingle index (bucket keys $keys)")
    val shingleN = stampedShingleN(spark, tableName)
    IndexStore.writeBucketed(
      evalShingleRows(newEval, idCol, textCol, shingleN),
      tableName, IndexStore.tablePath(spark, tableName), buckets, keys,
      "append")
  }

  /**
   * Audit ONE corpus batch: which eval shingles does it hit that
   * nothing hit before? Newly matched (_id, _sh) pairs are appended to
   * the `matchedTable` state (created at `matchedPath` on first use) —
   * eval-sized, never corpus-sized — and the count returned. After
   * auditing batches B1..Bn, [[containmentState]] equals
   * [[containment]](B1 ∪ ... ∪ Bn) exactly (the law the spec pins),
   * with NO rescan of earlier batches ever.
   *
   * O(batch) shape: the batch's distinct shingles shuffle once into
   * the index's bucket count; the bucketed eval-index scan joins
   * exchange-free; the anti-join against the matched state is
   * eval-sized. Replay-idempotent: a re-audited batch finds its hits
   * already in the state and appends zero rows.
   */
  def auditBatch(batch: DataFrame, idCol: String, textCol: String,
      tableName: String, matchedTable: String, matchedPath: String): Long = {
    val spark = batch.sparkSession
    val keys = EvalKeys.ofIndex(spark, tableName)
    // EXACT broadcast prefilter before the distinct (guide §2.3/§3.2):
    // only batch shingles that occur in the (eval-sized) index key set
    // can contribute a hit, so the distinct's exchange carries an
    // eval-BOUNDED set instead of the batch's whole distinct-shingle
    // volume — at corpus scale that shuffle was the audit's dominant
    // bytes. Exactness (sorted-array membership, no fpp) keeps the
    // semi-join's result identical.
    val bc = keys.bc
    val batchSh = TextOps.shingleIndex(batch, idCol, textCol, keys.shingleN)
      .select("_sh").as(Encoders.scalaLong)
      .mapPartitions { hs =>
        val sorted = bc.value
        hs.filter(EvalKeys.contains(sorted, _))
      }(Encoders.scalaLong)
      .toDF("_sh")
      .distinct()
    val hits = spark.table(tableName).filter(col("_sh").isNotNull)
      .join(batchSh, Seq("_sh"), "left_semi")
    val existing =
      if (spark.catalog.tableExists(matchedTable))
        spark.table(matchedTable)
      else hits.limit(0)
    // lazy checkpoint + count = one materializing job
    // (CacheScope.checkpointCount); the append below then reads
    // checkpoint storage, not the table it writes
    val newly = hits.join(existing, Seq("_id", "_sh"), "left_anti")
      .localCheckpoint(false)
    val n = graft.CacheScope.checkpointCount(newly)
    if (n > 0L) {
      // one file per append: the delta is eval-bounded, and a
      // long-running audit loop must not accrete shuffle-partition-many
      // tiny files per batch into an eval-sized table
      if (spark.catalog.tableExists(matchedTable))
        newly.select(spark.table(matchedTable).columns.map(col).toIndexedSeq: _*)
          .coalesce(1).write.mode("append").insertInto(matchedTable)
      else
        newly.coalesce(1).write.option("path", matchedPath).format("parquet")
          .saveAsTable(matchedTable)
    }
    // the checkpoint served the append — release it, or a long-running
    // audit loop pins one eval-bounded block set per batch
    graft.CacheScope.release(newly)
    n
  }

  /** Fold the matched-state table back to few files (contents
    * unchanged — the rows are distinct (_id, _sh) pairs by
    * construction) through the [[SwapTable]] stamped-grace swap: the
    * audit appends one file per batch, so a long-running stream needs
    * a cadence compaction exactly like the index sinks' `maintain`.
    * No-op when the table doesn't exist yet. */
  def compactMatched(spark: SparkSession,
      matchedTable: String, matchedPath: String, graceMs: Long = 0L): Unit =
    if (spark.catalog.tableExists(matchedTable)) {
      val folded = spark.table(matchedTable).coalesce(1)
        .localCheckpoint(true) // the swap replaces the data this reads
      try { SwapTable.upsert(folded, matchedTable, matchedPath,
        graceMs = graceMs); () }
      finally graft.CacheScope.release(folded)
    }

  /**
   * Per-CORPUS-DOC containment against the PERSISTED eval-shingle
   * index — the drop-side twin of [[auditBatch]]: for each doc in
   * `batch`, the fraction of its distinct shingles that occur in the
   * indexed eval set, [[containment]]'s exact schema and rounding with
   * the persisted table standing in for the re-shingled eval text.
   * This is what makes decontamination batch-decomposable: a doc's
   * containment in a FIXED eval set depends on nothing but the doc, so
   * [[IncrementalPipeline]] can gate batch N without ever re-shingling
   * the eval set (stamped `shingleN` keeps a drifted caller from
   * silently comparing different-width shingles).
   *
   * O(batch) shape: the table's non-null `_sh` keys come off the
   * bucketed scan (the distinct inside the shared tail collapses
   * without a corpus-side cost — the index is eval-sized); only
   * batch-derived shingles shuffle.
   */
  def containmentAgainstIndex(batch: DataFrame, idCol: String,
      textCol: String, tableName: String,
      ordered: Boolean = true): DataFrame = {
    val spark = batch.sparkSession
    val shingleN = stampedShingleN(spark, tableName)
    finish(spark.table(tableName).filter(col("_sh").isNotNull).select("_sh"),
      batch, idCol, textCol, shingleN, ordered)
  }

  // ------------------------------------------------------------------
  // The eval-key containment kernel: the EVAL side is benchmark-sized
  // by contract (the same bound [[semanticFlags]] already relies on
  // when it collects the eval embeddings), so its distinct shingle-KEY
  // set — 8 bytes per distinct eval shingle — collects under a cap and
  // broadcasts once, and every corpus-side gate becomes a map-side
  // pass: zero shuffle, zero aggregate, zero anti-join (guide
  // §2.4/§3.1). The builders' drop filter, the streaming annotation and
  // the audit's prefilter all read the same [[EvalKeys]] through one
  // per-row function ([[shingleMatches]]). The TRAIN side of
  // [[containment]] is never collected or broadcast — this kernel
  // exists only where the reference side is the eval set.
  // ------------------------------------------------------------------

  /** Most distinct eval shingle keys the driver collects (8 bytes each,
    * so 128 MB). A larger eval set fails fast in [[EvalKeys]]' constructors;
    * score it with the distributed [[containment]] instead. */
  private[llm] val MaxEvalKeys: Int = 1 << 24

  /** The eval set's distinct shingle keys, sorted for binary search,
    * with the shingle width they were hashed at and ONE broadcast of
    * the array. Never destroyed: a lazy plan built before its key set
    * was replaced may still execute, and Spark's ContextCleaner
    * reclaims a broadcast no plan references. */
  private[llm] final class EvalKeys private (val sorted: Array[Long],
      val shingleN: Int, val bc: Broadcast[Array[Long]])

  private[llm] object EvalKeys {

    /** Membership in a sorted key array — the kernel's one probe. */
    def contains(sorted: Array[Long], key: Long): Boolean =
      java.util.Arrays.binarySearch(sorted, key) >= 0

    /** Key sets of persisted eval-shingle indexes, cached PER JVM under
      * a file-level fingerprint (location plus every file's
      * name/length/mtime), the stamped shingleN and the SparkContext (a
      * broadcast dies with its context): an append ([[appendEvalDocs]])
      * or swap changes the fingerprint and forces a recollect, while
      * the common case (one fixed eval set gated and audited batch
      * after batch) pays the eval-sized collect job and the broadcast
      * once instead of once per batch. */
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[String, (String, EvalKeys)]

    /** The key set of a persisted eval-shingle index at its stamped
      * shingleN (a table without the stamp fails fast). */
    def ofIndex(spark: SparkSession, tableName: String,
        cap: Int = MaxEvalKeys): EvalKeys = {
      val shingleN = stampedShingleN(spark, tableName)
      val sc = spark.sparkContext
      val fp = s"${sc.applicationId}@${sc.startTime}#$shingleN#" +
        tableFilesFingerprint(spark, tableName)
      val hit = cache.get(tableName)
      if (hit != null && hit._1 == fp) hit._2
      else {
        val keys = collectCapped(spark.table(tableName).filter(col("_sh").isNotNull)
          .select(col("_sh")).distinct(), shingleN, cap)
        // recorded only after the successful collect (the ensureEvalTable
        // discipline) — a failed read never validates a cache entry
        cache.put(tableName, (fp, keys))
        keys
      }
    }

    /** The key set of an in-memory eval reference frame (the one-shot
      * builder's cleaned eval set). */
    def ofFrame(evalRef: DataFrame, idCol: String, textCol: String,
        shingleN: Int, cap: Int = MaxEvalKeys): EvalKeys =
      collectCapped(TextOps.shingleIndex(evalRef, idCol, textCol, shingleN)
        .select(col("_sh")).distinct(), shingleN, cap)

    /** Collects a DISTINCT one-LONG-column key frame in ONE job: each
      * partition ships its keys as one array and `RDD.aggregate` folds
      * them on the driver as they arrive. Once the merged count passes
      * `cap` the driver drops the arrays and only counts, then fails
      * with the count. */
    private def collectCapped(keys: DataFrame, shingleN: Int, cap: Int): EvalKeys = {
      val (n, parts) = keys.rdd
        .mapPartitions(rows => Iterator.single(rows.map(_.getLong(0)).toArray))
        .aggregate((0L, List.empty[Array[Long]]))(
          (acc, part) => (acc._1 + part.length, part :: acc._2),
          { (a, b) =>
            val total = a._1 + b._1
            (total, if (total > cap) Nil else b._2 ::: a._2)
          })
      require(n <= cap,
        s"the eval set has $n distinct shingle keys, over the driver cap " +
          s"of $cap for the broadcast decontamination gate — score an eval " +
          "set this large with the distributed Decontamination.containment")
      val sorted = Array.concat(parts: _*)
      java.util.Arrays.sort(sorted)
      new EvalKeys(sorted, shingleN, keys.sparkSession.sparkContext.broadcast(sorted))
    }
  }

  /** Location + per-file (name, length, mtime) of a table's directory —
    * the staleness witness for [[EvalKeys.ofIndex]]. Driver-side FS
    * listing only (the table is eval-sized: a handful of files). */
  private def tableFilesFingerprint(spark: SparkSession,
      tableName: String): String = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(tableName)
    val loc = spark.sessionState.catalog.getTableMetadata(ident).location
    val p = new org.apache.hadoop.fs.Path(loc)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val files =
      if (!fs.exists(p)) ""
      else fs.listStatus(p).filter(_.isFile)
        .map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
        .sorted.mkString(",")
    s"$loc#$files"
  }

  /** The per-row kernel: (n_shingles, n_matched) of `text` against
    * sorted eval keys — the same tokenize ([[TextOps.tokensJvm]]) and
    * distinct-shingle hash ([[TextOps.shingleHashesJvm]]) the shingle
    * index runs, matches counted by binary search. Null or
    * shingle-less text gives (0, 0). */
  private[llm] def shingleMatches(sorted: Array[Long], text: String,
      shingleN: Int): (Int, Int) =
    if (text == null) (0, 0)
    else {
      val hs = TextOps.shingleHashesJvm(TextOps.tokensJvm(text), shingleN)
      var m = 0
      var i = 0
      while (i < hs.length) {
        if (EvalKeys.contains(sorted, hs(i))) m += 1
        i += 1
      }
      (hs.length, m)
    }

  /** [[containment]]'s rounded ratio ([[TextOps.round3]] = Spark
    * `round(x, 3)`), 0.0 for a shingle-less doc. */
  private def containmentOf(total: Int, matched: Int): Double =
    if (total == 0) 0.0 else TextOps.round3(matched.toDouble / total)

  /**
   * The builders' containment DROP as a map-side FILTER: keep exactly
   * the rows of `batch` whose ROUNDED containment in `keys` stays BELOW
   * `threshold` — the rows `batch.join(containment*(…)
   * .filter(containment >= threshold), left_anti)` keeps, with zero
   * exchange. Null-text and shingle-less rows have containment 0.0, so
   * they keep for any threshold above 0 and drop at 0, like every row.
   *
   * Decisions are PER ROW; identical to the aggregate form whenever ids
   * are unique (the builder/Packing contract — with a duplicated id the
   * aggregate form would pool both rows' shingles under one doc).
   */
  private[llm] def containmentFilter(batch: DataFrame, textCol: String,
      keys: EvalKeys, threshold: Double): DataFrame = {
    val ti = batch.schema.fieldIndex(textCol)
    val bc = keys.bc
    val n = keys.shingleN
    batch.mapPartitions { rows =>
      val sorted = bc.value
      rows.filter { r =>
        val (total, m) = shingleMatches(sorted, r.getString(ti), n)
        containmentOf(total, m) < threshold
      }
    }(Encoders.row(batch.schema))
  }

  /**
   * The streaming gate's ANNOTATION as the same zero-shuffle pass:
   * every `batch` column plus (n_shingles, n_matched, containment,
   * status) — exactly what
   * `batch LEFT JOIN containmentAgainstIndex(batch) ON id` produces,
   * computed per row against the index's [[EvalKeys]]. Null-id rows
   * keep the left-join shape (null stats, `clean`); decisions are per
   * row — identical to the join form when ids are unique within the
   * batch (the sink contract).
   */
  private[graft] def annotateContainmentAgainstIndex(batch: DataFrame,
      idCol: String, textCol: String, tableName: String,
      threshold: Double): DataFrame = {
    val keys = EvalKeys.ofIndex(batch.sparkSession, tableName)
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
    val inSchema = batch.schema
    val ii = inSchema.fieldIndex(idCol)
    val ti = inSchema.fieldIndex(textCol)
    val outSchema = StructType(inSchema.fields.toSeq ++ Seq(
      StructField("n_shingles", LongType, nullable = true),
      StructField("n_matched", LongType, nullable = true),
      StructField("containment", DoubleType, nullable = true),
      StructField("status", StringType, nullable = false)))
    val bc = keys.bc
    val n = keys.shingleN
    batch.mapPartitions { rows =>
      val sorted = bc.value
      rows.map { r =>
        val base = Array.tabulate[Any](r.length)(r.get)
        val extra: Array[Any] =
          if (r.isNullAt(ii)) Array(null, null, null, "clean")
          else {
            val (total, m) = shingleMatches(sorted, r.getString(ti), n)
            val cont = containmentOf(total, m)
            Array[Any](total.toLong, m.toLong, cont,
              if (cont >= threshold) "contaminated" else "clean")
          }
        Row.fromSeq((base ++ extra).toIndexedSeq)
      }
    }(Encoders.row(outSchema))
  }

  /** The audit's running answer — (doc_id, n_shingles, n_matched,
    * containment) per eval doc, [[containment]]'s exact schema and
    * semantics over every batch audited so far. Reads only the two
    * eval-sized tables; the corpus is never touched. */
  def containmentState(spark: SparkSession,
      tableName: String, matchedTable: String,
      ordered: Boolean = true): DataFrame = {
    val totals = spark.table(tableName).groupBy("_id")
      .agg(count(col("_sh")).as("n_shingles")) // nulls (spine rows) count 0
    val matched =
      if (spark.catalog.tableExists(matchedTable))
        spark.table(matchedTable).groupBy("_id")
          .agg(count(lit(1)).as("n_matched"))
      else totals.select(col("_id"), lit(0L).as("n_matched")).limit(0)
    totals.join(matched, Seq("_id"), "left")
      .select(
        col("_id").as("doc_id"),
        col("n_shingles"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        when(col("n_shingles") === 0, lit(0.0))
          .otherwise(round(coalesce(col("n_matched"), lit(0L)).cast("double") /
            col("n_shingles"), 3))
          .as("containment"))
      .transform(Presented(_, ordered, "doc_id"))
  }

  /**
   * SEMANTIC (embedding-space) decontamination: flag every training doc
   * whose nearest eval embedding clears `tau` cosine — the
   * representation-level contamination check that catches paraphrase,
   * translation, and template leakage the word-shingle [[containment]]
   * misses (and its complement: it needs an embedding per doc where
   * containment needs only text). Output one row per FLAGGED train doc:
   * (idCol, match_id, cos) — the argmax eval (ties to the smaller eval
   * id) with the cosine rounded to 4; the threshold compares the
   * ROUNDED value inclusively (the [[contaminationReport]] discipline —
   * no new float hazard at the boundary).
   *
   * Scale shape — the train side is the whole corpus, the eval side is
   * benchmark-sized by construction, so this is the [[Similarity.cosineTopK]]
   * broadcast discipline with the roles reversed: the PREPPED eval
   * vectors (integer-quantized, exact norms) collect and broadcast as a
   * plain array, and ONE train scan computes each doc's argmax eval
   * in-partition — zero shuffle, zero pair rows, nothing corpus-sized
   * ever moves. `bucketBits > 0` restricts each doc's candidates to
   * evals sharing its sign-prefix bucket (the [[Similarity.nearDupPairs]]
   * LSH shape, evaluated against a bucket-keyed broadcast map): at
   * near-exact tau this trades vanishing recall for |eval|/2^bits of
   * the dot products — and is EXACT for scaled-copy contamination,
   * whose sign pattern is identical. The candidate restriction changes
   * which evals compete in the argmax, so the two arms are pinned by
   * separate oracles (pq125 brute, pq125b bucket-replicating).
   *
   * Train ids never compare to eval ids (different namespaces — no
   * self-exclusion, unlike top-k search). Null ids, null embeddings,
   * and zero-norm vectors are excluded on both sides (the
   * [[Similarity]] contract).
   */
  def semanticFlags(train: DataFrame, eval: DataFrame, idCol: String,
      vecCol: String, tau: Double, bucketBits: Int = 0,
      ordered: Boolean = true): DataFrame = {
    val ePrep = Similarity.prepTyped(eval, idCol, "_eid", vecCol)
      .filter(col("_eid").isNotNull && col("_v").isNotNull && col("_n2") > 0)
    semanticFlagsPrepped(train, ePrep, idCol, vecCol, tau, bucketBits, ordered)
  }

  /** [[semanticFlags]] with the eval side ALREADY prepped — the shared
    * core for the one-shot form and the persisted-index form (the
    * index stores exactly the prep: no re-quantization per batch). */
  private def semanticFlagsPrepped(train: DataFrame, ePrep: DataFrame,
      idCol: String, vecCol: String, tau: Double, bucketBits: Int,
      ordered: Boolean): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0, 1], got $tau")
    require(bucketBits >= 0, s"bucketBits must be >= 0, got $bucketBits")
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val tPrep = Similarity.prepTyped(train, idCol, "_tid", vecCol)
      .filter(col("_tid").isNotNull && col("_v").isNotNull && col("_n2") > 0)
    val eidOrd = Similarity.idOrdering(ePrep.schema("_eid").dataType)
      .getOrElse(throw new IllegalArgumentException(
        "semanticFlags needs an eval id type with a JVM ordering agreeing " +
          s"with Catalyst (numeric or string), got ${ePrep.schema("_eid").dataType}"))
    // JVM twin of Similarity.signBucket over the quantized vector
    def bucketOf(v: Array[Long]): String = {
      val sb = new java.lang.StringBuilder(bucketBits)
      var i = 0
      while (i < bucketBits) {
        sb.append(if (i < v.length && v(i) > 0) '1' else '0'); i += 1
      }
      sb.toString
    }
    val evals = ePrep.collect()
      .map(r => (r.get(0), r.getSeq[Long](1).toArray, r.getLong(2)))
    val byBucket: Map[String, Array[(Any, Array[Long], Long)]] =
      if (bucketBits == 0) Map("" -> evals)
      else evals.groupBy { case (_, v, _) => bucketOf(v) }
    val evalB = train.sparkSession.sparkContext.broadcast(byBucket)
    val outSchema = StructType(Seq(
      tPrep.schema("_tid").copy(name = idCol),
      ePrep.schema("_eid").copy(name = "match_id"),
      StructField("cos", DoubleType, nullable = false)))
    val bits = bucketBits
    val flagged = tPrep.mapPartitions { rows =>
      val buckets = evalB.value
      rows.flatMap { r =>
        val vt = r.getSeq[Long](1)
        val nb = r.getLong(2)
        val cands = buckets.getOrElse(
          if (bits == 0) "" else bucketOf(vt.toArray), Array.empty)
        var bestCos = Double.NegativeInfinity
        var bestId: Any = null
        var ci = 0
        while (ci < cands.length) {
          val (eid, ve, na) = cands(ci)
          // fail fast on a train/eval dimensionality mismatch: a
          // truncated dot (norms still full-length) silently DEFLATES
          // the cosine, letting contaminated docs slip under tau
          if (ve.length != vt.length) throw new IllegalArgumentException(
            s"semanticFlags: eval embedding dim ${ve.length} != train " +
              s"dim ${vt.length} — the index was built on a different " +
              "embedding space than this batch; rebuild one side")
          var d = 0L
          var i = 0
          val n = vt.length
          while (i < n) { d += ve(i) * vt(i); i += 1 }
          val cos = d.toDouble / math.sqrt(na.toDouble * nb.toDouble)
          if (cos > bestCos || (cos == bestCos && bestId != null &&
              eidOrd.lt(eid, bestId))) {
            bestCos = cos; bestId = eid
          }
          ci += 1
        }
        if (bestId == null) Iterator.empty
        else {
          // Spark round(col, 4): BigDecimal HALF_UP — the exact twin
          val rounded = java.math.BigDecimal.valueOf(bestCos)
            .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue
          if (rounded >= tau) Iterator.single(Row(r.get(0), bestId, rounded))
          else Iterator.empty
        }
      }
    }(Encoders.row(outSchema))
    flagged.transform(Presented(_, ordered, idCol))
  }

  private val EvalEmbScaleKey = "graft.quantScale"
  private val EvalEmbBitsKey = "graft.bucketBits"

  /**
   * Persist the PREPPED eval embedding set as a stamped table — the
   * semantic sibling of [[saveEvalShingleIndex]]: the quantized vectors
   * and exact norms are computed ONCE at save time, so every later
   * batch gate ([[semanticFlagsAgainstIndex]], the streaming sink)
   * reads model-ready rows instead of re-quantizing the eval set per
   * run. Stamps pin the quantization scale and the LSH bucket width the
   * index was built for; a drifted reader is refused fail-fast (mixing
   * scales silently corrupts every cosine). Re-saving swaps through
   * [[SwapTable]] — concurrent readers finish on the retained
   * generation. Returns the row count.
   */
  def saveEvalEmbeddingIndex(eval: DataFrame, idCol: String,
      vecCol: String, tableName: String, path: String,
      bucketBits: Int = 0, graceMs: Long = 0L): Long = {
    require(bucketBits >= 0, s"bucketBits must be >= 0, got $bucketBits")
    val prep = Similarity.prepTyped(eval, idCol, "_eid", vecCol)
      .filter(col("_eid").isNotNull && col("_v").isNotNull && col("_n2") > 0)
    val out = prep.localCheckpoint(true)
    val n = out.count()
    SwapTable.upsert(out, tableName, path,
      stamps = Seq(EvalEmbScaleKey -> "1000",
        EvalEmbBitsKey -> bucketBits.toString), graceMs = graceMs)
    n
  }

  /** [[semanticFlags]] against the persisted eval-embedding index:
    * the stamped bucket width drives the candidate restriction, the
    * stamped scale is checked against the quantizer the batch side
    * uses. The index read is eval-sized by contract. */
  def semanticFlagsAgainstIndex(batch: DataFrame, idCol: String,
      vecCol: String, tableName: String, tau: Double,
      ordered: Boolean = true): DataFrame = {
    val spark = batch.sparkSession
    val props = spark.sql(s"SHOW TBLPROPERTIES $tableName").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    def stamp(key: String): String = props.getOrElse(key, sys.error(
      s"$tableName carries no $key stamp — not an eval-embedding index; " +
        "re-save through saveEvalEmbeddingIndex"))
    require(stamp(EvalEmbScaleKey) == "1000",
      s"$tableName was quantized at scale ${stamp(EvalEmbScaleKey)}, this " +
        "reader uses 1000 — mixing scales corrupts every cosine; rebuild")
    val bits = stamp(EvalEmbBitsKey).toInt
    spark.catalog.refreshTable(tableName)
    semanticFlagsPrepped(batch, spark.table(tableName), idCol, vecCol,
      tau, bits, ordered)
  }

  /** Distinct shingle rows plus a NULL-spine row per shingle-less doc
    * — the persisted form of the eval side of [[finish]]. */
  private def evalShingleRows(eval: DataFrame, idCol: String,
      textCol: String, shingleN: Int): DataFrame = {
    val sh = TextOps.shingleIndex(eval, idCol, textCol, shingleN)
    val spine = eval.select(col(idCol).as("_id")).distinct()
      .join(sh.select("_id").distinct(), Seq("_id"), "left_anti")
      .withColumn("_sh", lit(null).cast("long"))
    sh.select(col("_id"), col("_sh")).unionByName(spine)
  }

  private def stampedShingleN(spark: SparkSession,
      tableName: String): Int = {
    val props = spark.sql(s"SHOW TBLPROPERTIES $tableName").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    props.get("graft.shingleN").map(_.toInt).getOrElse(
      throw new IllegalArgumentException(
        s"$tableName carries no stamped graft.shingleN — not an " +
          "eval-shingle index, or the stamp was lost; re-save through " +
          "saveEvalShingleIndex"))
  }

  /** The shared containment tail: distinct the train shingle keys, left
    * join the eval shingles, aggregate per eval doc over the id spine. */
  private def finish(trainShingleKeys: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, shingleN: Int,
      ordered: Boolean): DataFrame = {
    val trainSh = trainShingleKeys.distinct().withColumn("_hit", lit(1))
    // per-doc counts for docs WITH at least one shingle (n_shingles >= 1,
    // so the rounded ratio needs no zero guard here)
    val perDoc = TextOps.shingleIndex(eval, idCol, textCol, shingleN)
      .join(trainSh, Seq("_sh"), "left")
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("_hit")).as("n_matched"))
      .withColumn("containment",
        round(col("n_matched").cast("double") / col("n_shingles"), 3))
    // spine: every eval id exactly once, shingle-less docs included
    eval.select(col(idCol).as("doc_id")).distinct()
      .join(perDoc, col("doc_id") === perDoc("_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        coalesce(col("containment"), lit(0.0)).as("containment"))
      .transform(Presented(_, ordered, "doc_id"))
  }
}
