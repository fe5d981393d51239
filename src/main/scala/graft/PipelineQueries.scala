package graft

import graft.llm._
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * LLM-training-data pipeline verification queries over the `documents`
 * (doc_id, text, lang, source, n_chars) and `embeddings` (vec_id,
 * embedding float[], label) tables. Each entry routes through the
 * operators in [[graft.llm]]; each has a DuckDB oracle computing the
 * bit-identical result (md5-based hashing and integer-quantized vector
 * math are engine-portable by construction — see TextOps/Similarity
 * scaladoc).
 */
object PipelineQueries {

  private def docs(s: SparkSession, dir: String): DataFrame = Tables(s, dir, "documents")
  private def embs(s: SparkSession, dir: String): DataFrame = Tables(s, dir, "embeddings")

  /** The perturbed embedding corpus shared by pq12 (near-dup pairs) and
   *  pq31 (semantic-dedup clusters) — ONE definition, mirroring the
   *  shared [[EmbNearDupCtes]] oracle string, so the cluster query
   *  provably runs over the exact pair input the pair query pins. */
  private def perturbedEmbCorpus(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir).select("vec_id", "embedding")
    e.unionByName(e.filter(col("vec_id") < 10).select(
      (col("vec_id") + 1000).as("vec_id"),
      transform(col("embedding"), x => (x.cast("double") * 1.01).cast("float"))
        .as("embedding")))
  }

  /** pq128/pq129's labeled corpus: y = 1 iff the text contains " the "
    * — a label the hashed bag-of-words classifier can actually learn
    * (score/label corr ~0.46 after one step), so the calibration curve
    * has slope and the precision pick is meaningful at every scale. */
  private def calibLabeled(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), col("text"),
      when(col("text").contains(" the "), 1.0).otherwise(0.0).as("y"))

  /** One-exact-step models are DETERMINISTIC artifacts of the data dir
    * (bit-exact by the pq100/pq108 pins), so the COMPOSITION rows
    * (pq110/pq128/pq129/pq132) reuse a per-dir trained instance instead
    * of re-fitting per execution — the QualityClassifier contract
    * ("ship the trained matrix, never re-train per site") applied to
    * the harness itself. pq100 and pq108 keep pinning the training
    * step itself per execution. Keys are [[modelCacheKey]] CONTENT
    * fingerprints, so a fixture dir regenerated in place retrains
    * instead of serving a stale model; the superseded entry lingers
    * (bounded by the number of regenerations — the harness uses three
    * immutable dirs, so in practice three entries ever). */
  private val routerCache =
    new java.util.concurrent.ConcurrentHashMap[String, DomainRouter.TrainedRouter]
  /** Cheap content fingerprint of the dir's documents file (length +
    * mtime of every part), so a fixture dir regenerated IN PLACE within
    * one JVM retrains instead of silently serving a stale model — the
    * raw-path key assumed dir immutability the harness cannot enforce. */
  private def modelCacheKey(dir: String, file: String = "documents.parquet"): String = {
    val p = java.nio.file.Paths.get(dir, file)
    val parts =
      try {
        if (java.nio.file.Files.isDirectory(p)) {
          import scala.jdk.CollectionConverters._
          val s = java.nio.file.Files.list(p)
          try s.iterator().asScala.toSeq.sortBy(_.toString)
            .map(f => s"${f.getFileName}:${java.nio.file.Files.size(f)}:" +
              java.nio.file.Files.getLastModifiedTime(f).toMillis)
            .mkString(",")
          finally s.close()
        } else
          s"${java.nio.file.Files.size(p)}:" +
            java.nio.file.Files.getLastModifiedTime(p).toMillis
      } catch {
        // per-call-unique fallback: a transiently unreadable dir must
        // never cache a model/table under a key a later call reads as
        // fresh (ADVICE r21 #2 — the constant "?" did exactly that)
        case _: Exception => s"unreadable:${System.nanoTime()}"
      }
    s"$dir#$parts"
  }
  /** Per-JVM record of the content fingerprint each persisted eval
    * INDEX TABLE was built from — the [[modelCacheKey]] discipline
    * applied to the catalog: a bare tableExists guard would silently
    * serve a stale index if a fixture dir were regenerated in place.
    * Returns true when the caller must (re)build the table (all the
    * builders overwrite/swap, so a rebuild is always safe). */
  private val evalTableFingerprints =
    new java.util.concurrent.ConcurrentHashMap[String, String]
  private def evalTableStale(s: SparkSession, tbl: String, dir: String,
      file: String = "documents.parquet"): Boolean = {
    val fp = modelCacheKey(dir, file)
    !(s.catalog.tableExists(tbl) && fp == evalTableFingerprints.get(tbl))
  }
  /** Rebuild-if-stale with the fingerprint recorded only AFTER `build`
    * succeeds: recording it up front would let a failed rebuild leave
    * tableExists + matching fingerprint behind, silently serving the
    * stale index on the next execution (ADVICE r21 #1). */
  private def ensureEvalTable(s: SparkSession, tbl: String, dir: String,
      file: String = "documents.parquet")(build: => Unit): Unit =
    if (evalTableStale(s, tbl, dir, file)) {
      build
      evalTableFingerprints.put(tbl, modelCacheKey(dir, file))
      ()
    }

  /** The per-dir model for `dir`, built once per content fingerprint.
    * An unreadable dir's key is unique per call and never read again,
    * so that model is built without being cached — inserting it would
    * grow the cache by one dead entry per call. */
  private[graft] def cachedModel[V](cache: java.util.concurrent.ConcurrentHashMap[String, V],
      dir: String)(build: => V): V = {
    val key = modelCacheKey(dir)
    if (key.startsWith(s"$dir#unreadable:")) build
    else cache.computeIfAbsent(key, _ => build)
  }

  private def trainedRouter(s: SparkSession, dir: String): DomainRouter.TrainedRouter =
    cachedModel(routerCache, dir) {
      val labeled = docs(s, dir).select(col("doc_id"), col("text"),
        pmod(col("doc_id"), lit(4)).cast("double").as("y"))
      DomainRouter.train(labeled, "text", "y", k = 4, dim = 256,
        iters = 1, lr = 0.5)
    }
  private val calibClassifierCache =
    new java.util.concurrent.ConcurrentHashMap[String, QualityTrainer.Trained]
  private def trainedCalibClassifier(s: SparkSession, dir: String): QualityTrainer.Trained =
    cachedModel(calibClassifierCache, dir) {
      QualityTrainer.train(calibLabeled(s, dir), "text", "y", dim = 256,
        iters = 1, lr = 0.5)
    }

  /** pq125/pq125b's eval set: scaled (x1.01, float-cast) copies of
    * vec_id < 15 at +50000 ids — the pq12 perturbation as a SEPARATE
    * set, so the semantic-decontamination flags have guaranteed hits at
    * cos ~ 1.0 against the 15 originals. */
  private def semanticEvalSet(s: SparkSession, dir: String): DataFrame =
    embs(s, dir).filter(col("vec_id") < 15).select(
      (col("vec_id") + 50000).as("vec_id"),
      transform(col("embedding"), x => (x.cast("double") * 1.01).cast("float"))
        .as("embedding"))

  /** pq46/pq47's fixed quantized centroids (dim 64, the embeddings
    * table's dimensionality), generated by the same closed-form both
    * here and in the oracle's `list_transform(range(...))` — so
    * assignment and update are pinned under the exact centroids the SQL
    * computes, without a 3*64-literal wall. */
  private val KmeansOracleCentroids: Array[Array[Long]] =
    Array.tabulate(3)(c => Array.tabulate(64)(i =>
      (((c + 1) * 101 * (i + 1)) % 997 - 498).toLong))

  /** pq48/pq49's fixed PQ codebooks (m=4 subspaces of 16 dims, ksub=8),
    * closed-form twins of the oracle's `sc` CTE — encode and ADC are
    * pinned under the exact codebooks the SQL computes. */
  private val PqOracleModel: ProductQuant.PqModel =
    ProductQuant.PqModel(4, 16, Array.tabulate(4)(s => Array.tabulate(8)(c =>
      Array.tabulate(16)(p =>
        ((((s + 1) * 37 + (c + 1) * 101 + (p + 1) * 17) % 997) - 498).toLong))))

  /** pq24/pq33's shared fixture: a batch of near-copies of history
    * (one appended token -> dup_of_history), synthetic disjoint texts
    * (-> new) and their second copies (-> dup_in_batch), classified
    * against the full-corpus MinHash index. */
  private def minhashFixture(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = docs(s, dir).select("doc_id", "text")
    val index = IncrementalMinHash.buildIndex(d, "doc_id", "text")
    val idstr = col("doc_id").cast("string")
    val freshText = concat(lit("n"), idstr, lit("a n"), idstr,
      lit("b n"), idstr, lit("c n"), idstr, lit("d"))
    val fresh = d.filter(col("doc_id") >= 30 && col("doc_id") < 40)
    val batch = d.filter(col("doc_id") < 30)
      .select((col("doc_id") + 10000).as("doc_id"),
        concat(col("text"), lit(" xtra")).as("text"))
      .unionByName(fresh.select((col("doc_id") + 20000).as("doc_id"),
        freshText.as("text")))
      .unionByName(fresh.select((col("doc_id") + 30000).as("doc_id"),
        freshText.as("text")))
    (batch, index)
  }

  /** pq25/pq39's shared (train, eval) fixture: the corpus as training
    * data; an eval set synthesizing all three containment classes from
    * it — full copies (1.0), synthetic disjoint texts (0.0), and copies
    * with novel tokens appended (strictly between). ONE definition so
    * the bloom-prefiltered variant provably answers the exact question
    * the plain variant pins (they share the oracle SQL verbatim). */
  private def decontamFixture(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = docs(s, dir).select("doc_id", "text")
    val idstr = col("doc_id").cast("string")
    val freshText = concat(lit("n"), idstr, lit("a n"), idstr, lit("b n"),
      idstr, lit("c n"), idstr, lit("d n"), idstr, lit("e"))
    val eval = d.filter(col("doc_id") < 10)
      .select((col("doc_id") + 50000).as("doc_id"), col("text"))
      .unionByName(d.filter(col("doc_id") >= 30 && col("doc_id") < 40)
        .select((col("doc_id") + 60000).as("doc_id"), freshText.as("text")))
      .unionByName(d.filter(col("doc_id") >= 10 && col("doc_id") < 20)
        .select((col("doc_id") + 70000).as("doc_id"),
          concat(col("text"), lit(" q"), idstr, lit("a q"), idstr,
            lit("b q"), idstr, lit("c")).as("text")))
    (d, eval)
  }

  /** pq118/pq119's shared fixture: doc_id-derived URLs with a SKEWED
    * host distribution (host0 takes ~60% of docs — the spam-host shape
    * host curation exists for), rotating through the canonicalization
    * rules (default port, userinfo, tracking param, bare authority)
    * plus a scheme-less class (null host). The oracle recomputes the
    * host from the doc_id arithmetic, so the engine's regex extraction
    * is pinned THROUGH every decoration. */
  private def hostFixture(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val hostIdx = when(pmod(id, lit(10)) < 6, lit(0L))
      .otherwise(pmod(id, lit(10)))
    val base = concat(lit("Host"), hostIdx.cast("string"),
      lit(".Example.COM"))
    val url = when(pmod(id, lit(17)) === 0, lit("not a url"))
      .when(pmod(id, lit(4)) === 0,
        concat(lit("HTTP://"), base, lit(":80/p?q="), id.cast("string")))
      .when(pmod(id, lit(4)) === 1,
        concat(lit("http://user:pw@"), base, lit("/a/b")))
      .when(pmod(id, lit(4)) === 2,
        concat(lit("https://"), base, lit("/x?utm_source=z")))
      .otherwise(concat(lit("HTTPS://"), base))
    docs(s, dir).select(id, url.as("url"), col("n_chars"))
      .filter(id.isNotNull)
  }

  /** pq37/pq38's shared fixture: the non-null-text corpus plus injected
    * duplication in both shapes — a 12-token boilerplate tail appended
    * to copies of doc_id < 15 (a cross-doc repeated region) and
    * doc_id in [15, 25) rebuilt as their own first-20-token prefix
    * repeated twice (within-doc repetition). */
  private def substringFixture(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text").filter(col("text").isNotNull)
    val prefix = array_join(slice(TextOps.tokens(col("text")), 1, 20), " ")
    d.unionByName(d.filter(col("doc_id") < 15).select(
        (col("doc_id") + 80000).as("doc_id"),
        concat(col("text"),
          lit(" b0 b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11")).as("text")))
      .unionByName(d.filter(col("doc_id") >= 15 && col("doc_id") < 25).select(
        (col("doc_id") + 90000).as("doc_id"),
        concat(prefix, lit(" "), prefix).as("text")))
  }

  /** pq40's fixture: multi-line docs (every " a " becomes a newline —
    * the corpus's most frequent word, so line lengths spread across the
    * minTokens boundary) plus injected line duplication: a shared
    * 6-token boilerplate line on copies of doc_id < 12 (cross-doc; the
    * copies also duplicate every eligible line of their base doc) and a
    * 5-token line repeated twice within copies of doc_id in [12, 20). */
  private def lineFixture(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), replace(col("text"), lit(" a "), lit("\n")).as("text"))
    d.unionByName(d.filter(col("doc_id") < 12).select(
        (col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit("\ndl1 dl2 dl3 dl4 dl5 dl6")).as("text")))
      .unionByName(d.filter(col("doc_id") >= 12 && col("doc_id") < 20).select(
        (col("doc_id") + 110000).as("doc_id"),
        concat(col("text"),
          lit("\nsl1 sl2 sl3 sl4 sl5\nsl1 sl2 sl3 sl4 sl5")).as("text")))
  }

  /** Unique memory-sink names so repeated runs (bench best-of-N sweeps,
   *  verify + bench in one session) never collide on an active query. */
  private val SinkId = new java.util.concurrent.atomic.AtomicLong(0)

  /** pq53b's one-per-JVM index location (overwritten per execution). */
  private lazy val Pq53bDir =
    java.nio.file.Files.createTempDirectory("graft_pq53b")
      .resolve("graft_pq53b_idx").toString

  /** pq91's two stable per-JVM locations: the save lands at A, the
    * retraction's rewrite swaps to B (both OVERWRITTEN per execution —
    * retract's default nano-suffixed path would leak one full index
    * copy per warmup/sweep execution of a bench run). */
  private lazy val Pq91Dir =
    java.nio.file.Files.createTempDirectory("graft_pq91")
      .resolve("graft_pq91_idx").toString
  private lazy val Pq91DirB =
    java.nio.file.Files.createTempDirectory("graft_pq91")
      .resolve("graft_pq91_idx_retracted").toString

  /** pq97's one-per-JVM location: tombstone retraction never moves the
    * index, so one stable path suffices; its `_tombstones` sidecar is a
    * sibling dir, re-deduped (not regrown) across executions. */
  private lazy val Pq97Dir =
    java.nio.file.Files.createTempDirectory("graft_pq97")
      .resolve("graft_pq97_idx").toString

  // (pq98/pq120/pq130's eval indexes moved to per-dir persisted tables
  // this round — the pq114 precedent; their per-JVM temp dirs are gone)

  /** Base temp dir for the PER-CORPUS maintaining tables ([[perDirName]]). */
  private lazy val PerDirBase =
    java.nio.file.Files.createTempDirectory("graft_perdir").toString

  /** Table name (and path leaf) for a maintaining table keyed by the
    * DATA DIR: catalog tables survive across executions in one JVM, and
    * Bench warms every query at sf0.001 before timing at the target
    * dir — an un-keyed table would merge two different corpora into one
    * state. Keying by dir keeps each corpus's state separate while
    * re-executions on the SAME dir stay idempotent (the merge laws). */
  private def perDirName(base: String, dir: String): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    s"${base}_$key"
  }
  private def perDirPath(base: String, dir: String): String =
    s"$PerDirBase/${perDirName(base, dir)}"

  /** pq92's one-per-JVM coded-index location (overwritten per
    * execution — retractCoded rewrites cells IN PLACE, so one path
    * suffices, unlike pq91's swap pair). */
  private lazy val Pq92Dir =
    java.nio.file.Files.createTempDirectory("graft_pq92")
      .resolve("graft_pq92_idx").toString

  /** Micro-batch count of each streaming row's LAST run — bench
   *  attribution so the replay floor (micro-batch machinery per batch)
   *  is separable from state-logic time in bench_details: a state-logic
   *  regression shows as seconds moving with batch counts flat. */
  val StreamingBatchCounts =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Drain the replay, record its micro-batch count, always stop.
    * lastProgress.batchId is exact — recentProgress would clamp at
    * numRecentProgressUpdates (100) and silently flatten the count a
    * regression diagnosis depends on. */
  private def drainStream(name: String,
      query: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    try {
      query.processAllAvailable()
      StreamingBatchCounts.put(name,
        Option(query.lastProgress).map(_.batchId + 1L).getOrElse(0L))
    } finally query.stop()

  /** A sibling session whose shuffle-partition count right-sizes the
   *  STATE sharding for a keyed streaming query: state partitions are
   *  fixed at query start from `spark.sql.shuffle.partitions`, and each
   *  partition pays per-micro-batch store overhead whether or not it
   *  holds keys — for a stream with a bounded key set (150 users, one
   *  distinct-hash set) 32 shards are mostly empty overhead. Sizing
   *  state shards to key cardinality is the production norm; the batch
   *  queries keep the session default. Two shards suffice for every
   *  replay row here (max ~5k tiny keys, one micro-batch of data work
   *  each) — measured faster than 1, 4, or 8 at sf0.1 because the
   *  per-shard per-batch store overhead, not the keyed data work, is
   *  the binding cost at replay scale. newSession shares the
   *  SparkContext but owns its catalog, so the memory sink also dies
   *  with the throwaway session instead of accreting in the main one. */
  private def streamSession(s: SparkSession, statePartitions: Int): SparkSession = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    s2
  }

  /** Sentinel event-time horizon past max(ts): far enough that the
    * watermark provably passes every session's `end + gap` timeout
    * (gap = 1800 s in pq18) AND every tumbling window's end (1 h in
    * pq20), so ONE replay directory serves every streaming row. */
  private val ReplayHorizonSec = 7200L

  /** Replay directories are immutable once built and identical for every
    * caller on the same input dir (the sentinel horizon is the shared
    * constant above), so they are built once per JVM and reused across
    * queries, bench sweeps, and sessions — the build costs two Spark
    * jobs (max(ts) agg + sentinel write) plus temp-dir IO, which
    * previously recurred per streaming query per sweep. Deleted by a
    * shutdown hook; the files are read-only after build. */
  private val replayDirs = new java.util.concurrent.ConcurrentHashMap[
    String, (java.nio.file.Path, org.apache.spark.sql.types.StructType)]()

  /**
   * Replay of the events table for the streaming rows: the real events
   * file plus one far-future sentinel row [[ReplayHorizonSec]] past
   * max(ts), ingested in ONE micro-batch. The watermark advances at
   * END of batch (from the batch's max event time — the sentinel), so
   * the engine's no-data batch then fires every keyed-state timeout and
   * closes every real window: two total micro-batches instead of the
   * earlier three (maxFilesPerTrigger=1 separated the files into
   * consecutive batches, paying a full extra batch of machinery for
   * watermark semantics the end-of-batch update already provides; the
   * merge is output-identical — measured A/B below the per-query floor
   * work, ~0.5 s/query at sf0.1). The sentinel carries
   * user_id = event_id = -1 and nulls elsewhere, matched to the raw
   * schema BY FIELD NAME. Returns the stream with `ts` already
   * converted nanos -> timestamp (the batch reader's exact conversion,
   * Tables:20).
   */
  private def eventReplay(s: SparkSession, s2: SparkSession, dir: String): DataFrame = {
    val (replay, rawSchema) =
      replayDirs.computeIfAbsent(dir, d => buildReplayDir(s, d))
    // runtime confs don't carry into newSession — the raw file needs the
    // same nanos-as-long read the batch path uses
    s2.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s2.readStream.schema(rawSchema).parquet(s"$replay/*.parquet")
    // same type dispatch as the batch reader (Tables:19), plus one
    // streaming-only step: watermarks demand TIMESTAMP (not NTZ), so
    // NTZ files reinterpret in the UTC session zone — value-identical
    // wall-clock times, same instants the batch oracle sees
    rawSchema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros((col("ts") / 1000L).cast("long")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  private def buildReplayDir(s: SparkSession, dir: String)
      : (java.nio.file.Path, org.apache.spark.sql.types.StructType) = {
    val events = Tables(s, dir, "events") // sets nanosAsLong for raw reads
    // the converted ts surfaces as Timestamp (legacy/with-tz files) or
    // LocalDateTime (TIMESTAMP_NTZ files) — normalize to epoch micros
    val maxTsMicros = events.agg(max(col("ts"))).head().get(0) match {
      case t: java.sql.Timestamp => Math.multiplyExact(t.getTime, 1000L)
      case i: java.time.Instant =>
        Math.multiplyExact(i.getEpochSecond, 1000000L) + i.getNano / 1000L
      case l: java.time.LocalDateTime =>
        val i = l.toInstant(java.time.ZoneOffset.UTC)
        Math.multiplyExact(i.getEpochSecond, 1000000L) + i.getNano / 1000L
      case other => sys.error(s"unexpected max(ts) value: $other")
    }
    val sentinelMicros = maxTsMicros + ReplayHorizonSec * 1000000L
    // the stream reads the RAW file, so the sentinel file must carry a
    // ts of the raw column's exact type for a uniform stream schema:
    // INT64-nanos long for legacy files, LocalDateTime for NTZ,
    // Timestamp for with-tz
    val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
    val sentinelTs: Any = rawSchema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => sentinelMicros * 1000L
      case org.apache.spark.sql.types.TimestampNTZType =>
        java.time.LocalDateTime.ofEpochSecond(sentinelMicros / 1000000L,
          ((sentinelMicros % 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
      case _ => new java.sql.Timestamp(sentinelMicros / 1000L)
    }
    val replay = java.nio.file.Files.createTempDirectory("graft_replay")
    val eventsCopy = replay.resolve("0-events.parquet")
    java.nio.file.Files.copy(java.nio.file.Paths.get(dir, "events.parquet"), eventsCopy)
    val sentinelRow = org.apache.spark.sql.Row.fromSeq(rawSchema.fields.map(_.name match {
      case "ts" => sentinelTs
      case "user_id" | "event_id" => -1L
      case _ => null
    }).toSeq)
    val sentDir = replay.resolve("_sentinel")
    s.createDataFrame(java.util.Arrays.asList(sentinelRow), rawSchema)
      .coalesce(1).write.parquet(sentDir.toString)
    val sentList = java.nio.file.Files.list(sentDir)
    val sentPart = try sentList.filter(
      p => p.getFileName.toString.endsWith(".parquet")).findFirst().get()
      finally sentList.close()
    val sentinelCopy = replay.resolve("1-sentinel.parquet")
    java.nio.file.Files.move(sentPart, sentinelCopy)
    // no mtime staging: both files deliberately land in the same initial
    // micro-batch (see eventReplay) — file order carries no semantics
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(replay).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }))
    (replay, rawSchema)
  }

  /** pq24's full classification SQL — also the `classified` CTE of
    * pq33's recursive chain resolution. */
  private val IncMinhashClassifySql: String =
    """WITH d AS (SELECT doc_id, text FROM documents),
        |batch AS (
        |  SELECT doc_id + 10000 AS doc_id, text || ' xtra' AS text FROM d WHERE doc_id < 30
        |  UNION ALL SELECT doc_id + 20000, 'n' || doc_id || 'a n' || doc_id || 'b n' || doc_id || 'c n' || doc_id || 'd' FROM d WHERE doc_id >= 30 AND doc_id < 40
        |  UNION ALL SELECT doc_id + 30000, 'n' || doc_id || 'a n' || doc_id || 'b n' || doc_id || 'c n' || doc_id || 'd' FROM d WHERE doc_id >= 30 AND doc_id < 40),
        |alld AS (SELECT doc_id, text, 0 AS is_b FROM d UNION ALL SELECT doc_id, text, 1 FROM batch),
        |toks AS (SELECT doc_id, is_b, string_split_regex(trim(text), '\s+') AS t FROM alld),
        |sh AS (SELECT doc_id, is_b, list_distinct(list_transform(range(1, len(t)-1),
        |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles FROM toks WHERE len(t) >= 3),
        |sig AS (SELECT doc_id, is_b, list_transform(range(0, 9),
        |          k -> list_min(list_transform(shingles, x -> md5(k::VARCHAR || ':' || x)))) AS mh FROM sh),
        |bands AS (SELECT doc_id, is_b, b, md5(mh[3*b+1] || mh[3*b+2] || mh[3*b+3]) AS band_key
        |          FROM sig, unnest([0, 1, 2]) AS u(b)),
        |hc AS (SELECT DISTINCT b.doc_id AS bid, h.doc_id AS hid
        |       FROM bands b JOIN bands h ON b.band_key = h.band_key AND b.b = h.b
        |        AND b.is_b = 1 AND h.is_b = 0),
        |hv AS (SELECT bid, MIN(hid) AS hist_dup
        |       FROM hc JOIN sig sb ON sb.doc_id = bid AND sb.is_b = 1
        |               JOIN sig s2 ON s2.doc_id = hid AND s2.is_b = 0
        |       WHERE len(list_filter(range(1, 10), i -> sb.mh[i] = s2.mh[i])) >= 5
        |       GROUP BY bid),
        |bc AS (SELECT DISTINCT a.doc_id AS aid, b.doc_id AS bid
        |       FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.b = b.b
        |        AND a.is_b = 1 AND b.is_b = 1 AND a.doc_id < b.doc_id),
        |bv AS (SELECT bid, MIN(aid) AS batch_dup
        |       FROM bc JOIN sig sa ON sa.doc_id = aid AND sa.is_b = 1
        |               JOIN sig sb ON sb.doc_id = bid AND sb.is_b = 1
        |       WHERE len(list_filter(range(1, 10), i -> sa.mh[i] = sb.mh[i])) >= 5
        |       GROUP BY bid)
        |SELECT batch.doc_id,
        |       CASE WHEN hv.hist_dup IS NOT NULL THEN 'dup_of_history'
        |            WHEN bv.batch_dup IS NOT NULL THEN 'dup_in_batch' ELSE 'new' END AS status,
        |       CAST(COALESCE(hv.hist_dup, bv.batch_dup, -1) AS BIGINT) AS dup_of
        |FROM batch LEFT JOIN hv ON hv.bid = batch.doc_id LEFT JOIN bv ON bv.bid = batch.doc_id""".stripMargin

  /** The SimHash signature->banded-candidates->Hamming CTE chain — the
   *  oracle for BOTH pq7b (near-dup pairs) and pq23 (pair clustering):
   *  one string, so the cluster oracle provably builds on the exact
   *  pair set the pair oracle pins. */
  private val SimHashPairCtes: String =
    """toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents),
      |h AS (SELECT doc_id, md5(w) AS hx FROM toks),
      |wb AS (SELECT doc_id, b,
      |        CASE WHEN ((strpos('0123456789abcdef', substr(hx, 1 + b // 4, 1)) - 1)
      |                   >> (3 - (b % 4))) & 1 = 1 THEN 1 ELSE -1 END AS v
      |       FROM h, unnest(range(0, 64)) AS u(b)),
      |bits AS (SELECT doc_id, b, CASE WHEN SUM(v) > 0 THEN 1 ELSE 0 END AS bit FROM wb GROUP BY doc_id, b),
      |nibs AS (SELECT doc_id, b // 4 AS nib, SUM(bit << (3 - (b % 4))) AS nv FROM bits GROUP BY doc_id, b // 4),
      |sig AS (SELECT doc_id, string_agg(substr('0123456789abcdef', (nv + 1)::INT, 1), '' ORDER BY nib) AS s FROM nibs GROUP BY doc_id),
      |bands AS (SELECT doc_id, i, substr(s, 1 + 4*i, 4) AS chunk, s FROM sig, unnest(range(0, 4)) AS u(i)),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.s AS sa, b.s AS sb
      |         FROM bands a JOIN bands b ON a.i = b.i AND a.chunk = b.chunk AND a.doc_id < b.doc_id),
      |ham AS (SELECT doc_a, doc_b, CAST(list_sum(list_transform(range(1, 17),
      |          p -> bit_count(xor(strpos('0123456789abcdef', substr(sa, p, 1)) - 1,
      |                             strpos('0123456789abcdef', substr(sb, p, 1)) - 1)))) AS BIGINT) AS hamming
      |        FROM cand)""".stripMargin

  /** The perturbed-corpus bucket/cosine pair CTE chain — the oracle for
   *  BOTH pq12 (near-dup pairs) and pq31 (semantic-dedup clusters): one
   *  string, so the cluster oracle provably builds on the exact pair
   *  set the pair oracle pins. */
  private val EmbNearDupCtes: String =
    """corpus AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000, list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) * 1.01 AS FLOAT))
      |  FROM embeddings WHERE vec_id < 10),
      |qv AS (SELECT vec_id, list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v FROM corpus),
      |nrm AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS n2,
      |          array_to_string(list_transform([1, 2, 3, 4], i -> CASE WHEN v[i] > 0 THEN '1' ELSE '0' END), '') AS bkt
      |        FROM qv),
      |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |        list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) / sqrt(a.n2::DOUBLE * b.n2::DOUBLE) AS cos
      |      FROM nrm a JOIN nrm b ON a.bkt = b.bkt AND a.vec_id < b.vec_id)""".stripMargin

  /** pq125/pq125b's shared prep: quantized train and eval vectors with
    * exact norms and the 4-bit sign bucket — the twins of
    * [[semanticEvalSet]] and Similarity.prepTyped/signBucket. */
  private val SemanticDecontamCtes: String =
    """tq AS (SELECT vec_id, list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
      |       FROM embeddings WHERE embedding IS NOT NULL),
      |tn AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS n2,
      |         array_to_string(list_transform([1, 2, 3, 4], i -> CASE WHEN v[i] > 0 THEN '1' ELSE '0' END), '') AS bkt
      |       FROM tq),
      |ev AS (SELECT vec_id + 50000 AS eid,
      |         list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) * 1.01 AS FLOAT)) AS emb
      |       FROM embeddings WHERE vec_id < 15 AND embedding IS NOT NULL),
      |eq AS (SELECT eid, list_transform(emb, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v FROM ev),
      |en AS (SELECT eid, v, list_sum(list_transform(v, x -> x * x)) AS n2,
      |         array_to_string(list_transform([1, 2, 3, 4], i -> CASE WHEN v[i] > 0 THEN '1' ELSE '0' END), '') AS bkt
      |       FROM eq)""".stripMargin

  /** pq125's brute-force oracle, shared by pq130 (the streaming gate is
    * a pure per-doc function of the fixed eval index, so the union of
    * per-batch flags equals the one-shot flags — the pq120/pq25
    * shared-oracle precedent for a batch-decomposable gate). */
  private lazy val SemanticBruteSql: String =
    s"""WITH $SemanticDecontamCtes,
       |p AS (SELECT t.vec_id, e.eid,
       |        list_sum(list_transform(range(1, len(t.v) + 1), i -> t.v[i] * e.v[i]))
       |          / sqrt(e.n2::DOUBLE * t.n2::DOUBLE) AS cos
       |      FROM tn t CROSS JOIN en e
       |      WHERE t.n2 > 0 AND e.n2 > 0),
       |$SemanticDecontamTail""".stripMargin

  /** The argmax + inclusive rounded-threshold tail shared by both
    * semantic-decontamination arms (the `p` CTE differs: cross join vs
    * bucket-equality join). */
  private val SemanticDecontamTail: String =
    """r AS (SELECT vec_id, eid, cos,
      |        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, eid) AS rnk
      |      FROM p)
      |SELECT vec_id, eid AS match_id, ROUND(cos, 4) AS cos FROM r
      |WHERE rnk = 1 AND ROUND(cos, 4) >= 0.99""".stripMargin

  /** pq128/pq129's shared chain: pq100's one-exact-step trainer under
    * the contains-" the " label, scored, binned at width 2048, with the
    * cumulative threshold sweep. Weights/bias are 0.5-dyadic sums, so
    * every score is exact and order-free; the only divisions are the
    * ROUND(6) rates. */
  private val CalibSweepCtes: String =
    """d AS (SELECT doc_id, text,
      |        CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END AS y
      |      FROM documents),
      |t AS (SELECT doc_id, y, CASE WHEN y = 1 THEN 0.5 ELSE -0.5 END AS r,
      |        CASE WHEN text IS NULL THEN []
      |             ELSE list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') END AS toks
      |      FROM d),
      |e AS (SELECT r, unnest(toks) AS tok FROM t),
      |g AS (SELECT (CAST(('0x'||substr(md5(tok), 1, 8)) AS BIGINT) % 256) AS bkt,
      |        0.5 * sum(r) AS w
      |      FROM e GROUP BY 1),
      |bias AS (SELECT 0.5 * sum(r) AS b FROM t),
      |e2 AS (SELECT doc_id, unnest(toks) AS tok FROM t),
      |ws AS (SELECT e2.doc_id, sum(g.w) AS sw
      |       FROM e2 JOIN g
      |         ON g.bkt = (CAST(('0x'||substr(md5(e2.tok), 1, 8)) AS BIGINT) % 256)
      |       GROUP BY 1),
      |s AS (SELECT t.doc_id, t.y, CAST(len(t.toks) AS BIGINT) AS n_tokens,
      |        ROUND((SELECT b FROM bias) + COALESCE(ws.sw, 0.0), 6) AS score
      |      FROM t LEFT JOIN ws USING (doc_id)),
      |bk AS (SELECT CAST(floor(score / 2048.0) AS BIGINT) AS bucket, y FROM s
      |       WHERE score IS NOT NULL),
      |agg AS (SELECT bucket, COUNT(*) AS n_docs, CAST(SUM(y) AS BIGINT) AS n_pos
      |        FROM bk GROUP BY bucket),
      |c AS (SELECT bucket, n_docs, n_pos,
      |        ROUND(n_pos::DOUBLE / n_docs, 6) AS pos_rate,
      |        SUM(n_docs) OVER (ORDER BY bucket DESC) AS cum_docs,
      |        SUM(n_pos) OVER (ORDER BY bucket DESC) AS cum_pos
      |      FROM agg)""".stripMargin

  /** The fixed-centroid k-means assignment CTE chain shared by pq46
   *  (sizes + objective) and pq47 (Lloyd update): quantized vectors,
   *  exact BIGINT squared distances, argmin ties to the lowest centroid
   *  index. The VALUES rows are the literal twins of
   *  [[KmeansOracleCentroids]]. */
  private val KmeansAssignCtes: String =
    """qv AS (SELECT vec_id, list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
      |       FROM embeddings WHERE embedding IS NOT NULL),
      |cents AS (SELECT c, list_transform(range(1, 65), i -> CAST(((c + 1) * 101 * i) % 997 - 498 AS BIGINT)) AS cv
      |          FROM (SELECT unnest(range(0, 3)) AS c)),
      |d AS (SELECT vec_id, c, v,
      |        list_sum(list_transform(range(1, len(v) + 1), i -> (v[i] - cv[i]) * (v[i] - cv[i]))) AS d2
      |      FROM qv CROSS JOIN cents),
      |a AS (SELECT vec_id, c, v, d2, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rnk FROM d)""".stripMargin

  /** The fixed-codebook PQ CTE chain shared by pq48 (encode) and pq49
   *  (ADC top-k): quantized vectors, the closed-form codebooks of
   *  [[PqOracleModel]], and per-subspace argmin (exact BIGINT distance,
   *  ties to the lowest code). */
  private val PqEncodeCtes: String =
    """qv AS (SELECT vec_id, list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
      |       FROM embeddings WHERE embedding IS NOT NULL),
      |sc AS (SELECT s, c, list_transform(range(1, 17), p -> CAST((((s + 1) * 37 + (c + 1) * 101 + p * 17) % 997) - 498 AS BIGINT)) AS cb
      |       FROM (SELECT unnest(range(0, 4)) AS s), (SELECT unnest(range(0, 8)) AS c)),
      |pd AS (SELECT vec_id, s, c,
      |         list_sum(list_transform(range(1, 17), p -> (v[s * 16 + p] - cb[p]) * (v[s * 16 + p] - cb[p]))) AS d2
      |       FROM qv CROSS JOIN sc),
      |enc AS (SELECT vec_id, s, c, d2, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rnk FROM pd)""".stripMargin

  /** The exact-BIGINT ADC top-5 oracle shared by pq49 (whole-corpus ADC
   *  scan) and pq53 (full-probe IVF-PQ — provably the same result). */
  private val PqAdcOracleSql: String =
    s"""WITH $PqEncodeCtes,
       |qs AS (SELECT vec_id AS qid, v AS qv FROM qv WHERE vec_id < 20),
       |pr AS (SELECT q.qid, e.vec_id AS cid, e.s,
       |         list_sum(list_transform(range(1, 17), p -> (q.qv[e.s * 16 + p] - sc.cb[p]) * (q.qv[e.s * 16 + p] - sc.cb[p]))) AS d2s
       |       FROM qs q
       |       CROSS JOIN (SELECT vec_id, s, c FROM enc WHERE rnk = 1) e
       |       JOIN sc ON sc.s = e.s AND sc.c = e.c
       |       WHERE q.qid <> e.vec_id),
       |tot AS (SELECT qid, cid, CAST(SUM(d2s) AS BIGINT) AS dist FROM pr GROUP BY 1, 2),
       |r AS (SELECT qid, cid, dist, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, cid) AS rnk FROM tot)
       |SELECT qid, rnk, cid, dist FROM r WHERE rnk <= 5""".stripMargin

  /** pq92: the shared ADC oracle with the retracted candidates cut —
    * retraction is an exact row removal, so the oracle is one WHERE
    * clause on the candidate side (queries are untouched). */
  private val PqAdcRetractOracleSql: String =
    PqAdcOracleSql.replace("WHERE q.qid <> e.vec_id",
      "WHERE q.qid <> e.vec_id AND (e.vec_id < 20 OR e.vec_id >= 60)")

  /** pq93: both rank chains (exact cosine, PQ-ADC) recomputed in SQL
    * over the shared encode CTEs, fused by the RRF sum. Two addends
    * per candidate at most — two-double addition is IEEE-commutative,
    * so DuckDB's SUM equals the Spark side's sorted fold bit-for-bit;
    * ranking happens on the ROUND(6) value on both sides. */
  private val RrfOracleSql: String =
    s"""WITH $PqEncodeCtes,
       |qs AS (SELECT vec_id AS qid, v AS qv FROM qv WHERE vec_id < 20),
       |pr AS (SELECT q.qid, e.vec_id AS cid, e.s,
       |         list_sum(list_transform(range(1, 17), p -> (q.qv[e.s * 16 + p] - sc.cb[p]) * (q.qv[e.s * 16 + p] - sc.cb[p]))) AS d2s
       |       FROM qs q
       |       CROSS JOIN (SELECT vec_id, s, c FROM enc WHERE rnk = 1) e
       |       JOIN sc ON sc.s = e.s AND sc.c = e.c
       |       WHERE q.qid <> e.vec_id),
       |tot AS (SELECT qid, cid, CAST(SUM(d2s) AS BIGINT) AS dist FROM pr GROUP BY 1, 2),
       |ra AS (SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, cid) AS rnk FROM tot),
       |nrm AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS n2 FROM qv),
       |cp AS (SELECT a.vec_id AS qid, b.vec_id AS cid,
       |         list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) AS dot, a.n2 AS na, b.n2 AS nb
       |       FROM nrm a JOIN nrm b ON a.vec_id < 20 AND a.vec_id <> b.vec_id),
       |rc AS (SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot / sqrt(na::DOUBLE * nb::DOUBLE) DESC, cid) AS rnk FROM cp),
       |u AS (SELECT qid, cid, rnk FROM ra WHERE rnk <= 5
       |      UNION ALL SELECT qid, cid, rnk FROM rc WHERE rnk <= 5),
       |f AS (SELECT qid, cid, ROUND(SUM(1.0 / (60 + rnk)), 6) AS rrf, COUNT(*) AS n_lists FROM u GROUP BY 1, 2),
       |rr AS (SELECT qid, cid, rrf, n_lists, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rrf DESC, cid) AS rnk FROM f)
       |SELECT qid, rnk, cid, rrf, n_lists FROM rr WHERE rnk <= 5""".stripMargin

  /** Shared containment oracle for pq25 AND pq39 — the bloom variant is
   *  exact by construction, so one string pins both. String shingles
   *  stand in for the operator's fnv64 keys (the pq15 contract). */
  private val DecontamSql: String =
    """WITH d AS (SELECT doc_id, text FROM documents),
      |ev AS (
      |  SELECT doc_id + 50000 AS doc_id, text FROM d WHERE doc_id < 10
      |  UNION ALL SELECT doc_id + 60000, 'n'||doc_id||'a n'||doc_id||'b n'||doc_id||'c n'||doc_id||'d n'||doc_id||'e' FROM d WHERE doc_id >= 30 AND doc_id < 40
      |  UNION ALL SELECT doc_id + 70000, text || ' q'||doc_id||'a q'||doc_id||'b q'||doc_id||'c' FROM d WHERE doc_id >= 10 AND doc_id < 20),
      |tt AS (SELECT string_split_regex(trim(text), '\s+') AS t FROM d),
      |tsh AS (SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(t)-1),
      |          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
      |        FROM tt WHERE len(t) >= 3),
      |et AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM ev),
      |esh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t)-1),
      |          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
      |        FROM et WHERE len(t) >= 3),
      |m AS (SELECT e.doc_id, COUNT(*) AS n_shingles,
      |        CAST(SUM(CASE WHEN t.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
      |      FROM esh e LEFT JOIN tsh t USING (s) GROUP BY e.doc_id)
      |SELECT ids.doc_id, COALESCE(n_shingles, 0) AS n_shingles,
      |       COALESCE(n_matched, 0) AS n_matched,
      |       COALESCE(ROUND(n_matched::DOUBLE / n_shingles, 3), 0.0) AS containment
      |FROM (SELECT DISTINCT doc_id FROM ev) ids LEFT JOIN m USING (doc_id)""".stripMargin

  /** pq37/pq38's shared fixture + gram-occurrence CTEs: the injected-
   *  duplication corpus ([[substringFixture]] verbatim), its token
   *  arrays, and one (doc_id, pos, gram) row per 8-gram OCCURRENCE —
   *  1-based start positions, end-exclusive spans downstream. */
  private val SubstringCtes: String =
    """WITH d0 AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
      |d AS (
      |  SELECT doc_id, text FROM d0
      |  UNION ALL SELECT doc_id + 80000, text || ' b0 b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11' FROM d0 WHERE doc_id < 15
      |  UNION ALL SELECT doc_id + 90000,
      |    array_to_string(string_split_regex(trim(text), '\s+')[1:20], ' ') || ' ' ||
      |    array_to_string(string_split_regex(trim(text), '\s+')[1:20], ' ')
      |  FROM d0 WHERE doc_id >= 15 AND doc_id < 25),
      |tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM d),
      |occ AS (SELECT doc_id, unnest(range(1, len(t) - 6)) AS pos, t FROM tok WHERE len(t) >= 8),
      |g AS (SELECT doc_id, pos,
      |       t[pos] || ' ' || t[pos+1] || ' ' || t[pos+2] || ' ' || t[pos+3] || ' ' ||
      |       t[pos+4] || ' ' || t[pos+5] || ' ' || t[pos+6] || ' ' || t[pos+7] AS gram
      |      FROM occ)""".stripMargin

  /** Exact cosine top-5 for queries vec_id < 20 — the oracle for BOTH
   *  pq8 (brute force) and pq19 (full-probe IVF): one string, so the
   *  "IVF with nprobe == nlist equals brute force" pin cannot drift. */
  /** pq91 + pq97's shared oracle: classify against the history MINUS
    * keepers 0-4 — a physical retraction (pq91) and a tombstone
    * takedown (pq97) must both be observably identical to this. */
  private val RetractReclassifyOracle: String =
    """WITH d AS (SELECT doc_id, text FROM documents),
      |hist AS (SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id FROM d GROUP BY 1),
      |live AS (SELECT * FROM hist WHERE keep_id >= 5),
      |batch AS (SELECT doc_id + 100000 AS doc_id, text FROM d WHERE doc_id < 10),
      |h AS (SELECT doc_id, md5(text) AS content_hash,
      |             MIN(doc_id) OVER (PARTITION BY md5(text)) AS batch_keep FROM batch),
      |j AS (SELECT h.doc_id, h.content_hash, h.batch_keep, live.keep_id AS hist_keep
      |      FROM h LEFT JOIN live USING (content_hash))
      |SELECT doc_id, content_hash,
      |       CASE WHEN hist_keep IS NOT NULL THEN 'dup_of_history'
      |            WHEN doc_id <> batch_keep THEN 'dup_in_batch' ELSE 'new' END AS status,
      |       CAST(CASE WHEN hist_keep IS NOT NULL THEN hist_keep
      |                 WHEN doc_id <> batch_keep THEN batch_keep ELSE -1 END AS BIGINT) AS dup_of
      |FROM j""".stripMargin

  /** pq111's margin-mining oracle, shared by pq111b (full-probe IVF
    * retriever ≡ brute force, so the margin tail answers the identical
    * question — the pq19/pq53b shared-oracle precedent). */
  private val BitextMarginSql: String =
    """WITH qv AS (SELECT vec_id, list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
      |            FROM embeddings),
      |nrm AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS n2 FROM qv),
      |fp AS (SELECT a.vec_id AS qid, b.vec_id AS cid,
      |         list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) AS dot,
      |         a.n2 AS na, b.n2 AS nb
      |       FROM nrm a JOIN nrm b ON a.vec_id < 20 AND b.vec_id >= 20),
      |fr AS (SELECT qid, cid, ROUND(dot / sqrt(na::DOUBLE * nb::DOUBLE), 4) AS cos,
      |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot / sqrt(na::DOUBLE * nb::DOUBLE) DESC, cid) AS rnk
      |       FROM fp),
      |fwd AS (SELECT * FROM fr WHERE rnk <= 4),
      |xa AS (SELECT qid, list_sum(list(cos ORDER BY rnk)) / COUNT(*) AS xavg
      |       FROM fwd GROUP BY qid),
      |cand AS (SELECT DISTINCT cid FROM fwd),
      |bp AS (SELECT b.vec_id AS bqid, a.vec_id AS bcid,
      |         list_sum(list_transform(range(1, len(b.v) + 1), i -> b.v[i] * a.v[i])) AS dot,
      |         b.n2 AS na, a.n2 AS nb
      |       FROM nrm b JOIN cand ON b.vec_id = cand.cid
      |       JOIN nrm a ON a.vec_id < 20),
      |br AS (SELECT bqid, bcid, ROUND(dot / sqrt(na::DOUBLE * nb::DOUBLE), 4) AS cos,
      |         ROW_NUMBER() OVER (PARTITION BY bqid ORDER BY dot / sqrt(na::DOUBLE * nb::DOUBLE) DESC, bcid) AS rnk
      |       FROM bp),
      |bwd AS (SELECT * FROM br WHERE rnk <= 4),
      |ya AS (SELECT bqid AS cid, list_sum(list(cos ORDER BY rnk)) / COUNT(*) AS yavg
      |       FROM bwd GROUP BY bqid),
      |m AS (SELECT f.qid, f.cid, f.cos,
      |        CASE WHEN 0.5 * (xa.xavg + ya.yavg) <> 0
      |             THEN f.cos / (0.5 * (xa.xavg + ya.yavg)) END AS margin
      |      FROM fwd f JOIN xa USING (qid) JOIN ya USING (cid)),
      |r AS (SELECT qid, cid, cos, margin,
      |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY margin DESC, cid) AS rk
      |      FROM m WHERE margin IS NOT NULL)
      |SELECT qid, cid, cos, ROUND(margin, 6) AS margin FROM r
      |WHERE rk = 1 AND ROUND(margin, 6) >= 1.34""".stripMargin

  private val ExactTop5OracleSql: String =
    """WITH qv AS (SELECT vec_id, list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
      |            FROM embeddings),
      |nrm AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS n2 FROM qv),
      |pairs AS (SELECT a.vec_id AS qid, b.vec_id AS cid,
      |            list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) AS dot, a.n2 AS na, b.n2 AS nb
      |          FROM nrm a JOIN nrm b ON a.vec_id < 20 AND a.vec_id <> b.vec_id),
      |scored AS (SELECT qid, cid, dot / sqrt(na::DOUBLE * nb::DOUBLE) AS cos,
      |             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot / sqrt(na::DOUBLE * nb::DOUBLE) DESC, cid) AS rnk
      |           FROM pairs)
      |SELECT qid, rnk, cid, ROUND(cos, 4) AS cos FROM scored WHERE rnk <= 5""".stripMargin

  /** The pq rows of [[SparkEntry.registry]]. Lazy: several oracle
    * constants below are read only once the object is initialized. */
  private[graft] lazy val pqRows: Seq[Query] = Seq(
    // Exact dedup: hash-groupBy on content md5 (one shuffle on the hash)
    Query("pq1_exact_dedup", (s, dir) =>
      ExactDedup(docs(s, dir), "doc_id", "text"), oracle =
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin),

    // Corpus stats per language: one hash aggregation
    Query("pq2_text_stats", (s, dir) =>
      TextAnalysis.corpusStats(docs(s, dir), "lang", "n_chars", "text",
        ordered = false), oracle =
      """WITH t AS (SELECT lang, n_chars, len(string_split_regex(trim(text), '\s+')) AS n_tokens FROM documents)
        |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |       ROUND(AVG(n_chars), 2) AS avg_chars, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |       CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
        |FROM t GROUP BY lang""".stripMargin),

    // Per-doc quality metrics: projection only
    Query("pq3_quality", (s, dir) =>
      TextAnalysis.qualityMetrics(docs(s, dir), "doc_id", "text",
        ordered = false), oracle =
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents)
        |SELECT doc_id, len(toks) AS n_tokens, len(list_distinct(toks)) AS n_types,
        |       ROUND(len(list_distinct(toks))::DOUBLE / len(toks), 3) AS ttr,
        |       ROUND(len(list_filter(toks, w -> w IN ('the', 'a', 'of', 'and', 'in')))::DOUBLE / len(toks), 3) AS stop_ratio,
        |       ROUND(list_sum(list_transform(toks, w -> len(w)))::DOUBLE / len(toks), 3) AS mean_wlen
        |FROM t""".stripMargin),

    // Stopword-profile language ID + distribution
    Query("pq4_langid", (s, dir) =>
      TextAnalysis.langDistribution(docs(s, dir), "text", ordered = false), oracle =
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id,
        |       len(list_filter(toks, w -> w IN ('the', 'a', 'of'))) AS s_en,
        |       len(list_filter(toks, w -> w IN ('el', 'la', 'los'))) AS s_es,
        |       len(list_filter(toks, w -> w IN ('der', 'die', 'das'))) AS s_de,
        |       len(list_filter(toks, w -> w IN ('le', 'les', 'une'))) AS s_fr
        |      FROM t)
        |SELECT CASE WHEN s_en >= greatest(s_es, s_de, s_fr) THEN 'en'
        |            WHEN s_es >= greatest(s_de, s_fr) THEN 'es'
        |            WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS predicted_lang,
        |       COUNT(*) AS n FROM s GROUP BY 1""".stripMargin),

    // Language ID over a corpus with synthetic multi-language rows so the
    // es/de/fr branches and the >=-tie-break are all oracle-exercised
    // (the test corpus alone is single-language).
    Query("pq4b_langid_multi", (s, dir) => {
      val synth = s.createDataFrame(
        java.util.Arrays.asList(SynthLangRows.map(org.apache.spark.sql.Row(_)): _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType, nullable = true))))
      TextAnalysis.langDistribution(
        docs(s, dir).select("text").unionByName(synth), "text", ordered = false)
    }, oracle = {
      val values = SynthLangRows.map(t => s"('${t}')").mkString(", ")
      s"""WITH corpus AS (SELECT text FROM documents UNION ALL SELECT text FROM (VALUES $values) v(text)),
         |t AS (SELECT string_split_regex(trim(text), '\\s+') AS toks FROM corpus),
         |s AS (SELECT
         |       len(list_filter(toks, w -> w IN ('the', 'a', 'of'))) AS s_en,
         |       len(list_filter(toks, w -> w IN ('el', 'la', 'los'))) AS s_es,
         |       len(list_filter(toks, w -> w IN ('der', 'die', 'das'))) AS s_de,
         |       len(list_filter(toks, w -> w IN ('le', 'les', 'une'))) AS s_fr
         |      FROM t)
         |SELECT CASE WHEN s_en >= greatest(s_es, s_de, s_fr) THEN 'en'
         |            WHEN s_es >= greatest(s_de, s_fr) THEN 'es'
         |            WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS predicted_lang,
         |       COUNT(*) AS n FROM s GROUP BY 1""".stripMargin
    }),

    // Bottom-4 minwise fingerprint over word bigrams
    Query("pq5_fingerprint", (s, dir) =>
      TextAnalysis.fingerprints(docs(s, dir), "doc_id", "text",
        ordered = false), oracle =
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS shingles
        |       FROM t WHERE len(toks) >= 2)
        |SELECT doc_id, array_to_string(list_sort(list_transform(shingles, s -> md5(s)))[1:4], ',') AS fingerprint
        |FROM sh""".stripMargin),

    // Near-dup pairs: 3-gram shingles -> 9 minhashes -> 3 bands -> bucket
    // join -> exact-Jaccard >= 0.8. Never all-pairs.
    Query("pq6_minhash_lsh", (s, dir) =>
      MinHashNearDup(docs(s, dir), "doc_id", "text",
        shingleN = 3, numHashes = 9, bands = 3, threshold = 0.8,
        ordered = false), oracle =
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
        |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles FROM toks WHERE len(t) >= 3),
        |sig AS (SELECT doc_id, shingles, list_transform(range(0, 9),
        |          k -> list_min(list_transform(shingles, s -> md5(k::VARCHAR || ':' || s)))) AS mh FROM sh),
        |bands AS (SELECT doc_id, b, md5(mh[3*b+1] || mh[3*b+2] || mh[3*b+3]) AS band_key
        |          FROM sig, unnest([0, 1, 2]) AS u(b)),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.b = b.b AND a.doc_id < b.doc_id),
        |j AS (SELECT doc_a, doc_b,
        |        len(list_intersect(sa.shingles, sb.shingles))::DOUBLE /
        |        (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles))) AS jac
        |      FROM cand JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b)
        |SELECT doc_a, doc_b, ROUND(jac, 3) AS jaccard FROM j WHERE jac >= 0.8""".stripMargin),

    // Dedup-quality evaluation (evalRanking's pair-space sibling):
    // banded MinHash candidates at 0.8 measured against the exact
    // rare-shingle Jaccard method at the same threshold — the
    // bands/hashes knob-tuning read. One full-outer pair join, one
    // global aggregate; F1 via the harmonic identity 2·hit/(pred+truth)
    // so every ratio is a single division of exact longs.
    Query("pq104_dedup_eval", (s, dir) => {
      val d = docs(s, dir)
      DedupEval.evalPairs(
        MinHashNearDup(d, "doc_id", "text",
          shingleN = 3, numHashes = 9, bands = 3, threshold = 0.8,
          ordered = false),
        NgramJaccard(d, "doc_id", "text",
          shingleN = 3, threshold = 0.8, maxDf = 100, ordered = false))
    }, oracle =
      // pq6's banded chain (pred) and pq15's rare-shingle chain at
      // threshold 0.8 (truth) over the SHARED toks/sh CTEs, counted with
      // one pair join; ratios are single divisions of exact counts
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
        |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles FROM toks WHERE len(t) >= 3),
        |sig AS (SELECT doc_id, shingles, list_transform(range(0, 9),
        |          k -> list_min(list_transform(shingles, s -> md5(k::VARCHAR || ':' || s)))) AS mh FROM sh),
        |bands AS (SELECT doc_id, b, md5(mh[3*b+1] || mh[3*b+2] || mh[3*b+3]) AS band_key
        |          FROM sig, unnest([0, 1, 2]) AS u(b)),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.b = b.b AND a.doc_id < b.doc_id),
        |jp AS (SELECT doc_a, doc_b,
        |        len(list_intersect(sa.shingles, sb.shingles))::DOUBLE /
        |        (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles))) AS jac
        |      FROM cand JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b),
        |pred AS (SELECT doc_a, doc_b FROM jp WHERE jac >= 0.8),
        |inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |dfc AS (SELECT s, COUNT(*) AS df FROM inv GROUP BY s),
        |rare AS (SELECT doc_id, i.s FROM inv i JOIN dfc USING (s) WHERE df <= 100),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM rare GROUP BY doc_id),
        |prs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        |        FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
        |        GROUP BY 1, 2),
        |jt AS (SELECT doc_a, doc_b, inter::DOUBLE / (sa.n + sb.n - inter) AS jac
        |       FROM prs JOIN sizes sa ON sa.doc_id = doc_a
        |                JOIN sizes sb ON sb.doc_id = doc_b),
        |tru AS (SELECT doc_a, doc_b FROM jt WHERE jac >= 0.8),
        |c AS (SELECT (SELECT COUNT(*) FROM pred) AS np,
        |             (SELECT COUNT(*) FROM tru) AS nt,
        |             (SELECT COUNT(*) FROM pred JOIN tru USING (doc_a, doc_b)) AS nh)
        |SELECT CAST(np AS BIGINT) AS n_pred, CAST(nt AS BIGINT) AS n_truth,
        |       CAST(nh AS BIGINT) AS n_hit,
        |       CASE WHEN np > 0 THEN ROUND(nh::DOUBLE / np, 6) END AS precision,
        |       CASE WHEN nt > 0 THEN ROUND(nh::DOUBLE / nt, 6) END AS recall,
        |       CASE WHEN np + nt > 0 THEN ROUND(2.0 * nh / (np + nt)::DOUBLE, 6) END AS f1
        |FROM c""".stripMargin),

    // PSI distribution drift per source (the text-side sibling of
    // pq103): n_chars bucketed over fixed edges, Laplace-smoothed
    // shares, terms folded in bucket order (ROUND(4) — ln is the only
    // libm crossing). New snapshot = synthetic churn (drop doc_id % 7).
    Query("pq106_distribution_shift", (s, dir) => {
      val d = docs(s, dir)
      CorpusDiff.distributionShift(d,
        d.filter(pmod(col("doc_id"), lit(7)) =!= 0),
        "source", "n_chars", Seq(200.0, 500.0, 1000.0, 2000.0),
        ordered = false)
    }, oracle =
      // buckets via the same >-edge sums, Laplace (n+1)/(N+5), terms in
      // a bucket-ORDERED list fold (list_sum folds left, matching the
      // Spark sorted fold — the pq96 discipline), PSI ROUND(4)
      """WITH ob AS (SELECT source AS grp,
        |        1 + CAST(n_chars > 200 AS INT) + CAST(n_chars > 500 AS INT)
        |          + CAST(n_chars > 1000 AS INT) + CAST(n_chars > 2000 AS INT) AS bucket,
        |        COUNT(*) AS n_o
        |      FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
        |      GROUP BY 1, 2),
        |nb AS (SELECT source AS grp,
        |        1 + CAST(n_chars > 200 AS INT) + CAST(n_chars > 500 AS INT)
        |          + CAST(n_chars > 1000 AS INT) + CAST(n_chars > 2000 AS INT) AS bucket,
        |        COUNT(*) AS n_n
        |      FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
        |        AND doc_id % 7 <> 0
        |      GROUP BY 1, 2),
        |g AS (SELECT DISTINCT grp FROM (SELECT grp FROM ob UNION ALL SELECT grp FROM nb)),
        |sp AS (SELECT g.grp, t.bucket FROM g, (SELECT unnest(range(1, 6)) AS bucket) t),
        |cells AS (SELECT sp.grp, sp.bucket, COALESCE(ob.n_o, 0) AS n_o, COALESCE(nb.n_n, 0) AS n_n
        |          FROM sp LEFT JOIN ob USING (grp, bucket) LEFT JOIN nb USING (grp, bucket)),
        |tot AS (SELECT grp, SUM(n_o) AS t_o, SUM(n_n) AS t_n FROM cells GROUP BY 1),
        |terms AS (SELECT c.grp, c.bucket, t.t_o, t.t_n,
        |            ((c.n_o + 1)::DOUBLE / (t.t_o + 5) - (c.n_n + 1)::DOUBLE / (t.t_n + 5)) *
        |            ln(((c.n_o + 1)::DOUBLE / (t.t_o + 5)) / ((c.n_n + 1)::DOUBLE / (t.t_n + 5))) AS term
        |          FROM cells c JOIN tot t USING (grp))
        |SELECT grp AS source, CAST(MAX(t_o) AS BIGINT) AS n_old,
        |       CAST(MAX(t_n) AS BIGINT) AS n_new,
        |       ROUND(list_sum(list(term ORDER BY bucket)), 4) AS psi
        |FROM terms GROUP BY grp""".stripMargin),

    // Soft dedup: one keeper per near-dup cluster carrying the cluster
    // size as a training WEIGHT (docs in no pair keep themselves at
    // weight 1) — dedup that redistributes mass instead of dropping
    // it. Law: sum(weight) = corpus rows (SoftDedupSpec).
    Query("pq109_soft_dedup", (s, dir) => {
      val d = docs(s, dir)
      SoftDedup.fromClusters(d,
        DupClusters(SimHashNearDup(d, "doc_id", "text", maxHamming = 3,
          ordered = false), "doc_a", "doc_b"),
        "doc_id")
    }, oracle =
      // pq23's closure rolled to per-cluster (keeper, size), unioned with
      // weight-1 singletons — the keeper aggregate mirrors
      // SoftDedup.fromClusters' keyed groupBy exactly
      s"""WITH RECURSIVE $SimHashPairCtes,
         |p AS MATERIALIZED (SELECT doc_a, doc_b FROM ham WHERE hamming <= 3),
         |e AS (SELECT doc_a AS s, doc_b AS t FROM p UNION SELECT doc_b, doc_a FROM p),
         |reach AS (SELECT s, t FROM e UNION SELECT r.s, e.t FROM reach r JOIN e ON r.t = e.s),
         |cl AS (SELECT s AS doc_id, LEAST(s, MIN(t)) AS cluster_id FROM reach GROUP BY s),
         |grouped AS (SELECT MIN(doc_id) AS keep_id, COUNT(*) AS weight FROM cl GROUP BY cluster_id)
         |SELECT keep_id, weight FROM grouped
         |UNION ALL
         |SELECT doc_id AS keep_id, 1::BIGINT AS weight FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM cl)""".stripMargin),

    // The tuning CURVE in one pass: MinHash candidates scored once at
    // threshold 0 (every banded candidate with its ROUND(3) jaccard),
    // swept over the knob grid against the fixed exact-method truth —
    // the one-job replacement for re-running the method per threshold.
    Query("pq105_dedup_sweep", (s, dir) => {
      val d = docs(s, dir)
      DedupEval.sweepThresholds(
        MinHashNearDup(d, "doc_id", "text",
          shingleN = 3, numHashes = 9, bands = 3, threshold = 0.0,
          ordered = false),
        NgramJaccard(d, "doc_id", "text",
          shingleN = 3, threshold = 0.8, maxDf = 100, ordered = false),
        "jaccard", Seq(0.7, 0.8, 0.9), ordered = false)
    }, oracle =
      // pq104's chains with the pred side UNthresholded (every banded
      // candidate, ROUND(3) jaccard — the score the Spark operator
      // reports), swept over the literal grid; truth fixed at exact 0.8
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
        |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles FROM toks WHERE len(t) >= 3),
        |sig AS (SELECT doc_id, shingles, list_transform(range(0, 9),
        |          k -> list_min(list_transform(shingles, s -> md5(k::VARCHAR || ':' || s)))) AS mh FROM sh),
        |bands AS (SELECT doc_id, b, md5(mh[3*b+1] || mh[3*b+2] || mh[3*b+3]) AS band_key
        |          FROM sig, unnest([0, 1, 2]) AS u(b)),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.b = b.b AND a.doc_id < b.doc_id),
        |jp AS (SELECT doc_a, doc_b,
        |        ROUND(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE /
        |        (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles))), 3) AS s
        |      FROM cand JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b),
        |inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |dfc AS (SELECT s, COUNT(*) AS df FROM inv GROUP BY s),
        |rare AS (SELECT doc_id, i.s FROM inv i JOIN dfc USING (s) WHERE df <= 100),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM rare GROUP BY doc_id),
        |prs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        |        FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
        |        GROUP BY 1, 2),
        |jt AS (SELECT doc_a, doc_b, inter::DOUBLE / (sa.n + sb.n - inter) AS jac
        |       FROM prs JOIN sizes sa ON sa.doc_id = doc_a
        |                JOIN sizes sb ON sb.doc_id = doc_b),
        |tru AS (SELECT doc_a, doc_b, 1 AS tt FROM jt WHERE jac >= 0.8),
        |fo AS (SELECT COALESCE(p.doc_a, t.doc_a) AS doc_a, p.s, t.tt
        |       FROM jp p FULL OUTER JOIN tru t
        |         ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b),
        |g AS (SELECT th.threshold,
        |        SUM(CASE WHEN fo.s >= th.threshold THEN 1 ELSE 0 END) AS np,
        |        COALESCE(SUM(fo.tt), 0) AS nt,
        |        SUM(CASE WHEN fo.s >= th.threshold AND fo.tt IS NOT NULL THEN 1 ELSE 0 END) AS nh
        |      FROM fo CROSS JOIN (SELECT unnest([0.7, 0.8, 0.9]::DOUBLE[]) AS threshold) th
        |      GROUP BY 1)
        |SELECT threshold, CAST(np AS BIGINT) AS n_pred, CAST(nt AS BIGINT) AS n_truth,
        |       CAST(nh AS BIGINT) AS n_hit,
        |       CASE WHEN np > 0 THEN ROUND(nh::DOUBLE / np, 6) END AS precision,
        |       CASE WHEN nt > 0 THEN ROUND(nh::DOUBLE / nt, 6) END AS recall,
        |       CASE WHEN np + nt > 0 THEN ROUND(2.0 * nh / (np + nt)::DOUBLE, 6) END AS f1
        |FROM g""".stripMargin),

    // 64-bit SimHash signature per document (projection)
    Query("pq7_simhash", (s, dir) =>
      SimHashSignatures(docs(s, dir), "doc_id", "text", ordered = false), oracle =
      """WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents),
        |h AS (SELECT doc_id, md5(w) AS hx FROM toks),
        |wb AS (SELECT doc_id, b,
        |        CASE WHEN ((strpos('0123456789abcdef', substr(hx, 1 + b // 4, 1)) - 1)
        |                   >> (3 - (b % 4))) & 1 = 1 THEN 1 ELSE -1 END AS v
        |       FROM h, unnest(range(0, 64)) AS u(b)),
        |bits AS (SELECT doc_id, b, CASE WHEN SUM(v) > 0 THEN 1 ELSE 0 END AS bit FROM wb GROUP BY doc_id, b),
        |nibs AS (SELECT doc_id, b // 4 AS nib, SUM(bit << (3 - (b % 4))) AS nv FROM bits GROUP BY doc_id, b // 4)
        |SELECT doc_id, string_agg(substr('0123456789abcdef', (nv + 1)::INT, 1), '' ORDER BY nib) AS simhash
        |FROM nibs GROUP BY doc_id""".stripMargin),

    // SimHash near-dup pairs: banded Hamming join over signature chunks
    // (pigeonhole: distance <= 3 shares one of 4 exact 16-bit chunks)
    Query("pq7b_simhash_neardup", (s, dir) =>
      SimHashNearDup(docs(s, dir), "doc_id", "text", maxHamming = 3,
        ordered = false), oracle =
      s"""WITH $SimHashPairCtes
         |SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 3""".stripMargin),

    // Pair -> cluster resolution over the pq7b pair set: connected
    // components by min-label propagation, canonical keeper = min id
    // (the oracle computes the same closure with a recursive CTE over
    // the identical pair CTEs)
    Query("pq23_dup_clusters", (s, dir) =>
      DupClusters(SimHashNearDup(docs(s, dir), "doc_id", "text", maxHamming = 3,
          ordered = false),
        "doc_a", "doc_b"), oracle =
      // MATERIALIZED pins the pair set to ONE evaluation: DuckDB inlines
      // CTEs referenced from a recursive term, which re-ran the whole
      // SimHash chain every iteration (13.4 s vs 2.0 s measured at sf0.1)
      // — an artificially slow oracle would flatter the Spark ratio
      s"""WITH RECURSIVE $SimHashPairCtes,
         |p AS MATERIALIZED (SELECT doc_a, doc_b FROM ham WHERE hamming <= 3),
         |e AS (SELECT doc_a AS s, doc_b AS t FROM p UNION SELECT doc_b, doc_a FROM p),
         |reach AS (SELECT s, t FROM e UNION SELECT r.s, e.t FROM reach r JOIN e ON r.t = e.s)
         |SELECT s AS doc_id, LEAST(s, MIN(t)) AS cluster_id FROM reach GROUP BY s""".stripMargin),

    // Cluster-size histogram over the pq23 closure — the dedup
    // diagnostics readout (fat head = near-miss dups; one giant
    // cluster = threshold too loose)
    Query("pq90_cluster_histogram", (s, dir) =>
      DupClusters.sizeHistogram(
        DupClusters(SimHashNearDup(docs(s, dir), "doc_id", "text",
          maxHamming = 3, ordered = false), "doc_a", "doc_b"),
        ordered = false), oracle =
      // pq23's closure rolled to (cluster_size, n_clusters)
      s"""WITH RECURSIVE $SimHashPairCtes,
         |p AS MATERIALIZED (SELECT doc_a, doc_b FROM ham WHERE hamming <= 3),
         |e AS (SELECT doc_a AS s, doc_b AS t FROM p UNION SELECT doc_b, doc_a FROM p),
         |reach AS (SELECT s, t FROM e UNION SELECT r.s, e.t FROM reach r JOIN e ON r.t = e.s),
         |cl AS (SELECT s AS doc_id, LEAST(s, MIN(t)) AS cluster_id FROM reach GROUP BY s),
         |sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cl GROUP BY 1)
         |SELECT cluster_size, COUNT(*) AS n_clusters FROM sz GROUP BY 1""".stripMargin),

    // RETRACTION (the index delete path): the full-corpus exact index
    // loses keepers 0-4 to a takedown (IndexStore.retract — bucketed
    // scan minus a broadcast anti-join, swapped in under the same
    // name), then a re-submission batch of doc_id < 10 classifies
    // against the retracted table: contents whose keeper was retracted
    // RE-ACCEPT as new, the rest still match history. The timed row
    // includes the index write + the retraction rewrite — the
    // production takedown cost. Two stable paths per JVM (save at A,
    // retract swaps to B), both overwritten per execution.
    Query("pq91_retract_reclassify", (s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val tbl = "graft_pq91_idx"
      IndexStore.saveExact(IncrementalDedup.buildIndex(d, "doc_id", "text"),
        tbl, Pq91Dir, buckets = 8)
      IndexStore.retract(s, tbl,
        s.range(0, 5).select(col("id").as("keep_id")), toPath = Some(Pq91DirB))
      val batch = d.filter(col("doc_id") < 10)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      IncrementalDedup.classify(batch, IndexStore.exactIndex(s, tbl),
        "doc_id", "text")
        .withColumn("dup_of", coalesce(col("dup_of"), lit(-1L)))
    }, oracle =
      // retraction = the index minus hashes whose keeper id < 5; the
      // re-submission batch then classifies exactly like pq21 against
      // that filtered history (batch-internal dups via the min window).
      // SHARED with pq97: a tombstone takedown must be observably
      // indistinguishable from the physical rewrite, so both rows pin
      // against the identical oracle string
      RetractReclassifyOracle),

    // TOMBSTONE retraction (pq91's O(ids)-latency sibling): the same
    // takedown of keepers 0-4, but recorded in the tombstone sidecar
    // instead of rewriting the index — exactIndex anti-joins the
    // sidecar (broadcast, bucketing preserved), so the re-submission
    // batch classifies IDENTICALLY to pq91's physical retraction.
    // Shares pq91's oracle string verbatim: tombstone ≡ retract,
    // observably. The timed row is the production tombstone path —
    // index write + O(ids) sidecar append + filtered classify; no
    // index rewrite anywhere.
    Query("pq97_tombstone_reclassify", (s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val tbl = "graft_pq97_idx"
      IndexStore.saveExact(IncrementalDedup.buildIndex(d, "doc_id", "text"),
        tbl, Pq97Dir, buckets = 8)
      IndexStore.tombstone(s, tbl,
        s.range(0, 5).select(col("id").as("keep_id")))
      val batch = d.filter(col("doc_id") < 10)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      IncrementalDedup.classify(batch, IndexStore.exactIndex(s, tbl),
        "doc_id", "text")
        .withColumn("dup_of", coalesce(col("dup_of"), lit(-1L)))
    }, oracle = RetractReclassifyOracle),

    // RETRACTION for the VECTOR index (pq91's sibling on saveCoded): a
    // takedown that removes a document's content hash but leaves its
    // vector searchable is only half a takedown. The cell-partitioned
    // IVF-PQ table loses vec_id in [20, 60) (retractCoded — a
    // partition-pruned dynamic-overwrite rewrite of ONLY the affected
    // cells), then a full-probe search runs against the retracted
    // table: retracted vectors can never come back as neighbors. Full
    // probing == whole-corpus ADC (the pq53 law), so the shared
    // exact-BIGINT oracle minus the retracted candidates pins the
    // save/retract/search path end to end. The timed row includes the
    // index write + the cell rewrite — the production takedown cost.
    Query("pq92_coded_retract", (s, dir) => {
      val e = embs(s, dir)
      val tbl = "graft_pq92_idx"
      IndexStore.saveCoded(
        ProductQuant.buildCodedIndex(e, "vec_id", "embedding",
          KmeansOracleCentroids, PqOracleModel, ordered = false),
        tbl, Pq92Dir,
        nlist = KmeansOracleCentroids.length, m = PqOracleModel.m)
      IndexStore.retractCoded(s, tbl,
        e.select("vec_id").filter(col("vec_id") >= 20 && col("vec_id") < 60),
        "vec_id", KmeansOracleCentroids.length, PqOracleModel.m)
      ProductQuant.ivfAdcTopKPruned(
        IndexStore.codedIndex(s, tbl, KmeansOracleCentroids.length,
          PqOracleModel.m),
        e.filter(col("vec_id") < 20), "vec_id", "embedding",
        KmeansOracleCentroids, PqOracleModel, k = 5,
        nprobe = KmeansOracleCentroids.length, ordered = false)
    }, oracle =
      // retraction = exact candidate removal; full probing == ADC scan,
      // so the pq49/53 oracle minus the retracted ids pins the path
      PqAdcRetractOracleSql),

    // Reciprocal-rank fusion over two rankers with incomparable score
    // scales — exact cosine top-5 and PQ-ADC top-5 for the same query
    // set (the ensemble-ANN shape; only RANKS enter, so no score
    // calibration). Oracle: both rank chains recomputed in SQL, fused
    // with the same 1/(60+rnk) sum — two addends per candidate at
    // most, and two-double addition is IEEE-commutative, so the
    // ROUND(6) fused scores match bit-for-bit across fold orders.
    Query("pq93_rrf_fusion", (s, dir) => {
      val e = embs(s, dir)
      val q20 = e.filter(col("vec_id") < 20)
      Retrieval.rrfFuse(Seq(
        Similarity.cosineTopK(e, q20, "vec_id", "embedding", k = 5,
          ordered = false),
        ProductQuant.adcTopK(e, q20, "vec_id", "embedding", PqOracleModel,
          k = 5, ordered = false)),
        k = 5, ordered = false)
    }, oracle = RrfOracleSql),

    // Retrieval-quality evaluation (recall@k / RR / NDCG@k): the exact
    // cosine top-5 over the perturbed corpus scored against a labeled
    // truth set with one GUARANTEED positive per query (the cosine≈1.0
    // perturbed twin, vec_id + 1000) and one decoy positive (another
    // doc's twin — retrieved only if genuinely near), so recall/NDCG
    // exercise both the hit and miss paths deterministically.
    Query("pq94_ranking_eval", (s, dir) => {
      val c = perturbedEmbCorpus(s, dir)
      val q10 = embs(s, dir).filter(col("vec_id") < 10)
      val truth = q10.select(col("vec_id").as("qid"),
          (col("vec_id") + 1000).as("cid"))
        .unionByName(q10.select(col("vec_id").as("qid"),
          (((col("vec_id") + 1) % 10) + 1000).as("cid")))
      Retrieval.evalRanking(
        Similarity.cosineTopK(c, c.filter(col("vec_id") < 10), "vec_id",
          "embedding", k = 5, ordered = false),
        truth, k = 5, ordered = false)
    }, oracle =
      // the cosine chain over the pq12 perturbed-corpus CTEs, scored
      // against the twin/decoy truth; gains spelled ln(2)/ln(1+r) in
      // BOTH engines (log2 differs by ulps across libm implementations)
      s"""WITH $EmbNearDupCtes,
         |r AS (SELECT a.vec_id AS qid, b.vec_id AS cid,
         |        ROW_NUMBER() OVER (PARTITION BY a.vec_id
         |          ORDER BY list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) / sqrt(a.n2::DOUBLE * b.n2::DOUBLE) DESC, b.vec_id) AS rnk
         |      FROM nrm a JOIN nrm b ON a.vec_id < 10 AND a.vec_id <> b.vec_id),
         |res AS (SELECT qid, cid, rnk FROM r WHERE rnk <= 5),
         |truth AS (SELECT vec_id AS qid, vec_id + 1000 AS cid FROM embeddings WHERE vec_id < 10
         |          UNION SELECT vec_id, ((vec_id + 1) % 10) + 1000 FROM embeddings WHERE vec_id < 10),
         |nt AS (SELECT qid, COUNT(*) AS n_truth FROM truth GROUP BY qid),
         |h AS (SELECT res.qid, res.rnk FROM res JOIN truth ON res.qid = truth.qid AND res.cid = truth.cid),
         |pq AS (SELECT qid, COUNT(*) AS n_hits, MIN(rnk) AS first_r,
         |         SUM(ln(2) / ln(1 + rnk)) AS dcg FROM h GROUP BY qid)
         |SELECT nt.qid, nt.n_truth, COALESCE(n_hits, 0) AS n_hits,
         |       ROUND(COALESCE(n_hits, 0)::DOUBLE / nt.n_truth, 6) AS recall_at_k,
         |       ROUND(COALESCE(1.0 / first_r, 0.0), 6) AS rr,
         |       ROUND(COALESCE(dcg / list_sum(list_transform(range(1, LEAST(nt.n_truth, 5) + 1), i -> ln(2) / ln(1 + i))), 0.0), 6) AS ndcg_at_k
         |FROM nt LEFT JOIN pq ON nt.qid = pq.qid""".stripMargin),

    // Hard-negative mining over the same retrieval + truth fixture as
    // pq94: top-5 retrieved minus labeled positives, skipping rank 1
    // (where unlabeled true positives concentrate — here, the
    // guaranteed cosine≈1.0 twin, which must NEVER be mined).
    Query("pq95_hard_negatives", (s, dir) => {
      val c = perturbedEmbCorpus(s, dir)
      val q10 = embs(s, dir).filter(col("vec_id") < 10)
      val truth = q10.select(col("vec_id").as("qid"),
          (col("vec_id") + 1000).as("cid"))
        .unionByName(q10.select(col("vec_id").as("qid"),
          (((col("vec_id") + 1) % 10) + 1000).as("cid")))
      Retrieval.hardNegatives(
        Similarity.cosineTopK(c, c.filter(col("vec_id") < 10), "vec_id",
          "embedding", k = 5, ordered = false),
        truth, k = 5, skipTop = 1, ordered = false)
    }, oracle =
      // pq94's cosine chain and truth, mined instead of scored: top-5
      // minus positives, rank 1 skipped, dense neg_rank
      s"""WITH $EmbNearDupCtes,
         |r AS (SELECT a.vec_id AS qid, b.vec_id AS cid,
         |        ROW_NUMBER() OVER (PARTITION BY a.vec_id
         |          ORDER BY list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) / sqrt(a.n2::DOUBLE * b.n2::DOUBLE) DESC, b.vec_id) AS rnk
         |      FROM nrm a JOIN nrm b ON a.vec_id < 10 AND a.vec_id <> b.vec_id),
         |res AS (SELECT qid, cid, rnk FROM r WHERE rnk <= 5 AND rnk > 1),
         |truth AS (SELECT vec_id AS qid, vec_id + 1000 AS cid FROM embeddings WHERE vec_id < 10
         |          UNION SELECT vec_id, ((vec_id + 1) % 10) + 1000 FROM embeddings WHERE vec_id < 10),
         |neg AS (SELECT res.qid, res.cid, res.rnk FROM res
         |        JOIN (SELECT DISTINCT qid FROM truth) tq ON res.qid = tq.qid
         |        LEFT JOIN truth t ON res.qid = t.qid AND res.cid = t.cid
         |        WHERE t.cid IS NULL)
         |SELECT qid, cid, rnk,
         |       ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rnk, cid) AS neg_rank
         |FROM neg""".stripMargin),

    // Chunk-embedding mean-pooling: 100 chunk vectors pooled into 20
    // document vectors (vec_id % 20 as the synthetic chunk->doc map,
    // vec_id as the fold order). The pooled array is EXPLODED to
    // (doc_id, pos, value) scalars for the oracle compare — the driver
    // hashes string reprs, and array columns render differently across
    // pandas/pyarrow. Sums fold in chunk order on BOTH engines
    // (sort_array fold vs list_sum over an ORDER BY list), so the
    // ROUND(6) values match bit-for-bit.
    Query("pq96_mean_pool", (s, dir) => {
      val e = embs(s, dir).filter(col("vec_id") < 100)
      Pooling.meanPool(
        e.select((col("vec_id") % 20).as("doc_id"),
          col("vec_id").as("chunk_ord"), col("embedding")),
        "doc_id", "chunk_ord", "embedding", ordered = false)
        .select(col("doc_id"), col("n_chunks"),
          posexplode(col("embedding")).as(Seq("pos", "value")))
    }, oracle =
      // chunk-order list fold == Spark's sorted fold: both add left to
      // right in ord order ((0+v1)+v2 ≡ v1+v2 in IEEE), so ROUND(6) is
      // exact, not a tolerance
      """WITH c AS (SELECT vec_id % 20 AS doc_id, vec_id AS ord, embedding AS v
        |           FROM embeddings WHERE vec_id < 100 AND embedding IS NOT NULL),
        |g AS (SELECT doc_id, COUNT(*) AS n_chunks, list(v ORDER BY ord) AS vs FROM c GROUP BY doc_id)
        |SELECT doc_id, n_chunks, i - 1 AS pos,
        |       ROUND(list_sum(list_transform(vs, v -> CAST(v[i] AS DOUBLE))) / n_chunks, 6) AS value
        |FROM g, (SELECT unnest(range(1, 65)) AS i)""".stripMargin),

    // Brute-force cosine top-5 for queries vec_id < 20 (broadcast queries)
    Query("pq8_cosine_topk", (s, dir) => {
      val e = embs(s, dir)
      Similarity.cosineTopK(e, e.filter(col("vec_id") < 20), "vec_id", "embedding",
        k = 5, ordered = false)
    }, oracle = ExactTop5OracleSql),

    // Sign-bucketed ANN top-3 for queries vec_id < 50 (bucket-equality join)
    Query("pq9_ann_bucketed", (s, dir) => {
      val e = embs(s, dir)
      Similarity.bucketedTopK(e, e.filter(col("vec_id") < 50), "vec_id", "embedding",
        k = 3, bucketBits = 4, ordered = false)
    }, oracle =
      """WITH qv AS (SELECT vec_id, list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |            FROM embeddings),
        |nrm AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS n2,
        |          array_to_string(list_transform([1, 2, 3, 4], i -> CASE WHEN v[i] > 0 THEN '1' ELSE '0' END), '') AS bucket
        |        FROM qv),
        |pairs AS (SELECT a.vec_id AS qid, b.vec_id AS cid,
        |            list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) AS dot, a.n2 AS na, b.n2 AS nb
        |          FROM nrm a JOIN nrm b ON a.bucket = b.bucket AND a.vec_id < 50 AND a.vec_id <> b.vec_id),
        |scored AS (SELECT qid, cid, dot / sqrt(na::DOUBLE * nb::DOUBLE) AS cos,
        |             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot / sqrt(na::DOUBLE * nb::DOUBLE) DESC, cid) AS rnk
        |           FROM pairs)
        |SELECT qid, rnk, cid, ROUND(cos, 4) AS cos FROM scored WHERE rnk <= 3""".stripMargin),

    // IVF (learned k-means coarse quantizer) ANN. nprobe == nlist probes
    // every cell, which provably equals brute force — so the pq8-style
    // exact oracle pins the ENTIRE train/assign/probe/join/rank path
    // (any centroid or assignment drift loses candidates and breaks the
    // hash). The recall-vs-nprobe trade is pinned in LlmSpec.
    Query("pq19_ivf_topk", (s, dir) => {
      val e = embs(s, dir)
      Ivf.topK(e, e.filter(col("vec_id") < 20), "vec_id", "embedding",
        k = 5, nlist = 16, nprobe = 16, ordered = false)
    }, oracle =
      // full-probe IVF == brute force, so the oracle is pq8's exact top-5
      // over the same query set, SHARED so the pin can't drift — see the
      // pq19 entry comment
      ExactTop5OracleSql),

    // Multimodal metadata path: binary payload size/tag + stub-decode dims
    Query("pq10_multimodal_meta", (s, dir) =>
      Multimodal.metaColumns(docs(s, dir), "doc_id", "text", ordered = false), oracle =
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS content_tag,
        |       16 + (octet_length(encode(text)) % 64) AS fake_width,
        |       16 + ((octet_length(encode(text)) // 64) % 64) AS fake_height,
        |       1 + (octet_length(encode(text)) % 7) AS n_frames
        |FROM documents""".stripMargin),

    // Embedding-cosine near-dup: the corpus plus deterministically
    // perturbed copies of vec_id < 10 (scaled 1.01 in double — cosine
    // ~1.0 survives quantization); the bucket join finds exactly those
    // pairs at threshold 0.99
    Query("pq12_embedding_neardup", (s, dir) =>
      Similarity.nearDupPairs(perturbedEmbCorpus(s, dir), "vec_id", "embedding",
        threshold = 0.99, bucketBits = 4, ordered = false), oracle =
      s"""WITH $EmbNearDupCtes
         |SELECT id_a, id_b, ROUND(cos, 4) AS cos FROM p WHERE cos >= 0.99""".stripMargin),

    // Semantic dedup (SemDeDup-style): the pq12 embedding near-dup
    // pairs resolved to connected components with the min-id keeper —
    // each perturbed copy clusters onto its original; everything else
    // is a singleton and emits no row.
    Query("pq31_semantic_dedup", (s, dir) =>
      DupClusters(
        Similarity.nearDupPairs(perturbedEmbCorpus(s, dir), "vec_id", "embedding",
          threshold = 0.99, bucketBits = 4, ordered = false),
        "id_a", "id_b"), oracle =
      // MATERIALIZED for the same reason as pq23: DuckDB inlines CTEs
      // referenced from a recursive term, which would re-run the whole
      // bucket/cosine chain per iteration and inflate the oracle
      s"""WITH RECURSIVE $EmbNearDupCtes,
         |pr AS MATERIALIZED (SELECT id_a, id_b FROM p WHERE cos >= 0.99),
         |e AS (SELECT id_a AS s, id_b AS t FROM pr UNION SELECT id_b, id_a FROM pr),
         |reach AS (SELECT s, t FROM e UNION SELECT r.s, e.t FROM reach r JOIN e ON r.t = e.s)
         |SELECT s AS doc_id, LEAST(s, MIN(t)) AS cluster_id FROM reach GROUP BY s""".stripMargin),

    // BPE-ish token-class counts (letters / digits / punctuation)
    Query("pq13_token_classes", (s, dir) =>
      TextAnalysis.tokenClassCounts(docs(s, dir), "doc_id", "text",
        ordered = false), oracle =
      """SELECT doc_id,
        |       len(regexp_extract_all(text, '[A-Za-z]+')) AS n_words,
        |       len(regexp_extract_all(text, '[0-9]+')) AS n_numbers,
        |       len(regexp_extract_all(text, '[^A-Za-z0-9 \t\n]')) AS n_punct,
        |       len(regexp_extract_all(text, '[A-Za-z]+')) + len(regexp_extract_all(text, '[0-9]+'))
        |         + len(regexp_extract_all(text, '[^A-Za-z0-9 \t\n]')) AS n_bpeish
        |FROM documents""".stripMargin),

    // MOD-sampled (winnowing-style) rolling fingerprint over bigrams
    Query("pq14_winnow_fingerprint", (s, dir) =>
      TextAnalysis.winnowFingerprints(docs(s, dir), "doc_id", "text",
        ordered = false), oracle =
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS shingles
        |       FROM t WHERE len(toks) >= 2)
        |SELECT doc_id,
        |       COALESCE(array_to_string(list_sort(list_filter(list_transform(shingles, s -> md5(s)), h -> h LIKE '0%')), ','), '') AS fingerprint
        |FROM sh""".stripMargin),

    // Exact n-gram Jaccard near-dup via the rare-shingle inverted index
    // (deterministic sibling of pq6's MinHash approximation)
    Query("pq15_ngram_jaccard", (s, dir) =>
      NgramJaccard(docs(s, dir), "doc_id", "text",
        shingleN = 3, threshold = 0.6, maxDf = 100, ordered = false), oracle =
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
        |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles FROM toks WHERE len(t) >= 3),
        |inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |dfc AS (SELECT s, COUNT(*) AS df FROM inv GROUP BY s),
        |rare AS (SELECT doc_id, i.s FROM inv i JOIN dfc USING (s) WHERE df <= 100),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM rare GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        |          FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |j AS (SELECT doc_a, doc_b, inter::DOUBLE / (sa.n + sb.n - inter) AS jac
        |      FROM pairs JOIN sizes sa ON sa.doc_id = doc_a
        |                 JOIN sizes sb ON sb.doc_id = doc_b)
        |SELECT doc_a, doc_b, ROUND(jac, 3) AS jaccard FROM j WHERE jac >= 0.6""".stripMargin),

    // Per-source length-distribution profiling: exact interpolated
    // percentiles (one partial+final agg; at sketch scale swap
    // percentile() for percentile_approx — same plan shape)
    Query("pq16_percentiles", (s, dir) =>
      docs(s, dir).groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          round(percentile(col("n_chars"), lit(0.5)), 2).as("p50"),
          round(percentile(col("n_chars"), lit(0.9)), 2).as("p90"),
          round(percentile(col("n_chars"), lit(0.99)), 2).as("p99")), oracle =
      """SELECT source, COUNT(*) AS n_docs,
        |       ROUND(quantile_cont(n_chars, 0.5), 2) AS p50,
        |       ROUND(quantile_cont(n_chars, 0.9), 2) AS p90,
        |       ROUND(quantile_cont(n_chars, 0.99), 2) AS p99
        |FROM documents GROUP BY source""".stripMargin),

    // The sketch-scale sibling of pq16: percentile_approx keeps a
    // bounded GK summary per group (state O(accuracy), not O(rows)),
    // where exact percentile() buffers every value — at 100 TB the
    // exact form is a per-group OOM and the sketch is the only option.
    // Same plan shape (one partial+final agg); returns actual data
    // values with rank error <= n/accuracy (law pinned vs the exact
    // form in ApproxPercentileSpec). ORACLE: with group sizes far
    // below the accuracy the summary keeps every sample and the pick
    // is the exact discrete quantile — DuckDB's quantile_disc matches
    // value-for-value (verified at sf0.001/0.01/0.1); the identity is
    // fixture-scale (n <= accuracy), the operator itself stays
    // approximate beyond it.
    Query("pq16b_percentiles_approx", (s, dir) =>
      docs(s, dir).groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          percentile_approx(col("n_chars"), lit(0.5), lit(10000)).as("p50"),
          percentile_approx(col("n_chars"), lit(0.9), lit(10000)).as("p90"),
          percentile_approx(col("n_chars"), lit(0.99), lit(10000)).as("p99")), oracle =
      // the GK summary is exact while group sizes stay below its
      // accuracy (all fixture scales) — the pick is then the discrete
      // quantile, quantile_disc's definition
      """SELECT source, COUNT(*) AS n_docs,
        |       quantile_disc(n_chars, 0.5) AS p50,
        |       quantile_disc(n_chars, 0.9) AS p90,
        |       quantile_disc(n_chars, 0.99) AS p99
        |FROM documents GROUP BY source""".stripMargin),

    // Multimodal frame sampling: one row per (doc, frame) with the
    // frame's byte-slice md5 — the sampler plumbing over the binary
    // payload (docs are pure ASCII, so the oracle slices the text)
    Query("pq10b_frame_sample", (s, dir) =>
      Multimodal.frameSample(
        Multimodal.asBinaryPayload(docs(s, dir), "doc_id", "text"),
        "doc_id", "content", ordered = false), oracle =
      """WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS n_bytes FROM documents),
        |m AS (SELECT doc_id, text, n_bytes, 1 + (n_bytes % 7) AS n_frames,
        |             n_bytes // (1 + (n_bytes % 7)) AS frame_size
        |      FROM d)
        |SELECT doc_id, i AS frame_idx, i * frame_size AS frame_offset,
        |       md5(substring(text, (i * frame_size + 1)::INT, frame_size::INT)) AS frame_tag
        |FROM m, unnest(range(0, n_frames)) AS u(i)""".stripMargin),

    // Multimodal resize: deterministic stride downsample of the payload
    // to a 16x16 budget, tagged for post-resize dedup (docs are ASCII so
    // the oracle samples the text characters)
    Query("pq10c_resize", (s, dir) =>
      Multimodal.resize(
        Multimodal.asBinaryPayload(docs(s, dir), "doc_id", "text"),
        "doc_id", "content", targetW = 16, targetH = 16), oracle =
      """WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS n_bytes FROM documents),
        |m AS (SELECT doc_id, text, n_bytes,
        |             greatest(1, (n_bytes + 255) // 256) AS stride FROM d)
        |SELECT doc_id, n_bytes, stride,
        |       md5(array_to_string(list_transform(range(0, (n_bytes + stride - 1) // stride),
        |         i -> substr(text, (1 + i * stride)::INT, 1)), '')) AS resized_tag
        |FROM m""".stripMargin),

    // Streaming exact dedup promoted to a driver-visible row: the
    // documents table replayed through the file stream source, deduped
    // with keyed state (flatMapGroupsWithState), drained into a memory
    // sink, returned as a batch DataFrame. Semantics match batch
    // ExactDedup by construction (min id per content hash, see
    // StreamingDedup scaladoc); the single parquet file arrives in one
    // micro-batch, so the oracle's global MIN(doc_id) applies.
    Query("pq17_streaming_dedup", (s, dir) => {
      val schema = docs(s, dir).schema
      val s2 = streamSession(s, statePartitions = 2) // ~5k distinct hashes
      val stream = s2.readStream.schema(schema)
        // partition-inference wants a directory basePath, and the file
        // source force-overrides it with the path unless the path is a
        // glob — so glob the single file and root inference at the dir
        .option("basePath", dir)
        .parquet(s"$dir/documents.parque[t]")
      val sink = s"pq17_sink_${SinkId.incrementAndGet()}"
      val query = graft.streaming.StreamingDedup(stream, "doc_id", "text")
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      drainStream("pq17_streaming_dedup", query)
      s2.table(sink)
        .select(col("content_hash"), col("keep_id").cast("bigint").as("keep_id"))
    }, oracle =
      """SELECT md5(text) AS content_hash, CAST(MIN(doc_id) AS BIGINT) AS keep_id
        |FROM documents GROUP BY md5(text)""".stripMargin, streaming = true),

    // Streaming sessionization promoted to a driver-visible row, paired
    // with the batch vq22 oracle. The events table replays through the
    // file stream source with one far-future sentinel row whose event
    // time pushes the end-of-batch watermark past every real session's
    // `end + gap` timeout, so the engine's no-data batch flushes all
    // open per-user state into the memory sink. ts is truncated to seconds at ingestion: the batch
    // query compares `unix_timestamp` (floor-to-second) diffs, so the
    // streaming millis arithmetic matches it exactly only on truncated
    // times; same-second orderings can't shift session boundaries
    // (diff 0 <= gap). Session ids are re-derived as the per-user rank
    // by session start — the batch query's cumulative numbering.
    Query("pq18_streaming_sessionize", (s, dir) => {
      val gapSec = 1800L
      val s2 = streamSession(s, statePartitions = 2) // ~150 active users
      // second truncation — see the semantics note above
      val stream = eventReplay(s, s2, dir).select(
        col("user_id"), date_trunc("second", col("ts")).as("ts"))
      val sink = s"pq18_sink_${SinkId.incrementAndGet()}"
      val query = graft.streaming.StreamingSessionize(stream, "user_id", "ts",
        gapSeconds = gapSec, watermark = "0 seconds")
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      drainStream("pq18_streaming_sessionize", query)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("session_start")
      s2.table(sink).filter(col("user_id") >= 0) // drop the sentinel user
        .withColumn("session_id", row_number().over(w).cast("bigint"))
        .select(col("user_id"), col("session_id"),
          col("n_events"),
          (unix_timestamp(col("session_end")) -
            unix_timestamp(col("session_start"))).as("duration_sec"))
    }, oracle =
      // the batch vq22 sessionization oracle, verbatim: the streaming path
      // must produce the identical session set (date_diff('second')
      // counts second boundaries = the second-truncated streaming input)
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |                OR date_diff('second',
        |                     LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800
        |              THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        |s AS (SELECT user_id, ts,
        |             CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |      FROM g)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |       date_diff('second', MIN(ts), MAX(ts)) AS duration_sec
        |FROM s GROUP BY user_id, session_id""".stripMargin, streaming = true),

    // The third streaming member driver-visible: watermarked tumbling-
    // window counts (StreamingExtract.windowedEventCounts) over the
    // same sentinel replay. Append mode emits a window only when the
    // watermark passes its end; the sentinel pushes the watermark past
    // every real window, and its own (far-future, null-typed) window
    // never closes, so exactly the batch GROUP BY comes out. Spark's
    // epoch-aligned 1-hour windows equal date_trunc('hour') buckets.
    Query("pq20_streaming_window", (s, dir) => {
      val s2 = streamSession(s, statePartitions = 2) // ~5 window keys/batch
      val sink = s"pq20_sink_${SinkId.incrementAndGet()}"
      val query = graft.streaming.StreamingExtract.windowedEventCounts(
        eventReplay(s, s2, dir).select("ts", "event_type", "value"),
        "ts", "event_type", "value",
        windowLength = "1 hour", watermark = "0 seconds")
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      drainStream("pq20_streaming_window", query)
      s2.table(sink)
    }, oracle =
      // tumbling 1-hour windows are epoch-aligned in Spark, which for
      // whole hours is exactly date_trunc('hour')
      """SELECT date_trunc('hour', ts) AS window_start,
        |       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
        |       event_type, COUNT(*) AS n,
        |       ROUND(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE), 2) AS total
        |FROM events
        |GROUP BY 1, 2, 3""".stripMargin, streaming = true),

    // Streaming incremental dedup: the documents file replayed through
    // the file stream source and classified against a STATIC
    // content-hash index of doc_id < 250 via a stream-static join —
    // stateless (history lives in the index relation, not the state
    // store). The fourth streaming mechanism made driver-visible
    // (keyed state x2, watermarked windows, stream-static join).
    Query("pq32_streaming_incremental", (s, dir) => {
      val schema = docs(s, dir).schema
      val s2 = streamSession(s, statePartitions = 2)
      val d2 = Tables(s2, dir, "documents").select("doc_id", "text")
      val index = IncrementalDedup.buildIndex(
        d2.filter(col("doc_id") < 250), "doc_id", "text")
      val stream = s2.readStream.schema(schema)
        .option("basePath", dir)
        .parquet(s"$dir/documents.parque[t]")
      val sink = s"pq32_sink_${SinkId.incrementAndGet()}"
      val query = graft.streaming.StreamingIncremental
        .classify(stream, index, "doc_id", "text")
        .withColumn("dup_of", coalesce(col("dup_of"), lit(-1L)))
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      drainStream("pq32_streaming_incremental", query)
      s2.table(sink)
    }, oracle =
      """WITH hist AS (SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id
        |              FROM documents WHERE doc_id < 250 GROUP BY 1)
        |SELECT d.doc_id, md5(d.text) AS content_hash,
        |       CASE WHEN h.keep_id IS NOT NULL THEN 'dup_of_history' ELSE 'new' END AS status,
        |       CAST(COALESCE(h.keep_id, -1) AS BIGINT) AS dup_of
        |FROM documents d LEFT JOIN hist h ON md5(d.text) = h.content_hash""".stripMargin, streaming = true),

    // Stream-stream event-time interval join: purchases within 30 min
    // of a click by the same user, both sides live streams — the fifth
    // streaming mechanism (symmetric hash join with watermark-bounded
    // buffers). Inner semantics: a drained replay emits exactly the
    // batch join's pair set, so the oracle is plain batch SQL.
    Query("pq56_streaming_join", (s, dir) => {
      val s2 = streamSession(s, statePartitions = 2)
      val ev = eventReplay(s, s2, dir).select("ts", "user_id", "event_id", "event_type")
      val sink = s"pq56_sink_${SinkId.incrementAndGet()}"
      val query = graft.streaming.StreamingJoin.intervalJoin(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"),
        "user_id", "ts", Seq("event_id"), lowerSec = 0L, upperSec = 1800L)
        .select(col("user_id"), col("l_event_id").as("click_id"),
          col("r_event_id").as("buy_id"))
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      drainStream("pq56_streaming_join", query)
      s2.table(sink)
    }, oracle =
      // the streaming inner interval join must equal this batch join
      // exactly once drained (watermarks bound state, not results)
      """SELECT a.user_id, a.event_id AS click_id, b.event_id AS buy_id
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.event_type = 'click' AND b.event_type = 'purchase'
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1800 SECONDS""".stripMargin, streaming = true),

    // STREAMING decontamination: the corpus replayed as micro-batches
    // through the persisted eval-shingle-index sink — each batch is
    // audited (newly matched pairs append to the eval-sized state) and
    // gated (per-doc containment, clean/contaminated). The returned
    // containmentState equals the one-shot pq25 audit by the
    // accumulation law, so the oracle is shared; matched state is
    // keyed per dir (the pq98 discipline), and replays append nothing.
    Query("pq120_streaming_decontam", (s, dir) => {
      val (_, eval) = decontamFixture(s, dir)
      // eval index keyed per dir, persisted across executions (the
      // pq114/pq98 precedent — a pure function of the fixture)
      val tbl = perDirName("graft_pq120_eval", dir)
      val mtbl = perDirName("graft_pq120_matched", dir)
      ensureEvalTable(s, tbl, dir)(
        Decontamination.saveEvalShingleIndex(eval, "doc_id", "text",
          tbl, perDirPath("graft_pq120_eval", dir), shingleN = 3, buckets = 8))
      val schema = docs(s, dir).schema
      val s2 = streamSession(s, statePartitions = 2)
      val stream = s2.readStream.schema(schema)
        .option("basePath", dir)
        .parquet(s"$dir/documents.parque[t]")
        .select("doc_id", "text")
      val query = graft.streaming.StreamingDecontaminate.sink(
        stream, "doc_id", "text", tbl, mtbl,
        perDirPath("graft_pq120_matched", dir), threshold = 0.8)
        .start()
      drainStream("pq120_streaming_decontam", query)
      // the appends happened in the stream's cloned session; refresh
      // this session's stale relation cache before the state read
      if (s.catalog.tableExists(mtbl)) s.catalog.refreshTable(mtbl)
      Decontamination.containmentState(s, tbl, mtbl, ordered = false)
    }, oracle =
      // the streaming sink's containmentState equals the one-shot audit
      // by the same accumulation law pq98 pins — shared oracle by design
      DecontamSql, streaming = true),

    // STREAMING per-stratum footprint: the corpus replayed through the
    // delta-append maintaining report (per-source doc/token counts) —
    // one batch aggregate appended per micro-batch, compaction folds
    // the log through the stamped-grace swap, the batch-id fence makes
    // replays no-ops (a bench re-run on the same dir replays batch 0
    // under the fence). State keyed per dir (the pq98 discipline); the
    // snapshot equals the plain corpus aggregate by the accumulation
    // law, so the oracle is one GROUP BY.
    Query("pq122_streaming_footprint", (s, dir) => {
      val schema = docs(s, dir).schema
      val tbl = perDirName("graft_pq122_fp", dir)
      val s2 = streamSession(s, statePartitions = 2)
      val stream = s2.readStream.schema(schema)
        .option("basePath", dir)
        .parquet(s"$dir/documents.parque[t]")
        .select("source", "n_chars")
      val query = graft.streaming.StreamingFootprint.sink(
        stream, "source", "n_chars", tbl,
        perDirPath("graft_pq122_fp", dir), compactEvery = 1)
        .start()
      drainStream("pq122_streaming_footprint", query)
      if (s.catalog.tableExists(tbl)) s.catalog.refreshTable(tbl)
      graft.streaming.StreamingFootprint.snapshot(s, tbl, ordered = false)
    }, oracle =
      // the maintained footprint's snapshot equals the plain corpus
      // aggregate by the delta-log accumulation law
      """SELECT source AS stratum, COUNT(*) AS n_docs,
        |       CAST(SUM(COALESCE(CAST(n_chars AS BIGINT), 0)) AS BIGINT) AS n_tokens
        |FROM documents GROUP BY source""".stripMargin, streaming = true),

    // MAINTAINED UniMax: the allocation computed off the streaming
    // footprint's snapshot instead of a corpus rescan — the mixture
    // policy kept current as data arrives (the footprint accumulates
    // O(batch) deltas; the water-filling is strata-sized arithmetic on
    // the snapshot). By the footprint accumulation law the snapshot
    // equals one GROUP BY, so the oracle is pq123's water-filling over
    // the plain aggregate (no synthetic stratum).
    Query("pq131_streaming_unimax", (s, dir) => {
      val schema = docs(s, dir).schema
      val tbl = perDirName("graft_pq131_fp", dir)
      val s2 = streamSession(s, statePartitions = 2)
      val stream = s2.readStream.schema(schema)
        .option("basePath", dir)
        .parquet(s"$dir/documents.parque[t]")
        .select("source", "n_chars")
      val query = graft.streaming.StreamingFootprint.sink(
        stream, "source", "n_chars", tbl,
        perDirPath("graft_pq131_fp", dir), compactEvery = 1)
        .start()
      drainStream("pq131_streaming_unimax", query)
      if (s.catalog.tableExists(tbl)) s.catalog.refreshTable(tbl)
      Sampling.unimaxAllocation(
        graft.streaming.StreamingFootprint.snapshot(s, tbl, ordered = false),
        "stratum", "n_tokens", budgetTokens = 360000L, maxEpochs = 2.5,
        ordered = false)
    }, oracle =
      // pq123's water-filling over the plain corpus aggregate (the
      // footprint snapshot ≡ one GROUP BY by the accumulation law)
      """WITH c AS (SELECT source AS stratum, CAST(SUM(n_chars) AS BIGINT) AS n_tokens
        |      FROM documents GROUP BY source),
        |w AS (SELECT stratum, n_tokens, n_tokens * 2500 AS cap_m,
        |        ROW_NUMBER() OVER (ORDER BY n_tokens * 2500, stratum NULLS FIRST) AS i,
        |        COUNT(*) OVER () AS n,
        |        COALESCE(SUM(n_tokens * 2500) OVER (ORDER BY n_tokens * 2500, stratum NULLS FIRST
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
        |      FROM c),
        |s AS (SELECT *, CAST(cap_m AS DOUBLE) * (n - i + 1) <= CAST(360000000 - cum_prev AS DOUBLE) AS saturated
        |      FROM w),
        |t AS (SELECT *, COALESCE(SUM(CASE WHEN saturated THEN cap_m END) OVER (), 0) AS sat_sum,
        |        SUM(CASE WHEN saturated THEN 1 ELSE 0 END) OVER () AS sat_cnt
        |      FROM s),
        |a AS (SELECT stratum, n_tokens, cap_m, saturated,
        |        CASE WHEN saturated THEN CAST(cap_m AS DOUBLE)
        |             ELSE CAST(360000000 - sat_sum AS DOUBLE) / CAST(n - sat_cnt AS DOUBLE) END AS alloc_m
        |      FROM t)
        |SELECT stratum, n_tokens, ROUND(cap_m / 1000.0, 6) AS cap,
        |       ROUND(alloc_m / 1000.0, 6) AS alloc,
        |       CASE WHEN n_tokens > 0
        |            THEN ROUND(alloc_m / (CAST(n_tokens AS DOUBLE) * 1000.0), 6)
        |            ELSE 0.0 END AS epochs,
        |       saturated
        |FROM a""".stripMargin, streaming = true),

    // Incremental exact dedup: a new batch classified against the
    // persisted content-hash index of the full corpus — history is never
    // rescanned. The batch synthesizes all three classes: re-tagged
    // copies of doc_id < 30 (dup_of_history), fresh contents from
    // doc_id 30-39 (new), and a second copy of each fresh content
    // (dup_in_batch). dup_of uses -1 for `new` rows — a null bigint
    // round-trips as NaN-typed float through both engines' pandas
    // bridges and defeats the row compare.
    Query("pq21_incremental_dedup", (s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val index = IncrementalDedup.buildIndex(d, "doc_id", "text")
      val fresh = d.filter(col("doc_id") >= 30 && col("doc_id") < 40)
      val batch = d.filter(col("doc_id") < 30)
        .select((col("doc_id") + 10000).as("doc_id"), col("text"))
        .unionByName(fresh.select((col("doc_id") + 20000).as("doc_id"),
          concat(col("text"), lit(" fresh")).as("text")))
        .unionByName(fresh.select((col("doc_id") + 30000).as("doc_id"),
          concat(col("text"), lit(" fresh")).as("text")))
      IncrementalDedup.classify(batch, index, "doc_id", "text")
        .withColumn("dup_of", coalesce(col("dup_of"), lit(-1L)))
    }, oracle =
      """WITH d AS (SELECT doc_id, text FROM documents),
        |hist AS (SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id FROM d GROUP BY 1),
        |batch AS (
        |  SELECT doc_id + 10000 AS doc_id, text FROM d WHERE doc_id < 30
        |  UNION ALL SELECT doc_id + 20000, text || ' fresh' FROM d WHERE doc_id >= 30 AND doc_id < 40
        |  UNION ALL SELECT doc_id + 30000, text || ' fresh' FROM d WHERE doc_id >= 30 AND doc_id < 40),
        |h AS (SELECT doc_id, md5(text) AS content_hash,
        |             MIN(doc_id) OVER (PARTITION BY md5(text)) AS batch_keep FROM batch),
        |j AS (SELECT h.doc_id, h.content_hash, h.batch_keep, hist.keep_id AS hist_keep
        |      FROM h LEFT JOIN hist USING (content_hash))
        |SELECT doc_id, content_hash,
        |       CASE WHEN hist_keep IS NOT NULL THEN 'dup_of_history'
        |            WHEN doc_id <> batch_keep THEN 'dup_in_batch' ELSE 'new' END AS status,
        |       CAST(CASE WHEN hist_keep IS NOT NULL THEN hist_keep
        |                 WHEN doc_id <> batch_keep THEN batch_keep ELSE -1 END AS BIGINT) AS dup_of
        |FROM j""".stripMargin),

    // Incremental FUZZY dedup: a new batch classified against the
    // persisted MinHash band/signature index — near-copies of history
    // (one appended token) land dup_of_history via the Jaccard
    // ESTIMATE (equal signature components), synthetic disjoint texts
    // land new, their second copies dup_in_batch. The md5-based
    // minhash makes every estimate engine-portable, so the oracle
    // computes the identical classification.
    Query("pq24_incremental_minhash", (s, dir) => {
      val (batch, index) = minhashFixture(s, dir)
      IncrementalMinHash.classify(batch, index, "doc_id", "text")
    }, oracle =
      // the MinHash sketch CTEs mirror pq6's (same md5 minhash + banding);
      // verification is the component-match ESTIMATE, as the operator's
      // index carries signatures, not shingle sets
      IncMinhashClassifySql),

    // The totality pass over pq24's classification: every dup_of
    // rewritten to an id that survives the run (batch keeper or history
    // keeper). The oracle follows the same chains with a recursive CTE
    // over the classified rows — engine-portable because the
    // classification itself is (pq24).
    Query("pq33_resolve_keepers", (s, dir) => {
      val (batch, index) = minhashFixture(s, dir)
      IncrementalMinHash.resolveKeepers(
        IncrementalMinHash.classify(batch, index, "doc_id", "text"))
    }, oracle =
      // resolveKeepers as a recursive chain walk over pq24's classified
      // rows: follow dup_in_batch hops (strictly decreasing ids, so the
      // recursion provably terminates); a dup_of_history target ends the
      // chain by adopting its HISTORY keeper; 'new'/history targets end
      // it in place. Exactly the operator's rewrite contract.
      s"""WITH RECURSIVE classified AS (
        |$IncMinhashClassifySql
        |),
        |chain AS (
        |  SELECT doc_id, status, dup_of AS cur, status <> 'dup_in_batch' AS done
        |  FROM classified
        |  UNION ALL
        |  SELECT c.doc_id, c.status,
        |         CASE WHEN t.status IN ('dup_in_batch', 'dup_of_history')
        |              THEN t.dup_of ELSE c.cur END,
        |         t.status <> 'dup_in_batch'
        |  FROM chain c JOIN classified t ON t.doc_id = c.cur AND NOT c.done)
        |SELECT doc_id, status, CAST(cur AS BIGINT) AS dup_of
        |FROM chain WHERE done""".stripMargin),

    // Normalized-exact dedup: ExactDedup over the dedup-normalized text
    // (lowercase, punctuation stripped, whitespace collapsed), so
    // case/punct/spacing variants — synthesized for doc_id < 25 —
    // collapse onto their originals.
    Query("pq22_normalized_dedup", (s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val variants = d.filter(col("doc_id") < 25).select(
        (col("doc_id") + 5000).as("doc_id"),
        concat(upper(col("text")), lit("  !!")).as("text"))
      val corpus = d.unionByName(variants)
        .select(col("doc_id"), TextAnalysis.normalizeForDedup(col("text")).as("norm_text"))
      ExactDedup(corpus, "doc_id", "norm_text")
    }, oracle =
      """WITH d AS (SELECT doc_id, text FROM documents),
        |corpus AS (SELECT doc_id, text FROM d
        |           UNION ALL SELECT doc_id + 5000, upper(text) || '  !!' FROM d WHERE doc_id < 25),
        |n AS (SELECT doc_id,
        |             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 \t\n]', '', 'g'), '\s+', ' ', 'g')) AS norm
        |      FROM corpus)
        |SELECT md5(norm) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM n GROUP BY 1""".stripMargin),

    // Train/eval decontamination: shingle containment of an eval set
    // against the full corpus as training data. The eval set synthesizes
    // all three classes from the corpus itself: full copies of
    // doc_id < 10 (containment 1.0), synthetic disjoint texts
    // (containment 0.0), and copies with novel tokens appended
    // (containment strictly between — original shingles all hit, the
    // boundary + novel shingles miss).
    Query("pq25_decontaminate", (s, dir) => {
      val (train, eval) = decontamFixture(s, dir)
      Decontamination.containment(train, eval, "doc_id", "text",
        shingleN = 3, ordered = false)
    }, oracle =
      // string shingles stand in for the operator's fnv64 keys — pure
      // equality semantics, identical counts absent collisions (the same
      // contract pq15's oracle pins)
      DecontamSql),

    // SEMANTIC decontamination: train docs whose nearest eval EMBEDDING
    // clears cosine 0.99 — the representation-level leak check (catches
    // paraphrase/translation where pq25's shingles miss). Eval = scaled
    // (x1.01, float-cast) copies of vec_id < 15 at +50000 ids (the pq12
    // perturbation), so the 15 originals flag with cos ~ 1.0 and any
    // natural near-eval neighbor the oracle finds flags identically.
    Query("pq125_semantic_decontam", (s, dir) =>
      Decontamination.semanticFlags(
        embs(s, dir).select("vec_id", "embedding"),
        semanticEvalSet(s, dir),
        "vec_id", "embedding", tau = 0.99, ordered = false), oracle =
      // brute-force arm: every (train, eval) pair scored; n2 > 0 rows
      // can't arise in this table but the operator filters them, and the
      // quantized math is exact so no pair is tolerance-sensitive
      SemanticBruteSql),

    // STREAMING semantic decontamination: the embeddings corpus
    // replayed through the persisted eval-embedding-index gate. The
    // gate is a pure per-doc function of the fixed index, so the union
    // of flagged rows over any batch boundaries equals the one-shot
    // pq125 flags — the row shares pq125's oracle verbatim (the
    // pq120/pq25 batch-decomposable-gate precedent).
    Query("pq130_streaming_semantic", (s, dir) => {
      // eval-embedding index keyed per dir, persisted across executions
      // (the pq114/pq98 precedent — a pure function of the fixture)
      val tbl = perDirName("graft_pq130_eval", dir)
      ensureEvalTable(s, tbl, dir, "embeddings.parquet") {
        Decontamination.saveEvalEmbeddingIndex(semanticEvalSet(s, dir),
          "vec_id", "embedding", tbl, perDirPath("graft_pq130_eval", dir))
        ()
      }
      val schema = embs(s, dir).schema
      val s2 = streamSession(s, statePartitions = 2)
      val stream = s2.readStream.schema(schema)
        .option("basePath", dir)
        .parquet(s"$dir/embeddings.parque[t]")
        .select("vec_id", "embedding")
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      val query = graft.streaming.StreamingSemantic.sink(
        stream, "vec_id", "embedding", tbl, tau = 0.99,
        onBatch = (annotated, _) => buf.synchronized {
          buf ++= annotated.filter(col("status") === "contaminated")
            .select(col("vec_id"), col("match_id"), col("cos"))
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          ()
        }).start()
      drainStream("pq130_streaming_semantic", query)
      import s.implicits._
      buf.toSeq.toDF("vec_id", "match_id", "cos")
    }, oracle =
      // the streaming gate shares pq125's oracle verbatim — see
      // SemanticBruteSql's scaladoc for why that is sound
      SemanticBruteSql, streaming = true),

    // The LSH arm: candidates restricted to the shared 4-bit sign
    // bucket (|eval|/16 of the dot products at corpus scale). The
    // restriction changes which evals compete in the argmax, so this
    // row pins the bucketed semantics against its OWN bucket-replicating
    // oracle (the pq12 precedent) rather than sharing pq125's.
    Query("pq125b_semantic_decontam_lsh", (s, dir) =>
      Decontamination.semanticFlags(
        embs(s, dir).select("vec_id", "embedding"),
        semanticEvalSet(s, dir),
        "vec_id", "embedding", tau = 0.99, bucketBits = 4,
        ordered = false), oracle =
      // LSH arm: the identical argmax/threshold tail over candidates
      // restricted to the shared 4-bit sign bucket — the oracle replicates
      // the bucketing (the pq12 precedent), pinning the restriction's
      // semantics rather than assuming it loses nothing
      s"""WITH $SemanticDecontamCtes,
         |p AS (SELECT t.vec_id, e.eid,
         |        list_sum(list_transform(range(1, len(t.v) + 1), i -> t.v[i] * e.v[i]))
         |          / sqrt(e.n2::DOUBLE * t.n2::DOUBLE) AS cos
         |      FROM tn t JOIN en e ON t.bkt = e.bkt
         |      WHERE t.n2 > 0 AND e.n2 > 0),
         |$SemanticDecontamTail""".stripMargin),

    // MODEL-BASED quality filtering (the DCLM/fastText recipe): a
    // trained linear classifier over hashed bag-of-words features,
    // applied as pure inference — zero shuffle, zero UDF, the weight
    // vector rides the plan as one array literal. The pq instantiates
    // the weights from a deterministic formula (w[j] = frac(j * phi)
    // - 0.5, exact dyadics) so the oracle computes w(bucket)
    // arithmetically and never needs the array: the general operator
    // is exercised, the oracle stays engine-portable. Sums of exact
    // dyadics are order-free EXACT; only the sigmoid crosses libm
    // (ROUND(4), the pq54 discipline).
    Query("pq99_quality_classifier", (s, dir) => {
      val weights = Array.tabulate(1024)(j =>
        ((j * 2654435761L) % 4294967296L).toDouble / 4294967296.0 - 0.5)
      QualityClassifier.score(docs(s, dir), "doc_id", "text",
        weights, bias = 0.125, ordered = false)
    }, oracle =
      // hashed-linear-classifier inference: bucket = top-32-bits-of-md5
      // mod 1024 (the shared cross-engine hash), weight by the same
      // exact-dyadic formula the Spark side tabulates, bias 0.125; the
      // weight sum is EXACT in any order (32-bit dyadics), sigmoid is
      // the only libm crossing (ROUND(4))
      """WITH d AS (SELECT doc_id, text FROM documents),
        |t AS (SELECT doc_id,
        |        CASE WHEN text IS NULL THEN []
        |             ELSE list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') END AS toks
        |      FROM d),
        |s AS (SELECT doc_id, len(toks) AS n_tokens,
        |        0.125 + COALESCE(list_sum(list_transform(toks, tk ->
        |          ((CAST(('0x'||substr(md5(tk), 1, 8)) AS BIGINT) % 1024) * 2654435761 % 4294967296)::DOUBLE / 4294967296 - 0.5)), 0.0) AS sc
        |      FROM t)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |       ROUND(sc, 6) AS score,
        |       ROUND(1 / (1 + exp(-sc)), 4) AS prob
        |FROM s""".stripMargin),

    // TRAINING the model pq99 scores (full-batch logistic GD over
    // hashed token counts — one dim-bounded aggregate per iteration,
    // model-sized driver state). One iteration from zero init is
    // bit-EXACT: sigmoid(0) = 0.5 by IEEE definition, so residuals
    // are the dyadics y − 0.5 and every gradient/score sum is
    // order-free exact — the oracle recomputes the step as SQL
    // (gradient CTE → re-join by bucket) and must match score to the
    // last bit (ROUND(6) on exact values; sigmoid ROUND(4), the only
    // libm crossing). Labels: the deterministic parity fixture — the
    // operator never sees where labels come from.
    Query("pq100_classifier_train", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"),
        when(pmod(col("doc_id"), lit(2)) === 0, 1.0).otherwise(0.0).as("y"))
      QualityTrainer.train(d, "text", "y", dim = 256, iters = 1, lr = 0.5)
        .score(d, "doc_id", "text", ordered = false)
    }, oracle =
      // one exact GD step recomputed as SQL: residual at zero init is
      // the dyadic (y − 0.5), per-bucket weight = lr·Σ residual over
      // token occurrences (order-free exact), bias likewise; the score
      // re-joins tokens to the gradient CTE (every corpus token's bucket
      // is in it by construction). ROUND(6) compares exact doubles;
      // sigmoid is the only libm crossing (ROUND(4))
      """WITH d AS (SELECT doc_id, text,
        |             CASE WHEN doc_id % 2 = 0 THEN 0.5 ELSE -0.5 END AS r
        |           FROM documents),
        |t AS (SELECT doc_id, r,
        |        CASE WHEN text IS NULL THEN []
        |             ELSE list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') END AS toks
        |      FROM d),
        |e AS (SELECT r, unnest(toks) AS tok FROM t),
        |g AS (SELECT (CAST(('0x'||substr(md5(tok), 1, 8)) AS BIGINT) % 256) AS bkt,
        |        0.5 * sum(r) AS w
        |      FROM e GROUP BY 1),
        |bias AS (SELECT 0.5 * sum(r) AS b FROM t),
        |e2 AS (SELECT doc_id, unnest(toks) AS tok FROM t),
        |ws AS (SELECT e2.doc_id, sum(g.w) AS sw
        |       FROM e2 JOIN g
        |         ON g.bkt = (CAST(('0x'||substr(md5(e2.tok), 1, 8)) AS BIGINT) % 256)
        |       GROUP BY 1),
        |s AS (SELECT t.doc_id, len(t.toks) AS n_tokens,
        |        (SELECT b FROM bias) + COALESCE(ws.sw, 0.0) AS sc
        |      FROM t LEFT JOIN ws USING (doc_id))
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |       ROUND(sc, 6) AS score,
        |       ROUND(1 / (1 + exp(-sc)), 4) AS prob
        |FROM s""".stripMargin),

    // Classifier CALIBRATION + threshold sweep: pq100's one-exact-step
    // trainer on a label the bag-of-words model can actually learn
    // (contains " the " — corr ~0.46 with the score), then per
    // 2048-wide score bin the observed positive rate and the
    // cumulative gate precision. Bins are over the EXACT score, never
    // the libm prob (membership must not hang on an exp ulp); counts
    // exact, one ROUND(6) division per rate.
    Query("pq128_calibration_sweep", (s, dir) => {
      val d = calibLabeled(s, dir)
      val scored = trainedCalibClassifier(s, dir)
        .score(d, "doc_id", "text", ordered = false)
      QualityClassifier.calibrationSweep(
        scored.join(d.select("doc_id", "y"), Seq("doc_id")),
        "score", "y", binWidth = 2048.0, ordered = false)
    }, oracle =
      // the chain's sweep table: observed positive rate per exact-score
      // bin plus the cumulative gate precision (counts exact BIGINT,
      // rates one ROUND(6) division each)
      s"""WITH $CalibSweepCtes
         |SELECT bucket, n_docs, n_pos, pos_rate,
         |       CAST(cum_docs AS BIGINT) AS cum_docs,
         |       CAST(cum_pos AS BIGINT) AS cum_pos,
         |       ROUND(cum_pos::DOUBLE / cum_docs, 6) AS cum_precision
         |FROM c""".stripMargin),

    // The sweep CONSUMED: gate at the lowest score bin clearing 0.8
    // cumulative precision (train -> calibrate -> pick -> gate, the
    // learned-gate loop closed on a measured threshold instead of a
    // hand-picked one). The pick collects the bin-sized sweep; the
    // gate is one codegen'd filter over the scored corpus.
    Query("pq129_calibrated_gate", (s, dir) => {
      val d = calibLabeled(s, dir)
      val scored = trainedCalibClassifier(s, dir)
        .score(d, "doc_id", "text", ordered = false)
      val sweep = QualityClassifier.calibrationSweep(
        scored.join(d.select("doc_id", "y"), Seq("doc_id")),
        "score", "y", binWidth = 2048.0, ordered = false)
      val thr = QualityClassifier.pickScoreThreshold(sweep,
        targetPrecision = 0.8, binWidth = 2048.0)
        .getOrElse(sys.error("no score bin clears the precision target"))
      scored.filter(col("score") >= thr)
        .select("doc_id", "n_tokens", "score")
    }, oracle =
      // the sweep consumed: the lowest bin clearing 0.8 cumulative
      // precision gates the scored corpus (threshold = bucket * 2048)
      s"""WITH $CalibSweepCtes,
         |pick AS (SELECT MIN(bucket) AS pb FROM c
         |         WHERE ROUND(cum_pos::DOUBLE / cum_docs, 6) >= 0.8)
         |SELECT doc_id, n_tokens, score FROM s, pick
         |WHERE score >= pb * 2048.0""".stripMargin),

    // MULTICLASS domain router TRAINING (K-class hashed softmax — the
    // DoReMi/domain-mixing input): one exact GD step from zero init at
    // K = 4, where softmax(0) = 1/4 is dyadic so residuals
    // (1[y=k] − 0.25) and every gradient/score sum are order-free
    // exact; the oracle recomputes the step per class and must match
    // scores to the last bit (ROUND(6)); probs cross exp (ROUND(4));
    // pred = argmax of EXACT scores, ties to the lowest class — no
    // libm in the routing decision. Labels: doc_id % 4.
    Query("pq108_domain_router", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"),
        pmod(col("doc_id"), lit(4)).cast("double").as("y"))
      DomainRouter.train(d, "text", "y", k = 4, dim = 256,
          iters = 1, lr = 0.5)
        .score(d, "doc_id", "text", ordered = false)
    }, oracle =
      // pq100's one-exact-step shape per class: residual hardcodes the
      // dyadic 1[y=k] − 1/4, per-bucket gradients and biases recomputed
      // per class, scores re-joined by bucket; pred's CASE cascade picks
      // the FIRST maximal class over the exact scores
      """WITH d AS (SELECT doc_id, text, doc_id % 4 AS y FROM documents),
        |t AS (SELECT doc_id, y,
        |        CASE WHEN text IS NULL THEN []
        |             ELSE list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') END AS toks
        |      FROM d),
        |e AS (SELECT y, unnest(toks) AS tok FROM t),
        |g AS (SELECT (CAST(('0x'||substr(md5(tok), 1, 8)) AS BIGINT) % 256) AS bkt,
        |        0.5 * SUM(CASE WHEN y = 0 THEN 0.75 ELSE -0.25 END) AS w0,
        |        0.5 * SUM(CASE WHEN y = 1 THEN 0.75 ELSE -0.25 END) AS w1,
        |        0.5 * SUM(CASE WHEN y = 2 THEN 0.75 ELSE -0.25 END) AS w2,
        |        0.5 * SUM(CASE WHEN y = 3 THEN 0.75 ELSE -0.25 END) AS w3
        |      FROM e GROUP BY 1),
        |bias AS (SELECT
        |        0.5 * SUM(CASE WHEN y = 0 THEN 0.75 ELSE -0.25 END) AS b0,
        |        0.5 * SUM(CASE WHEN y = 1 THEN 0.75 ELSE -0.25 END) AS b1,
        |        0.5 * SUM(CASE WHEN y = 2 THEN 0.75 ELSE -0.25 END) AS b2,
        |        0.5 * SUM(CASE WHEN y = 3 THEN 0.75 ELSE -0.25 END) AS b3
        |      FROM t),
        |e2 AS (SELECT doc_id, unnest(toks) AS tok FROM t),
        |ws AS (SELECT e2.doc_id, SUM(g.w0) AS t0, SUM(g.w1) AS t1,
        |         SUM(g.w2) AS t2, SUM(g.w3) AS t3
        |       FROM e2 JOIN g
        |         ON g.bkt = (CAST(('0x'||substr(md5(e2.tok), 1, 8)) AS BIGINT) % 256)
        |       GROUP BY 1),
        |s AS (SELECT t.doc_id, len(t.toks) AS n_tokens,
        |        (SELECT b0 FROM bias) + COALESCE(ws.t0, 0.0) AS s0,
        |        (SELECT b1 FROM bias) + COALESCE(ws.t1, 0.0) AS s1,
        |        (SELECT b2 FROM bias) + COALESCE(ws.t2, 0.0) AS s2,
        |        (SELECT b3 FROM bias) + COALESCE(ws.t3, 0.0) AS s3
        |      FROM t LEFT JOIN ws USING (doc_id)),
        |q AS (SELECT *, greatest(s0, s1, s2, s3) AS mx FROM s),
        |q2 AS (SELECT *,
        |         exp(s0 - mx) + exp(s1 - mx) + exp(s2 - mx) + exp(s3 - mx) AS den
        |       FROM q)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |       ROUND(s0, 6) AS score_0, ROUND(s1, 6) AS score_1,
        |       ROUND(s2, 6) AS score_2, ROUND(s3, 6) AS score_3,
        |       ROUND(exp(s0 - mx) / den, 4) AS prob_0,
        |       ROUND(exp(s1 - mx) / den, 4) AS prob_1,
        |       ROUND(exp(s2 - mx) / den, 4) AS prob_2,
        |       ROUND(exp(s3 - mx) / den, 4) AS prob_3,
        |       CAST(CASE WHEN s0 >= s1 AND s0 >= s2 AND s0 >= s3 THEN 0
        |                 WHEN s1 >= s2 AND s1 >= s3 THEN 1
        |                 WHEN s2 >= s3 THEN 2 ELSE 3 END AS BIGINT) AS pred
        |FROM q2""".stripMargin),

    // The DoReMi loop CLOSED: route every doc to a learned domain
    // (pq108's one-exact-step router — pred is libm-free) and feed the
    // predicted strata to the temperature mixture (pq87's arithmetic
    // with pred as the stratum). Pure composition, both halves pinned.
    Query("pq110_routed_mixture", (s, dir) => {
      val d = docs(s, dir)
      val router = trainedRouter(s, dir)
      val routed = router.score(d, "doc_id", "text", ordered = false)
        .select(col("doc_id"), col("pred"))
        .join(d.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      Sampling.temperatureMixtureRates(routed, "pred", "n_chars",
        alpha = 0.5, budgetTokens = 20000L, ordered = false)
    }, oracle =
      // pq108's exact-score CTEs up to the pred cascade, joined back to
      // n_chars, then pq87's temperature arithmetic over the predicted
      // strata (stratum stays BIGINT — the router's pred type)
      """WITH d AS (SELECT doc_id, text, doc_id % 4 AS y FROM documents),
        |t AS (SELECT doc_id, y,
        |        CASE WHEN text IS NULL THEN []
        |             ELSE list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') END AS toks
        |      FROM d),
        |e AS (SELECT y, unnest(toks) AS tok FROM t),
        |g AS (SELECT (CAST(('0x'||substr(md5(tok), 1, 8)) AS BIGINT) % 256) AS bkt,
        |        0.5 * SUM(CASE WHEN y = 0 THEN 0.75 ELSE -0.25 END) AS w0,
        |        0.5 * SUM(CASE WHEN y = 1 THEN 0.75 ELSE -0.25 END) AS w1,
        |        0.5 * SUM(CASE WHEN y = 2 THEN 0.75 ELSE -0.25 END) AS w2,
        |        0.5 * SUM(CASE WHEN y = 3 THEN 0.75 ELSE -0.25 END) AS w3
        |      FROM e GROUP BY 1),
        |bias AS (SELECT
        |        0.5 * SUM(CASE WHEN y = 0 THEN 0.75 ELSE -0.25 END) AS b0,
        |        0.5 * SUM(CASE WHEN y = 1 THEN 0.75 ELSE -0.25 END) AS b1,
        |        0.5 * SUM(CASE WHEN y = 2 THEN 0.75 ELSE -0.25 END) AS b2,
        |        0.5 * SUM(CASE WHEN y = 3 THEN 0.75 ELSE -0.25 END) AS b3
        |      FROM t),
        |e2 AS (SELECT doc_id, unnest(toks) AS tok FROM t),
        |ws AS (SELECT e2.doc_id, SUM(g.w0) AS t0, SUM(g.w1) AS t1,
        |         SUM(g.w2) AS t2, SUM(g.w3) AS t3
        |       FROM e2 JOIN g
        |         ON g.bkt = (CAST(('0x'||substr(md5(e2.tok), 1, 8)) AS BIGINT) % 256)
        |       GROUP BY 1),
        |s AS (SELECT t.doc_id,
        |        (SELECT b0 FROM bias) + COALESCE(ws.t0, 0.0) AS s0,
        |        (SELECT b1 FROM bias) + COALESCE(ws.t1, 0.0) AS s1,
        |        (SELECT b2 FROM bias) + COALESCE(ws.t2, 0.0) AS s2,
        |        (SELECT b3 FROM bias) + COALESCE(ws.t3, 0.0) AS s3
        |      FROM t LEFT JOIN ws USING (doc_id)),
        |p AS (SELECT doc_id,
        |        CAST(CASE WHEN s0 >= s1 AND s0 >= s2 AND s0 >= s3 THEN 0
        |                  WHEN s1 >= s2 AND s1 >= s3 THEN 1
        |                  WHEN s2 >= s3 THEN 2 ELSE 3 END AS BIGINT) AS stratum
        |      FROM s),
        |tt AS (SELECT p.stratum,
        |         CAST(SUM(CAST(d2.n_chars AS BIGINT)) AS BIGINT) AS n_tokens
        |       FROM p JOIN documents d2 USING (doc_id) GROUP BY 1),
        |z AS (SELECT SUM(pow(n_tokens::DOUBLE, 0.5)) AS z FROM tt),
        |w AS (SELECT stratum, n_tokens,
        |        pow(n_tokens::DOUBLE, 0.5) / z.z AS raw_share
        |      FROM tt CROSS JOIN z)
        |SELECT stratum, n_tokens, ROUND(raw_share, 6) AS share,
        |       CASE WHEN n_tokens > 0
        |            THEN ROUND(LEAST(1.0, raw_share * 20000 / n_tokens), 6)
        |            ELSE 0.0 END AS rate,
        |       raw_share * 20000 > n_tokens AS capped
        |FROM w""".stripMargin),

    // SoftDedup mass driving BUDGET selection (the pq45 prefix under
    // deduped accounting): each keeper costs n_chars x weight — the
    // token mass its duplicates stood for — so the selected prefix
    // spends the budget as the UN-deduped corpus would have, while
    // reading only keepers. Distributed prefix-sum, never a global
    // window (the pq45 plan).
    Query("pq134_weighted_budget", (s, dir) => {
      val d = docs(s, dir)
      val weights = SoftDedup.fromClusters(d,
        DupClusters(SimHashNearDup(d, "doc_id", "text", maxHamming = 3,
          ordered = false), "doc_a", "doc_b"),
        "doc_id")
      val keepers = weights.join(
          d.select(col("doc_id").as("keep_id"), col("n_chars")), Seq("keep_id"))
        .select(col("keep_id").as("doc_id"), col("n_chars"),
          (col("n_chars").cast("long") * col("weight")).as("mass"))
      BudgetSelect.takeUntilBudget(keepers, "doc_id", "n_chars", "mass",
        budget = 10000L)
    }, oracle =
      // pq109's closure mass into pq45's prefix-sum: each keeper costs
      // n_chars * weight, the prefix in (n_chars DESC, doc_id) order
      // spends the budget as the un-deduped corpus would
      s"""WITH RECURSIVE $SimHashPairCtes,
         |p AS MATERIALIZED (SELECT doc_a, doc_b FROM ham WHERE hamming <= 3),
         |e AS (SELECT doc_a AS s, doc_b AS t FROM p UNION SELECT doc_b, doc_a FROM p),
         |reach AS (SELECT s, t FROM e UNION SELECT r.s, e.t FROM reach r JOIN e ON r.t = e.s),
         |cl AS (SELECT s AS doc_id, LEAST(s, MIN(t)) AS cluster_id FROM reach GROUP BY s),
         |grouped AS (SELECT MIN(doc_id) AS keep_id, COUNT(*) AS weight FROM cl GROUP BY cluster_id),
         |sw AS (SELECT keep_id, weight FROM grouped
         |       UNION ALL
         |       SELECT doc_id AS keep_id, 1::BIGINT AS weight FROM documents
         |       WHERE doc_id NOT IN (SELECT doc_id FROM cl)),
         |wk AS (SELECT w.keep_id AS doc_id, d.n_chars,
         |         CAST(d.n_chars AS BIGINT) * w.weight AS mass
         |       FROM sw w JOIN documents d ON d.doc_id = w.keep_id
         |       WHERE w.keep_id IS NOT NULL AND d.n_chars IS NOT NULL),
         |s2 AS (SELECT doc_id, n_chars, mass,
         |         CAST(SUM(mass) OVER (ORDER BY n_chars DESC, doc_id
         |                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_weight
         |       FROM wk)
         |SELECT doc_id, n_chars, CAST(mass AS BIGINT) AS weight, cum_weight
         |FROM s2 WHERE cum_weight <= 10000""".stripMargin),

    // ROUTED UniMax (pq110's sibling for the epoch-capped policy): the
    // router's PREDICTED domains feed the water-filling — no
    // pre-existing stratum label anywhere in the allocation; pure
    // composition of the pinned one-exact-step router and the pinned
    // milli-token arithmetic, K-bounded frames after the two corpus
    // aggregates.
    Query("pq132_routed_unimax", (s, dir) => {
      val d = docs(s, dir)
      val router = trainedRouter(s, dir)
      val routed = router.score(d, "doc_id", "text", ordered = false)
        .select(col("doc_id"), col("pred"))
        .join(d.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      Sampling.unimaxAllocation(routed, "pred", "n_chars",
        budgetTokens = 360000L, maxEpochs = 2.5, ordered = false)
    }, oracle =
      // pq110's routing chain through the per-pred token census, then
      // pq123's water-filling over the PREDICTED strata (CTEs u*-prefixed
      // to dodge the router chain's names)
      """WITH d AS (SELECT doc_id, text, doc_id % 4 AS y FROM documents),
        |t AS (SELECT doc_id, y,
        |        CASE WHEN text IS NULL THEN []
        |             ELSE list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') END AS toks
        |      FROM d),
        |e AS (SELECT y, unnest(toks) AS tok FROM t),
        |g AS (SELECT (CAST(('0x'||substr(md5(tok), 1, 8)) AS BIGINT) % 256) AS bkt,
        |        0.5 * SUM(CASE WHEN y = 0 THEN 0.75 ELSE -0.25 END) AS w0,
        |        0.5 * SUM(CASE WHEN y = 1 THEN 0.75 ELSE -0.25 END) AS w1,
        |        0.5 * SUM(CASE WHEN y = 2 THEN 0.75 ELSE -0.25 END) AS w2,
        |        0.5 * SUM(CASE WHEN y = 3 THEN 0.75 ELSE -0.25 END) AS w3
        |      FROM e GROUP BY 1),
        |bias AS (SELECT
        |        0.5 * SUM(CASE WHEN y = 0 THEN 0.75 ELSE -0.25 END) AS b0,
        |        0.5 * SUM(CASE WHEN y = 1 THEN 0.75 ELSE -0.25 END) AS b1,
        |        0.5 * SUM(CASE WHEN y = 2 THEN 0.75 ELSE -0.25 END) AS b2,
        |        0.5 * SUM(CASE WHEN y = 3 THEN 0.75 ELSE -0.25 END) AS b3
        |      FROM t),
        |e2 AS (SELECT doc_id, unnest(toks) AS tok FROM t),
        |ws AS (SELECT e2.doc_id, SUM(g.w0) AS t0, SUM(g.w1) AS t1,
        |         SUM(g.w2) AS t2, SUM(g.w3) AS t3
        |       FROM e2 JOIN g
        |         ON g.bkt = (CAST(('0x'||substr(md5(e2.tok), 1, 8)) AS BIGINT) % 256)
        |       GROUP BY 1),
        |s AS (SELECT t.doc_id,
        |        (SELECT b0 FROM bias) + COALESCE(ws.t0, 0.0) AS s0,
        |        (SELECT b1 FROM bias) + COALESCE(ws.t1, 0.0) AS s1,
        |        (SELECT b2 FROM bias) + COALESCE(ws.t2, 0.0) AS s2,
        |        (SELECT b3 FROM bias) + COALESCE(ws.t3, 0.0) AS s3
        |      FROM t LEFT JOIN ws USING (doc_id)),
        |p AS (SELECT doc_id,
        |        CAST(CASE WHEN s0 >= s1 AND s0 >= s2 AND s0 >= s3 THEN 0
        |                  WHEN s1 >= s2 AND s1 >= s3 THEN 1
        |                  WHEN s2 >= s3 THEN 2 ELSE 3 END AS BIGINT) AS stratum
        |      FROM s),
        |tt AS (SELECT p.stratum,
        |         CAST(SUM(CAST(d2.n_chars AS BIGINT)) AS BIGINT) AS n_tokens
        |       FROM p JOIN documents d2 USING (doc_id) GROUP BY 1),
        |uw AS (SELECT stratum, n_tokens, n_tokens * 2500 AS cap_m,
        |        ROW_NUMBER() OVER (ORDER BY n_tokens * 2500, stratum NULLS FIRST) AS i,
        |        COUNT(*) OVER () AS n,
        |        COALESCE(SUM(n_tokens * 2500) OVER (ORDER BY n_tokens * 2500, stratum NULLS FIRST
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
        |      FROM tt),
        |us AS (SELECT *, CAST(cap_m AS DOUBLE) * (n - i + 1) <= CAST(360000000 - cum_prev AS DOUBLE) AS saturated
        |      FROM uw),
        |ut AS (SELECT *, COALESCE(SUM(CASE WHEN saturated THEN cap_m END) OVER (), 0) AS sat_sum,
        |        SUM(CASE WHEN saturated THEN 1 ELSE 0 END) OVER () AS sat_cnt
        |      FROM us),
        |ua AS (SELECT stratum, n_tokens, cap_m, saturated,
        |        CASE WHEN saturated THEN CAST(cap_m AS DOUBLE)
        |             ELSE CAST(360000000 - sat_sum AS DOUBLE) / CAST(n - sat_cnt AS DOUBLE) END AS alloc_m
        |      FROM ut)
        |SELECT stratum, n_tokens, ROUND(cap_m / 1000.0, 6) AS cap,
        |       ROUND(alloc_m / 1000.0, 6) AS alloc,
        |       CASE WHEN n_tokens > 0
        |            THEN ROUND(alloc_m / (CAST(n_tokens AS DOUBLE) * 1000.0), 6)
        |            ELSE 0.0 END AS epochs,
        |       saturated
        |FROM ua""".stripMargin),

    // Soft-dedup weights CONSUMED: pq109's (keep_id, weight) joined to
    // the keepers' (source, n_chars) and fed to pq87's temperature
    // arithmetic with tokens·weight as the mass — the training-weight
    // story closed (dedup redistributes mass, the mixture reads it).
    // Law (SoftDedupSpec): under EXACT duplication the weighted rates
    // equal the un-deduped corpus's rates, stratum by stratum.
    Query("pq115_weighted_mixture", (s, dir) => {
      val d = docs(s, dir)
      val weights = SoftDedup.fromClusters(d,
        DupClusters(SimHashNearDup(d, "doc_id", "text", maxHamming = 3,
          ordered = false), "doc_a", "doc_b"),
        "doc_id")
      val weighted = weights.join(
        d.select(col("doc_id").as("keep_id"), col("source"), col("n_chars")),
        Seq("keep_id"))
      Sampling.temperatureMixtureRates(weighted, "source", "n_chars",
        alpha = 0.5, budgetTokens = 20000L, ordered = false,
        weightCol = Some("weight"))
    }, oracle =
      // pq109's closure CTEs feeding pq87's temperature arithmetic over
      // the weighted token mass (SUM(n_chars·weight) per keeper stratum)
      s"""WITH RECURSIVE $SimHashPairCtes,
         |p AS MATERIALIZED (SELECT doc_a, doc_b FROM ham WHERE hamming <= 3),
         |e AS (SELECT doc_a AS s, doc_b AS t FROM p UNION SELECT doc_b, doc_a FROM p),
         |reach AS (SELECT s, t FROM e UNION SELECT r.s, e.t FROM reach r JOIN e ON r.t = e.s),
         |cl AS (SELECT s AS doc_id, LEAST(s, MIN(t)) AS cluster_id FROM reach GROUP BY s),
         |grouped AS (SELECT MIN(doc_id) AS keep_id, COUNT(*) AS weight FROM cl GROUP BY cluster_id),
         |sw AS (SELECT keep_id, weight FROM grouped
         |       UNION ALL
         |       SELECT doc_id AS keep_id, 1::BIGINT AS weight FROM documents
         |       WHERE doc_id NOT IN (SELECT doc_id FROM cl)),
         |t AS (SELECT d.source AS stratum,
         |             CAST(SUM(CAST(d.n_chars AS BIGINT) * w.weight) AS BIGINT) AS n_tokens
         |      FROM sw w JOIN documents d ON d.doc_id = w.keep_id GROUP BY 1),
         |z AS (SELECT SUM(pow(n_tokens::DOUBLE, 0.5)) AS z FROM t),
         |ws AS (SELECT stratum, n_tokens,
         |              pow(n_tokens::DOUBLE, 0.5) / z.z AS raw_share
         |       FROM t CROSS JOIN z)
         |SELECT stratum, n_tokens, ROUND(raw_share, 6) AS share,
         |       CASE WHEN n_tokens > 0
         |            THEN ROUND(LEAST(1.0, raw_share * 20000 / n_tokens), 6)
         |            ELSE 0.0 END AS rate,
         |       raw_share * 20000 > n_tokens AS capped
         |FROM ws""".stripMargin),

    // SoftDedup weights consumed at the INCREMENTAL level (pq115's
    // sibling one stage later): pq109's duplicate-count weights drive
    // the weighted maintaining sample table — keep each source's k
    // docs favoring the ones standing in for many copies — merged in
    // two batches. The weights are intrinsic to the fixed corpus, so
    // the weight-is-a-function-of-the-key contract holds across
    // batches and the one-shot union law applies.
    Query("pq127_softdedup_sample", (s, dir) => {
      val d = docs(s, dir)
      val weights = SoftDedup.fromClusters(d,
        DupClusters(SimHashNearDup(d, "doc_id", "text", maxHamming = 3,
          ordered = false), "doc_a", "doc_b"),
        "doc_id")
      val weighted = weights.join(
          d.select(col("doc_id").as("keep_id"), col("source")), Seq("keep_id"))
        .select(col("keep_id").as("doc_id"), col("source"), col("weight"))
      val tbl = perDirName("graft_pq127_sample", dir)
      val path = perDirPath("graft_pq127_sample", dir)
      graft.streaming.StreamingSample.mergeBatchWeighted(
        weighted.filter(pmod(col("doc_id"), lit(2)) === 0),
        "doc_id", "source", "weight", k = 7, salt = "s127", tbl, path)
      graft.streaming.StreamingSample.mergeBatchWeighted(
        weighted.filter(pmod(col("doc_id"), lit(2)) === 1),
        "doc_id", "source", "weight", k = 7, salt = "s127", tbl, path)
      graft.streaming.StreamingSample.sampleWeighted(s, tbl, k = 7,
        salt = "s127", weightCol = "weight")
    }, oracle =
      // pq109's closure CTEs feeding pq124's priority window: weights
      // join keeper strata, then the sequential-Poisson w/u ranking per
      // source — the one-shot twin of the two-batch weighted merge
      s"""WITH RECURSIVE $SimHashPairCtes,
         |p AS MATERIALIZED (SELECT doc_a, doc_b FROM ham WHERE hamming <= 3),
         |e AS (SELECT doc_a AS s, doc_b AS t FROM p UNION SELECT doc_b, doc_a FROM p),
         |reach AS (SELECT s, t FROM e UNION SELECT r.s, e.t FROM reach r JOIN e ON r.t = e.s),
         |cl AS (SELECT s AS doc_id, LEAST(s, MIN(t)) AS cluster_id FROM reach GROUP BY s),
         |grouped AS (SELECT MIN(doc_id) AS keep_id, COUNT(*) AS weight FROM cl GROUP BY cluster_id),
         |sw AS (SELECT keep_id, weight FROM grouped
         |       UNION ALL
         |       SELECT doc_id AS keep_id, 1::BIGINT AS weight FROM documents
         |       WHERE doc_id NOT IN (SELECT doc_id FROM cl)),
         |wk AS (SELECT w.keep_id AS doc_id, d.source, w.weight
         |       FROM sw w JOIN documents d ON d.doc_id = w.keep_id
         |       WHERE w.keep_id IS NOT NULL AND w.weight > 0),
         |wh AS (SELECT doc_id, source, weight,
         |        CAST(('0x' || substr(md5('s127' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS u32
         |      FROM wk),
         |wpri AS (SELECT doc_id, source, weight,
         |        CAST(weight AS DOUBLE) / ((u32 + 1) / 4294967296.0) AS pri
         |      FROM wh),
         |wr AS (SELECT doc_id, source, weight,
         |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY pri DESC, doc_id) AS rn
         |      FROM wpri)
         |SELECT doc_id, source, weight FROM wr WHERE rn <= 7""".stripMargin),

    // Margin-based bitext mining (CCMatrix/LASER): per source vector
    // (vec_id < 20), the best target (vec_id >= 20) by RATIO MARGIN —
    // cos relative to both endpoints' k-NN neighborhood means — kept
    // when the rounded margin clears the threshold. Margins are ratios
    // of the pinned integer-quantized cosines, neighborhood means fold
    // in rank order, so the argmax is engine-portable.
    Query("pq111_bitext_margin", (s, dir) => {
      val e = embs(s, dir).select("vec_id", "embedding")
      BitextMining.marginTopPairs(
        e.filter(col("vec_id") < 20), e.filter(col("vec_id") >= 20),
        "vec_id", "embedding", k = 4, minMargin = 1.34, ordered = false)
    }, oracle =
      // pq8's quantized-cosine CTEs split src/tgt; both directions rank
      // raw cos (the pq8 discipline) and report ROUND(4); neighborhood
      // means fold the rounded cosines in rank order (list ORDER BY rnk),
      // margins rank raw and emit/compare ROUND(6)
      BitextMarginSql),

    // The bitext SCALE arm pinned: the same margin tail over the IVF
    // retriever at full probing (nprobe = nlist ≡ brute force — the
    // pq19 law), so this SHARES pq111's oracle verbatim (the pq53b
    // exact-rewrite precedent). What changes is the candidate plan
    // (coarse-quantizer cells instead of a broadcast scan); what is
    // pinned is that the margin composition is retriever-agnostic.
    Query("pq111b_bitext_ivf", (s, dir) => {
      val e = embs(s, dir).select("vec_id", "embedding")
      BitextMining.marginTopPairsWith(
        e.filter(col("vec_id") < 20), e.filter(col("vec_id") >= 20),
        "vec_id",
        (corpus, queries) => Ivf.topK(corpus, queries, "vec_id",
          "embedding", k = 4, nlist = 8, nprobe = 8, ordered = false),
        k = 4, minMargin = 1.34, ordered = false)
    }, oracle =
      // full-probe IVF ≡ brute force, so the margin tail answers the
      // IDENTICAL question — pq111's oracle shared verbatim (the
      // pq19/pq53b precedent)
      BitextMarginSql),

    // PageRank over the k-NN similarity graph (hub detection for
    // curation): top-4 cosine edges among vec_id < 200, three fixed
    // power iterations, dangling mass redistributed uniformly. Pure
    // double arithmetic, no libm — ROUND(6) absorbs the ulp-order
    // variance of the per-node contribution sums.
    Query("pq113_knn_pagerank", (s, dir) => {
      val e = embs(s, dir).select("vec_id", "embedding")
        .filter(col("vec_id") < 200)
      val edges = Similarity.cosineTopK(e, e, "vec_id", "embedding",
          k = 4, ordered = false)
        .select(col("qid").as("src"), col("cid").as("dst"))
      GraphRank.pageRank(edges, "src", "dst", iters = 3, damping = 0.85,
        ordered = false)
    }, oracle =
      // pq8's quantized-cosine edges (both sides < 200, rnk <= 4), then
      // three power iterations UNROLLED as CTEs — the damping constants
      // are written as the same expressions Spark evaluates ((1 - 0.85)
      // is NOT the double 0.15; a hand-folded literal would diverge)
      """WITH qv AS (SELECT vec_id, list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |            FROM embeddings WHERE vec_id < 200),
        |nrm AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS n2 FROM qv),
        |p AS (SELECT a.vec_id AS qid, b.vec_id AS cid,
        |        list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) AS dot,
        |        a.n2 AS na, b.n2 AS nb
        |      FROM nrm a JOIN nrm b ON a.vec_id <> b.vec_id),
        |rk AS (SELECT qid, cid,
        |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot / sqrt(na::DOUBLE * nb::DOUBLE) DESC, cid) AS rnk
        |       FROM p),
        |e AS (SELECT qid AS src, cid AS dst FROM rk WHERE rnk <= 4),
        |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT COUNT(*)::DOUBLE AS n FROM nodes),
        |od AS (SELECT src, COUNT(*) AS d FROM e GROUP BY 1),
        |r0 AS (SELECT id, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
        |d0 AS (SELECT COALESCE(SUM(r0.r), 0.0) AS dm FROM r0 LEFT JOIN od ON od.src = r0.id WHERE od.src IS NULL),
        |c1 AS (SELECT e.dst AS id, SUM(r0.r / od.d) AS s FROM e JOIN od USING (src) JOIN r0 ON r0.id = e.src GROUP BY 1),
        |r1 AS (SELECT nodes.id, (1 - 0.85) / nn.n + 0.85 * (COALESCE(c1.s, 0.0) + d0.dm / nn.n) AS r
        |       FROM nodes CROSS JOIN nn CROSS JOIN d0 LEFT JOIN c1 USING (id)),
        |d1 AS (SELECT COALESCE(SUM(r1.r), 0.0) AS dm FROM r1 LEFT JOIN od ON od.src = r1.id WHERE od.src IS NULL),
        |c2 AS (SELECT e.dst AS id, SUM(r1.r / od.d) AS s FROM e JOIN od USING (src) JOIN r1 ON r1.id = e.src GROUP BY 1),
        |r2 AS (SELECT nodes.id, (1 - 0.85) / nn.n + 0.85 * (COALESCE(c2.s, 0.0) + d1.dm / nn.n) AS r
        |       FROM nodes CROSS JOIN nn CROSS JOIN d1 LEFT JOIN c2 USING (id)),
        |d2 AS (SELECT COALESCE(SUM(r2.r), 0.0) AS dm FROM r2 LEFT JOIN od ON od.src = r2.id WHERE od.src IS NULL),
        |c3 AS (SELECT e.dst AS id, SUM(r2.r / od.d) AS s FROM e JOIN od USING (src) JOIN r2 ON r2.id = e.src GROUP BY 1),
        |r3 AS (SELECT nodes.id, (1 - 0.85) / nn.n + 0.85 * (COALESCE(c3.s, 0.0) + d2.dm / nn.n) AS r
        |       FROM nodes CROSS JOIN nn CROSS JOIN d2 LEFT JOIN c3 USING (id))
        |SELECT id, ROUND(r, 6) AS "rank" FROM r3""".stripMargin),

    // WEIGHTED PageRank over the same k-NN graph, the retriever's
    // cosines as edge weights: contribution ∝ cos/W(u) instead of
    // discarding the similarity for uniform 1/outdeg. Weights are the
    // PINNED rounded quantized cosines (pq8's ROUND(4) discipline), so
    // the oracle's weights match bit-for-bit; non-positive-similarity
    // edges are filtered upstream (not edges of a similarity graph —
    // the operator refuses them inline).
    Query("pq116_weighted_pagerank", (s, dir) => {
      val e = embs(s, dir).select("vec_id", "embedding")
        .filter(col("vec_id") < 200)
      val edges = Similarity.cosineTopK(e, e, "vec_id", "embedding",
          k = 4, ordered = false)
        .select(col("qid").as("src"), col("cid").as("dst"), col("cos"))
        .filter(col("cos") > 0)
      GraphRank.pageRankWeighted(edges, "src", "dst", "cos",
        iters = 3, damping = 0.85, ordered = false)
    }, oracle =
      // pq113's unrolled power iterations with the ROUND(4) quantized
      // cosine as edge weight: W(u) = SUM(w) replaces the out-COUNT, the
      // contribution numerator carries r·w, everything else identical —
      // damping written as the expressions Spark evaluates, ROUND(6)
      // absorbing the ulp-order variance of the weighted sums
      """WITH qv AS (SELECT vec_id, list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |            FROM embeddings WHERE vec_id < 200),
        |nrm AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS n2 FROM qv),
        |p AS (SELECT a.vec_id AS qid, b.vec_id AS cid,
        |        list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) AS dot,
        |        a.n2 AS na, b.n2 AS nb
        |      FROM nrm a JOIN nrm b ON a.vec_id <> b.vec_id),
        |rk AS (SELECT qid, cid,
        |         ROUND(dot / sqrt(na::DOUBLE * nb::DOUBLE), 4) AS w,
        |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot / sqrt(na::DOUBLE * nb::DOUBLE) DESC, cid) AS rnk
        |       FROM p),
        |e AS (SELECT qid AS src, cid AS dst, w FROM rk WHERE rnk <= 4 AND w > 0),
        |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT COUNT(*)::DOUBLE AS n FROM nodes),
        |od AS (SELECT src, SUM(w) AS d FROM e GROUP BY 1),
        |r0 AS (SELECT id, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
        |d0 AS (SELECT COALESCE(SUM(r0.r), 0.0) AS dm FROM r0 LEFT JOIN od ON od.src = r0.id WHERE od.src IS NULL),
        |c1 AS (SELECT e.dst AS id, SUM(r0.r * e.w / od.d) AS s FROM e JOIN od USING (src) JOIN r0 ON r0.id = e.src GROUP BY 1),
        |r1 AS (SELECT nodes.id, (1 - 0.85) / nn.n + 0.85 * (COALESCE(c1.s, 0.0) + d0.dm / nn.n) AS r
        |       FROM nodes CROSS JOIN nn CROSS JOIN d0 LEFT JOIN c1 USING (id)),
        |d1 AS (SELECT COALESCE(SUM(r1.r), 0.0) AS dm FROM r1 LEFT JOIN od ON od.src = r1.id WHERE od.src IS NULL),
        |c2 AS (SELECT e.dst AS id, SUM(r1.r * e.w / od.d) AS s FROM e JOIN od USING (src) JOIN r1 ON r1.id = e.src GROUP BY 1),
        |r2 AS (SELECT nodes.id, (1 - 0.85) / nn.n + 0.85 * (COALESCE(c2.s, 0.0) + d1.dm / nn.n) AS r
        |       FROM nodes CROSS JOIN nn CROSS JOIN d1 LEFT JOIN c2 USING (id)),
        |d2 AS (SELECT COALESCE(SUM(r2.r), 0.0) AS dm FROM r2 LEFT JOIN od ON od.src = r2.id WHERE od.src IS NULL),
        |c3 AS (SELECT e.dst AS id, SUM(r2.r * e.w / od.d) AS s FROM e JOIN od USING (src) JOIN r2 ON r2.id = e.src GROUP BY 1),
        |r3 AS (SELECT nodes.id, (1 - 0.85) / nn.n + 0.85 * (COALESCE(c3.s, 0.0) + d2.dm / nn.n) AS r
        |       FROM nodes CROSS JOIN nn CROSS JOIN d2 LEFT JOIN c3 USING (id))
        |SELECT id, ROUND(r, 6) AS "rank" FROM r3""".stripMargin),

    // DoReMi domain reweighting: per-source mean CLIPPED excess loss →
    // one multiplicative-weights step from uniform prev, smoothed
    // toward uniform. Excess losses are exact dyadics of doc_id
    // ((doc_id%32 − 8)/16, mixing clipped negatives with positives) so
    // per-domain sums are order-free EXACT; exp crosses libm under the
    // pq54 discipline (ROUND(4) in, ROUND(4) out); weights ROUND(6).
    Query("pq117_doremi_reweight", (s, dir) => {
      val losses = docs(s, dir).select(col("source"),
        ((pmod(col("doc_id"), lit(32)) - 8) / lit(16.0)).as("excess"))
      Doremi.reweight(losses, "source", "excess",
        eta = 0.5, smoothing = 0.125, ordered = false)
    }, oracle =
      // the MW step recomputed: clipped dyadic excesses sum exactly in
      // any order, λ = one IEEE division, factor = ROUND(EXP(ROUND(η·λ,
      // 4)), 4) (the pq54 libm discipline), uniform prev carries 1.0 (it
      // cancels in raw/Σraw), weight = ROUND((1−c)·raw/Z + c/K, 6) with
      // the plain K-row SUM standing in for the engine's sorted fold
      // (ROUND(6) absorbs the ulp — the pq87 precedent). The fixture's λ
      // values are DECIMAL-EXACT (s dyadic, n a 2^a·5^b count), so η·λ
      // lands exactly on 5e-5 rounding ties where the engines' native
      // ROUNDs split (Spark rounds the double's SHORTEST DECIMAL REPR
      // half-up — BigDecimal.valueOf — while DuckDB multiplies and
      // nearbyints the binary value): every tie-prone ROUND below is
      // spelled CAST(CAST(x AS VARCHAR) AS DECIMAL) to replicate Spark's
      // semantics bit-for-bit — VARCHAR of a double IS the shortest repr
      """WITH l AS (SELECT source AS stratum,
        |                  GREATEST(0.0, (CAST(doc_id % 32 AS DOUBLE) - 8) / 16.0) AS ex
        |           FROM documents),
        |t AS (SELECT stratum, COUNT(*) AS n_docs, SUM(ex) AS s FROM l GROUP BY stratum),
        |f AS (SELECT stratum, n_docs, s / n_docs AS lam,
        |             1.0 * ROUND(CAST(CAST(EXP(CAST(ROUND(CAST(CAST(
        |                 0.5 * (s / n_docs)
        |               AS VARCHAR) AS DECIMAL(30,15)), 4) AS DOUBLE)) AS VARCHAR) AS DECIMAL(30,15)), 4) AS raw
        |      FROM t),
        |z AS (SELECT SUM(raw) AS z, CAST(COUNT(*) AS DOUBLE) AS k FROM f)
        |SELECT stratum, n_docs,
        |       CAST(ROUND(CAST(CAST(lam AS VARCHAR) AS DECIMAL(30,15)), 6) AS DOUBLE) AS excess,
        |       CAST(ROUND(CAST(CAST(0.875 * raw / z.z + 0.125 / z.k AS VARCHAR) AS DECIMAL(30,15)), 6) AS DOUBLE) AS weight
        |FROM f CROSS JOIN z""".stripMargin),

    // The DoReMi round CLOSED: pq117's reweighting collected K-bounded
    // and renormalized (ROUND(6) weights sum to 1 ± K·5e-7) into
    // mixtureRates' target shares — the handoff that turns "these
    // domains are under-learned" into next round's sampling rates.
    Query("pq121_doremi_mixture", (s, dir) => {
      val d = docs(s, dir)
      val losses = d.select(col("source"),
        ((pmod(col("doc_id"), lit(32)) - 8) / lit(16.0)).as("excess"))
      Doremi.nextMixture(losses, d, "source", "excess", "n_chars",
        eta = 0.5, smoothing = 0.125, budgetTokens = 20000L)
    }, oracle =
      // pq117's weight CTEs (shortest-repr rounds and all) renormalized
      // by their own sum, then pq36's mixture tail: want = (w/Z2)·budget,
      // rate = ROUND(min(1, want/n_tokens), 6), capped strict >
      """WITH l AS (SELECT source AS stratum,
        |                  GREATEST(0.0, (CAST(doc_id % 32 AS DOUBLE) - 8) / 16.0) AS ex
        |           FROM documents),
        |t AS (SELECT stratum, COUNT(*) AS n_docs, SUM(ex) AS s FROM l GROUP BY stratum),
        |f AS (SELECT stratum, n_docs, s / n_docs AS lam,
        |             1.0 * ROUND(CAST(CAST(EXP(CAST(ROUND(CAST(CAST(
        |                 0.5 * (s / n_docs)
        |               AS VARCHAR) AS DECIMAL(30,15)), 4) AS DOUBLE)) AS VARCHAR) AS DECIMAL(30,15)), 4) AS raw
        |      FROM t),
        |z AS (SELECT SUM(raw) AS z, CAST(COUNT(*) AS DOUBLE) AS k FROM f),
        |w AS (SELECT stratum,
        |             CAST(ROUND(CAST(CAST(0.875 * raw / z.z + 0.125 / z.k AS VARCHAR) AS DECIMAL(30,15)), 6) AS DOUBLE) AS weight
        |      FROM f CROSS JOIN z),
        |z2 AS (SELECT SUM(weight) AS z2 FROM w),
        |tok AS (SELECT source AS stratum,
        |               CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS n_tokens
        |        FROM documents GROUP BY source),
        |m AS (SELECT tok.stratum, tok.n_tokens,
        |             (w.weight / z2.z2) * 20000 AS want
        |      FROM tok JOIN w USING (stratum) CROSS JOIN z2)
        |SELECT stratum, n_tokens,
        |       CAST(CASE WHEN n_tokens > 0 THEN ROUND(least(1.0, want / n_tokens), 6)
        |                 ELSE 0.0 END AS DOUBLE) AS rate,
        |       want > n_tokens AS capped
        |FROM m""".stripMargin),

    // Per-host corpus footprint (the FineWeb-style source report): one
    // host-keyed aggregate over the decorated-URL fixture — ports,
    // userinfo, tracking params, and case all collapse into the bare
    // lowercased host; scheme-less rows form the null-host group.
    Query("pq118_host_stats", (s, dir) =>
      UrlOps.hostStats(hostFixture(s, dir), "url", "n_chars",
        ordered = false), oracle =
      // the host recomputed from the doc_id arithmetic instead of parsed
      // — the engine must arrive at the identical lowercased bare host
      // through the regex chain, so port/userinfo/tracking/case stripping
      // is pinned by the equality; doc_id % 17 = 0 rows are the null-host
      // group (scheme-less)
      """WITH u AS (SELECT doc_id, n_chars,
        |             CASE WHEN doc_id % 17 = 0 THEN NULL
        |                  ELSE 'host' || CAST(CASE WHEN doc_id % 10 < 6 THEN 0
        |                                           ELSE doc_id % 10 END AS VARCHAR)
        |                       || '.example.com' END AS host
        |           FROM documents WHERE doc_id IS NOT NULL),
        |tot AS (SELECT COUNT(*)::DOUBLE AS t FROM u)
        |SELECT host, COUNT(*) AS n_docs,
        |       CAST(SUM(COALESCE(n_chars, 0)) AS BIGINT) AS n_tokens,
        |       ROUND(COUNT(*) / tot.t, 6) AS doc_share
        |FROM u CROSS JOIN tot GROUP BY host, tot.t""".stripMargin),

    // Per-host document cap (anti-spam curation): at most 7 docs per
    // host by smallest (md5(salt, doc_id), doc_id) — the pq43 sampler
    // with the EXTRACTED host as the stratum, so the dominant host0 is
    // cut to 7 while the long tail keeps everything; the null-host
    // group is capped like any other.
    Query("pq119_host_cap", (s, dir) =>
      UrlOps.capPerHost(hostFixture(s, dir).select(col("doc_id"), col("url")),
        "doc_id", "url", k = 7, salt = "s119"), oracle =
      // pq43's full-window shape with the RECOMPUTED host as the
      // partition key; the url column is the fixture's expression
      // re-spelled so the surviving rows compare bit-for-bit
      """WITH hi AS (SELECT doc_id,
        |              CAST(CASE WHEN doc_id % 10 < 6 THEN 0
        |                        ELSE doc_id % 10 END AS VARCHAR) AS i
        |            FROM documents WHERE doc_id IS NOT NULL),
        |u AS (SELECT doc_id,
        |        CASE WHEN doc_id % 17 = 0 THEN 'not a url'
        |             WHEN doc_id % 4 = 0 THEN 'HTTP://Host' || i || '.Example.COM:80/p?q=' || CAST(doc_id AS VARCHAR)
        |             WHEN doc_id % 4 = 1 THEN 'http://user:pw@Host' || i || '.Example.COM/a/b'
        |             WHEN doc_id % 4 = 2 THEN 'https://Host' || i || '.Example.COM/x?utm_source=z'
        |             ELSE 'HTTPS://Host' || i || '.Example.COM' END AS url,
        |        CASE WHEN doc_id % 17 = 0 THEN NULL
        |             ELSE 'host' || i || '.example.com' END AS host
        |      FROM hi),
        |h AS (SELECT doc_id, url, host,
        |        substr(md5('s119' || CAST(doc_id AS VARCHAR)), 1, 8) AS hx
        |      FROM u),
        |r AS (SELECT doc_id, url,
        |        ROW_NUMBER() OVER (PARTITION BY host ORDER BY hx, doc_id) AS rn
        |      FROM h)
        |SELECT doc_id, url FROM r WHERE rn <= 7""".stripMargin),

    // CONTRASTIVE triplet mining from the unlabeled perturbed corpus:
    // positives = pq31's near-dup pairs, negatives = exact top-8
    // retrieval minus the anchor's whole duplicate CLUSTER (transitive
    // exclusion via the same recursive-CTE closure the oracle shares
    // with pq31). Retriever-agnostic operator — the pq pins the
    // brute-force arm; the scale path swaps in bucketed/IVF results
    // with the identical (qid, cid, rnk) contract.
    Query("pq101_contrastive_triplets", (s, dir) => {
      val c = perturbedEmbCorpus(s, dir)
      ContrastiveMining.triplets(
        Similarity.nearDupPairs(c, "vec_id", "embedding",
          threshold = 0.99, bucketBits = 4, ordered = false),
        Similarity.cosineTopK(c,
          c.filter(col("vec_id") < 10 || col("vec_id") >= 1000),
          "vec_id", "embedding", k = 8, ordered = false),
        negK = 3, ordered = false)
    }, oracle =
      // pq31's pair + recursive-closure CTEs shared verbatim (positives
      // and cluster exclusion), retriever = exact top-8 over the same
      // quantized corpus for the 20 fixture anchors (pq8's rank
      // discipline: raw-double cos DESC, cid tiebreak); negatives
      // re-ranked dense after dropping self + whole-cluster mates
      s"""WITH RECURSIVE $EmbNearDupCtes,
         |pr AS MATERIALIZED (SELECT id_a, id_b FROM p WHERE cos >= 0.99),
         |e AS (SELECT id_a AS s, id_b AS t FROM pr UNION SELECT id_b, id_a FROM pr),
         |reach AS (SELECT s, t FROM e UNION SELECT r.s, e.t FROM reach r JOIN e ON r.t = e.s),
         |cl AS (SELECT s AS doc_id, LEAST(s, MIN(t)) AS cluster_id FROM reach GROUP BY s),
         |r AS (SELECT a.vec_id AS qid, b.vec_id AS cid,
         |        ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
         |          list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
         |            / sqrt(a.n2::DOUBLE * b.n2::DOUBLE) DESC, b.vec_id) AS rnk
         |      FROM nrm a JOIN nrm b ON a.vec_id <> b.vec_id
         |      WHERE a.vec_id < 10 OR a.vec_id >= 1000),
         |rk AS (SELECT qid, cid, rnk FROM r WHERE rnk <= 8),
         |negs AS (SELECT rk.qid, rk.cid,
         |           ROW_NUMBER() OVER (PARTITION BY rk.qid ORDER BY rk.rnk) AS neg_rank
         |         FROM rk
         |         JOIN cl qc ON qc.doc_id = rk.qid
         |         LEFT JOIN cl cc ON cc.doc_id = rk.cid
         |         WHERE cc.cluster_id IS NULL OR cc.cluster_id <> qc.cluster_id),
         |pos AS (SELECT id_a AS qid, id_b AS pos_cid FROM pr
         |        UNION ALL SELECT id_b, id_a FROM pr)
         |SELECT p.qid, p.pos_cid, n.cid AS neg_cid,
         |       CAST(n.neg_rank AS BIGINT) AS neg_rank
         |FROM pos p JOIN negs n ON p.qid = n.qid
         |WHERE n.neg_rank <= 3""".stripMargin),

    // INCREMENTAL decontamination (the pq21/pq44 discipline applied
    // to pq25): the eval set's shingles persist as a bucketed index,
    // the corpus arrives as TWO batches audited one at a time into an
    // eval-sized matched-state table, and the state after the second
    // batch must equal whole-corpus containment EXACTLY — pq25's
    // oracle string shared verbatim, while no audit ever rescans an
    // earlier batch. The timed row is the production shape: index
    // save + two O(batch) audits + the eval-sized state read.
    Query("pq98_incremental_decontam", (s, dir) => {
      val (train, eval) = decontamFixture(s, dir)
      // eval index keyed per dir and persisted across executions (a
      // pure function of the fixture — the pq114 eval-index precedent);
      // the audits + state read are the operator's steady-state shape
      val tbl = perDirName("graft_pq98_eval", dir)
      val mtbl = perDirName("graft_pq98_matched", dir)
      ensureEvalTable(s, tbl, dir)(
        Decontamination.saveEvalShingleIndex(eval, "doc_id", "text",
          tbl, perDirPath("graft_pq98_eval", dir), shingleN = 3, buckets = 8))
      Decontamination.auditBatch(train.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", tbl, mtbl, perDirPath("graft_pq98_matched", dir))
      Decontamination.auditBatch(train.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", tbl, mtbl, perDirPath("graft_pq98_matched", dir))
      Decontamination.containmentState(s, tbl, mtbl, ordered = false)
    }, oracle =
      // incremental audit ≡ whole-corpus containment: shared verbatim
      DecontamSql),

    // Per-benchmark contamination rollup: the pq25 fixture's three eval
    // slices labeled as benchmarks (verbatim copies, fresh text, mixed
    // tails) — the model-card number per eval set at the conventional
    // >= 0.8 containment threshold
    Query("pq89_contamination_report", (s, dir) => {
      val (train, eval) = decontamFixture(s, dir)
      val labeled = eval.withColumn("benchmark",
        when(col("doc_id") < 60000, lit("held_in"))
          .when(col("doc_id") < 70000, lit("fresh"))
          .otherwise(lit("mixed")))
      Decontamination.contaminationReport(train, labeled, "doc_id", "text",
        "benchmark", threshold = 0.8, ordered = false)
    }, oracle =
      // pq25's CTE chain grouped by the fixture's benchmark labels; the
      // threshold compares the SAME rounded containment pq25 pins
      s"""WITH per AS ($DecontamSql),
        |b AS (SELECT CASE WHEN doc_id < 60000 THEN 'held_in'
        |                  WHEN doc_id < 70000 THEN 'fresh'
        |                  ELSE 'mixed' END AS benchmark, containment
        |      FROM per)
        |SELECT benchmark, COUNT(*) AS n_docs,
        |       COUNT(CASE WHEN containment >= 0.8 THEN 1 END) AS n_contaminated,
        |       ROUND(COUNT(CASE WHEN containment >= 0.8 THEN 1 END)::DOUBLE
        |             / COUNT(*), 6) AS contamination_rate
        |FROM b GROUP BY 1""".stripMargin),

    // Gopher-style repetition gates: duplicate-bigram fraction and
    // dominant-bigram share per document (the synthetic corpus has a
    // small vocabulary, so both metrics are well-populated).
    Query("pq26_repetition", (s, dir) =>
      TextAnalysis.repetitionMetrics(docs(s, dir), "doc_id", "text",
        ordered = false), oracle =
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |b AS (SELECT doc_id, list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS bgs
        |      FROM t WHERE len(toks) >= 2),
        |u AS (SELECT doc_id, unnest(bgs) AS bg FROM b),
        |c AS (SELECT doc_id, bg, COUNT(*) AS cnt FROM u GROUP BY doc_id, bg),
        |s AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_ngrams,
        |             COUNT(*) AS n_distinct, MAX(cnt) AS top
        |      FROM c GROUP BY doc_id)
        |SELECT doc_id, n_ngrams,
        |       ROUND((n_ngrams - n_distinct)::DOUBLE / n_ngrams, 3) AS dup_ngram_frac,
        |       ROUND(top::DOUBLE / n_ngrams, 3) AS top_ngram_frac
        |FROM s""".stripMargin),

    // Deterministic stratified sampling: per-source rates keyed on the
    // doc id — membership is a pure function of (salt, key), so both
    // engines select the identical row set (fixed-length lowercase hex
    // compares like the 32-bit value it spells).
    Query("pq27_stratified_sample", (s, dir) =>
      Sampling.stratifiedSample(docs(s, dir).select("doc_id", "source"),
        "doc_id", "source", rates = Map("src0" -> 0.8, "src1" -> 0.2),
        defaultRate = 0.5, salt = "r10"), oracle = {
      def pred(rate: Double): String =
        s"substr(md5('r10' || CAST(doc_id AS VARCHAR)), 1, 8) < '${Sampling.thresholdLiteral(rate)}'"
      s"""SELECT doc_id, source FROM documents
         |WHERE CASE WHEN source = 'src0' THEN ${pred(0.8)}
         |           WHEN source = 'src1' THEN ${pred(0.2)}
         |           ELSE ${pred(0.5)} END""".stripMargin
    }),

    // Characteristic terms per doc: tf-idf-family weighting with the
    // rational idf (N/df — bit-identical IEEE arithmetic across
    // engines; production swaps in the log form, same plan), ties on
    // the term string, top-3 per doc.
    Query("pq28_tfidf", (s, dir) =>
      TextAnalysis.tfIdfTopTerms(docs(s, dir), "doc_id", "text",
        k = 3, ordered = false), oracle =
      """WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term FROM documents),
        |tt AS (SELECT doc_id, term FROM t WHERE term <> ''),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tt GROUP BY 1, 2),
        |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |s AS (SELECT doc_id, term, tf::DOUBLE * n_docs::DOUBLE / df::DOUBLE AS weight
        |      FROM tf JOIN dfq USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, weight,
        |             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY weight DESC, term) AS rnk
        |      FROM s)
        |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, ROUND(weight, 4) AS weight
        |FROM r WHERE rnk <= 3""".stripMargin),

    // Token-window chunking: 16-token chunks with 4-token overlap
    // (stride 12) — every chunk boundary and the short tail are
    // slice-expressible in both engines.
    Query("pq29_chunking", (s, dir) =>
      TextAnalysis.chunkDocuments(docs(s, dir), "doc_id", "text",
        chunkTokens = 16, overlapTokens = 4, ordered = false), oracle =
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |c AS (SELECT doc_id, i AS chunk_idx,
        |             toks[(1 + i*12)::INT : (i*12 + 16)::INT] AS chunk
        |      FROM t, unnest(range(0, (len(toks) - 1) // 12 + 1)) AS u(i))
        |SELECT doc_id, chunk_idx, CAST(len(chunk) AS BIGINT) AS n_tokens,
        |       array_to_string(chunk, ' ') AS chunk_text
        |FROM c""".stripMargin),

    // Deterministic shard-shuffle: the reproducible training-order
    // permutation as (shard, pos) — two independent md5-derived hashes
    // (shard assignment, within-shard order), no global sort. The
    // oracle parses the same 8 hex chars via CAST('0x'||.. AS BIGINT).
    Query("pq34_shard_shuffle", (s, dir) =>
      Packing.shardShuffle(docs(s, dir).select("doc_id"), "doc_id", shards = 8)
        .select("doc_id", "shard", "pos"), oracle =
      """WITH h AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substr(md5('graft:s' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS shard,
        |         CAST(('0x' || substr(md5('graft:o' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h2
        |  FROM documents WHERE doc_id IS NOT NULL)
        |SELECT doc_id, shard,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h2, doc_id) AS BIGINT) AS pos
        |FROM h""".stripMargin),

    // Fixed-token sequence packing over the shard-shuffle order: one
    // row per (doc, training sequence it occupies), with the
    // document-local token slice — documents straddle sequence cuts
    // (pack-and-mask layout).
    Query("pq35_pack_sequences", (s, dir) =>
      Packing.packSequences(docs(s, dir), "doc_id", "text",
        targetTokens = 256, shards = 4), oracle =
      """WITH t AS (SELECT doc_id,
        |                  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n
        |           FROM documents
        |           WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |h AS (SELECT doc_id, n,
        |        CAST(('0x' || substr(md5('graft:s' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 4 AS shard,
        |        CAST(('0x' || substr(md5('graft:o' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h2
        |      FROM t),
        |o AS (SELECT doc_id, n, shard,
        |        CAST(SUM(n) OVER (PARTITION BY shard ORDER BY h2, doc_id
        |                          ROWS UNBOUNDED PRECEDING) - n AS BIGINT) AS cb
        |      FROM h),
        |s AS (SELECT doc_id, n, shard, cb,
        |        unnest(range(cb // 256, (cb + greatest(n, 1) - 1) // 256 + 1)) AS seq_id
        |      FROM o)
        |SELECT shard, CAST(seq_id AS BIGINT) AS seq_id, doc_id,
        |       CAST(greatest(seq_id * 256 - cb, 0) AS BIGINT) AS tok_start,
        |       CAST(least((seq_id + 1) * 256 - cb, n) AS BIGINT) AS tok_end
        |FROM s""".stripMargin),

    // Distributed k-means, assignment half: per-cluster size and exact
    // BIGINT objective under fixed centroids (broadcast argmin, one
    // k-bounded aggregate) — the per-iteration reduce of
    // Clustering.train, pinned in isolation.
    Query("pq46_kmeans_stats", (s, dir) =>
      Clustering.assignStats(embs(s, dir), "vec_id", "embedding", KmeansOracleCentroids), oracle =
      s"""WITH $KmeansAssignCtes
         |SELECT CAST(c AS BIGINT) AS cluster, COUNT(*) AS n,
         |       CAST(SUM(d2) AS BIGINT) AS cost
         |FROM a WHERE rnk = 1 GROUP BY 1""".stripMargin),

    // Embedding-drift report between two snapshots under the FIXED
    // coarse quantizer — the reindexCoded retrain signal. Per cell:
    // occupancy old/new and cos(mean_old, mean_new), computed on exact
    // BIGINT component sums (the 1/n factors cancel), so one double op
    // total — bit-deterministic in any order. Old = embeddings, new =
    // the pq12/pq31 perturbed corpus.
    Query("pq103_quantizer_drift", (s, dir) =>
      Clustering.snapshotDrift(embs(s, dir), perturbedEmbCorpus(s, dir),
        "vec_id", "embedding", KmeansOracleCentroids, ordered = false), oracle =
      // the oracle assigns by exact BIGINT squared distance (ties to the
      // lowest centroid index) under the same literal centroids the Spark
      // side broadcasts — shared CTE chain with pq47
      // pq46's assignment chain twice (old = embeddings, new = the
      // pq12/pq31 perturbed union), exact per-(cell, dim) BIGINT
      // component sums via the range-unnest, cosine on the integer sums
      // (ROUND(4), the single double crossing), MAX(n) = cell occupancy
      s"""WITH $KmeansAssignCtes,
         |qv2 AS (SELECT vec_id, br, list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
         |        FROM (SELECT vec_id, 0 AS br, embedding FROM embeddings
         |              UNION ALL
         |              SELECT vec_id + 1000, 1 AS br, list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) * 1.01 AS FLOAT))
         |              FROM embeddings WHERE vec_id < 10)
         |        WHERE embedding IS NOT NULL),
         |d2c AS (SELECT vec_id, br, c, v,
         |          list_sum(list_transform(range(1, len(v) + 1), i -> (v[i] - cv[i]) * (v[i] - cv[i]))) AS d2
         |        FROM qv2 CROSS JOIN cents),
         |-- argmin per PHYSICAL ROW: the perturbed ids (vec_id + 1000)
         |-- collide with real ids at sf0.1+, so the partition key must
         |-- carry the union branch or ROW_NUMBER drops a real vector
         |a2 AS (SELECT vec_id, c, v, d2, ROW_NUMBER() OVER (PARTITION BY vec_id, br ORDER BY d2, c) AS rnk FROM d2c),
         |ps AS (SELECT unnest(range(1, 65)) AS i),
         |so AS (SELECT x.c AS list, t.i AS pos, SUM(x.v[t.i]) AS s, COUNT(*) AS n
         |       FROM a x, ps t WHERE x.rnk = 1 GROUP BY 1, 2),
         |sn AS (SELECT x.c AS list, t.i AS pos, SUM(x.v[t.i]) AS s, COUNT(*) AS n
         |       FROM a2 x, ps t WHERE x.rnk = 1 GROUP BY 1, 2),
         |j AS (SELECT COALESCE(o.list, w.list) AS list,
         |        o.s AS so, o.n AS no, w.s AS sn, w.n AS nn
         |      FROM so o FULL OUTER JOIN sn w ON o.list = w.list AND o.pos = w.pos),
         |g AS (SELECT list,
         |        COALESCE(MAX(no), 0) AS n_old, COALESCE(MAX(nn), 0) AS n_new,
         |        SUM(so * sn) AS dot, SUM(so * so) AS o2, SUM(sn * sn) AS n2
         |      FROM j GROUP BY 1)
         |SELECT CAST(list AS BIGINT) AS list,
         |       CAST(n_old AS BIGINT) AS n_old, CAST(n_new AS BIGINT) AS n_new,
         |       CASE WHEN n_old > 0 THEN ROUND(n_new::DOUBLE / n_old, 6) END AS count_ratio,
         |       CASE WHEN dot IS NOT NULL AND o2 > 0 AND n2 > 0
         |            THEN ROUND(dot::DOUBLE / sqrt(o2::DOUBLE * n2::DOUBLE), 4) END AS cos_shift
         |FROM g""".stripMargin),

    // Distributed k-means, update half: one full Lloyd update (HALF-UP
    // rounded per-dimension means) from the same fixed centroids — one
    // posexplode + map-side-combined aggregate, k*dim output rows.
    Query("pq47_kmeans_update", (s, dir) =>
      Clustering.updateStep(embs(s, dir), "vec_id", "embedding", KmeansOracleCentroids), oracle =
      // one Lloyd update from the same assignment: per-dimension integer
      // sums, HALF-UP-rounded means — the zipped double-unnest is the SQL
      // twin of the operator's posexplode aggregate
      s"""WITH $KmeansAssignCtes
         |SELECT CAST(c AS BIGINT) AS cluster, CAST(i - 1 AS BIGINT) AS pos, COUNT(*) AS n,
         |       CAST(ROUND(CAST(SUM(val) AS DOUBLE) / COUNT(*)) AS BIGINT) AS next_c
         |FROM (SELECT c, unnest(range(1, len(v) + 1)) AS i, unnest(v) AS val
         |      FROM a WHERE rnk = 1) z
         |GROUP BY 1, 2""".stripMargin),

    // Product quantization, encode half: per-(row, subspace) argmin
    // code under fixed codebooks (broadcast typed pass, no shuffle) —
    // the coded representation every ADC scan reads.
    Query("pq48_pq_encode", (s, dir) =>
      ProductQuant.encodeFlat(embs(s, dir), "vec_id", "embedding", PqOracleModel), oracle =
      // the oracle encodes by per-subspace exact-BIGINT argmin under the
      // same closed-form codebooks the Spark side broadcasts — shared CTE
      // chain with pq49
      s"""WITH $PqEncodeCtes
         |SELECT vec_id, CAST(s AS BIGINT) AS sub, CAST(c AS BIGINT) AS code
         |FROM enc WHERE rnk = 1""".stripMargin),

    // Product quantization, search half: exact-BIGINT ADC top-5 (query
    // vs corpus reconstruction) for queries vec_id < 20 — LUT scoring
    // over the coded corpus, bounded per-partition heaps.
    Query("pq49_pq_adc", (s, dir) => {
      val e = embs(s, dir)
      ProductQuant.adcTopK(e, e.filter(col("vec_id") < 20), "vec_id", "embedding",
        PqOracleModel, k = 5, ordered = false)
    }, oracle =
      // ADC distance = exact squared L2 between the query vector and the
      // corpus reconstruction: rebuild each coded subvector from the
      // codebook and sum the per-subspace BIGINT distances
      PqAdcOracleSql),

    // IVF-PQ: the materialized coded index (cell + PQ codes, one pass)
    // searched with full probing — nprobe == nlist provably equals the
    // whole-corpus ADC scan, so pq49's oracle pins the ENTIRE
    // index-build/probe/LUT/rank path (any cell or code drift loses
    // candidates and breaks the hash); recall-vs-nprobe is pinned in
    // ProductQuantSpec.
    Query("pq53_ivfpq", (s, dir) => {
      val e = embs(s, dir)
      val coded = ProductQuant.buildCodedIndex(e, "vec_id", "embedding",
        KmeansOracleCentroids, PqOracleModel, ordered = false)
      ProductQuant.ivfAdcTopK(coded, e.filter(col("vec_id") < 20), "vec_id", "embedding",
        KmeansOracleCentroids, PqOracleModel, k = 5, nprobe = 3, ordered = false)
    }, oracle =
      // full-probe IVF-PQ == the whole-corpus ADC scan, so the oracle is
      // pq49's SQL, SHARED so the pin can't drift — see the pq53 entry
      // comment (the pq19/pq8 precedent)
      PqAdcOracleSql),

    // The PERSISTED IVF-PQ path: the pq53 coded index written as a
    // cell-partitioned external table (IndexStore.saveCoded), searched
    // with the probed-cell prefilter — only the probed cells'
    // directories are read (partition pruning pinned in IvfIndexSpec).
    // Pruning changes bytes read, never candidates, so this SHARES
    // pq53's oracle verbatim (the pq19/pq39 exact-rewrite precedent);
    // the timed row includes the index write, the production amortized
    // cost.
    // ONE stable table/path per JVM, overwritten per execution — a
    // per-run unique name would leak a catalog entry plus a full index
    // copy on disk for EVERY warmup/sweep execution of a bench run
    Query("pq53b_ivf_pruned", (s, dir) => {
      val e = embs(s, dir)
      val tbl = "graft_pq53b_idx"
      IndexStore.saveCoded(
        ProductQuant.buildCodedIndex(e, "vec_id", "embedding",
          KmeansOracleCentroids, PqOracleModel, ordered = false),
        tbl, Pq53bDir,
        nlist = KmeansOracleCentroids.length, m = PqOracleModel.m)
      ProductQuant.ivfAdcTopKPruned(
        IndexStore.codedIndex(s, tbl, KmeansOracleCentroids.length, PqOracleModel.m),
        e.filter(col("vec_id") < 20), "vec_id", "embedding",
        KmeansOracleCentroids, PqOracleModel, k = 5, nprobe = 3, ordered = false)
    }, oracle =
      // the persisted cell-partitioned index searched with the partition
      // prefilter: pruning is exact by construction, so the SAME shared
      // ADC oracle pins the save/load/prune/search path end to end
      PqAdcOracleSql),

    // BPE training's only corpus-scale stage: distributed word
    // frequency counts (explode + map-side-combined aggregate) — the
    // merge loop consumes exactly this table.
    Query("pq52_bpe_words", (s, dir) =>
      Bpe.wordCounts(docs(s, dir), "text"), oracle =
      // occurrence word counts, empty tokens dropped — the exact table
      // the BPE merge loop trains on
      """WITH t AS (SELECT string_split_regex(trim(text), '\s+') AS toks
        |           FROM documents WHERE text IS NOT NULL),
        |w AS (SELECT unnest(toks) AS word FROM t)
        |SELECT word, COUNT(*) AS cnt FROM w WHERE word <> '' GROUP BY 1""".stripMargin),

    // Corpus curation report: the dataset-card rollup (volume, nulls,
    // exact duplication, source spread) as one (metric, value) frame
    Query("pq88_corpus_report", (s, dir) =>
      CorpusReport.report(docs(s, dir), "doc_id", "text",
        sourceCol = Some("source"), ordered = false), oracle =
      // the LM table is pq52's word counts verbatim; OOV smooths to
      // count 0; token-free docs score exactly 0.0 — ln applied to the
      // same (cnt+1)/(T+V) double in both engines, ROUND(4) bridges the
      // last-ulp libm gap (the pq8 precedent)
      // every value cast DOUBLE so the dtype kinds line up; ratios ROUND
      // as the Spark side rounds
      """WITH b AS (SELECT text,
        |    CASE WHEN text IS NULL THEN NULL
        |         ELSE len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) END AS n,
        |    md5(text) AS h, source FROM documents),
        |a AS (SELECT COUNT(*) AS n_docs,
        |             COUNT(CASE WHEN text IS NULL THEN 1 END) AS n_null,
        |             COUNT(CASE WHEN text IS NOT NULL AND n = 0 THEN 1 END) AS n_empty,
        |             COALESCE(SUM(n), 0) AS n_tokens,
        |             COUNT(text) AS n_text,
        |             COUNT(DISTINCT h) AS n_contents,
        |             COUNT(DISTINCT source) AS n_sources FROM b),
        |m AS (SELECT COALESCE(MAX(c), 0) AS max_src
        |      FROM (SELECT COUNT(*) AS c FROM b WHERE source IS NOT NULL GROUP BY source))
        |SELECT 'n_docs' AS metric, a.n_docs::DOUBLE AS value FROM a
        |UNION ALL SELECT 'n_null_text', a.n_null::DOUBLE FROM a
        |UNION ALL SELECT 'n_empty_text', a.n_empty::DOUBLE FROM a
        |UNION ALL SELECT 'n_tokens', a.n_tokens::DOUBLE FROM a
        |UNION ALL SELECT 'avg_tokens_per_doc',
        |  CASE WHEN a.n_text = 0 THEN 0.0 ELSE ROUND(a.n_tokens::DOUBLE / a.n_text, 4) END FROM a
        |UNION ALL SELECT 'n_distinct_contents', a.n_contents::DOUBLE FROM a
        |UNION ALL SELECT 'exact_dup_rate',
        |  CASE WHEN a.n_text = 0 THEN 0.0 ELSE ROUND((a.n_text - a.n_contents)::DOUBLE / a.n_text, 6) END FROM a
        |UNION ALL SELECT 'n_sources', a.n_sources::DOUBLE FROM a
        |UNION ALL SELECT 'max_source_share',
        |  CASE WHEN a.n_docs = 0 THEN 0.0 ELSE ROUND(m.max_src::DOUBLE / a.n_docs, 6) END
        |FROM a CROSS JOIN m""".stripMargin),

    // BM25 keyword retrieval (corpus audit): per-doc scores for a fixed
    // probe query, one term absent from the corpus (contributes
    // nothing). Scores ROUND(4) — the pq54/pq72 double-fold discipline.
    Query("pq86_bm25", (s, dir) =>
      Retrieval.bm25Scores(docs(s, dir), "doc_id", "text",
        Seq("scan", "merge", "window", "zzabsent"), ordered = false)
        .select(col("doc_id"), col("matched"),
          round(col("score"), 4).as("score")), oracle =
      // BM25 with the same tokenization CTEs; idf/tf-norm inlined, score
      // folded by DuckDB in its own order — ROUND(4) absorbs sum-order
      // ulps (the pq54 discipline); matched terms and idf inputs are
      // exact integers
      """WITH t0 AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |            FROM documents WHERE text IS NOT NULL),
        |d AS (SELECT doc_id, len(list_filter(toks, x -> x <> '')) AS dl FROM t0),
        |w AS (SELECT doc_id, lower(unnest(toks)) AS word FROM t0),
        |h AS (SELECT doc_id, word FROM w
        |      WHERE word IN ('scan', 'merge', 'window', 'zzabsent')),
        |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM h GROUP BY 1, 2),
        |dfr AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM h GROUP BY 1),
        |st AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM d),
        |s AS (SELECT tf.doc_id, COUNT(*) AS matched,
        |             SUM(ln(1.0 + (st.n::DOUBLE - dfr.df + 0.5) / (dfr.df + 0.5)) *
        |                 (tf.tf::DOUBLE * 2.2) /
        |                 (tf.tf::DOUBLE + 1.2 * (0.25 + 0.75 * d.dl::DOUBLE / st.avgdl))) AS score
        |      FROM tf JOIN dfr USING (word) JOIN d USING (doc_id) CROSS JOIN st
        |      GROUP BY tf.doc_id)
        |SELECT doc_id, CAST(matched AS BIGINT) AS matched,
        |       ROUND(score, 4) AS score FROM s""".stripMargin),

    // Z-order (Morton) key computation over (custkey, order-day) cells
    // — the multi-column layout key behind data-skipping file layout;
    // pure codegen'd bit arithmetic, oracle-pinned exactly.
    Query("pq55_zorder", (s, dir) => {
      val o = Tables(s, dir, "orders")
      o.select(col("o_orderkey"),
        graft.operators.ZOrder.zValue(Seq(
          graft.operators.ZOrder.modCell(col("o_custkey"), 16),
          graft.operators.ZOrder.modCell(
            datediff(col("o_orderdate"), lit("1970-01-01")), 16)),
          bitsPerDim = 16).as("z"))
    }, oracle =
      // exact-integer bit interleave: bit b of dim i lands at b*2+i —
      // the same unrolled shift/mask arithmetic as the Spark expression
      """WITH c AS (SELECT o_orderkey, o_custkey % 65536 AS ck,
        |         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 65536 AS dy
        |       FROM orders)
        |SELECT o_orderkey,
        |       CAST(list_sum(list_transform(range(0, 16), b ->
        |         (((ck >> b) & 1) << (2 * b)) + (((dy >> b) & 1) << (2 * b + 1)))) AS BIGINT) AS z
        |FROM c""".stripMargin),

    // Event-sequence dataset: one training row per 30-min-gap session
    // with the ordered event-type sequence — sorted-struct collect, so
    // the string is deterministic under any partitioning.
    Query("pq65_session_sequences", (s, dir) =>
      Sequences.sessionSequences(Tables(s, dir, "events"),
        "user_id", "ts", "event_id", "event_type"), oracle =
      // vq22's session CTE + ordered STRING_AGG — the flattened form
      """WITH g AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |                OR epoch(ts) - epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
        |              THEN 1 ELSE 0 END AS new_flag
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |s AS (SELECT user_id, ts, event_id, event_type,
        |        CAST(SUM(new_flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |      FROM g)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |       STRING_AGG(COALESCE(event_type, ''), ' ' ORDER BY ts, event_id) AS sequence
        |FROM s GROUP BY 1, 2""".stripMargin),

    // Unicode normalization (NFC + accent strip) over a fixture with
    // combining marks and precomposed forms — JDK Normalizer vs
    // DuckDB's independent Unicode tables, byte-for-byte.
    Query("pq63_normalize", (s, dir) => {
      val extra = s.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row(90001L, "Café naive"),
        org.apache.spark.sql.Row(90002L, "déjà vu"),
        org.apache.spark.sql.Row(90003L, "Ångström")),
        org.apache.spark.sql.types.StructType.fromDDL("doc_id bigint, text string"))
      TextNormalize.normalize(
        docs(s, dir).select("doc_id", "text").unionByName(extra), "doc_id", "text")
    }, oracle =
      // two independent Unicode implementations must agree byte-for-byte
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (90001, 'Cafe' || chr(769) || ' naive'),
        |    (90002, 'd' || chr(233) || 'ja' || chr(768) || ' vu'),
        |    (90003, 'A' || chr(778) || 'ngstro' || chr(776) || 'm')) t(doc_id, text))
        |SELECT doc_id, nfc_normalize(text) AS nfc, strip_accents(text) AS ascii_folded
        |FROM corpus""".stripMargin),

    // Deterministic train/val/test split assignment: first split whose
    // cumulative hash threshold exceeds the key's md5 prefix — the
    // hex-compare discipline, disjoint + exhaustive by construction.
    Query("pq64_splits", (s, dir) =>
      Sampling.assignSplits(docs(s, dir).select("doc_id"), "doc_id",
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)), salt = "sp"), oracle =
      // same thresholds, computed from the same cumulative weights
      s"""SELECT doc_id,
         |  CASE WHEN doc_id IS NULL THEN NULL
         |       WHEN substr(md5('sp' || CAST(doc_id AS VARCHAR)), 1, 8) < '${Sampling.thresholdHex(0.8)}' THEN 'train'
         |       WHEN substr(md5('sp' || CAST(doc_id AS VARCHAR)), 1, 8) < '${Sampling.thresholdHex(0.8 + 0.1)}' THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents""".stripMargin),

    // Cross-source duplication matrix over a fixture that re-hosts
    // doc_id < 40 under a synthetic source — one hash-keyed
    // collect_set, pair explosion bounded by the source vocabulary,
    // never a hash self-join.
    Query("pq62_source_overlap", (s, dir) => {
      val d = docs(s, dir).select("doc_id", "text", "source")
      val rehosted = d.filter(col("doc_id") < 40)
        .select((col("doc_id") + 90000).as("doc_id"), col("text"),
          lit("srcX").as("source"))
      Overlap.sourceOverlap(d.unionByName(rehosted), "text", "source")
    }, oracle =
      // the set-equivalent self-join formulation over distinct
      // (hash, source) pairs — the operator's collect_set shape provably
      // computes the same matrix
      """WITH corpus AS (
        |  SELECT text, source FROM documents
        |  UNION ALL
        |  SELECT text, 'srcX' AS source FROM documents WHERE doc_id < 40),
        |h AS (SELECT DISTINCT md5(text) AS h, source FROM corpus
        |      WHERE text IS NOT NULL AND source IS NOT NULL)
        |SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
        |FROM h a JOIN h b ON a.h = b.h AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin),

    // Blocklist gate: case-folded whole-token + bigram hit counts with
    // an exact-integer ratio threshold (hits/tokens <= 1/50) — the C4
    // bad-words stage as a score-and-gate, zero shuffle.
    Query("pq61_blocklist", (s, dir) =>
      Blocklist.score(docs(s, dir), "doc_id", "text",
        terms = Seq("slow", "Batch", "hash join"),
        maxHitRatioNum = 1, maxHitRatioDenom = 50), oracle =
      // token + zipped-bigram hit counts over the folded list; the pass
      // gate is the integer cross-multiplied ratio
      """WITH t AS (SELECT doc_id,
        |        list_transform(list_filter(string_split_regex(trim(text), '\s+'), w -> w <> ''), w -> lower(w)) AS toks
        |      FROM documents),
        |h AS (SELECT doc_id,
        |        CAST(COALESCE(len(toks), 0) AS BIGINT) AS n_tokens,
        |        CAST(COALESCE(len(list_filter(toks, w -> w IN ('slow', 'batch')))
        |          + len(list_filter(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1] = 'hash join')), 0) AS BIGINT) AS hits
        |      FROM t)
        |SELECT doc_id, n_tokens, hits, hits * 50 <= n_tokens * 1 AS pass FROM h""".stripMargin),

    // T5-style span-corruption masks: deterministic block Bernoulli +
    // gaps-and-islands merge, reproducible from (salt, doc_id) alone.
    Query("pq60_span_mask", (s, dir) =>
      SpanMask.spans(docs(s, dir), "doc_id", "text", rate = 0.15, blockLen = 3), oracle =
      // the same closed-form block mask + island merge; ANY_VALUE(n) is
      // constant per doc by construction
      """WITH t AS (SELECT doc_id, CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n
        |           FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |b AS (SELECT doc_id, n, unnest(range(0, CAST(ceil(n / 3.0) AS BIGINT))) AS b FROM t WHERE n >= 1),
        |m AS (SELECT doc_id, n, b FROM b
        |      WHERE CAST(('0x' || substr(md5('t5:' || CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 < 1500),
        |g AS (SELECT doc_id, n, b, b - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY b) AS grp FROM m),
        |i AS (SELECT doc_id, grp, MIN(b) AS b0, MAX(b) AS b1, ANY_VALUE(n) AS n FROM g GROUP BY 1, 2)
        |SELECT doc_id,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY b0) AS BIGINT) AS span_id,
        |       CAST(b0 * 3 AS BIGINT) AS tok_start,
        |       CAST(LEAST((b1 + 1) * 3, n) AS BIGINT) AS tok_end
        |FROM i""".stripMargin),

    // Curriculum-ordered shard shuffle: pq34's plan with a per-shard
    // difficulty ramp — order by (n_chars, hash, id) within hash-
    // assigned shards.
    Query("pq59_curriculum_order", (s, dir) =>
      Packing.curriculumShardShuffle(docs(s, dir).select("doc_id", "n_chars"),
        "doc_id", "n_chars", shards = 8)
        .select("doc_id", "shard", "pos"), oracle =
      // same CTE shape as pq34 with the difficulty column leading the
      // within-shard order; NULLS LAST matches the operator contract
      """WITH h AS (
        |  SELECT doc_id, n_chars,
        |         CAST(('0x' || substr(md5('graft:s' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS shard,
        |         CAST(('0x' || substr(md5('graft:o' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h2
        |  FROM documents WHERE doc_id IS NOT NULL)
        |SELECT doc_id, shard,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY n_chars ASC NULLS LAST, h2, doc_id) AS BIGINT) AS pos
        |FROM h""".stripMargin),

    // PCA moment accumulation (the fit's only distributed stage),
    // pinned in exact quantized integers on the leading 8-dim slice:
    // (i, -1, Σq_i) first moments and (i, j, Σq_i·q_j) second moments.
    Query("pq58_pca_moments", (s, dir) =>
      Pca.momentStats(embs(s, dir).select(col("embedding")), "embedding", dims = 8), oracle =
      // exact-integer moment sums over the quantized slice — j = -1
      // marks first moments, the upper triangle carries the seconds
      """WITH qv AS (SELECT list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |            FROM embeddings WHERE embedding IS NOT NULL),
        |fs AS (SELECT CAST(i AS BIGINT) AS i, CAST(-1 AS BIGINT) AS j, CAST(SUM(v[i + 1]) AS BIGINT) AS val
        |       FROM qv, (SELECT unnest(range(0, 8)) AS i) GROUP BY 1),
        |ss AS (SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, CAST(SUM(v[i + 1] * v[j + 1]) AS BIGINT) AS val
        |       FROM qv, (SELECT unnest(range(0, 8)) AS i), (SELECT unnest(range(0, 8)) AS j)
        |       WHERE j >= i GROUP BY 1, 2)
        |SELECT * FROM fs UNION ALL SELECT * FROM ss""".stripMargin),

    // Count-min sketch over the corpus word stream (depth 4, width
    // 256): the fixed-size frequency summary for Zipf-tailed item
    // domains — codegen'd hash projection + one bounded aggregate.
    Query("pq57_countmin", (s, dir) => {
      val words = docs(s, dir)
        .select(explode(graft.llm.TextOps.tokens(col("text"))).as("word"))
        .filter(col("word") =!= "")
      CountMin.build(words, "word", depth = 4, width = 256, salt = "c57")
    }, oracle =
      // exact-integer counters under the portable md5 bucket hash — the
      // sketch TABLE is deterministic even though its estimates are
      // approximate
      """WITH t AS (SELECT string_split_regex(trim(text), '\s+') AS toks
        |           FROM documents WHERE text IS NOT NULL),
        |w AS (SELECT unnest(toks) AS word FROM t),
        |p AS (SELECT j, CAST(('0x' || substr(md5('c57:' || (j // 4) || ':' || word), 1 + 8 * (j % 4), 8)) AS BIGINT) % 256 AS bucket
        |      FROM (SELECT word FROM w WHERE word <> '') z, (SELECT unnest(range(0, 4)) AS j))
        |SELECT j AS row, bucket, COUNT(*) AS cnt FROM p GROUP BY 1, 2""".stripMargin),

    // Span-level contamination report over the shared pq25 fixture:
    // WHICH eval token runs leak from train — per-occurrence gram join
    // + gaps-and-islands merge per eval doc.
    Query("pq81_leaked_spans", (s, dir) => {
      val (train, eval) = decontamFixture(s, dir)
      Decontamination.leakedSpans(train, eval, "doc_id", "text")
    }, oracle =
      // the pq25 fixture verbatim; string shingles stand in for fnv64
      // keys (the pq15 contract), islands merge as in the operator
      """WITH d AS (SELECT doc_id, text FROM documents),
        |ev AS (
        |  SELECT doc_id + 50000 AS doc_id, text FROM d WHERE doc_id < 10
        |  UNION ALL SELECT doc_id + 60000, 'n'||doc_id||'a n'||doc_id||'b n'||doc_id||'c n'||doc_id||'d n'||doc_id||'e' FROM d WHERE doc_id >= 30 AND doc_id < 40
        |  UNION ALL SELECT doc_id + 70000, text || ' q'||doc_id||'a q'||doc_id||'b q'||doc_id||'c' FROM d WHERE doc_id >= 10 AND doc_id < 20),
        |tt AS (SELECT string_split_regex(trim(text), '\s+') AS t FROM d WHERE text IS NOT NULL),
        |tsh AS (SELECT DISTINCT unnest(list_transform(range(1, len(t)-1),
        |          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        |        FROM tt WHERE len(t) >= 3),
        |et AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |       FROM ev WHERE text IS NOT NULL),
        |eo AS (SELECT doc_id, pos, t[pos] || ' ' || t[pos+1] || ' ' || t[pos+2] AS g
        |       FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS pos
        |             FROM et WHERE len(t) >= 3) z),
        |m AS (SELECT eo.doc_id, eo.pos FROM eo JOIN tsh ON eo.g = tsh.s),
        |w AS (SELECT doc_id, pos,
        |        CASE WHEN pos > COALESCE(MAX(pos + 3) OVER (
        |               PARTITION BY doc_id ORDER BY pos
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |             THEN 1 ELSE 0 END AS nw
        |      FROM m),
        |i AS (SELECT doc_id, pos,
        |        SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        |      FROM w)
        |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 3 AS span_end,
        |       MAX(pos) + 3 - MIN(pos) AS n_tokens
        |FROM i GROUP BY doc_id, isl""".stripMargin),

    // Span-level excision: the pq81 spans applied — eval docs rebuilt
    // without their leaked runs via the codegen'd token filter.
    Query("pq82_excise_leaked", (s, dir) => {
      val (train, eval) = decontamFixture(s, dir)
      Decontamination.exciseLeaked(train, eval, "doc_id", "text")
    }, oracle =
      // pq81's span CTEs + the rebuild: tokens whose 1-based position no
      // span covers, rejoined with single spaces over the eval spine
      """WITH d AS (SELECT doc_id, text FROM documents),
        |ev AS (
        |  SELECT doc_id + 50000 AS doc_id, text FROM d WHERE doc_id < 10
        |  UNION ALL SELECT doc_id + 60000, 'n'||doc_id||'a n'||doc_id||'b n'||doc_id||'c n'||doc_id||'d n'||doc_id||'e' FROM d WHERE doc_id >= 30 AND doc_id < 40
        |  UNION ALL SELECT doc_id + 70000, text || ' q'||doc_id||'a q'||doc_id||'b q'||doc_id||'c' FROM d WHERE doc_id >= 10 AND doc_id < 20),
        |tt AS (SELECT string_split_regex(trim(text), '\s+') AS t FROM d WHERE text IS NOT NULL),
        |tsh AS (SELECT DISTINCT unnest(list_transform(range(1, len(t)-1),
        |          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        |        FROM tt WHERE len(t) >= 3),
        |et AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |       FROM ev WHERE text IS NOT NULL),
        |eo AS (SELECT doc_id, pos, t[pos] || ' ' || t[pos+1] || ' ' || t[pos+2] AS g
        |       FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS pos
        |             FROM et WHERE len(t) >= 3) z),
        |m AS (SELECT eo.doc_id, eo.pos FROM eo JOIN tsh ON eo.g = tsh.s),
        |w AS (SELECT doc_id, pos,
        |        CASE WHEN pos > COALESCE(MAX(pos + 3) OVER (
        |               PARTITION BY doc_id ORDER BY pos
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |             THEN 1 ELSE 0 END AS nw
        |      FROM m),
        |i AS (SELECT doc_id, pos,
        |        SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        |      FROM w),
        |sp AS (SELECT doc_id, MIN(pos) AS s0, MAX(pos) + 3 AS s1
        |       FROM i GROUP BY doc_id, isl),
        |agg AS (SELECT e.doc_id, ANY_VALUE(e.t) AS t,
        |          COALESCE(list({'s0': sp.s0, 's1': sp.s1})
        |            FILTER (WHERE sp.doc_id IS NOT NULL), []) AS spans
        |        FROM et e LEFT JOIN sp ON e.doc_id = sp.doc_id
        |        GROUP BY e.doc_id),
        |k AS (SELECT doc_id, t,
        |        list_transform(
        |          list_filter(range(1, len(t) + 1),
        |            i -> len(list_filter(spans, s -> i >= s.s0 AND i < s.s1)) = 0),
        |          i -> t[i]) AS kept
        |      FROM agg)
        |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |       CAST(len(t) - len(kept) AS BIGINT) AS n_removed,
        |       COALESCE(array_to_string(kept, ' '), '') AS cleaned_text
        |FROM k""".stripMargin),

    // Script profile over the corpus + a multilingual fixture: per-class
    // codepoint counts by the length-difference trick and a
    // deterministic argmax — the charset routing prestage before pq4's
    // within-alphabet language ID.
    Query("pq80_script_profile", (s, dir) => {
      val extra = s.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row(91001L, "привет мир 2024"),
        org.apache.spark.sql.Row(91002L, "γειά σου κόσμε"),
        org.apache.spark.sql.Row(91003L, "مرحبا بالعالم"),
        org.apache.spark.sql.Row(91004L, "你好世界 hello"),
        org.apache.spark.sql.Row(91005L, "こんにちは世界"),
        org.apache.spark.sql.Row(91006L, "안녕하세요"),
        org.apache.spark.sql.Row(91007L, null)),
        org.apache.spark.sql.types.StructType.fromDDL("doc_id bigint, text string"))
      TextNormalize.scriptProfile(
        docs(s, dir).select("doc_id", "text").unionByName(extra), "doc_id", "text")
    }, oracle =
      // identical literal codepoint-range classes (named script classes
      // diverge between Java regex and RE2); argmax as a cascading CASE —
      // first class whose count covers every later class's
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (91001, 'привет мир 2024'),
        |    (91002, 'γειά σου κόσμε'),
        |    (91003, 'مرحبا بالعالم'),
        |    (91004, '你好世界 hello'),
        |    (91005, 'こんにちは世界'),
        |    (91006, '안녕하세요'),
        |    (91007, NULL)) t(doc_id, text)),
        |c AS (SELECT doc_id, length(text) AS n,
        |  length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS latin,
        |  length(text) - length(regexp_replace(text, '[Ѐ-ӿ]', '', 'g')) AS cyrillic,
        |  length(text) - length(regexp_replace(text, '[Ͱ-Ͽ]', '', 'g')) AS greek,
        |  length(text) - length(regexp_replace(text, '[؀-ۿ]', '', 'g')) AS arabic,
        |  length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')) AS cjk,
        |  length(text) - length(regexp_replace(text, '[぀-ヿ]', '', 'g')) AS kana,
        |  length(text) - length(regexp_replace(text, '[가-힯]', '', 'g')) AS hangul,
        |  length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digit
        |  FROM corpus)
        |SELECT doc_id, CAST(COALESCE(n, 0) AS BIGINT) AS n_chars,
        |  CAST(COALESCE(latin, 0) AS BIGINT) AS latin,
        |  CAST(COALESCE(cyrillic, 0) AS BIGINT) AS cyrillic,
        |  CAST(COALESCE(greek, 0) AS BIGINT) AS greek,
        |  CAST(COALESCE(arabic, 0) AS BIGINT) AS arabic,
        |  CAST(COALESCE(cjk, 0) AS BIGINT) AS cjk,
        |  CAST(COALESCE(kana, 0) AS BIGINT) AS kana,
        |  CAST(COALESCE(hangul, 0) AS BIGINT) AS hangul,
        |  CAST(COALESCE(digit, 0) AS BIGINT) AS digit,
        |  CAST(COALESCE(n - digit - latin - cyrillic - greek - arabic - cjk - kana - hangul, 0) AS BIGINT) AS other,
        |  CASE WHEN n IS NULL THEN NULL
        |    WHEN latin > 0 AND latin >= GREATEST(cyrillic, greek, arabic, cjk, kana, hangul) THEN 'latin'
        |    WHEN cyrillic > 0 AND cyrillic >= GREATEST(greek, arabic, cjk, kana, hangul) THEN 'cyrillic'
        |    WHEN greek > 0 AND greek >= GREATEST(arabic, cjk, kana, hangul) THEN 'greek'
        |    WHEN arabic > 0 AND arabic >= GREATEST(cjk, kana, hangul) THEN 'arabic'
        |    WHEN cjk > 0 AND cjk >= GREATEST(kana, hangul) THEN 'cjk'
        |    WHEN kana > 0 AND kana >= hangul THEN 'kana'
        |    WHEN hangul > 0 THEN 'hangul'
        |    ELSE 'none' END AS dominant
        |FROM c""".stripMargin),

    // Phrase search (memorization audit): a corpus-drawn 4-token phrase
    // + an absent probe — token-run containment; candidate pruning via
    // the phrase's first shingle hash on the typed index pass.
    Query("pq78_phrase_search", (s, dir) => {
      val d = docs(s, dir)
      val t0 = d.filter(col("text").isNotNull).orderBy("doc_id")
        .select("text").limit(1).collect()(0).getString(0)
      val phrase = graft.llm.TextOps.tokensJvm(t0).filter(_.nonEmpty)
        .take(4).mkString(" ")
      PhraseSearch.find(d, "doc_id", "text", Seq(phrase, "zq1 zq2 zq3"))
    }, oracle =
      // the same corpus-drawn phrase; token-run containment as a
      // space-padded contains over the normalized token stream
      """WITH p0 AS (SELECT array_to_string(
        |         list_filter(string_split_regex(trim(text), '\s+'), w -> w <> '')[1:4],
        |         ' ') AS phrase
        |       FROM (SELECT text FROM documents
        |             WHERE text IS NOT NULL ORDER BY doc_id LIMIT 1)),
        |ph AS (SELECT phrase FROM p0 UNION ALL SELECT 'zq1 zq2 zq3'),
        |n AS (SELECT doc_id,
        |        ' ' || array_to_string(
        |          list_filter(string_split_regex(trim(text), '\s+'), w -> w <> ''),
        |          ' ') || ' ' AS nt
        |      FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL)
        |SELECT ph.phrase, n.doc_id FROM ph
        |JOIN n ON contains(n.nt, ' ' || ph.phrase || ' ')""".stripMargin),

    // Trie blocklist (FlashText shape) over pq61's terms PLUS a
    // corpus-drawn 3-word phrase — the arbitrary-length matcher whose
    // per-token cost is independent of list size.
    Query("pq85_blocklist_trie", (s, dir) => {
      val d = docs(s, dir)
      val t0 = d.filter(col("text").isNotNull).orderBy("doc_id")
        .select("text").limit(1).collect()(0).getString(0)
      val tri = graft.llm.TextOps.tokensJvm(t0).filter(_.nonEmpty)
        .take(3).mkString(" ")
      Blocklist.scoreMany(d, "doc_id", "text",
        terms = Seq("slow", "Batch", "hash join", tri),
        maxHitRatioNum = 1, maxHitRatioDenom = 50)
    }, oracle =
      // pq61's counting extended with the trigram term; the phrase is
      // re-derived from the table (lowercased, the matcher's folding) and
      // cross-joined in as a plain column — DuckDB refuses subqueries
      // inside lambda expressions
      """WITH p0 AS (SELECT lower(array_to_string(
        |         list_filter(string_split_regex(trim(text), '\s+'), w -> w <> '')[1:3],
        |         ' ')) AS tri
        |       FROM (SELECT text FROM documents
        |             WHERE text IS NOT NULL ORDER BY doc_id LIMIT 1)),
        |t AS (SELECT doc_id,
        |        list_transform(list_filter(string_split_regex(trim(text), '\s+'), w -> w <> ''), w -> lower(w)) AS toks,
        |        p0.tri AS tri
        |      FROM documents CROSS JOIN p0),
        |h AS (SELECT doc_id,
        |        CAST(COALESCE(len(toks), 0) AS BIGINT) AS n_tokens,
        |        CAST(COALESCE(
        |          len(list_filter(toks, w -> w IN ('slow', 'batch')))
        |          + len(list_filter(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1] = 'hash join'))
        |          + len(list_filter(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] = tri)), 0) AS BIGINT) AS hits
        |      FROM t)
        |SELECT doc_id, n_tokens, hits, hits * 50 <= n_tokens * 1 AS pass
        |FROM h""".stripMargin),

    // The END-TO-END training-set builder under one oracle: NFC
    // normalize -> quality gate -> exact dedup keep-first -> 0.7 hash
    // sample -> 64-token packing in 4 shards. Thresholds sized so the
    // synthetic corpus exercises both keep and drop paths.
    Query("pq84_training_set", (s, dir) =>
      Pipeline.buildTrainingSet(docs(s, dir).select("doc_id", "text"),
        "doc_id", "text",
        Pipeline.Config(minTokens = 5, maxTokens = 10000, minMeanWlen = 1.0,
          maxMeanWlen = 20.0, minStopRatio = 0.0, minTtr = 0.05,
          maxDupBigramFrac = 1.0, maxTopBigramFrac = 1.0, sampleRate = 0.7,
          targetTokens = 64, shards = 4, salt = "p84")), oracle =
      // every stage's own oracle chained: pq63's nfc_normalize, pq41's
      // metrics at the relaxed thresholds (the sr/dupf/topf conjuncts are
      // tautologies at these settings and drop out), pq1's keep-first,
      // pq27's hex threshold, pq35's pack CTEs at salt p84 / target 64
      s"""WITH nd AS (SELECT doc_id, nfc_normalize(text) AS text
         |            FROM documents WHERE doc_id IS NOT NULL),
         |t AS (SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS toks
         |      FROM nd WHERE text IS NOT NULL),
         |m AS (SELECT doc_id, text, toks, len(toks) AS n,
         |        list_sum(list_transform(toks, w -> len(w)))::DOUBLE / len(toks) AS mw,
         |        len(list_distinct(toks))::DOUBLE / len(toks) AS ttr
         |      FROM t),
         |g AS (SELECT doc_id, text, toks, n FROM m
         |      WHERE n >= 5 AND n <= 10000 AND mw >= 1.0 AND mw <= 20.0
         |        AND ttr >= 0.05),
         |k AS (SELECT md5(text) AS hsh, MIN(doc_id) AS keep FROM g GROUP BY 1),
         |ded AS (SELECT g.doc_id, g.toks FROM g JOIN k ON g.doc_id = k.keep),
         |samp AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n FROM ded
         |         WHERE substr(md5('p84' || CAST(doc_id AS VARCHAR)), 1, 8)
         |               < '${Sampling.thresholdHex(0.7)}'),
         |h AS (SELECT doc_id, n,
         |        CAST(('0x' || substr(md5('p84:s' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 4 AS shard,
         |        CAST(('0x' || substr(md5('p84:o' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h2
         |      FROM samp),
         |o AS (SELECT doc_id, n, shard,
         |        CAST(SUM(n) OVER (PARTITION BY shard ORDER BY h2, doc_id
         |                          ROWS UNBOUNDED PRECEDING) - n AS BIGINT) AS cb
         |      FROM h),
         |sq AS (SELECT doc_id, n, shard, cb,
         |        unnest(range(cb // 64, (cb + greatest(n, 1) - 1) // 64 + 1)) AS seq_id
         |      FROM o)
         |SELECT shard, CAST(seq_id AS BIGINT) AS seq_id, doc_id,
         |       CAST(greatest(seq_id * 64 - cb, 0) AS BIGINT) AS tok_start,
         |       CAST(least((seq_id + 1) * 64 - cb, n) AS BIGINT) AS tok_end
         |FROM sq""".stripMargin),

    // The FULL builder with both optional stages enabled: pq84's chain
    // plus the learned gate (pq99's deterministic weights at dim 1024,
    // membership on the ROUNDED prob — the gate discipline) and
    // decontamination against pq25's eval fixture (drop containment
    // >= 0.8). Thresholds sized so every stage keeps AND drops.
    Query("pq107_training_set_full", (s, dir) => {
      val (_, eval) = decontamFixture(s, dir)
      val weights = Array.tabulate(1024)(j =>
        ((j * 2654435761L) % 4294967296L).toDouble / 4294967296.0 - 0.5)
      Pipeline.buildTrainingSet(docs(s, dir).select("doc_id", "text"),
        "doc_id", "text",
        Pipeline.Config(minTokens = 5, maxTokens = 10000, minMeanWlen = 1.0,
          maxMeanWlen = 20.0, minStopRatio = 0.0, minTtr = 0.05,
          maxDupBigramFrac = 1.0, maxTopBigramFrac = 1.0, sampleRate = 0.7,
          targetTokens = 64, shards = 4, salt = "p107",
          classifierWeights = Some(weights), classifierBias = 0.125,
          classifierThreshold = 0.5, decontamShingleN = 3,
          decontamThreshold = 0.8),
        evalSet = Some(eval))
    }, oracle =
      // pq84's chain with the two optional stages spliced between the
      // heuristic gate and dedup: the learned gate re-derives pq99's
      // hashed score on the gated docs (membership on ROUND(sigmoid, 4)
      // >= 0.5 — exactly what the operator filters on), decontamination
      // re-derives pq25's eval fixture + shingle containment with the
      // CORPUS as the per-doc side (drop at >= 0.8 on the ROUND(3)
      // value); dedup/sample/pack as pq84 at salt p107
      s"""WITH d0 AS (SELECT doc_id, text FROM documents),
         |nd AS (SELECT doc_id, nfc_normalize(text) AS text
         |            FROM documents WHERE doc_id IS NOT NULL),
         |t AS (SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS toks
         |      FROM nd WHERE text IS NOT NULL),
         |m AS (SELECT doc_id, text, toks, len(toks) AS n,
         |        list_sum(list_transform(toks, w -> len(w)))::DOUBLE / len(toks) AS mw,
         |        len(list_distinct(toks))::DOUBLE / len(toks) AS ttr
         |      FROM t),
         |g AS (SELECT doc_id, text, toks, n FROM m
         |      WHERE n >= 5 AND n <= 10000 AND mw >= 1.0 AND mw <= 20.0
         |        AND ttr >= 0.05),
         |lg AS (SELECT doc_id, text, toks, n FROM g
         |       WHERE ROUND(1 / (1 + exp(-(0.125 + COALESCE(list_sum(list_transform(toks, tk ->
         |         ((CAST(('0x'||substr(md5(tk), 1, 8)) AS BIGINT) % 1024) * 2654435761 % 4294967296)::DOUBLE / 4294967296 - 0.5)), 0.0)))), 4) >= 0.5),
         |ev AS (
         |  SELECT doc_id + 50000 AS doc_id, text FROM d0 WHERE doc_id < 10
         |  UNION ALL SELECT doc_id + 60000, 'n'||doc_id||'a n'||doc_id||'b n'||doc_id||'c n'||doc_id||'d n'||doc_id||'e' FROM d0 WHERE doc_id >= 30 AND doc_id < 40
         |  UNION ALL SELECT doc_id + 70000, text || ' q'||doc_id||'a q'||doc_id||'b q'||doc_id||'c' FROM d0 WHERE doc_id >= 10 AND doc_id < 20),
         |et AS (SELECT string_split_regex(trim(nfc_normalize(text)), '\\s+') AS et_t FROM ev),
         |esh AS (SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(et_t)-1),
         |          i -> et_t[i] || ' ' || et_t[i+1] || ' ' || et_t[i+2]))) AS s
         |        FROM et WHERE len(et_t) >= 3),
         |dsh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks)-1),
         |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
         |        FROM lg WHERE len(toks) >= 3),
         |cont AS (SELECT dd.doc_id,
         |           ROUND(SUM(CASE WHEN e.s IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 3) AS c
         |         FROM dsh dd LEFT JOIN esh e USING (s) GROUP BY dd.doc_id),
         |dec AS (SELECT lg.doc_id, lg.text, lg.toks FROM lg LEFT JOIN cont USING (doc_id)
         |        WHERE COALESCE(c, 0.0) < 0.8),
         |k AS (SELECT md5(text) AS hsh, MIN(doc_id) AS keep FROM dec GROUP BY 1),
         |ded AS (SELECT dec.doc_id, dec.toks FROM dec JOIN k ON dec.doc_id = k.keep),
         |samp AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n FROM ded
         |         WHERE substr(md5('p107' || CAST(doc_id AS VARCHAR)), 1, 8)
         |               < '${Sampling.thresholdHex(0.7)}'),
         |h AS (SELECT doc_id, n,
         |        CAST(('0x' || substr(md5('p107:s' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 4 AS shard,
         |        CAST(('0x' || substr(md5('p107:o' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h2
         |      FROM samp),
         |o AS (SELECT doc_id, n, shard,
         |        CAST(SUM(n) OVER (PARTITION BY shard ORDER BY h2, doc_id
         |                          ROWS UNBOUNDED PRECEDING) - n AS BIGINT) AS cb
         |      FROM h),
         |sq AS (SELECT doc_id, n, shard, cb,
         |        unnest(range(cb // 64, (cb + greatest(n, 1) - 1) // 64 + 1)) AS seq_id
         |      FROM o)
         |SELECT shard, CAST(seq_id AS BIGINT) AS seq_id, doc_id,
         |       CAST(greatest(seq_id * 64 - cb, 0) AS BIGINT) AS tok_start,
         |       CAST(least((seq_id + 1) * 64 - cb, n) AS BIGINT) AS tok_end
         |FROM sq""".stripMargin),

    // The MAINTAINING builder: pq107's chain fed two batches (even ids
    // then odd ids) through persisted state — keeper index, bucketed
    // eval-shingle index, per-shard packing cursors, inspection sample
    // — emitting ONLY each batch's packed sequences, no rescan of
    // batch 1 while processing batch 2. The oracle models arrival
    // semantics directly: keeper = first (batch, id) per content hash,
    // packing window ordered by (batch, order-hash, id) within shard —
    // batch 2's spans resume exactly at batch 1's cursors, including
    // continuing a partial final sequence across the batch boundary.
    // State is reset per execution (a fresh two-batch corpus — Bench
    // re-executions must not replay into last run's keeper index).
    Query("pq114_incremental_builder", (s, dir) => {
      val (_, eval) = decontamFixture(s, dir)
      val weights = Array.tabulate(1024)(j =>
        ((j * 2654435761L) % 4294967296L).toDouble / 4294967296.0 - 0.5)
      val cfg = Pipeline.Config(minTokens = 5, maxTokens = 10000,
        minMeanWlen = 1.0, maxMeanWlen = 20.0, minStopRatio = 0.0,
        minTtr = 0.05, maxDupBigramFrac = 1.0, maxTopBigramFrac = 1.0,
        sampleRate = 0.7, targetTokens = 64, shards = 4, salt = "p114",
        classifierWeights = Some(weights), classifierBias = 0.125,
        classifierThreshold = 0.5, decontamShingleN = 3,
        decontamThreshold = 0.8)
      val st = IncrementalPipeline.State(
        perDirName("graft_pq114", dir), perDirPath("graft_pq114", dir))
      // fresh corpus state per execution (re-runs must not replay into
      // last run's keeper index); the eval index is a pure function of
      // the fixture, so it persists across executions
      IncrementalPipeline.resetCorpusState(s, st)
      ensureEvalTable(s, st.evalTable, dir)(
        IncrementalPipeline.saveEvalIndex(eval, "doc_id", "text", cfg, st,
          buckets = 8))
      val d = docs(s, dir).select("doc_id", "text")
      val b1 = IncrementalPipeline.processBatch(
        d.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text",
        cfg, st, sampleK = 7, buckets = 8)
      val b2 = IncrementalPipeline.processBatch(
        d.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "text",
        cfg, st, sampleK = 7, buckets = 8)
      b1.unionByName(b2)
    }, oracle =
      // pq107's CTEs under ARRIVAL semantics: a batch column b = doc_id % 2
      // (even ids arrive first), keeper = first (b, id) per content hash
      // (first-arrival-wins across batches, min-id within one), and the
      // packing window ordered by (b, h2, id) within each shard — which is
      // exactly what per-shard cursors produce: batch 2 resumes where
      // batch 1 stopped, partial final sequences continuing across the
      // boundary. Salt p114 throughout.
      s"""WITH d0 AS (SELECT doc_id, text FROM documents),
         |nd AS (SELECT doc_id, doc_id % 2 AS b, nfc_normalize(text) AS text
         |            FROM documents WHERE doc_id IS NOT NULL),
         |t AS (SELECT doc_id, b, text, string_split_regex(trim(text), '\\s+') AS toks
         |      FROM nd WHERE text IS NOT NULL),
         |m AS (SELECT doc_id, b, text, toks, len(toks) AS n,
         |        list_sum(list_transform(toks, w -> len(w)))::DOUBLE / len(toks) AS mw,
         |        len(list_distinct(toks))::DOUBLE / len(toks) AS ttr
         |      FROM t),
         |g AS (SELECT doc_id, b, text, toks, n FROM m
         |      WHERE n >= 5 AND n <= 10000 AND mw >= 1.0 AND mw <= 20.0
         |        AND ttr >= 0.05),
         |lg AS (SELECT doc_id, b, text, toks, n FROM g
         |       WHERE ROUND(1 / (1 + exp(-(0.125 + COALESCE(list_sum(list_transform(toks, tk ->
         |         ((CAST(('0x'||substr(md5(tk), 1, 8)) AS BIGINT) % 1024) * 2654435761 % 4294967296)::DOUBLE / 4294967296 - 0.5)), 0.0)))), 4) >= 0.5),
         |ev AS (
         |  SELECT doc_id + 50000 AS doc_id, text FROM d0 WHERE doc_id < 10
         |  UNION ALL SELECT doc_id + 60000, 'n'||doc_id||'a n'||doc_id||'b n'||doc_id||'c n'||doc_id||'d n'||doc_id||'e' FROM d0 WHERE doc_id >= 30 AND doc_id < 40
         |  UNION ALL SELECT doc_id + 70000, text || ' q'||doc_id||'a q'||doc_id||'b q'||doc_id||'c' FROM d0 WHERE doc_id >= 10 AND doc_id < 20),
         |et AS (SELECT string_split_regex(trim(nfc_normalize(text)), '\\s+') AS et_t FROM ev),
         |esh AS (SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(et_t)-1),
         |          i -> et_t[i] || ' ' || et_t[i+1] || ' ' || et_t[i+2]))) AS s
         |        FROM et WHERE len(et_t) >= 3),
         |dsh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks)-1),
         |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
         |        FROM lg WHERE len(toks) >= 3),
         |cont AS (SELECT dd.doc_id,
         |           ROUND(SUM(CASE WHEN e.s IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 3) AS c
         |         FROM dsh dd LEFT JOIN esh e USING (s) GROUP BY dd.doc_id),
         |dec AS (SELECT lg.doc_id, lg.b, lg.text, lg.toks FROM lg LEFT JOIN cont USING (doc_id)
         |        WHERE COALESCE(c, 0.0) < 0.8),
         |rk AS (SELECT doc_id, b, toks,
         |         ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY b, doc_id) AS rn
         |       FROM dec),
         |ded AS (SELECT doc_id, b, toks FROM rk WHERE rn = 1),
         |samp AS (SELECT doc_id, b, CAST(len(toks) AS BIGINT) AS n FROM ded
         |         WHERE substr(md5('p114' || CAST(doc_id AS VARCHAR)), 1, 8)
         |               < '${Sampling.thresholdHex(0.7)}'),
         |h AS (SELECT doc_id, b, n,
         |        CAST(('0x' || substr(md5('p114:s' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 4 AS shard,
         |        CAST(('0x' || substr(md5('p114:o' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h2
         |      FROM samp),
         |o AS (SELECT doc_id, n, shard,
         |        CAST(SUM(n) OVER (PARTITION BY shard ORDER BY b, h2, doc_id
         |                          ROWS UNBOUNDED PRECEDING) - n AS BIGINT) AS cb
         |      FROM h),
         |sq AS (SELECT doc_id, n, shard, cb,
         |        unnest(range(cb // 64, (cb + greatest(n, 1) - 1) // 64 + 1)) AS seq_id
         |      FROM o)
         |SELECT shard, CAST(seq_id AS BIGINT) AS seq_id, doc_id,
         |       CAST(greatest(seq_id * 64 - cb, 0) AS BIGINT) AS tok_start,
         |       CAST(least((seq_id + 1) * 64 - cb, n) AS BIGINT) AS tok_end
         |FROM sq""".stripMargin),

    // The one-shot builder with the SEMANTIC decontamination stage
    // (5b) spliced in: pq107's chain plus the pq125 argmax gate — a
    // corpus doc whose embedding's argmax cosine against the eval
    // embeddings (pq125's fixture) rounds to >= 0.99 drops before
    // dedup. Docs without an embedding row pass (no evidence).
    Query("pq135_semantic_builder", (s, dir) => {
      val (_, eval) = decontamFixture(s, dir)
      val weights = Array.tabulate(1024)(j =>
        ((j * 2654435761L) % 4294967296L).toDouble / 4294967296.0 - 0.5)
      Pipeline.buildTrainingSet(docs(s, dir).select("doc_id", "text"),
        "doc_id", "text",
        Pipeline.Config(minTokens = 5, maxTokens = 10000, minMeanWlen = 1.0,
          maxMeanWlen = 20.0, minStopRatio = 0.0, minTtr = 0.05,
          maxDupBigramFrac = 1.0, maxTopBigramFrac = 1.0, sampleRate = 0.7,
          targetTokens = 64, shards = 4, salt = "p135",
          classifierWeights = Some(weights), classifierBias = 0.125,
          classifierThreshold = 0.5, decontamShingleN = 3,
          decontamThreshold = 0.8, semanticTau = 0.99),
        evalSet = Some(eval),
        semantic = Some(Pipeline.Semantic(
          embs(s, dir).select(col("vec_id").as("doc_id"), col("embedding")),
          semanticEvalSet(s, dir)
            .select(col("vec_id").as("doc_id"), col("embedding")))))
    }, oracle =
      // pq107's CTEs (salt p135) with the pq125 semantic-decontamination
      // argmax spliced between shingle decontamination and exact dedup:
      // a doc whose embedding argmax-cosine against the eval embeddings
      // rounds to >= 0.99 is anti-joined out; docs without an embedding
      // row pass.
      s"""WITH d0 AS (SELECT doc_id, text FROM documents),
         |nd AS (SELECT doc_id, nfc_normalize(text) AS text
         |            FROM documents WHERE doc_id IS NOT NULL),
         |t AS (SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS toks
         |      FROM nd WHERE text IS NOT NULL),
         |m AS (SELECT doc_id, text, toks, len(toks) AS n,
         |        list_sum(list_transform(toks, w -> len(w)))::DOUBLE / len(toks) AS mw,
         |        len(list_distinct(toks))::DOUBLE / len(toks) AS ttr
         |      FROM t),
         |g AS (SELECT doc_id, text, toks, n FROM m
         |      WHERE n >= 5 AND n <= 10000 AND mw >= 1.0 AND mw <= 20.0
         |        AND ttr >= 0.05),
         |lg AS (SELECT doc_id, text, toks, n FROM g
         |       WHERE ROUND(1 / (1 + exp(-(0.125 + COALESCE(list_sum(list_transform(toks, tk ->
         |         ((CAST(('0x'||substr(md5(tk), 1, 8)) AS BIGINT) % 1024) * 2654435761 % 4294967296)::DOUBLE / 4294967296 - 0.5)), 0.0)))), 4) >= 0.5),
         |ev AS (
         |  SELECT doc_id + 50000 AS doc_id, text FROM d0 WHERE doc_id < 10
         |  UNION ALL SELECT doc_id + 60000, 'n'||doc_id||'a n'||doc_id||'b n'||doc_id||'c n'||doc_id||'d n'||doc_id||'e' FROM d0 WHERE doc_id >= 30 AND doc_id < 40
         |  UNION ALL SELECT doc_id + 70000, text || ' q'||doc_id||'a q'||doc_id||'b q'||doc_id||'c' FROM d0 WHERE doc_id >= 10 AND doc_id < 20),
         |et AS (SELECT string_split_regex(trim(nfc_normalize(text)), '\\s+') AS et_t FROM ev),
         |esh AS (SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(et_t)-1),
         |          i -> et_t[i] || ' ' || et_t[i+1] || ' ' || et_t[i+2]))) AS s
         |        FROM et WHERE len(et_t) >= 3),
         |dsh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks)-1),
         |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
         |        FROM lg WHERE len(toks) >= 3),
         |cont AS (SELECT dd.doc_id,
         |           ROUND(SUM(CASE WHEN e.s IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 3) AS c
         |         FROM dsh dd LEFT JOIN esh e USING (s) GROUP BY dd.doc_id),
         |dec AS (SELECT lg.doc_id, lg.text, lg.toks FROM lg LEFT JOIN cont USING (doc_id)
         |        WHERE COALESCE(c, 0.0) < 0.8),
         |stq AS (SELECT vec_id, list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
         |        FROM embeddings WHERE embedding IS NOT NULL),
         |stn AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS n2 FROM stq),
         |sev AS (SELECT vec_id + 50000 AS eid,
         |          list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) * 1.01 AS FLOAT)) AS emb
         |        FROM embeddings WHERE vec_id < 15 AND embedding IS NOT NULL),
         |seq AS (SELECT eid, list_transform(emb, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v FROM sev),
         |sen AS (SELECT eid, v, list_sum(list_transform(v, x -> x * x)) AS n2 FROM seq),
         |sp AS (SELECT t.vec_id, e.eid,
         |         list_sum(list_transform(range(1, len(t.v) + 1), i -> t.v[i] * e.v[i]))
         |           / sqrt(e.n2::DOUBLE * t.n2::DOUBLE) AS cos
         |       FROM stn t CROSS JOIN sen e WHERE t.n2 > 0 AND e.n2 > 0),
         |sr AS (SELECT vec_id, eid, cos,
         |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, eid) AS rnk
         |       FROM sp),
         |sfl AS (SELECT vec_id FROM sr WHERE rnk = 1 AND ROUND(cos, 4) >= 0.99),
         |sdec AS (SELECT dec.* FROM dec LEFT JOIN sfl ON dec.doc_id = sfl.vec_id
         |         WHERE sfl.vec_id IS NULL),
         |k AS (SELECT md5(text) AS hsh, MIN(doc_id) AS keep FROM sdec GROUP BY 1),
         |ded AS (SELECT sdec.doc_id, sdec.toks FROM sdec JOIN k ON sdec.doc_id = k.keep),
         |samp AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n FROM ded
         |         WHERE substr(md5('p135' || CAST(doc_id AS VARCHAR)), 1, 8)
         |               < '${Sampling.thresholdHex(0.7)}'),
         |h AS (SELECT doc_id, n,
         |        CAST(('0x' || substr(md5('p135:s' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 4 AS shard,
         |        CAST(('0x' || substr(md5('p135:o' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h2
         |      FROM samp),
         |o AS (SELECT doc_id, n, shard,
         |        CAST(SUM(n) OVER (PARTITION BY shard ORDER BY h2, doc_id
         |                          ROWS UNBOUNDED PRECEDING) - n AS BIGINT) AS cb
         |      FROM h),
         |sq AS (SELECT doc_id, n, shard, cb,
         |        unnest(range(cb // 64, (cb + greatest(n, 1) - 1) // 64 + 1)) AS seq_id
         |      FROM o)
         |SELECT shard, CAST(seq_id AS BIGINT) AS seq_id, doc_id,
         |       CAST(greatest(seq_id * 64 - cb, 0) AS BIGINT) AS tok_start,
         |       CAST(least((seq_id + 1) * 64 - cb, n) AS BIGINT) AS tok_end
         |FROM sq""".stripMargin),

    // The MAINTAINING builder with the semantic gate: pq114's
    // two-batch arrival chain, each batch gated against the PERSISTED
    // eval-embedding index (stage 5b is a pure per-doc function of the
    // fixed index, so it composes with arrival semantics unchanged).
    Query("pq136_incremental_semantic", (s, dir) => {
      val (_, eval) = decontamFixture(s, dir)
      val weights = Array.tabulate(1024)(j =>
        ((j * 2654435761L) % 4294967296L).toDouble / 4294967296.0 - 0.5)
      val cfg = Pipeline.Config(minTokens = 5, maxTokens = 10000,
        minMeanWlen = 1.0, maxMeanWlen = 20.0, minStopRatio = 0.0,
        minTtr = 0.05, maxDupBigramFrac = 1.0, maxTopBigramFrac = 1.0,
        sampleRate = 0.7, targetTokens = 64, shards = 4, salt = "p136",
        classifierWeights = Some(weights), classifierBias = 0.125,
        classifierThreshold = 0.5, decontamShingleN = 3,
        decontamThreshold = 0.8, semanticTau = 0.99)
      val st = IncrementalPipeline.State(
        perDirName("graft_pq136", dir), perDirPath("graft_pq136", dir))
      IncrementalPipeline.resetCorpusState(s, st)
      ensureEvalTable(s, st.evalTable, dir)(
        IncrementalPipeline.saveEvalIndex(eval, "doc_id", "text", cfg, st,
          buckets = 8))
      ensureEvalTable(s, st.semanticTable, dir, "embeddings.parquet") {
        IncrementalPipeline.saveEvalEmbeddings(
          semanticEvalSet(s, dir)
            .select(col("vec_id").as("doc_id"), col("embedding")),
          "doc_id", "embedding", st)
        ()
      }
      // bounded fixture: the EVEN half of the corpus (batches = the
      // mod-4 classes) — the composition is fully exercised while the
      // row's bench mass stays half of pq114's (the new-row-dilution
      // discipline; pq114 remains the full-size maintaining row)
      val d = docs(s, dir).select("doc_id", "text")
        .filter(pmod(col("doc_id"), lit(2)) === 0)
      val e = embs(s, dir).select(col("vec_id").as("doc_id"), col("embedding"))
      // sampleK=0/audit=false: the side-state machinery is pq114's
      // pinned territory; this row pins the SEMANTIC stage composition
      val b1 = IncrementalPipeline.processBatch(
        d.filter(pmod(col("doc_id"), lit(4)) === 0), "doc_id", "text",
        cfg, st, sampleK = 0, audit = false, buckets = 8,
        batchEmbeddings = Some(e.filter(pmod(col("doc_id"), lit(4)) === 0)))
      val b2 = IncrementalPipeline.processBatch(
        d.filter(pmod(col("doc_id"), lit(4)) === 2), "doc_id", "text",
        cfg, st, sampleK = 0, audit = false, buckets = 8,
        batchEmbeddings = Some(e.filter(pmod(col("doc_id"), lit(4)) === 2)))
      b1.unionByName(b2)
    }, oracle =
      // pq114's arrival-semantic CTEs (salt p136) with the pq125 argmax
      // gate anti-joined before exact dedup — the semantic gate is a
      // pure per-doc function of the fixed eval-embedding index, so the
      // per-batch gating in the maintaining chain equals one global
      // anti-join (the pq120/pq25 batch-decomposability precedent).
      s"""WITH d0 AS (SELECT doc_id, text FROM documents),
         |nd AS (SELECT doc_id, CASE WHEN doc_id % 4 = 0 THEN 0 ELSE 1 END AS b,
         |            nfc_normalize(text) AS text
         |            FROM documents WHERE doc_id IS NOT NULL AND doc_id % 2 = 0),
         |t AS (SELECT doc_id, b, text, string_split_regex(trim(text), '\\s+') AS toks
         |      FROM nd WHERE text IS NOT NULL),
         |m AS (SELECT doc_id, b, text, toks, len(toks) AS n,
         |        list_sum(list_transform(toks, w -> len(w)))::DOUBLE / len(toks) AS mw,
         |        len(list_distinct(toks))::DOUBLE / len(toks) AS ttr
         |      FROM t),
         |g AS (SELECT doc_id, b, text, toks, n FROM m
         |      WHERE n >= 5 AND n <= 10000 AND mw >= 1.0 AND mw <= 20.0
         |        AND ttr >= 0.05),
         |lg AS (SELECT doc_id, b, text, toks, n FROM g
         |       WHERE ROUND(1 / (1 + exp(-(0.125 + COALESCE(list_sum(list_transform(toks, tk ->
         |         ((CAST(('0x'||substr(md5(tk), 1, 8)) AS BIGINT) % 1024) * 2654435761 % 4294967296)::DOUBLE / 4294967296 - 0.5)), 0.0)))), 4) >= 0.5),
         |ev AS (
         |  SELECT doc_id + 50000 AS doc_id, text FROM d0 WHERE doc_id < 10
         |  UNION ALL SELECT doc_id + 60000, 'n'||doc_id||'a n'||doc_id||'b n'||doc_id||'c n'||doc_id||'d n'||doc_id||'e' FROM d0 WHERE doc_id >= 30 AND doc_id < 40
         |  UNION ALL SELECT doc_id + 70000, text || ' q'||doc_id||'a q'||doc_id||'b q'||doc_id||'c' FROM d0 WHERE doc_id >= 10 AND doc_id < 20),
         |et AS (SELECT string_split_regex(trim(nfc_normalize(text)), '\\s+') AS et_t FROM ev),
         |esh AS (SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(et_t)-1),
         |          i -> et_t[i] || ' ' || et_t[i+1] || ' ' || et_t[i+2]))) AS s
         |        FROM et WHERE len(et_t) >= 3),
         |dsh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks)-1),
         |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
         |        FROM lg WHERE len(toks) >= 3),
         |cont AS (SELECT dd.doc_id,
         |           ROUND(SUM(CASE WHEN e.s IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 3) AS c
         |         FROM dsh dd LEFT JOIN esh e USING (s) GROUP BY dd.doc_id),
         |dec AS (SELECT lg.doc_id, lg.b, lg.text, lg.toks FROM lg LEFT JOIN cont USING (doc_id)
         |        WHERE COALESCE(c, 0.0) < 0.8),
         |stq AS (SELECT vec_id, list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
         |        FROM embeddings WHERE embedding IS NOT NULL),
         |stn AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS n2 FROM stq),
         |sev AS (SELECT vec_id + 50000 AS eid,
         |          list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) * 1.01 AS FLOAT)) AS emb
         |        FROM embeddings WHERE vec_id < 15 AND embedding IS NOT NULL),
         |seq AS (SELECT eid, list_transform(emb, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v FROM sev),
         |sen AS (SELECT eid, v, list_sum(list_transform(v, x -> x * x)) AS n2 FROM seq),
         |sp AS (SELECT t.vec_id, e.eid,
         |         list_sum(list_transform(range(1, len(t.v) + 1), i -> t.v[i] * e.v[i]))
         |           / sqrt(e.n2::DOUBLE * t.n2::DOUBLE) AS cos
         |       FROM stn t CROSS JOIN sen e WHERE t.n2 > 0 AND e.n2 > 0),
         |sr AS (SELECT vec_id, eid, cos,
         |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, eid) AS rnk
         |       FROM sp),
         |sfl AS (SELECT vec_id FROM sr WHERE rnk = 1 AND ROUND(cos, 4) >= 0.99),
         |sdec AS (SELECT dec.* FROM dec LEFT JOIN sfl ON dec.doc_id = sfl.vec_id
         |         WHERE sfl.vec_id IS NULL),
         |rk AS (SELECT doc_id, b, toks,
         |         ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY b, doc_id) AS rn
         |       FROM sdec),
         |ded AS (SELECT doc_id, b, toks FROM rk WHERE rn = 1),
         |samp AS (SELECT doc_id, b, CAST(len(toks) AS BIGINT) AS n FROM ded
         |         WHERE substr(md5('p136' || CAST(doc_id AS VARCHAR)), 1, 8)
         |               < '${Sampling.thresholdHex(0.7)}'),
         |h AS (SELECT doc_id, b, n,
         |        CAST(('0x' || substr(md5('p136:s' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 4 AS shard,
         |        CAST(('0x' || substr(md5('p136:o' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h2
         |      FROM samp),
         |o AS (SELECT doc_id, n, shard,
         |        CAST(SUM(n) OVER (PARTITION BY shard ORDER BY b, h2, doc_id
         |                          ROWS UNBOUNDED PRECEDING) - n AS BIGINT) AS cb
         |      FROM h),
         |sq AS (SELECT doc_id, n, shard, cb,
         |        unnest(range(cb // 64, (cb + greatest(n, 1) - 1) // 64 + 1)) AS seq_id
         |      FROM o)
         |SELECT shard, CAST(seq_id AS BIGINT) AS seq_id, doc_id,
         |       CAST(greatest(seq_id * 64 - cb, 0) AS BIGINT) AS tok_start,
         |       CAST(least((seq_id + 1) * 64 - cb, n) AS BIGINT) AS tok_end
         |FROM sq""".stripMargin),

    // The MAINTAINING builder with the FUZZY (MinHash) tier — stage 6b
    // against the persisted band index. The fixture plants near-dups
    // in both positions the tier must catch: +10000 copies (one
    // appended token) of even docs 20..28 arrive IN batch 1 with their
    // originals (dup_in_batch — min-id keeper wins), and +20000 copies
    // arrive in batch 2 (dup_of_history against batch 1's accepted
    // sketches, no rescan of batch 1). pq24's sketch parameters
    // (9 hashes / 3 bands / 5-of-9).
    Query("pq137_incremental_fuzzy", (s, dir) => {
      val (_, eval) = decontamFixture(s, dir)
      val weights = Array.tabulate(1024)(j =>
        ((j * 2654435761L) % 4294967296L).toDouble / 4294967296.0 - 0.5)
      val cfg = Pipeline.Config(minTokens = 5, maxTokens = 10000,
        minMeanWlen = 1.0, maxMeanWlen = 20.0, minStopRatio = 0.0,
        minTtr = 0.05, maxDupBigramFrac = 1.0, maxTopBigramFrac = 1.0,
        sampleRate = 0.7, targetTokens = 64, shards = 4, salt = "p137",
        classifierWeights = Some(weights), classifierBias = 0.125,
        classifierThreshold = 0.5, decontamShingleN = 3,
        decontamThreshold = 0.8, fuzzyDedup = true)
      val st = IncrementalPipeline.State(
        perDirName("graft_pq137", dir), perDirPath("graft_pq137", dir))
      IncrementalPipeline.resetCorpusState(s, st)
      ensureEvalTable(s, st.evalTable, dir)(
        IncrementalPipeline.saveEvalIndex(eval, "doc_id", "text", cfg, st,
          buckets = 8))
      // bounded fixture: the QUARTER corpus (batches = the mod-8
      // classes) — the fuzzy tier's sketch/band machinery is the
      // heaviest composition, so its bench mass is bounded hardest
      // (pq114 remains the full-size maintaining row)
      val d = docs(s, dir).select("doc_id", "text")
        .filter(pmod(col("doc_id"), lit(4)) === 0)
      val seeds = d.filter(col("doc_id") >= 20 && col("doc_id") < 60 &&
        pmod(col("doc_id"), lit(8)) === 0)
      // sampleK=0/audit=false: the side-state machinery is pq114's
      // pinned territory; this row pins the FUZZY tier composition
      val b1 = IncrementalPipeline.processBatch(
        d.filter(pmod(col("doc_id"), lit(8)) === 0)
          .unionByName(seeds.select((col("doc_id") + 10000).as("doc_id"),
            concat(col("text"), lit(" xtra")).as("text"))),
        "doc_id", "text", cfg, st, sampleK = 0, audit = false, buckets = 8)
      val b2 = IncrementalPipeline.processBatch(
        d.filter(pmod(col("doc_id"), lit(8)) === 4)
          .unionByName(seeds.select((col("doc_id") + 20000).as("doc_id"),
            concat(col("text"), lit(" xtrb")).as("text"))),
        "doc_id", "text", cfg, st, sampleK = 0, audit = false, buckets = 8)
      b1.unionByName(b2)
    }, oracle =
      // pq114's arrival-semantic CTEs (salt p137) over a corpus planted
      // with near-dup copies, plus the FUZZY tier between exact dedup
      // and sampling: per batch, pq24's MinHash machinery (9 md5
      // hashes, 3 bands, 5-of-9 estimate) — batch 1 candidates are
      // in-batch pairs (smaller id wins), batch 2 candidates run against
      // batch 1's ACCEPTED docs (the persisted band index) and batch 2
      // peers. Drops = either arm.
      s"""WITH d0 AS (SELECT doc_id, text FROM documents),
         |corp AS (
         |  SELECT doc_id, CASE WHEN doc_id % 8 = 0 THEN 0 ELSE 1 END AS b, text
         |  FROM documents WHERE doc_id IS NOT NULL AND doc_id % 4 = 0
         |  UNION ALL SELECT doc_id + 10000, 0, text || ' xtra' FROM documents
         |    WHERE doc_id >= 20 AND doc_id < 60 AND doc_id % 8 = 0
         |  UNION ALL SELECT doc_id + 20000, 1, text || ' xtrb' FROM documents
         |    WHERE doc_id >= 20 AND doc_id < 60 AND doc_id % 8 = 0),
         |nd AS (SELECT doc_id, b, nfc_normalize(text) AS text FROM corp),
         |t AS (SELECT doc_id, b, text, string_split_regex(trim(text), '\\s+') AS toks
         |      FROM nd WHERE text IS NOT NULL),
         |m AS (SELECT doc_id, b, text, toks, len(toks) AS n,
         |        list_sum(list_transform(toks, w -> len(w)))::DOUBLE / len(toks) AS mw,
         |        len(list_distinct(toks))::DOUBLE / len(toks) AS ttr
         |      FROM t),
         |g AS (SELECT doc_id, b, text, toks, n FROM m
         |      WHERE n >= 5 AND n <= 10000 AND mw >= 1.0 AND mw <= 20.0
         |        AND ttr >= 0.05),
         |lg AS (SELECT doc_id, b, text, toks, n FROM g
         |       WHERE ROUND(1 / (1 + exp(-(0.125 + COALESCE(list_sum(list_transform(toks, tk ->
         |         ((CAST(('0x'||substr(md5(tk), 1, 8)) AS BIGINT) % 1024) * 2654435761 % 4294967296)::DOUBLE / 4294967296 - 0.5)), 0.0)))), 4) >= 0.5),
         |ev AS (
         |  SELECT doc_id + 50000 AS doc_id, text FROM d0 WHERE doc_id < 10
         |  UNION ALL SELECT doc_id + 60000, 'n'||doc_id||'a n'||doc_id||'b n'||doc_id||'c n'||doc_id||'d n'||doc_id||'e' FROM d0 WHERE doc_id >= 30 AND doc_id < 40
         |  UNION ALL SELECT doc_id + 70000, text || ' q'||doc_id||'a q'||doc_id||'b q'||doc_id||'c' FROM d0 WHERE doc_id >= 10 AND doc_id < 20),
         |et AS (SELECT string_split_regex(trim(nfc_normalize(text)), '\\s+') AS et_t FROM ev),
         |esh AS (SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(et_t)-1),
         |          i -> et_t[i] || ' ' || et_t[i+1] || ' ' || et_t[i+2]))) AS s
         |        FROM et WHERE len(et_t) >= 3),
         |dsh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks)-1),
         |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
         |        FROM lg WHERE len(toks) >= 3),
         |cont AS (SELECT dd.doc_id,
         |           ROUND(SUM(CASE WHEN e.s IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 3) AS c
         |         FROM dsh dd LEFT JOIN esh e USING (s) GROUP BY dd.doc_id),
         |dec AS (SELECT lg.doc_id, lg.b, lg.text, lg.toks FROM lg LEFT JOIN cont USING (doc_id)
         |        WHERE COALESCE(c, 0.0) < 0.8),
         |rk AS (SELECT doc_id, b, toks,
         |         ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY b, doc_id) AS rn
         |       FROM dec),
         |ded AS (SELECT doc_id, b, toks FROM rk WHERE rn = 1),
         |fsh AS (SELECT doc_id, b,
         |          list_distinct(list_transform(range(1, len(toks)-1),
         |            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
         |        FROM ded WHERE len(toks) >= 3),
         |fsig AS (SELECT doc_id, b, list_transform(range(0, 9),
         |           k -> list_min(list_transform(shingles, x -> md5(k::VARCHAR || ':' || x)))) AS mh
         |         FROM fsh),
         |fband AS (SELECT doc_id, b, u.bb,
         |            md5(mh[3*u.bb+1] || mh[3*u.bb+2] || mh[3*u.bb+3]) AS bk
         |          FROM fsig, unnest([0, 1, 2]) AS u(bb)),
         |c1 AS (SELECT DISTINCT x.doc_id AS xid, y.doc_id AS yid
         |       FROM fband x JOIN fband y ON x.bk = y.bk AND x.bb = y.bb
         |        AND x.b = 0 AND y.b = 0 AND y.doc_id < x.doc_id),
         |d1 AS (SELECT DISTINCT c1.xid
         |       FROM c1 JOIN fsig sx ON sx.doc_id = c1.xid
         |               JOIN fsig sy ON sy.doc_id = c1.yid
         |       WHERE len(list_filter(range(1, 10), i -> sx.mh[i] = sy.mh[i])) >= 5),
         |acc1 AS (SELECT ded.doc_id FROM ded LEFT JOIN d1 ON ded.doc_id = d1.xid
         |         WHERE ded.b = 0 AND d1.xid IS NULL),
         |c2h AS (SELECT DISTINCT x.doc_id AS xid, y.doc_id AS yid
         |        FROM fband x JOIN fband y ON x.bk = y.bk AND x.bb = y.bb
         |         AND x.b = 1 AND y.b = 0
         |        JOIN acc1 a ON a.doc_id = y.doc_id),
         |d2h AS (SELECT DISTINCT c2h.xid
         |        FROM c2h JOIN fsig sx ON sx.doc_id = c2h.xid
         |                JOIN fsig sy ON sy.doc_id = c2h.yid
         |        WHERE len(list_filter(range(1, 10), i -> sx.mh[i] = sy.mh[i])) >= 5),
         |c2b AS (SELECT DISTINCT x.doc_id AS xid, y.doc_id AS yid
         |        FROM fband x JOIN fband y ON x.bk = y.bk AND x.bb = y.bb
         |         AND x.b = 1 AND y.b = 1 AND y.doc_id < x.doc_id),
         |d2b AS (SELECT DISTINCT c2b.xid
         |        FROM c2b JOIN fsig sx ON sx.doc_id = c2b.xid
         |                JOIN fsig sy ON sy.doc_id = c2b.yid
         |        WHERE len(list_filter(range(1, 10), i -> sx.mh[i] = sy.mh[i])) >= 5),
         |facc AS (SELECT ded.doc_id, ded.b, ded.toks FROM ded
         |         LEFT JOIN d1 ON ded.b = 0 AND ded.doc_id = d1.xid
         |         LEFT JOIN d2h ON ded.b = 1 AND ded.doc_id = d2h.xid
         |         LEFT JOIN d2b ON ded.b = 1 AND ded.doc_id = d2b.xid
         |         WHERE d1.xid IS NULL AND d2h.xid IS NULL AND d2b.xid IS NULL),
         |samp AS (SELECT doc_id, b, CAST(len(toks) AS BIGINT) AS n FROM facc
         |         WHERE substr(md5('p137' || CAST(doc_id AS VARCHAR)), 1, 8)
         |               < '${Sampling.thresholdHex(0.7)}'),
         |h AS (SELECT doc_id, b, n,
         |        CAST(('0x' || substr(md5('p137:s' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 4 AS shard,
         |        CAST(('0x' || substr(md5('p137:o' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h2
         |      FROM samp),
         |o AS (SELECT doc_id, n, shard,
         |        CAST(SUM(n) OVER (PARTITION BY shard ORDER BY b, h2, doc_id
         |                          ROWS UNBOUNDED PRECEDING) - n AS BIGINT) AS cb
         |      FROM h),
         |sq AS (SELECT doc_id, n, shard, cb,
         |        unnest(range(cb // 64, (cb + greatest(n, 1) - 1) // 64 + 1)) AS seq_id
         |      FROM o)
         |SELECT shard, CAST(seq_id AS BIGINT) AS seq_id, doc_id,
         |       CAST(greatest(seq_id * 64 - cb, 0) AS BIGINT) AS tok_start,
         |       CAST(least((seq_id + 1) * 64 - cb, n) AS BIGINT) AS tok_end
         |FROM sq""".stripMargin),

    // Cluster-balanced downsampling: cap documents per k-means cell
    // (the diversity-pruning stage — dense embedding regions stop
    // dominating the mix) as pure composition of two pinned operators:
    // broadcast-argmin assignment under pq46's fixed centroids, then
    // the exact per-stratum cap with the cell as the stratum.
    Query("pq83_cluster_balanced", (s, dir) => {
      val assigned = Clustering.assign(embs(s, dir).select("vec_id", "embedding"),
        "vec_id", "embedding", KmeansOracleCentroids, ordered = false)
      Sampling.topKPerStratum(assigned, "vec_id", "cluster", k = 40, salt = "cb")
    }, oracle =
      // pq46's assignment CTEs + pq43's hash-rank cap with the cell as
      // the stratum
      s"""WITH $KmeansAssignCtes,
         |s AS (SELECT vec_id, c FROM a WHERE rnk = 1),
         |h AS (SELECT vec_id, c,
         |        substr(md5('cb' || CAST(vec_id AS VARCHAR)), 1, 8) AS hx
         |      FROM s),
         |r AS (SELECT vec_id, c,
         |        ROW_NUMBER() OVER (PARTITION BY c ORDER BY hx, vec_id) AS rn
         |      FROM h)
         |SELECT vec_id, CAST(c AS BIGINT) AS cluster FROM r WHERE rn <= 40""".stripMargin),

    // Distributed per-source cardinality estimates over the pq75
    // register tables — the estimator as Columns (exact dyadic sums,
    // shared linear-counting correction), no driver collect.
    Query("pq79_hll_estimates", (s, dir) => {
      val words = docs(s, dir)
        .select(col("source"), explode(graft.llm.TextOps.tokens(col("text"))).as("word"))
        .filter(col("word") =!= "")
      Hll.estimateByGroup(
        Hll.sketchByGroup(words, "source", "word", m = 128, salt = "h75",
          ordered = false),
        "source", m = 128)
        .select(col("source"), round(col("estimate"), 4).as("estimate"))
    }, oracle =
      // pq75's register CTEs + the identical estimator arithmetic (alpha
      // recomputed from the same literal expression; ROUND(4) guards ln)
      """WITH t AS (SELECT source, string_split_regex(trim(text), '\s+') AS toks
        |           FROM documents WHERE text IS NOT NULL),
        |w AS (SELECT source, unnest(toks) AS word FROM t),
        |hx AS (SELECT source,
        |             CAST(('0x' || substr(md5('h75:' || word), 1, 8)) AS BIGINT) % 128 AS register,
        |             CAST(('0x' || substr(md5('h75:' || word), 9, 8)) AS BIGINT) AS v
        |      FROM w WHERE word <> ''),
        |r AS (SELECT source, register,
        |             CASE WHEN v = 0 THEN 33 ELSE 32 - CAST(floor(log2(v)) AS BIGINT) END AS rho
        |      FROM hx),
        |sk AS (SELECT source, register, MAX(rho) AS max_rho FROM r GROUP BY 1, 2),
        |a AS (SELECT source,
        |        SUM(power(2.0, -CAST(max_rho AS DOUBLE))) AS ps,
        |        COUNT(*) AS pc
        |      FROM sk GROUP BY 1),
        |e AS (SELECT source, 128 - pc AS zeros,
        |        ((0.7213 / (1.0 + 1.079 / 128.0)) * 16384.0)
        |          / (ps + CAST(128 - pc AS DOUBLE)) AS raw
        |      FROM a)
        |SELECT source,
        |       ROUND(CASE WHEN raw <= 320.0 AND zeros > 0
        |                  THEN 128.0 * ln(128.0 / CAST(zeros AS DOUBLE))
        |                  ELSE raw END, 4) AS estimate
        |FROM e""".stripMargin),

    // Per-source bottom-k shingle sketches (k = 64): the corpus-level
    // overlap summary — distinct (source, md5 shingle key) + a rank
    // window bounded by the rank-limit pushdown; pairwise Jaccard
    // estimates read these k-row sketches, never the corpus.
    Query("pq77_source_sketches", (s, dir) =>
      CorpusSimilarity.sourceSketches(docs(s, dir), "source", "text",
        shingleN = 3, k = 64), oracle =
      // the same distinct md5 shingle keys + bottom-k rank per source
      """WITH t AS (SELECT source, string_split_regex(trim(text), '\s+') AS toks
        |           FROM documents WHERE text IS NOT NULL),
        |s AS (SELECT source, unnest(list_transform(range(1, len(toks) - 1),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gstr
        |      FROM t WHERE len(toks) >= 3),
        |h AS (SELECT DISTINCT source, md5(gstr) AS h FROM s),
        |r AS (SELECT source, h,
        |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
        |      FROM h)
        |SELECT source, h FROM r WHERE rn <= 64""".stripMargin),

    // Per-source HLL register tables: "distinct words per source" as m
    // rows per group instead of a corpus-shaped COUNT DISTINCT; group
    // sketches roll up by register-wise MAX.
    Query("pq75_hll_by_source", (s, dir) => {
      val words = docs(s, dir)
        .select(col("source"), explode(graft.llm.TextOps.tokens(col("text"))).as("word"))
        .filter(col("word") =!= "")
      Hll.sketchByGroup(words, "source", "word", m = 128, salt = "h75")
    }, oracle =
      // pq66's rho arithmetic with source in the GROUP BY
      """WITH t AS (SELECT source, string_split_regex(trim(text), '\s+') AS toks
        |           FROM documents WHERE text IS NOT NULL),
        |w AS (SELECT source, unnest(toks) AS word FROM t),
        |h AS (SELECT source,
        |             CAST(('0x' || substr(md5('h75:' || word), 1, 8)) AS BIGINT) % 128 AS register,
        |             CAST(('0x' || substr(md5('h75:' || word), 9, 8)) AS BIGINT) AS v
        |      FROM w WHERE word <> ''),
        |r AS (SELECT source, register,
        |             CASE WHEN v = 0 THEN 33 ELSE 32 - CAST(floor(log2(v)) AS BIGINT) END AS rho
        |      FROM h)
        |SELECT source, register, MAX(rho) AS max_rho FROM r GROUP BY 1, 2""".stripMargin),

    // Per-language top-10 terms: one map-side-combined (group, word)
    // count + a rank window whose per-group sort is bounded by Spark's
    // rank-limit pushdown.
    Query("pq76_frequent_terms", (s, dir) =>
      TextAnalysis.frequentTerms(docs(s, dir).select("lang", "text"),
        "lang", "text", k = 10), oracle =
      // the identical rank window; ties break alphabetically
      """WITH t AS (SELECT lang, string_split_regex(trim(text), '\s+') AS toks
        |           FROM documents WHERE text IS NOT NULL),
        |w AS (SELECT lang AS "group", unnest(toks) AS term FROM t),
        |c AS (SELECT "group", term, COUNT(*) AS cnt FROM w WHERE term <> '' GROUP BY 1, 2),
        |r AS (SELECT "group", term, cnt,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY "group" ORDER BY cnt DESC, term) AS BIGINT) AS rank
        |      FROM c)
        |SELECT "group", term, cnt, rank FROM r WHERE rank <= 10""".stripMargin),

    // Corpus snapshot diff: crawl N vs a synthetic crawl N+1 (deletes,
    // edits, additions) — (id, hash) projections + ONE full-outer
    // equi-join, unchanged bulk filtered before materializing.
    Query("pq73_corpus_diff", (s, dir) => {
      val d = docs(s, dir).select("doc_id", "text").filter(col("doc_id").isNotNull)
      val neu = d.filter(pmod(col("doc_id"), lit(10)) =!= 3)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(10)) === 4, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(d.filter(col("doc_id") < 25)
          .select((col("doc_id") + 200000).as("doc_id"), col("text")))
      CorpusDiff.diff(d, neu, "doc_id", "text")
    }, oracle =
      // the same delta fixture through a FULL JOIN with null-safe hash
      // equality; unchanged filtered as the operator does
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id IS NOT NULL),
        |o AS (SELECT doc_id, md5(text) AS old_hash FROM base),
        |n0 AS (SELECT doc_id,
        |         CASE WHEN doc_id % 10 = 4 THEN text || ' v2' ELSE text END AS text
        |       FROM base WHERE doc_id % 10 <> 3
        |       UNION ALL SELECT doc_id + 200000, text FROM base WHERE doc_id < 25),
        |n AS (SELECT doc_id, md5(text) AS new_hash FROM n0),
        |j AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |        CASE WHEN o.doc_id IS NULL THEN 'added'
        |             WHEN n.doc_id IS NULL THEN 'removed'
        |             WHEN o.old_hash IS NOT DISTINCT FROM n.new_hash THEN 'unchanged'
        |             ELSE 'changed' END AS status,
        |        o.old_hash, n.new_hash
        |      FROM o FULL JOIN n ON o.doc_id = n.doc_id)
        |SELECT doc_id, status, old_hash, new_hash FROM j
        |WHERE status <> 'unchanged'""".stripMargin),

    // Priority-aware exact dedup: keeper = argmin(priority, id) via a
    // struct-min keyed aggregate — the curated-beats-crawl keeper rule
    // with the same one-shuffle plan as pq1, never a hash-key window.
    Query("pq74_priority_dedup", (s, dir) => {
      val d = docs(s, dir).select("doc_id", "text").filter(col("doc_id").isNotNull)
      val dup = d.unionByName(
          d.select((col("doc_id") + 300000).as("doc_id"), col("text")))
        .withColumn("rank", pmod(col("doc_id"), lit(7)))
      ExactDedup.withPriority(dup, "doc_id", "text", "rank")
    }, oracle =
      // the keeper the operator's struct-min computes, as the equivalent
      // (rank, id)-ordered window rank over each hash group
      """WITH c AS (SELECT doc_id, text FROM documents WHERE doc_id IS NOT NULL
        |           UNION ALL
        |           SELECT doc_id + 300000, text FROM documents WHERE doc_id IS NOT NULL),
        |h AS (SELECT doc_id, doc_id % 7 AS rank, md5(text) AS content_hash FROM c),
        |r AS (SELECT content_hash, doc_id, rank,
        |        ROW_NUMBER() OVER (PARTITION BY content_hash ORDER BY rank, doc_id) AS rn,
        |        COUNT(*) OVER (PARTITION BY content_hash) AS n
        |      FROM h)
        |SELECT content_hash, doc_id AS keep_id, rank AS keep_priority,
        |       CAST(n AS BIGINT) AS n_copies
        |FROM r WHERE rn = 1""".stripMargin),

    // Bigram LM with stupid backoff (self-LM): position 0 scores under
    // the smoothed unigram, later positions under cnt(bigram)/cnt(ctx)
    // or alpha-discounted unigram backoff — all three Zipf-head LM
    // joins salted, per-doc fold sorted for bit determinism.
    Query("pq72_bigram_lm", (s, dir) => {
      val d = docs(s, dir)
      LmScore.bigramLogProb(d, "doc_id", "text",
        Bpe.wordCounts(d, "text", ordered = false),
        LmScore.bigramCounts(d, "text", ordered = false))
        .select(col("doc_id"), col("n_tokens"), round(col("logprob"), 4).as("logprob"))
    }, oracle =
      // the identical backoff CASE per (ctx, word) group; ROUND(4)
      // absorbs sum-order ulps exactly as in pq54
      """WITH t0 AS (SELECT doc_id,
        |        list_filter(string_split_regex(trim(text), '\s+'), w -> w <> '') AS toks
        |      FROM documents WHERE text IS NOT NULL),
        |lm AS (SELECT word, COUNT(*) AS cnt
        |       FROM (SELECT unnest(toks) AS word FROM t0) z GROUP BY 1),
        |bi AS (SELECT s.w1 AS w1, s.w2 AS w2, COUNT(*) AS cnt
        |       FROM (SELECT unnest(list_transform(range(1, len(toks)),
        |                i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS s
        |             FROM t0 WHERE len(toks) >= 2) z
        |       GROUP BY 1, 2),
        |tv AS (SELECT SUM(cnt) + COUNT(*) AS d FROM lm),
        |pos AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
        |          i -> {'w': toks[i], 'c': CASE WHEN i > 1 THEN toks[i - 1] ELSE NULL END})) AS s
        |        FROM t0),
        |pw AS (SELECT doc_id, s.c AS ctx, s.w AS word, COUNT(*) AS occ
        |       FROM pos GROUP BY 1, 2, 3),
        |j AS (SELECT pw.doc_id, pw.occ, pw.ctx, bi.cnt AS b, u1.cnt AS p,
        |             COALESCE(u2.cnt, 0) AS u
        |      FROM pw LEFT JOIN bi ON bi.w1 = pw.ctx AND bi.w2 = pw.word
        |              LEFT JOIN lm u1 ON u1.word = pw.ctx
        |              LEFT JOIN lm u2 ON u2.word = pw.word),
        |s AS (SELECT j.doc_id,
        |        SUM(j.occ * CASE
        |          WHEN j.ctx IS NULL THEN ln((j.u + 1)::DOUBLE / tv.d)
        |          WHEN j.b IS NOT NULL AND j.p IS NOT NULL AND j.p > 0
        |            THEN ln(j.b::DOUBLE / j.p::DOUBLE)
        |          ELSE ln(0.4 * ((j.u + 1)::DOUBLE / tv.d)) END) AS lp,
        |        SUM(j.occ) AS n
        |      FROM j CROSS JOIN tv GROUP BY j.doc_id, tv.d)
        |SELECT d.doc_id, CAST(COALESCE(s.n, 0) AS BIGINT) AS n_tokens,
        |       ROUND(COALESCE(s.lp / s.n, 0.0), 4) AS logprob
        |FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id""".stripMargin),

    // End-to-end streaming ingest: the crawled-document path as ONE
    // streaming query — HTML strip (stateless codegen'd chain, runs on
    // a stream unchanged), a minimum-length gate, then stateful
    // streaming exact dedup. Demonstrates that every stateless stage in
    // the library composes onto readStream as-is; only dedup touches
    // the state store.
    Query("pq71_streaming_ingest", (s, dir) => {
      val schema = docs(s, dir).schema
      val s2 = streamSession(s, statePartitions = 2) // ~5k distinct hashes
      val stream = s2.readStream.schema(schema)
        .option("basePath", dir)
        .parquet(s"$dir/documents.parque[t]")
      val html = concat(lit("<p class=\"x\">"), col("text"),
        lit("</p><script>var i = 0;</script> &amp; <!-- c --> tail words here"))
      val cleaned = stream
        .select(col("doc_id"), TextClean.htmlToText(html).as("text"))
        .filter(size(graft.llm.TextOps.tokens(col("text"))) >= 5)
      val sink = s"pq71_sink_${SinkId.incrementAndGet()}"
      val query = graft.streaming.StreamingDedup(cleaned, "doc_id", "text")
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      drainStream("pq71_streaming_ingest", query)
      s2.table(sink)
        .select(col("content_hash"), col("keep_id").cast("bigint").as("keep_id"))
    }, oracle =
      // the same pipeline in batch SQL: pq68's strip chain, the length
      // gate on the identical un-filtered token count, pq17's dedup shape
      // (one-file replay = one micro-batch, so MIN(doc_id) is exact)
      """WITH h AS (SELECT doc_id,
        |  '<p class="x">' || text || '</p><script>var i = 0;</script> &amp; <!-- c --> tail words here' AS html
        |  FROM documents),
        |c AS (SELECT doc_id, trim(regexp_replace(replace(replace(replace(replace(replace(replace(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
        |      '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
        |      '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
        |      '(?s)<!--.*?-->', ' ', 'g'),
        |      '(?s)<[^>]*>', ' ', 'g'),
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS text
        |  FROM h),
        |f AS (SELECT doc_id, text FROM c WHERE text IS NOT NULL
        |      AND len(string_split_regex(trim(text), '\s+')) >= 5)
        |SELECT md5(text) AS content_hash, CAST(MIN(doc_id) AS BIGINT) AS keep_id
        |FROM f GROUP BY md5(text)""".stripMargin, streaming = true),

    // PassJoin edit-distance near-dup over varied-length prefixes plus
    // injected substitution/deletion variants — segment pigeonhole +
    // windowed-substring probe join, threshold levenshtein verify; the
    // oracle is the ground-truth length-banded self-join.
    Query("pq70_edit_distance", (s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
        .filter(col("text").isNotNull && col("doc_id").isNotNull &&
          pmod(col("doc_id"), lit(5)) === 0)
      val base = d.select(col("doc_id"),
        col("text").substr(lit(1),
          (lit(20) + pmod(col("doc_id"), lit(30))).cast("int")).as("s"))
      val subbed = base.select((col("doc_id") + 120000).as("doc_id"),
        concat(lit("Z"), expr("substring(s, 2)")).as("s"))
      val deleted = base.select((col("doc_id") + 130000).as("doc_id"),
        expr("substring(s, 2)").as("s"))
      EditDistance.nearDupPairs(
        base.unionByName(subbed).unionByName(deleted), "doc_id", "s", maxDist = 2)
    }, oracle =
      // ground truth: length-banded all-pairs with plain levenshtein —
      // set-equal to the operator's segment-join candidates + verify
      """WITH b AS (SELECT doc_id,
        |    substr(text, 1, CAST(20 + doc_id % 30 AS INT)) AS s
        |  FROM documents
        |  WHERE text IS NOT NULL AND doc_id IS NOT NULL AND doc_id % 5 = 0),
        |c AS (SELECT doc_id, s FROM b
        |      UNION ALL SELECT doc_id + 120000, 'Z' || substr(s, 2) FROM b
        |      UNION ALL SELECT doc_id + 130000, substr(s, 2) FROM b),
        |p AS (SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
        |             levenshtein(a.s, b2.s) AS dist
        |      FROM c a JOIN c b2 ON a.doc_id < b2.doc_id
        |        AND abs(length(a.s) - length(b2.s)) <= 2)
        |SELECT doc_a, doc_b, CAST(dist AS BIGINT) AS dist
        |FROM p WHERE dist <= 2""".stripMargin),

    // URL canonicalization over a fixture cycling through every rule:
    // case folding, default ports, fragments, tracking params (first /
    // middle / lone), empty-path slash, scheme-less passthrough.
    Query("pq69_url_canonical", (s, dir) => {
      val id = col("doc_id")
      val url = when(pmod(id, lit(6)) === 0,
          concat(lit("HTTP://Example.COM:80/Path/Page?utm_source=x&q="),
            id.cast("string"), lit("#frag")))
        .when(pmod(id, lit(6)) === 1, lit("https://EXAMPLE.com:443/?gclid=abc"))
        .when(pmod(id, lit(6)) === 2,
          lit("https://example.com/a?q=1&utm_medium=m&fbclid=z"))
        .when(pmod(id, lit(6)) === 3, lit("http://Example.com"))
        .when(pmod(id, lit(6)) === 4,
          concat(lit("  https://example.com/a/?x="), id.cast("string"), lit(" ")))
        .otherwise(lit("not a url #frag"))
      UrlOps.canonicalizeUrls(
        docs(s, dir).select(id, url.as("url")).filter(id.isNotNull),
        "doc_id", "url")
    }, oracle =
      // the identical chain stage-for-stage as CTEs: trim, fragment,
      // authority lowercase, default ports, tracking params, root slash
      """WITH f AS (SELECT doc_id,
        |  CASE doc_id % 6
        |    WHEN 0 THEN 'HTTP://Example.COM:80/Path/Page?utm_source=x&q=' || CAST(doc_id AS VARCHAR) || '#frag'
        |    WHEN 1 THEN 'https://EXAMPLE.com:443/?gclid=abc'
        |    WHEN 2 THEN 'https://example.com/a?q=1&utm_medium=m&fbclid=z'
        |    WHEN 3 THEN 'http://Example.com'
        |    WHEN 4 THEN '  https://example.com/a/?x=' || CAST(doc_id AS VARCHAR) || ' '
        |    ELSE 'not a url #frag' END AS url
        |  FROM documents WHERE doc_id IS NOT NULL),
        |u1 AS (SELECT doc_id, regexp_replace(trim(url), '(?s)#.*', '') AS u FROM f),
        |u2 AS (SELECT doc_id, CASE
        |    WHEN regexp_matches(u, '^[A-Za-z][A-Za-z0-9+.-]*://')
        |    THEN lower(regexp_extract(u, '(?s)^([A-Za-z][A-Za-z0-9+.-]*://)((?:[^/?#]*@)?)([^/?#]*)(.*)$', 1))
        |         || regexp_extract(u, '(?s)^([A-Za-z][A-Za-z0-9+.-]*://)((?:[^/?#]*@)?)([^/?#]*)(.*)$', 2)
        |         || lower(regexp_extract(u, '(?s)^([A-Za-z][A-Za-z0-9+.-]*://)((?:[^/?#]*@)?)([^/?#]*)(.*)$', 3))
        |         || regexp_extract(u, '(?s)^([A-Za-z][A-Za-z0-9+.-]*://)((?:[^/?#]*@)?)([^/?#]*)(.*)$', 4)
        |    ELSE u END AS u FROM u1),
        |u3 AS (SELECT doc_id, regexp_replace(
        |    regexp_replace(u, '(?s)^(http://[^/?#]*):80([/?#].*)?$', '\1\2'),
        |    '(?s)^(https://[^/?#]*):443([/?#].*)?$', '\1\2') AS u FROM u2),
        |u4 AS (SELECT doc_id,
        |    regexp_extract(u, '(?s)^([^?]*)', 1) ||
        |    regexp_replace(regexp_replace(regexp_replace(
        |      regexp_extract(u, '(?s)^[^?]*(\?.*)$', 1),
        |      '&(utm_[^=&]*|gclid|fbclid)=[^&]*', '', 'g'),
        |      '^\?(utm_[^=&]*|gclid|fbclid)=[^&]*&', '?', 'g'),
        |      '^\?(utm_[^=&]*|gclid|fbclid)=[^&]*$', '', 'g') AS u FROM u3)
        |SELECT doc_id, regexp_replace(u,
        |    '(?s)^([a-z][a-z0-9+.-]*://[^/?#]+)(\?.*)?$', '\1/\2') AS canonical
        |FROM u4""".stripMargin),

    // HTML boilerplate strip over the corpus re-wrapped in markup:
    // script/style/comment blocks drop, tags become spaces, entities
    // decode (&amp; last), whitespace collapses — one codegen'd chain
    // in the Java-regex ∩ RE2 subset, run verbatim by the oracle.
    Query("pq68_html_strip", (s, dir) => {
      val html = concat(
        lit("<html><head><script type=\"text/javascript\">var x = 1 < 2 && 3 > 2;" +
          "</script><style>p { color: red; }</style></head><body><!-- nav -->" +
          "<p class=\"a\">"),
        col("text"),
        lit("</p><br/>R&amp;D &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end" +
          "</body></html>"))
      TextClean.stripHtml(
        docs(s, dir).select(col("doc_id"), html.as("html")), "doc_id", "html")
    }, oracle =
      // the identical strip chain: block regexes, tag regex, literal
      // entity replaces in the same order (&amp; last), collapse + trim
      """WITH h AS (SELECT doc_id,
        |  '<html><head><script type="text/javascript">var x = 1 < 2 && 3 > 2;</script><style>p { color: red; }</style></head><body><!-- nav --><p class="a">'
        |  || text ||
        |  '</p><br/>R&amp;D &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</body></html>' AS html
        |  FROM documents)
        |SELECT doc_id, trim(regexp_replace(replace(replace(replace(replace(replace(replace(
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
        |    '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
        |    '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
        |    '(?s)<!--.*?-->', ' ', 'g'),
        |    '(?s)<[^>]*>', ' ', 'g'),
        |  '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |  '\s+', ' ', 'g')) AS text
        |FROM h""".stripMargin),

    // Sequential-Poisson weighted sample: 50 docs drawn proportional to
    // n_chars — priority w/u from one IEEE division of exact values, so
    // membership is bit-identical cross-engine; TakeOrderedAndProject,
    // never a full sort.
    Query("pq67_weighted_sample", (s, dir) =>
      Sampling.weightedSample(docs(s, dir).select("doc_id", "n_chars"),
        "doc_id", "n_chars", k = 50, salt = "ws"), oracle =
      // the same one-division priority over the same exact dyadic u;
      // ORDER BY (priority DESC, doc_id) makes the k-subset engine-stable
      """WITH p AS (
        |  SELECT doc_id, n_chars,
        |    CAST(n_chars AS DOUBLE) /
        |      ((CAST(('0x' || substr(md5('ws' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1) / 4294967296.0)
        |      AS priority
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
        |    AND CAST(n_chars AS DOUBLE) > 0)
        |SELECT doc_id, n_chars, priority FROM p
        |ORDER BY priority DESC, doc_id LIMIT 50""".stripMargin),

    // HyperLogLog register table over the corpus word stream (m = 256
    // registers): the fixed-size DISTINCT-count summary — exact-integer
    // (register, max_rho) rows, mergeable by MAX.
    Query("pq66_hll", (s, dir) => {
      val words = docs(s, dir)
        .select(explode(graft.llm.TextOps.tokens(col("text"))).as("word"))
        .filter(col("word") =!= "")
      Hll.sketch(words, "word", m = 256, salt = "h66")
    }, oracle =
      // rho via 32 - floor(log2(v)) — identical to the operator's
      // 33 - length(bin(v)) for every v >= 1 (see Hll scaladoc)
      """WITH t AS (SELECT string_split_regex(trim(text), '\s+') AS toks
        |           FROM documents WHERE text IS NOT NULL),
        |w AS (SELECT unnest(toks) AS word FROM t WHERE true),
        |h AS (SELECT CAST(('0x' || substr(md5('h66:' || word), 1, 8)) AS BIGINT) % 256 AS register,
        |             CAST(('0x' || substr(md5('h66:' || word), 9, 8)) AS BIGINT) AS v
        |      FROM w WHERE word <> ''),
        |r AS (SELECT register,
        |             CASE WHEN v = 0 THEN 33 ELSE 32 - CAST(floor(log2(v)) AS BIGINT) END AS rho
        |      FROM h)
        |SELECT register, MAX(rho) AS max_rho FROM r GROUP BY 1""".stripMargin),

    // CCNet-style unigram LM scoring: mean per-token Laplace-smoothed
    // log-prob under the corpus's own word-frequency table (self-LM) —
    // salted Zipf-word join + deterministic sorted fold.
    Query("pq54_lm_score", (s, dir) => {
      val d = docs(s, dir)
      LmScore.unigramLogProb(d, "doc_id", "text", Bpe.wordCounts(d, "text", ordered = false))
        .select(col("doc_id"), col("n_tokens"), round(col("logprob"), 4).as("logprob"))
    }, oracle =
      """WITH t0 AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |            FROM documents WHERE text IS NOT NULL),
        |lm AS (SELECT word, COUNT(*) AS cnt
        |       FROM (SELECT unnest(toks) AS word FROM t0) z WHERE word <> '' GROUP BY 1),
        |tv AS (SELECT SUM(cnt) + COUNT(*) AS d FROM lm),
        |w AS (SELECT doc_id, unnest(toks) AS word FROM t0),
        |wc AS (SELECT doc_id, word, COUNT(*) AS occ FROM w WHERE word <> '' GROUP BY 1, 2),
        |j AS (SELECT wc.doc_id, wc.occ, COALESCE(lm.cnt, 0) AS cnt
        |      FROM wc LEFT JOIN lm USING (word)),
        |s AS (SELECT j.doc_id, SUM(j.occ * ln((j.cnt + 1)::DOUBLE / tv.d)) AS lp, SUM(j.occ) AS n
        |      FROM j CROSS JOIN tv GROUP BY j.doc_id, tv.d)
        |SELECT d.doc_id, CAST(COALESCE(s.n, 0) AS BIGINT) AS n_tokens,
        |       ROUND(COALESCE(s.lp / s.n, 0.0), 4) AS logprob
        |FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id""".stripMargin),

    // CCNet's head/middle/tail split: per-LANGUAGE perplexity terciles
    // via percentile CUTOFFS broadcast back — never an ntile window
    // (that's a corpus sort under every language key). Engine-portable
    // by construction: ppl is the pq54 ROUND(4) value, cutoffs
    // interpolate over those rounded ppls and ROUND(6) before the
    // strict >, so both engines compare identical doubles.
    Query("pq102_ppl_buckets", (s, dir) => {
      val d = docs(s, dir)
      LmScore.perplexityBuckets(d, "doc_id", "text", "lang",
        Bpe.wordCounts(d, "text", ordered = false), ordered = false)
    }, oracle =
      // pq54's CTE chain extended: ppl = ROUND(exp(−ROUND(logprob,4)),4),
      // per-lang interpolated tercile cutoffs ROUND(6), strict >, bucket
      // 1..3 ascending in perplexity
      """WITH t0 AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |            FROM documents WHERE text IS NOT NULL),
        |lm AS (SELECT word, COUNT(*) AS cnt
        |       FROM (SELECT unnest(toks) AS word FROM t0) z WHERE word <> '' GROUP BY 1),
        |tv AS (SELECT SUM(cnt) + COUNT(*) AS d FROM lm),
        |w AS (SELECT doc_id, unnest(toks) AS word FROM t0),
        |wc AS (SELECT doc_id, word, COUNT(*) AS occ FROM w WHERE word <> '' GROUP BY 1, 2),
        |j AS (SELECT wc.doc_id, wc.occ, COALESCE(lm.cnt, 0) AS cnt
        |      FROM wc LEFT JOIN lm USING (word)),
        |s AS (SELECT j.doc_id, SUM(j.occ * ln((j.cnt + 1)::DOUBLE / tv.d)) AS lp, SUM(j.occ) AS n
        |      FROM j CROSS JOIN tv GROUP BY j.doc_id, tv.d),
        |base AS (SELECT d.doc_id, d.lang, CAST(COALESCE(s.n, 0) AS BIGINT) AS n_tokens,
        |           ROUND(exp(-ROUND(COALESCE(s.lp / s.n, 0.0), 4)), 4) AS ppl
        |         FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id),
        |c AS (SELECT lang, ROUND(quantile_cont(ppl, 1.0/3), 6) AS c0,
        |        ROUND(quantile_cont(ppl, 2.0/3), 6) AS c1
        |      FROM base GROUP BY lang)
        |SELECT b.doc_id, b.lang, b.n_tokens, b.ppl,
        |       CAST(1 + CAST(b.ppl > c.c0 AS INT) + CAST(b.ppl > c.c1 AS INT) AS BIGINT) AS bucket
        |FROM base b JOIN c USING (lang)""".stripMargin),

    // DSIR feature half: the global hashed-bigram bucket distribution
    // (64 buckets) — per-row local folds, one map-side-combined
    // aggregate, exact integer counts.
    Query("pq50_dsir_buckets", (s, dir) =>
      Dsir.bucketDistribution(docs(s, dir), "text", buckets = 64, n = 2, salt = "d50"), oracle =
      // exact-integer occurrence bigram counts under the md5-bucket hash
      // — the same portable '0x'||md5 trick as pq34/pq42
      """WITH t AS (SELECT string_split_regex(trim(text), '\s+') AS toks
        |           FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])) AS gram
        |      FROM t WHERE len(toks) >= 2),
        |b AS (SELECT CAST(('0x' || substr(md5('d50:' || gram), 1, 8)) AS BIGINT) % 64 AS bucket FROM g)
        |SELECT bucket, COUNT(*) AS cnt FROM b GROUP BY 1""".stripMargin),

    // DSIR weight half: per-document Laplace-smoothed log-likelihood
    // ratio against the lang='en' target distribution — two B-bounded
    // distribution passes + one shuffle-free weighting pass.
    Query("pq51_dsir_weights", (s, dir) => {
      val d = docs(s, dir)
      Dsir.importanceWeights(d, d.filter(col("lang") === "en"), "doc_id", "text",
        buckets = 64, n = 2, salt = "d51")
        .select(col("doc_id"), round(col("weight"), 4).as("weight"))
    }, oracle =
      // Laplace-smoothed log-ratio weights: the λ lookup is materialized
      // over all 64 buckets (absent buckets smooth to count 0), docs with
      // no bigrams weigh exactly 0.0; weights round to 4 decimals (the
      // pq8 float-portability precedent)
      """WITH t AS (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS toks
        |           FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT doc_id, lang, unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])) AS gram
        |      FROM t WHERE len(toks) >= 2),
        |gb AS (SELECT doc_id, lang, CAST(('0x' || substr(md5('d51:' || gram), 1, 8)) AS BIGINT) % 64 AS b FROM g),
        |tc AS (SELECT b, COUNT(*) AS c FROM gb WHERE lang = 'en' GROUP BY 1),
        |tt AS (SELECT COUNT(*) AS t FROM gb WHERE lang = 'en'),
        |rc AS (SELECT b, COUNT(*) AS c FROM gb GROUP BY 1),
        |rt AS (SELECT COUNT(*) AS t FROM gb),
        |lam AS (SELECT bs.b,
        |          ln((COALESCE(tc.c, 0) + 1)::DOUBLE / (tt.t + 64)) -
        |          ln((COALESCE(rc.c, 0) + 1)::DOUBLE / (rt.t + 64)) AS l
        |        FROM (SELECT unnest(range(0, 64)) AS b) bs
        |        CROSS JOIN tt CROSS JOIN rt
        |        LEFT JOIN tc ON tc.b = bs.b
        |        LEFT JOIN rc ON rc.b = bs.b),
        |dc AS (SELECT doc_id, b, COUNT(*) AS cnt FROM gb GROUP BY 1, 2),
        |w AS (SELECT dc.doc_id, SUM(dc.cnt * lam.l) AS w
        |      FROM dc JOIN lam ON lam.b = dc.b GROUP BY 1)
        |SELECT d.doc_id, ROUND(COALESCE(w.w, 0.0), 4) AS weight
        |FROM documents d LEFT JOIN w ON w.doc_id = d.doc_id""".stripMargin),

    // Budget-bounded selection: the maximal prefix of the corpus in
    // (n_chars DESC, doc_id) order whose cumulative weight fits 10k —
    // the distributed-prefix-sum plan, never a global window.
    Query("pq45_budget_select", (s, dir) =>
      BudgetSelect.takeUntilBudget(docs(s, dir).select("doc_id", "n_chars"),
        "doc_id", "n_chars", "n_chars", budget = 10000L), oracle =
      // the oracle's single global window IS the semantics; the operator
      // computes the same running sum as a two-pass distributed prefix
      // sum (per-partition totals + broadcast offsets)
      """WITH s AS (SELECT doc_id, n_chars,
        |        CAST(SUM(n_chars) OVER (ORDER BY n_chars DESC, doc_id
        |                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_weight
        |      FROM documents
        |      WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL)
        |SELECT doc_id, n_chars, CAST(n_chars AS BIGINT) AS weight, cum_weight
        |FROM s WHERE cum_weight <= 10000""".stripMargin),

    // Deterministic fixed-count per-stratum sample: exactly min(7, n_s)
    // docs per source, selected by smallest (md5 hash, id) — the
    // two-phase prefilter+window plan whose result is provably the
    // same top-k the oracle's full-stratum window computes.
    Query("pq43_topk_sample", (s, dir) =>
      Sampling.topKPerStratum(docs(s, dir).select("doc_id", "source"),
        "doc_id", "source", k = 7, salt = "s43"), oracle =
      // the oracle ranks the FULL stratum; the operator's prefilter keeps
      // a prefix of the hash order, so both select the identical row set
      """WITH h AS (SELECT doc_id, source,
        |        substr(md5('s43' || CAST(doc_id AS VARCHAR)), 1, 8) AS hx
        |      FROM documents WHERE doc_id IS NOT NULL),
        |r AS (SELECT doc_id, source,
        |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY hx, doc_id) AS rn
        |      FROM h)
        |SELECT doc_id, source FROM r WHERE rn <= 7""".stripMargin),

    // INCREMENTAL per-stratum sampling: two corpus batches merged into
    // the persisted min-k sample table must equal the one-shot batch
    // sample of their union (min-k is a semilattice — the law that
    // makes the merge exact with no occurrence counting); oracle =
    // pq43's full-window SQL at this row's salt/k
    Query("pq112_incremental_sample", (s, dir) => {
      val d = docs(s, dir).select("doc_id", "source")
      // table name AND path keyed by the data dir (perDirName): the
      // catalog table persists across executions, and Bench's sf0.001
      // warm-up must not merge into the timed dir's sample state
      val tbl = perDirName("graft_pq112_sample", dir)
      val path = perDirPath("graft_pq112_sample", dir)
      graft.streaming.StreamingSample.mergeBatch(
        d.filter(pmod(col("doc_id"), lit(2)) === 0),
        "doc_id", "source", k = 7, salt = "s112", tbl, path)
      graft.streaming.StreamingSample.mergeBatch(
        d.filter(pmod(col("doc_id"), lit(2)) === 1),
        "doc_id", "source", k = 7, salt = "s112", tbl, path)
      graft.streaming.StreamingSample.sample(s, tbl, k = 7, salt = "s112")
    }, oracle =
      // pq43's full-window shape at salt s112 — the one-shot sample of
      // the whole corpus, which the two-batch merge must equal exactly
      """WITH h AS (SELECT doc_id, source,
        |        substr(md5('s112' || CAST(doc_id AS VARCHAR)), 1, 8) AS hx
        |      FROM documents WHERE doc_id IS NOT NULL),
        |r AS (SELECT doc_id, source,
        |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY hx, doc_id) AS rn
        |      FROM h)
        |SELECT doc_id, source FROM r WHERE rn <= 7""".stripMargin),

    // WEIGHTED incremental sampling: pq112's maintaining merge drawing
    // proportionally to n_chars (sequential-Poisson priority w/u — the
    // pq67 arithmetic, per stratum). Max-k under the intrinsic priority
    // is a semilattice like the uniform min-k, so the two-batch merge
    // must equal the one-shot weighted window over the whole corpus.
    Query("pq124_weighted_incremental", (s, dir) => {
      val d = docs(s, dir).select("doc_id", "source", "n_chars")
      val tbl = perDirName("graft_pq124_sample", dir)
      val path = perDirPath("graft_pq124_sample", dir)
      graft.streaming.StreamingSample.mergeBatchWeighted(
        d.filter(pmod(col("doc_id"), lit(2)) === 0),
        "doc_id", "source", "n_chars", k = 7, salt = "s124", tbl, path)
      graft.streaming.StreamingSample.mergeBatchWeighted(
        d.filter(pmod(col("doc_id"), lit(2)) === 1),
        "doc_id", "source", "n_chars", k = 7, salt = "s124", tbl, path)
      graft.streaming.StreamingSample.sampleWeighted(s, tbl, k = 7,
        salt = "s124", weightCol = "n_chars")
    }, oracle =
      // the one-shot weighted window the two-batch weighted merge must
      // equal: priority = w / ((u32+1)/2^32) — both divisions are single
      // correctly-rounded IEEE ops on exact values (u32+1 <= 2^32 is
      // dyadic, /2^32 is exact), so priorities and membership are
      // bit-identical across engines (the pq67 discipline, per stratum)
      """WITH h AS (SELECT doc_id, source, n_chars,
        |        CAST(('0x' || substr(md5('s124' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS u32
        |      FROM documents
        |      WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0),
        |p AS (SELECT doc_id, source, n_chars,
        |        CAST(n_chars AS DOUBLE) / ((u32 + 1) / 4294967296.0) AS pri
        |      FROM h),
        |r AS (SELECT doc_id, source, n_chars,
        |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY pri DESC, doc_id) AS rn
        |      FROM p)
        |SELECT doc_id, source, n_chars FROM r WHERE rn <= 7""".stripMargin),

    // No-straddle next-fit packing: docs never split across sequences;
    // a doc longer than the target occupies a sequence alone. Target 64
    // (vs pq35's 256) so the corpus's 10..99-token docs exercise both
    // the multi-doc fill and the overlong-singleton path. 128 shards:
    // the oracle's recursion depth is the MAX SHARD SIZE (one row per
    // shard per round), so shard count trades oracle latency against
    // docs-per-shard coverage — 128 keeps both (33 multi-doc sequences
    // at sf0.01, ~4 s oracle at sf0.1).
    Query("pq42_pack_greedy", (s, dir) =>
      Packing.packGreedy(docs(s, dir), "doc_id", "text",
        targetTokens = 64, shards = 128), oracle =
      // next-fit is inherently sequential (each placement depends on the
      // walk prefix), so the oracle advances one row per shard per
      // recursion round — the honest SQL twin of the operator's
      // per-partition walk
      """WITH RECURSIVE t AS (SELECT doc_id,
        |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n
        |       FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |h AS (SELECT doc_id, n,
        |        CAST(('0x' || substr(md5('graft:s' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 128 AS shard,
        |        CAST(('0x' || substr(md5('graft:o' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h2
        |      FROM t),
        |r AS (SELECT doc_id, n, shard,
        |        ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h2, doc_id) AS rn
        |      FROM h),
        |p AS (
        |  SELECT shard, rn, doc_id, n, CAST(0 AS BIGINT) AS seq_id,
        |         CAST(0 AS BIGINT) AS tok_offset, n AS fill
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.shard, r.rn, r.doc_id, r.n,
        |         CASE WHEN p.fill + r.n <= 64 THEN p.seq_id ELSE p.seq_id + 1 END,
        |         CASE WHEN p.fill + r.n <= 64 THEN p.fill ELSE CAST(0 AS BIGINT) END,
        |         CASE WHEN p.fill + r.n <= 64 THEN p.fill + r.n ELSE r.n END
        |  FROM p JOIN r ON r.shard = p.shard AND r.rn = p.rn + 1)
        |SELECT shard, seq_id, doc_id, tok_offset, n AS n_tokens FROM p""".stripMargin),

    // Data-mixing rates: per-source sampling rates hitting a target
    // token mixture under a budget (rate = min(1, budget*share/tokens),
    // capped strata flagged) — the step in front of stratifiedSample.
    // src0 is deliberately over-asked (share 0.85 of a budget larger
    // than its tokens) so the cap path is exercised, and src_absent
    // targets a stratum with no corpus rows so the zero-token contract
    // (n_tokens=0, rate=0, capped=true) is exercised too.
    Query("pq36_mixture_rates", (s, dir) =>
      Sampling.mixtureRates(docs(s, dir), "source", "n_chars",
        Map("src0" -> 0.85, "src1" -> 0.05, "src2" -> 0.05, "src_absent" -> 0.05),
        budgetTokens = 20000L), oracle =
      """WITH t AS (SELECT source AS stratum,
        |                  CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS n_tokens
        |           FROM documents GROUP BY source),
        |tgt AS (SELECT * FROM (VALUES ('src0'), ('src1'), ('src2'), ('src_absent')) AS v(stratum)),
        |u AS (SELECT COALESCE(t.stratum, tgt.stratum) AS stratum,
        |             CAST(COALESCE(t.n_tokens, 0) AS BIGINT) AS n_tokens
        |      FROM t FULL OUTER JOIN tgt ON t.stratum = tgt.stratum),
        |w AS (SELECT stratum, n_tokens,
        |             CAST(CASE stratum WHEN 'src0' THEN 0.85
        |                               WHEN 'src1' THEN 0.05
        |                               WHEN 'src2' THEN 0.05
        |                               WHEN 'src_absent' THEN 0.05
        |                               ELSE 0.0 END * 20000 AS DOUBLE) AS want
        |      FROM u)
        |SELECT stratum, n_tokens,
        |       CAST(CASE WHEN n_tokens > 0 THEN ROUND(least(1.0, want / n_tokens), 6)
        |                 ELSE 0.0 END AS DOUBLE) AS rate,
        |       want > n_tokens AS capped
        |FROM w""".stripMargin),

    // Temperature-scaled mixture (mT5-style): shares derived from the
    // observed per-source sizes at alpha = 0.5 instead of hand-written
    // targets — the pq36 sibling for when the mixing policy is "smooth
    // the natural proportions", not "hit these numbers"
    Query("pq87_temperature_mix", (s, dir) =>
      Sampling.temperatureMixtureRates(docs(s, dir), "source", "n_chars",
        alpha = 0.5, budgetTokens = 20000L, ordered = false), oracle =
      // temperature shares: pow/sqrt and the double normalizer differ by
      // ulps across engines, absorbed by ROUND(6) on share and rate
      // (values, never membership — the pq54 discipline); capped compares
      // want > n where want sits far from the boundary at this fixture
      """WITH t AS (SELECT source AS stratum,
        |                  CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS n_tokens
        |           FROM documents GROUP BY source),
        |z AS (SELECT SUM(pow(n_tokens::DOUBLE, 0.5)) AS z FROM t),
        |w AS (SELECT stratum, n_tokens,
        |             pow(n_tokens::DOUBLE, 0.5) / z.z AS raw_share
        |      FROM t CROSS JOIN z)
        |SELECT stratum, n_tokens, ROUND(raw_share, 6) AS share,
        |       CASE WHEN n_tokens > 0
        |            THEN ROUND(LEAST(1.0, raw_share * 20000 / n_tokens), 6)
        |            ELSE 0.0 END AS rate,
        |       raw_share * 20000 > n_tokens AS capped
        |FROM w""".stripMargin),

    // UniMax epoch-capped allocation (pq87's explicit-repetition-bound
    // sibling): split 360k tokens uniformly across sources, no source
    // repeated past 2.5 epochs. The synthetic src_tiny stratum (100
    // tokens, cap 250) saturates at EVERY scale, so both water-filling
    // branches — full-capacity prefix and equal-share water level — are
    // oracle-pinned tri-scale (the corpus's own strata migrate between
    // branches as sf grows).
    Query("pq123_unimax_alloc", (s, dir) =>
      Sampling.unimaxAllocation(
        docs(s, dir).select("source", "n_chars")
          .unionByName(s.range(1).select(lit("src_tiny").as("source"),
            lit(100L).as("n_chars"))),
        "source", "n_chars", budgetTokens = 360000L, maxEpochs = 2.5,
        ordered = false), oracle =
      // water-filling in integer milli-tokens: every cumulative sum is an
      // exact BIGINT (order-free — no summation-order ulp), and the
      // saturation predicate / water level are single correctly-rounded
      // double ops on those exact values, bit-identical across engines
      """WITH base AS (SELECT source, n_chars FROM documents
        |              UNION ALL SELECT 'src_tiny', 100),
        |c AS (SELECT source AS stratum, CAST(SUM(n_chars) AS BIGINT) AS n_tokens
        |      FROM base GROUP BY source),
        |w AS (SELECT stratum, n_tokens, n_tokens * 2500 AS cap_m,
        |        ROW_NUMBER() OVER (ORDER BY n_tokens * 2500, stratum NULLS FIRST) AS i,
        |        COUNT(*) OVER () AS n,
        |        COALESCE(SUM(n_tokens * 2500) OVER (ORDER BY n_tokens * 2500, stratum NULLS FIRST
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
        |      FROM c),
        |s AS (SELECT *, CAST(cap_m AS DOUBLE) * (n - i + 1) <= CAST(360000000 - cum_prev AS DOUBLE) AS saturated
        |      FROM w),
        |t AS (SELECT *, COALESCE(SUM(CASE WHEN saturated THEN cap_m END) OVER (), 0) AS sat_sum,
        |        SUM(CASE WHEN saturated THEN 1 ELSE 0 END) OVER () AS sat_cnt
        |      FROM s),
        |a AS (SELECT stratum, n_tokens, cap_m, saturated,
        |        CASE WHEN saturated THEN CAST(cap_m AS DOUBLE)
        |             ELSE CAST(360000000 - sat_sum AS DOUBLE) / CAST(n - sat_cnt AS DOUBLE) END AS alloc_m
        |      FROM t)
        |SELECT stratum, n_tokens, ROUND(cap_m / 1000.0, 6) AS cap,
        |       ROUND(alloc_m / 1000.0, 6) AS alloc,
        |       CASE WHEN n_tokens > 0
        |            THEN ROUND(alloc_m / (CAST(n_tokens AS DOUBLE) * 1000.0), 6)
        |            ELSE 0.0 END AS epochs,
        |       saturated
        |FROM a""".stripMargin),

    // The allocation MATERIALIZED: every doc floor(epochs) times plus a
    // fractional-rate hash draw — epoch REPETITION, which plain rate
    // sampling can't express. At sf0.001/0.01 the saturated strata
    // repeat at the 2.5-epoch cap (full copies + half-rate draw) while
    // the rest sit at the ~1.8-epoch water level; at sf0.1 the same
    // budget leaves every stratum sub-epoch, exercising the
    // fraction-only path — the oracle recomputes the water-filling and
    // the per-key draws either way.
    Query("pq126_unimax_materialize", (s, dir) =>
      Sampling.unimaxMaterialize(docs(s, dir).select("doc_id", "source", "n_chars"),
        "doc_id", "source", "n_chars", budgetTokens = 360000L,
        maxEpochs = 2.5, salt = "m126")
        .select("doc_id", "source", "copy"), oracle =
      // pq123's water-filling (no synthetic stratum) re-run to epochs,
      // then per-doc copies = floor(ep) + a u32-threshold draw at the
      // fractional rate — the numeric twin of the operator's hex-string
      // compare (lexicographic lowercase hex == numeric u32 order), with
      // floor((ep - floor(ep)) * 2^32) the exact thresholdHex arithmetic
      """WITH c AS (SELECT source AS stratum, CAST(SUM(n_chars) AS BIGINT) AS n_tokens
        |      FROM documents GROUP BY source),
        |w AS (SELECT stratum, n_tokens, n_tokens * 2500 AS cap_m,
        |        ROW_NUMBER() OVER (ORDER BY n_tokens * 2500, stratum NULLS FIRST) AS i,
        |        COUNT(*) OVER () AS n,
        |        COALESCE(SUM(n_tokens * 2500) OVER (ORDER BY n_tokens * 2500, stratum NULLS FIRST
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
        |      FROM c),
        |s AS (SELECT *, CAST(cap_m AS DOUBLE) * (n - i + 1) <= CAST(360000000 - cum_prev AS DOUBLE) AS saturated
        |      FROM w),
        |t AS (SELECT *, COALESCE(SUM(CASE WHEN saturated THEN cap_m END) OVER (), 0) AS sat_sum,
        |        SUM(CASE WHEN saturated THEN 1 ELSE 0 END) OVER () AS sat_cnt
        |      FROM s),
        |a AS (SELECT stratum, n_tokens,
        |        CASE WHEN saturated THEN CAST(cap_m AS DOUBLE)
        |             ELSE CAST(360000000 - sat_sum AS DOUBLE) / CAST(n - sat_cnt AS DOUBLE) END AS alloc_m
        |      FROM t),
        |e AS (SELECT stratum,
        |        ROUND(alloc_m / (CAST(n_tokens AS DOUBLE) * 1000.0), 6) AS ep
        |      FROM a WHERE n_tokens > 0),
        |d AS (SELECT doc_id, source,
        |        CAST(floor(ep) AS BIGINT)
        |        + CASE WHEN CAST(('0x' || substr(md5('m126' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |                 < CAST(floor((ep - floor(ep)) * 4294967296.0) AS BIGINT)
        |               THEN 1 ELSE 0 END AS nc
        |      FROM documents JOIN e ON documents.source = e.stratum
        |      WHERE doc_id IS NOT NULL)
        |SELECT doc_id, source, i AS copy FROM d, unnest(range(0, nc)) AS u(i)""".stripMargin),

    // The allocate -> materialize AUDIT: per stratum, realized token
    // mass (copies count each) vs the allocation's ask — deviations
    // here are the fractional draws' binomial noise, which is exactly
    // what the report exists to read; same knobs/salt as pq126 so the
    // oracle recomputes the identical draws.
    Query("pq133_realized_mixture", (s, dir) => {
      val d = docs(s, dir).select("doc_id", "source", "n_chars")
      val alloc = Sampling.unimaxAllocation(d, "source", "n_chars",
        budgetTokens = 360000L, maxEpochs = 2.5, ordered = false)
      val mat = Sampling.unimaxMaterialize(d, "doc_id", "source", "n_chars",
        budgetTokens = 360000L, maxEpochs = 2.5, salt = "m126")
      Sampling.realizedMixture(mat, "source", "n_chars", alloc,
        ordered = false)
    }, oracle =
      // pq126's chain re-aggregated: realized tokens = Σ n_chars · nc per
      // stratum, joined back to the allocation; the division pair spells
      // the operator's exact expressions
      """WITH c AS (SELECT source AS stratum, CAST(SUM(n_chars) AS BIGINT) AS n_tokens
        |      FROM documents GROUP BY source),
        |w AS (SELECT stratum, n_tokens, n_tokens * 2500 AS cap_m,
        |        ROW_NUMBER() OVER (ORDER BY n_tokens * 2500, stratum NULLS FIRST) AS i,
        |        COUNT(*) OVER () AS n,
        |        COALESCE(SUM(n_tokens * 2500) OVER (ORDER BY n_tokens * 2500, stratum NULLS FIRST
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
        |      FROM c),
        |s AS (SELECT *, CAST(cap_m AS DOUBLE) * (n - i + 1) <= CAST(360000000 - cum_prev AS DOUBLE) AS saturated
        |      FROM w),
        |t AS (SELECT *, COALESCE(SUM(CASE WHEN saturated THEN cap_m END) OVER (), 0) AS sat_sum,
        |        SUM(CASE WHEN saturated THEN 1 ELSE 0 END) OVER () AS sat_cnt
        |      FROM s),
        |a AS (SELECT stratum, n_tokens,
        |        CASE WHEN saturated THEN CAST(cap_m AS DOUBLE)
        |             ELSE CAST(360000000 - sat_sum AS DOUBLE) / CAST(n - sat_cnt AS DOUBLE) END AS alloc_m
        |      FROM t),
        |e AS (SELECT stratum, n_tokens,
        |        ROUND(alloc_m / 1000.0, 6) AS alloc,
        |        ROUND(alloc_m / (CAST(n_tokens AS DOUBLE) * 1000.0), 6) AS ep
        |      FROM a WHERE n_tokens > 0),
        |d AS (SELECT doc_id, source, n_chars,
        |        CAST(floor(ep) AS BIGINT)
        |        + CASE WHEN CAST(('0x' || substr(md5('m126' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |                 < CAST(floor((ep - floor(ep)) * 4294967296.0) AS BIGINT)
        |               THEN 1 ELSE 0 END AS nc
        |      FROM documents JOIN e ON documents.source = e.stratum
        |      WHERE doc_id IS NOT NULL),
        |r AS (SELECT source AS stratum, CAST(SUM(n_chars * nc) AS BIGINT) AS realized_tokens
        |      FROM d GROUP BY source)
        |SELECT e.stratum, e.n_tokens, e.alloc,
        |       CAST(COALESCE(r.realized_tokens, 0) AS BIGINT) AS realized_tokens,
        |       CASE WHEN e.n_tokens > 0
        |            THEN ROUND(CAST(COALESCE(r.realized_tokens, 0) AS DOUBLE) / CAST(e.n_tokens AS DOUBLE), 6)
        |            ELSE 0.0 END AS realized_epochs,
        |       CASE WHEN e.alloc > 0
        |            THEN ROUND((CAST(COALESCE(r.realized_tokens, 0) AS DOUBLE) - e.alloc) / e.alloc, 6)
        |            ELSE 0.0 END AS deviation
        |FROM e LEFT JOIN r ON e.stratum = r.stratum""".stripMargin),

    // Exact duplicated-substring detection (suffix-array dedup at gram
    // resolution): maximal token spans every length-8 window of which
    // repeats somewhere in the corpus. The fixture injects both
    // duplication shapes — a shared boilerplate tail (cross-doc) and
    // prefix-repeated docs (within-doc); the base corpus's small
    // vocabulary contributes whatever natural 8-gram repeats it has,
    // identically in both engines.
    Query("pq37_substring_spans", (s, dir) =>
      SubstringDedup.duplicatedSpans(substringFixture(s, dir),
        "doc_id", "text", gramN = 8, ordered = false), oracle =
      // gram strings stand in for the operator's per-occurrence fnv64
      // keys (the pq25 contract); islands merge duplicated windows into
      // maximal spans exactly as the operator's doc-keyed window does
      (SubstringCtes +
        """,
        |gs AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) > 1),
        |dup AS (SELECT g.doc_id, g.pos FROM g JOIN gs USING (gram)),
        |fl AS (SELECT doc_id, pos,
        |         CASE WHEN pos > COALESCE(MAX(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) THEN 1 ELSE 0 END AS ni
        |       FROM dup),
        |isl AS (SELECT doc_id, pos, SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS UNBOUNDED PRECEDING) AS island FROM fl)
        |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 8 AS span_end,
        |       MAX(pos) + 8 - MIN(pos) AS n_tokens
        |FROM isl GROUP BY doc_id, island""".stripMargin)),

    // Keep-first substring dedup over the same fixture: every duplicated
    // gram occurrence except its globally first (by (doc_id, pos)) is
    // cut, cut windows merge to spans, covered tokens are removed and
    // the survivors re-join — (doc_id, n_tokens, n_removed,
    // cleaned_text) per non-null-text doc.
    Query("pq38_substring_dedup", (s, dir) =>
      SubstringDedup.removeDuplicated(substringFixture(s, dir),
        "doc_id", "text", gramN = 8, ordered = false), oracle =
      // keep-first removal: the per-gram first occurrence survives via the
      // same doc*2^32+pos packed MIN the operator uses; coverage expansion
      // replaces the islands pass (identical covered-token set)
      (SubstringCtes +
        """,
        |gs AS (SELECT gram, COUNT(*) AS cnt, MIN(doc_id * 4294967296 + pos) AS keep
        |       FROM g GROUP BY gram),
        |cut AS (SELECT g.doc_id, g.pos FROM g JOIN gs USING (gram)
        |        WHERE cnt > 1 AND g.doc_id * 4294967296 + g.pos <> keep),
        |cov AS (SELECT DISTINCT doc_id, p
        |        FROM (SELECT doc_id, unnest(range(pos, pos + 8)) AS p FROM cut)),
        |tp AS (SELECT doc_id, unnest(t) AS tok, unnest(range(1, len(t) + 1)) AS p FROM tok),
        |kept AS (SELECT tp.doc_id, tp.tok, tp.p FROM tp LEFT JOIN cov
        |           ON tp.doc_id = cov.doc_id AND tp.p = cov.p
        |         WHERE cov.p IS NULL),
        |ka AS (SELECT doc_id, COUNT(*) AS nk, string_agg(tok, ' ' ORDER BY p) AS ct
        |       FROM kept GROUP BY doc_id)
        |SELECT tok.doc_id, len(tok.t) AS n_tokens,
        |       len(tok.t) - COALESCE(ka.nk, 0) AS n_removed,
        |       COALESCE(ka.ct, '') AS cleaned_text
        |FROM tok LEFT JOIN ka ON tok.doc_id = ka.doc_id""".stripMargin)),

    // Incremental line dedup: a batch cleaned against the corpus line
    // index without rescanning history — copies of history docs lose
    // every eligible line (history always wins), fresh one-line docs
    // injected twice dedup keep-first within the batch.
    Query("pq44_incremental_line_dedup", (s, dir) => {
      val hb = docs(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), replace(col("text"), lit(" a "), lit("\n")).as("text"))
      val idx = LineDedup.lineIndex(hb, "doc_id", "text")
      val idstr = col("doc_id").cast("string")
      val fresh = concat(lit("f"), idstr, lit("a f"), idstr, lit("b f"), idstr,
        lit("c f"), idstr, lit("d f"), idstr, lit("e"))
      val batch = hb.filter(col("doc_id") < 10)
        .select((col("doc_id") + 200000).as("doc_id"), col("text"))
        .unionByName(hb.filter(col("doc_id") >= 10 && col("doc_id") < 18)
          .select((col("doc_id") + 210000).as("doc_id"), fresh.as("text")))
        .unionByName(hb.filter(col("doc_id") >= 10 && col("doc_id") < 18)
          .select((col("doc_id") + 220000).as("doc_id"), fresh.as("text")))
      LineDedup.dedupLinesIncremental(batch, "doc_id", "text", idx,
        ordered = false)
    }, oracle =
      // the index is line STRINGS here (standing in for xxhash64 keys —
      // the pq15 contract); history hits cut unconditionally, batch-only
      // lines replay the pq40 keep-first logic
      """WITH hb AS (SELECT doc_id, replace(text, ' a ', chr(10)) AS text
        |            FROM documents WHERE text IS NOT NULL),
        |hl AS (SELECT DISTINCT line FROM
        |         (SELECT unnest(string_split(text, chr(10))) AS line FROM hb) t
        |       WHERE len(string_split_regex(trim(line), '\s+')) >= 5),
        |bat AS (
        |  SELECT doc_id + 200000 AS doc_id, text FROM hb WHERE doc_id < 10
        |  UNION ALL SELECT doc_id + 210000, 'f'||doc_id||'a f'||doc_id||'b f'||doc_id||'c f'||doc_id||'d f'||doc_id||'e' FROM hb WHERE doc_id >= 10 AND doc_id < 18
        |  UNION ALL SELECT doc_id + 220000, 'f'||doc_id||'a f'||doc_id||'b f'||doc_id||'c f'||doc_id||'d f'||doc_id||'e' FROM hb WHERE doc_id >= 10 AND doc_id < 18),
        |l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line,
        |             unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos FROM bat),
        |e AS (SELECT doc_id, pos, line,
        |             len(string_split_regex(trim(line), '\s+')) >= 5 AS elig FROM l),
        |x AS (SELECT e.doc_id, e.pos, e.line, e.elig,
        |             (hl.line IS NOT NULL) AS hit
        |      FROM e LEFT JOIN hl ON e.elig AND e.line = hl.line),
        |gs AS (SELECT line, COUNT(*) AS cnt, MIN(doc_id * 4294967296 + pos) AS keep
        |       FROM x WHERE elig AND NOT hit GROUP BY line HAVING COUNT(*) > 1),
        |k AS (SELECT x.doc_id, x.pos, x.line, x.hit,
        |             (x.hit OR (gs.cnt IS NOT NULL AND x.doc_id * 4294967296 + x.pos <> gs.keep)) AS cut
        |      FROM x LEFT JOIN gs ON x.elig AND NOT x.hit AND x.line = gs.line)
        |SELECT doc_id, COUNT(*) AS n_lines,
        |       CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_removed_history,
        |       CAST(SUM(CASE WHEN cut AND NOT hit THEN 1 ELSE 0 END) AS BIGINT) AS n_removed_batch,
        |       COALESCE(string_agg(CASE WHEN NOT cut THEN line END, chr(10) ORDER BY pos), '')
        |         AS cleaned_text
        |FROM k GROUP BY doc_id""".stripMargin),

    // Composed quality gate (the C4/Gopher filter step): per-doc
    // boolean gates + their conjunction, thresholds chosen to split the
    // corpus on every gate (probed medians); an injected null-text row
    // exercises the fails-everything contract.
    Query("pq41_quality_gate", (s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
        .unionByName(s.range(1).select(lit(990000L).as("doc_id"),
          lit(null).cast("string").as("text")))
      TextAnalysis.qualityGate(d, "doc_id", "text",
        minTokens = 20, maxTokens = 80, minMeanWlen = 3.8, maxMeanWlen = 4.9,
        minStopRatio = 0.04, minTtr = 0.4,
        maxDupBigramFrac = 0.05, maxTopBigramFrac = 0.06, ordered = false)
    }, oracle =
      // flags compare RAW IEEE ratios (exact-integer divisions — bit-
      // identical across engines); Kleene AND makes the null-text row
      // fail every gate in both engines
      """WITH d AS (SELECT doc_id, text FROM documents
        |           UNION ALL SELECT 990000, NULL),
        |t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |      FROM d WHERE text IS NOT NULL),
        |m AS (SELECT doc_id, len(toks) AS n,
        |        list_sum(list_transform(toks, w -> len(w)))::DOUBLE / len(toks) AS mw,
        |        len(list_filter(toks, w -> w IN ('the','a','of','and','in')))::DOUBLE / len(toks) AS sr,
        |        len(list_distinct(toks))::DOUBLE / len(toks) AS ttr
        |      FROM t),
        |b AS (SELECT doc_id, list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS bgs
        |      FROM t WHERE len(toks) >= 2),
        |u AS (SELECT doc_id, unnest(bgs) AS bg FROM b),
        |c AS (SELECT doc_id, bg, COUNT(*) AS cnt FROM u GROUP BY doc_id, bg),
        |s AS (SELECT doc_id, SUM(cnt) AS ng, COUNT(*) AS nd, MAX(cnt) AS top
        |      FROM c GROUP BY doc_id),
        |j AS (SELECT d.doc_id, m.n, m.mw, m.sr, m.ttr,
        |        CASE WHEN s.ng IS NULL THEN NULL ELSE (s.ng - s.nd)::DOUBLE / s.ng END AS dupf,
        |        CASE WHEN s.ng IS NULL THEN NULL ELSE s.top::DOUBLE / s.ng END AS topf
        |      FROM d LEFT JOIN m ON d.doc_id = m.doc_id LEFT JOIN s ON d.doc_id = s.doc_id),
        |f AS (SELECT doc_id, n,
        |        (n IS NOT NULL AND n >= 20 AND n <= 80) AS len_ok,
        |        (mw IS NOT NULL AND mw >= 3.8 AND mw <= 4.9) AS wlen_ok,
        |        (sr IS NOT NULL AND sr >= 0.04) AS stop_ok,
        |        (ttr IS NOT NULL AND ttr >= 0.4) AS ttr_ok,
        |        (n IS NOT NULL AND (dupf IS NULL OR (dupf <= 0.05 AND topf <= 0.06))) AS rep_ok
        |      FROM j)
        |SELECT doc_id, COALESCE(n, 0) AS n_tokens, len_ok, wlen_ok, stop_ok, ttr_ok, rep_ok,
        |       (len_ok AND wlen_ok AND stop_ok AND ttr_ok AND rep_ok) AS pass
        |FROM f""".stripMargin),

    // C4-style line-level dedup: every later occurrence of a repeated
    // >=5-token line is removed corpus-wide (keep-first), short lines
    // always pass through, docs reassemble in position order.
    Query("pq40_line_dedup", (s, dir) =>
      LineDedup.dedupLines(lineFixture(s, dir), "doc_id", "text",
        sep = "\n", minTokens = 5, ordered = false), oracle =
      // line strings stand in for the operator's xxhash64 keys (the pq15
      // contract); string_agg skips the CASE's NULLs so only kept lines
      // re-join, in position order like the operator's array_sort
      """WITH b AS (SELECT doc_id, replace(text, ' a ', chr(10)) AS m
        |           FROM documents WHERE text IS NOT NULL),
        |d AS (SELECT doc_id, m AS text FROM b
        |  UNION ALL SELECT doc_id + 100000, m || chr(10) || 'dl1 dl2 dl3 dl4 dl5 dl6'
        |    FROM b WHERE doc_id < 12
        |  UNION ALL SELECT doc_id + 110000,
        |    m || chr(10) || 'sl1 sl2 sl3 sl4 sl5' || chr(10) || 'sl1 sl2 sl3 sl4 sl5'
        |    FROM b WHERE doc_id >= 12 AND doc_id < 20),
        |l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line,
        |             unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos FROM d),
        |e AS (SELECT doc_id, pos, line,
        |             len(string_split_regex(trim(line), '\s+')) >= 5 AS elig FROM l),
        |gs AS (SELECT line, COUNT(*) AS cnt, MIN(doc_id * 4294967296 + pos) AS keep
        |       FROM e WHERE elig GROUP BY line HAVING COUNT(*) > 1),
        |k AS (SELECT e.doc_id, e.pos, e.line,
        |             (gs.cnt IS NOT NULL AND e.doc_id * 4294967296 + e.pos <> gs.keep) AS cut
        |      FROM e LEFT JOIN gs ON e.elig AND e.line = gs.line)
        |SELECT doc_id, COUNT(*) AS n_lines,
        |       CAST(SUM(CASE WHEN cut THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |       COALESCE(string_agg(CASE WHEN NOT cut THEN line END, chr(10) ORDER BY pos), '')
        |         AS cleaned_text
        |FROM k GROUP BY doc_id""".stripMargin),

    // pq25's containment through the Bloom-prefiltered train side: the
    // eval shingle keys build a bloom sketch, the corpus shingle stream
    // is probed before its DISTINCT shuffle, and the exact left join
    // absorbs the sketch's false positives — bit-identical output
    // (shared oracle SQL), shuffle sized by the eval set instead of the
    // corpus.
    Query("pq39_bloom_decontaminate", (s, dir) => {
      val (train, eval) = decontamFixture(s, dir)
      Decontamination.containmentBloom(train, eval, "doc_id", "text",
        shingleN = 3, ordered = false,
        expectedEvalShingles = 1L << 16, fpp = 0.01)
    }, oracle =
      // the bloom pre-filter is exact-by-construction (false positives die
      // in the exact join), so the bloom variant answers the IDENTICAL
      // question — one shared oracle string, like the pq12/pq31 CTE share
      DecontamSql),

    // PII redaction over a corpus with synthesized contamination for
    // doc_id < 20 (email + phone + IPv4 appended); the rest of the
    // corpus is clean word soup and must pass through untouched with
    // n_redactions = 0.
    Query("pq30_redact", (s, dir) => {
      val contaminated = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") < 20,
          concat(col("text"),
            lit(" contact bob@example.com or 555-123-4567 at 10.0.0.1")))
          .otherwise(col("text")).as("text"))
      TextAnalysis.redactPii(contaminated, "doc_id", "text", ordered = false)
    }, oracle =
      // staged counts: each pattern counted on the text as it stands when
      // that pattern runs, mirroring the operator — a match swallowed by
      // an earlier replacement is not double-counted
      """WITH d AS (SELECT doc_id,
        |  CASE WHEN doc_id < 20
        |       THEN text || ' contact bob@example.com or 555-123-4567 at 10.0.0.1'
        |       ELSE text END AS text FROM documents),
        |s1 AS (SELECT doc_id, text,
        |         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
        |       FROM d),
        |s2 AS (SELECT doc_id, text, t1,
        |         regexp_replace(t1, '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS t2
        |       FROM s1)
        |SELECT doc_id,
        |  regexp_replace(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted_text,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |     + len(regexp_extract_all(t1, '\b\d{3}-\d{3}-\d{4}\b'))
        |     + len(regexp_extract_all(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
        |    AS BIGINT) AS n_redactions
        |FROM s2""".stripMargin),

    // Multimodal decode path: text -> opaque binary payload -> batched
    // per-partition decode (the stub codec) -> typed metadata rows. This
    // executes asBinaryPayload + decodeBatch + decodeOne end-to-end; the
    // deterministic stub arithmetic makes it oracle-checkable.
    Query("pq11_multimodal_decode", (s, dir) => {
      import s.implicits._
      val media = Multimodal
        .asBinaryPayload(docs(s, dir), "doc_id", "text")
        .as[Multimodal.MediaRow]
      Multimodal.decodeBatch(media).toDF()
        .select(col("doc_id"), col("n_bytes"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"),
          concat_ws(",", col("frame_offsets").cast("array<string>")).as("frame_offsets"))
    }, oracle =
      """WITH d AS (SELECT doc_id, octet_length(encode(text)) AS n_bytes FROM documents),
        |m AS (SELECT doc_id, n_bytes,
        |        CAST(16 + (n_bytes % 64) AS BIGINT) AS width,
        |        CAST(16 + ((n_bytes // 64) % 64) AS BIGINT) AS height,
        |        CAST(1 + (n_bytes % 7) AS BIGINT) AS n_frames
        |      FROM d)
        |SELECT doc_id, n_bytes, width, height, n_frames,
        |       array_to_string(list_transform(range(0, n_frames), i -> (i * (n_bytes // n_frames))::VARCHAR), ',') AS frame_offsets
        |FROM m""".stripMargin)
  )

  /** Synthetic rows covering every language branch of the lang-ID fold:
   *  es/de/fr winners, an all-ones tie (en wins via >=), and an en-loses
   *  tie (es wins via >=). Mirrored verbatim in the pq4b oracle VALUES. */
  val SynthLangRows: Seq[String] = Seq(
    "el la los el la",
    "der die das der",
    "le les une le",
    "the el der le",
    "el der")
}
