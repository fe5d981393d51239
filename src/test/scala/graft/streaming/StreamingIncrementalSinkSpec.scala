package graft.streaming

import graft.TestSpark
import graft.llm.{IncrementalDedup, IndexStore}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/**
 * The closed-loop streaming index: [[StreamingIncremental.sinkExact]]
 * classifies each micro-batch against the bucketed
 * [[graft.llm.IndexStore]] table, appends accepted keepers, and runs
 * maintenance on cadence.
 *
 *  - LEARNING: batch 2 sees batch 1's keepers THROUGH THE TABLE —
 *    content first seen in batch 1 classifies `dup_of_history` in
 *    batch 2, with `dup_of` = batch 1's keeper.
 *  - MAINTENANCE: on the configured cadence, the append-grown table is
 *    compacted back to ≤ one file per bucket under the same name, with
 *    identical contents.
 *  - REPLAY CONVERGENCE: re-delivering already-indexed data appends
 *    ZERO rows — the index contents are replay-invariant.
 */
class StreamingIncrementalSinkSpec extends AnyFunSuite {
  import TestSpark.spark

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def indexRows(tbl: String): Set[(String, Long)] = {
    // the appends happen in the stream's CLONED session; this outer
    // session's relation cache holds a stale file listing for the
    // table — refresh is the standard cross-session-reader contract
    spark.catalog.refreshTable(tbl)
    IndexStore.exactIndex(spark, tbl).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
  }

  test("sinkExact: batches learn through the table, maintenance compacts on cadence, replays append nothing") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val tbl = "graft_stream_sink_idx"
    try {
      IndexStore.saveExact(
        IncrementalDedup.buildIndex(
          Seq((10L, "history A")).toDF("doc_id", "text"), "doc_id", "text"),
        tbl,
        Files.createTempDirectory("graft_sink_idx").resolve(tbl).toString,
        // ONE bucket so the tiny per-batch appends (1 file each) cross
        // maintain's files-per-bucket threshold inside two batches
        buckets = 1)

      val out = scala.collection.mutable.Map[Long, (String, Any)]()
      def onBatch(classified: DataFrame, batchId: Long): Unit =
        out.synchronized {
          classified.collect().foreach(r => out(r.getLong(0)) =
            (r.getString(2), if (r.isNullAt(3)) null else r.getLong(3)))
        }

      val input = MemoryStream[(Long, String)]
      // rebucketTo exercises the outgrown-index path THROUGH the sink:
      // the cadence's maintain rewrites the 1-bucket table at 2 buckets
      val q = StreamingIncremental.sinkExact(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", tbl,
        onBatch, maintainEvery = 2, maxFilesPerBucket = 1,
        rebucketTo = Some(2))
        .option("checkpointLocation",
          Files.createTempDirectory("graft_sink_chk").toString)
        .start()

      // batch 1: a history dup, and duplicated fresh content (keeper 2)
      input.addData((1L, "history A"), (2L, "fresh X"), (3L, "fresh X"))
      q.processAllAvailable()
      assert(out.toMap == Map(
        1L -> (("dup_of_history", 10L)),
        2L -> (("new", null)),
        3L -> (("dup_in_batch", 2L))))
      assert(indexRows(tbl) == Set(
        md5hex("history A") -> 10L, md5hex("fresh X") -> 2L),
        "batch 1's keeper must be appended to the table")

      // batch 2: batch 1's fresh content is now HISTORY via the table
      input.addData((4L, "fresh X"), (5L, "fresh Y"))
      q.processAllAvailable()
      assert(out(4L) == (("dup_of_history", 2L)),
        "batch 2 must see batch 1's keeper through the table")
      assert(out(5L) == (("new", null)))
      val converged = Set(md5hex("history A") -> 10L,
        md5hex("fresh X") -> 2L, md5hex("fresh Y") -> 5L)
      assert(indexRows(tbl) == converged)
      // cadence hit at batch 2 with maxFilesPerBucket=1: initial save +
      // two appends = 3 files in the single bucket, over threshold, so
      // maintain compacted — and rebucketTo rewrote the table at TWO
      // buckets (≤ one file each; without maintain the count stays 3)
      assert(IndexStore.dataFileCount(spark, tbl) <= 2,
        "maintenance must compact the append-grown table on cadence")
      val spec = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(tbl)).bucketSpec.get
      assert(spec.numBuckets == 2,
        s"the cadence's rebucketTo must rewrite the bucket count: $spec")
      q.stop()

      // replay: a NEW query (fresh checkpoint) re-delivers already-
      // indexed content — classified as history, zero rows appended
      val replay = MemoryStream[(Long, String)]
      val q2 = StreamingIncremental.sinkExact(
        replay.toDF().toDF("doc_id", "text"), "doc_id", "text", tbl,
        onBatch, maintainEvery = 0)
        .option("checkpointLocation",
          Files.createTempDirectory("graft_sink_chk2").toString)
        .start()
      replay.addData((2L, "fresh X"), (3L, "fresh X"), (5L, "fresh Y"))
      q2.processAllAvailable()
      assert(indexRows(tbl) == converged,
        "replaying indexed content must append nothing")
      assert(out(2L) == (("dup_of_history", 2L)) &&
        out(5L) == (("dup_of_history", 5L)),
        "replayed rows resolve to their own original keeper ids")
      q2.stop()
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("sinkExact: a stream restarted into a half-finished swap self-heals instead of wedging") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val tbl = "graft_stream_heal_idx"
    val tmp = tbl + "_compacting"
    try {
      IndexStore.saveExact(
        IncrementalDedup.buildIndex(
          Seq((10L, "history A")).toDF("doc_id", "text"), "doc_id", "text"),
        tbl,
        Files.createTempDirectory("graft_heal_idx").resolve(tbl).toString,
        buckets = 1)
      // simulate a crash inside maintain's swap: the table survives ONLY
      // under its _compacting name — a restarted stream's first classify
      // would die on table-not-found without the per-batch recover
      IndexStore.compactExact(spark, tbl, tmp,
        Files.createTempDirectory("graft_heal_idx2").resolve(tbl).toString,
        buckets = 1)
      spark.sql(s"DROP TABLE $tbl")
      assert(!spark.catalog.tableExists(tbl) && spark.catalog.tableExists(tmp))

      val out = scala.collection.mutable.Map[Long, (String, Any)]()
      val input = MemoryStream[(Long, String)]
      val q = StreamingIncremental.sinkExact(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", tbl,
        (classified, _) => out.synchronized {
          classified.collect().foreach(r => out(r.getLong(0)) =
            (r.getString(2), if (r.isNullAt(3)) null else r.getLong(3)))
        }, maintainEvery = 0)
        .option("checkpointLocation",
          Files.createTempDirectory("graft_heal_chk").toString)
        .start()
      input.addData((1L, "history A"), (2L, "fresh X"))
      q.processAllAvailable()
      assert(out.toMap == Map(
        1L -> (("dup_of_history", 10L)), 2L -> (("new", null))),
        "the healed stream must classify against the recovered table")
      assert(spark.catalog.tableExists(tbl) && !spark.catalog.tableExists(tmp))
      assert(indexRows(tbl) == Set(
        md5hex("history A") -> 10L, md5hex("fresh X") -> 2L))
      q.stop()
    } finally Seq(tbl, tmp).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("sinkExact: the retraction feed composes with the loop — accept, retract, re-accept, without stopping the stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val tbl = "graft_stream_retract_idx"
    try {
      IndexStore.saveExact(
        IncrementalDedup.buildIndex(
          Seq((10L, "history A")).toDF("doc_id", "text"), "doc_id", "text"),
        tbl,
        Files.createTempDirectory("graft_retract_idx").resolve(tbl).toString,
        buckets = 1)

      val out = scala.collection.mutable.Map[Long, (String, Any)]()
      // the takedown feed: ids queued between batches, drained per batch
      val pending = new java.util.concurrent.atomic.AtomicReference[Seq[Long]](Nil)
      val input = MemoryStream[(Long, String)]
      val writer = StreamingIncremental.sinkExact(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", tbl,
        (classified, _) => out.synchronized {
          classified.collect().foreach(r => out(r.getLong(0)) =
            (r.getString(2), if (r.isNullAt(3)) null else r.getLong(3)))
        }, maintainEvery = 0,
        retractions = (s, _) => {
          val ids = pending.getAndSet(Nil)
          if (ids.isEmpty) None
          else { import s.implicits._; Some(ids.toDF("keep_id")) }
        })
        .option("checkpointLocation",
          Files.createTempDirectory("graft_retract_chk").toString)
        .start()

      // batch 1 — ACCEPT: doc 2's content is new; keeper 2 lands
      input.addData((2L, "fresh X"))
      writer.processAllAvailable()
      assert(out(2L) == (("new", null)))
      assert(indexRows(tbl) == Set(
        md5hex("history A") -> 10L, md5hex("fresh X") -> 2L))

      // batch 2 — RETRACT keeper 2 (takedown), unrelated traffic flows on
      pending.set(Seq(2L))
      input.addData((3L, "fresh Y"))
      writer.processAllAvailable()
      assert(out(3L) == (("new", null)))
      assert(indexRows(tbl) == Set(
        md5hex("history A") -> 10L, md5hex("fresh Y") -> 3L),
        "the retracted keeper must be gone; the batch's own keeper lands")

      // batch 3 — RE-ACCEPT: the retracted content returns and is NEW
      // again under a fresh keeper (retraction forgets, not blocklists)
      input.addData((9L, "fresh X"))
      writer.processAllAvailable()
      assert(out(9L) == (("new", null)),
        "re-submitted retracted content must re-accept as new")
      assert(indexRows(tbl) == Set(
        md5hex("history A") -> 10L, md5hex("fresh Y") -> 3L,
        md5hex("fresh X") -> 9L))
      writer.stop()
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("sinkMinhash: batches learn near-dups through the band index, maintenance compacts, replays append nothing") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val tbl = "graft_stream_sink_mh"
    val histText = "the quick brown fox jumps over the lazy dog again"
    val freshText = "completely different words fill this other document entirely today"
    val thirdText = "yet another unrelated body of text with its own shingles"
    try {
      IndexStore.saveMinhash(
        graft.llm.IncrementalMinHash.buildIndex(
          Seq((10L, histText)).toDF("doc_id", "text"), "doc_id", "text"),
        tbl,
        Files.createTempDirectory("graft_sink_mh").resolve(tbl).toString,
        buckets = 1)

      val out = scala.collection.mutable.Map[Long, (String, Long)]()
      def onBatch(classified: DataFrame, batchId: Long): Unit =
        out.synchronized {
          classified.collect().foreach(r =>
            out(r.getLong(0)) = (r.getString(1), r.getLong(2)))
        }
      def keepers(): Set[Long] = {
        spark.catalog.refreshTable(tbl)
        IndexStore.minhashIndex(spark, tbl).select("keep_id").distinct()
          .collect().map(_.getLong(0)).toSet
      }

      val input = MemoryStream[(Long, String)]
      val q = StreamingIncremental.sinkMinhash(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", tbl,
        onBatch, maintainEvery = 2, maxFilesPerBucket = 1)
        .option("checkpointLocation",
          Files.createTempDirectory("graft_sink_mh_chk").toString)
        .start()

      // batch 1: an exact sketch-dup of history + genuinely new content
      input.addData((1L, histText), (2L, freshText))
      q.processAllAvailable()
      assert(out(1L) == (("dup_of_history", 10L)))
      assert(out(2L) == (("new", -1L)))
      assert(keepers() == Set(10L, 2L),
        "batch 1's accepted doc must be appended to the band index")

      // batch 2: batch 1's fresh content is now history via the table
      input.addData((3L, freshText), (4L, thirdText))
      q.processAllAvailable()
      assert(out(3L) == (("dup_of_history", 2L)),
        "batch 2 must see batch 1's keeper through the table")
      assert(out(4L) == (("new", -1L)))
      assert(keepers() == Set(10L, 2L, 4L))
      // cadence hit at batch 2: 3 appends-worth of files in the single
      // bucket compact back to one
      assert(IndexStore.dataFileCount(spark, tbl) == 1,
        "maintenance must compact the append-grown band index on cadence")
      q.stop()

      // replay: an accepted doc re-delivered matches its own sketch
      val replay = MemoryStream[(Long, String)]
      val q2 = StreamingIncremental.sinkMinhash(
        replay.toDF().toDF("doc_id", "text"), "doc_id", "text", tbl,
        onBatch, maintainEvery = 0)
        .option("checkpointLocation",
          Files.createTempDirectory("graft_sink_mh_chk2").toString)
        .start()
      replay.addData((2L, freshText))
      q2.processAllAvailable()
      assert(out(2L) == (("dup_of_history", 2L)),
        "a replayed accepted doc resolves to its own keeper id")
      assert(keepers() == Set(10L, 2L, 4L),
        "replaying indexed content must append nothing")
      assert(IndexStore.dataFileCount(spark, tbl) == 1)
      q2.stop()
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("sinkMinhash: a non-numeric id fails the micro-batch with the id-column message and appends nothing") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // ANSI off: the session whose plain cast turns "doc-x" into a null id
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.ansi.enabled", "false")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s2.sqlContext
    import s2.implicits._

    val tbl = "graft_stream_sink_mh_badid"
    val histText = "the quick brown fox jumps over the lazy dog again"
    try {
      IndexStore.saveMinhash(
        graft.llm.IncrementalMinHash.buildIndex(
          Seq((10L, histText)).toDF("doc_id", "text"), "doc_id", "text"),
        tbl,
        Files.createTempDirectory("graft_sink_mh_badid").resolve(tbl).toString,
        buckets = 1)
      val seen = new java.util.concurrent.atomic.AtomicLong(0L)
      val input = MemoryStream[(String, String)]
      val q = StreamingIncremental.sinkMinhash(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", tbl,
        (c: DataFrame, _: Long) => { seen.addAndGet(c.count()); () },
        maintainEvery = 0)
        .option("checkpointLocation",
          Files.createTempDirectory("graft_sink_mh_badid_chk").toString)
        .start()
      // "doc-x" copies history: cast to null it would classify `new`
      input.addData(("2", "completely different words fill this other document"),
        ("doc-x", histText))
      val ex = intercept[Exception](q.processAllAvailable())
      val msgs = Iterator.iterate[Throwable](ex)(_.getCause)
        .takeWhile(_ != null).take(10).map(e => String.valueOf(e.getMessage)).toSeq
      assert(msgs.exists(_.contains(
        "id column 'doc_id' holds a non-null value that is not a long")),
        msgs.mkString("\n"))
      q.stop()
      assert(seen.get == 0L, "onBatch must not see a failed micro-batch")
      s2.catalog.refreshTable(tbl)
      assert(IndexStore.minhashIndex(s2, tbl).select("keep_id").distinct()
        .collect().map(_.getLong(0)).toSet == Set(10L),
        "a failed micro-batch must append nothing")
    } finally s2.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("sinkCoded: batches append into cells, replays and duplicates don't double-index, compaction on cadence, retraction feed composes, search stays exact") {
    import graft.llm.{Clustering, ProductQuant}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = ProductQuant.train(e, "vec_id", "embedding", m = 16, ksub = 16, iters = 2)
    val centroids = Clustering.train(e, "vec_id", "embedding", k = 4, iters = 3).centroids
    val vecs: Map[Long, Seq[Float]] = e.filter(col("vec_id") < 120)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap

    val tbl = "graft_stream_coded_idx"
    try {
      // initial index: vectors 100-119 only
      IndexStore.saveCoded(
        ProductQuant.buildCodedIndex(
          e.filter(col("vec_id") >= 100 && col("vec_id") < 120),
          "vec_id", "embedding", centroids, model, ordered = false),
        tbl,
        Files.createTempDirectory("graft_coded_sink").resolve(tbl).toString,
        nlist = centroids.length, m = model.m)

      val out = scala.collection.mutable.Map[Long, String]()
      def onBatch(classified: DataFrame, batchId: Long): Unit =
        out.synchronized {
          classified.collect().foreach(r => out(r.getLong(0)) = r.getString(3))
        }
      def indexedIds(): Seq[Long] = {
        spark.catalog.refreshTable(tbl)
        spark.table(tbl).select("vec_id").collect().map(_.getLong(0)).toSeq
      }

      val input = MemoryStream[(Long, Seq[Float])]
      val q = StreamingIncremental.sinkCoded(
        input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        tbl, centroids, model, onBatch,
        maintainEvery = 2, maxFilesPerCell = 1)
        .option("checkpointLocation",
          Files.createTempDirectory("graft_coded_chk").toString)
        .start()

      // batch 1: five new vectors, one of them delivered TWICE in the
      // same batch (the table probe can't see in-batch dups — the
      // sink's own dedup must)
      input.addData(((0L to 4L) :+ 2L).map(i => i -> vecs(i)): _*)
      q.processAllAvailable()
      assert((0L to 4L).forall(out(_) == "new"))
      assert(indexedIds().sorted == ((0L to 4L) ++ (100L to 119L)).sorted,
        "an id duplicated within one batch must index exactly once")

      // batch 2: overlap 3-4 (already indexed through the table) + new
      // 5-7; cadence (every 2) compacts the overgrown cells
      input.addData((3L to 7L).map(i => i -> vecs(i)): _*)
      q.processAllAvailable()
      assert(out(3L) == "already_indexed" && out(4L) == "already_indexed")
      assert((5L to 7L).forall(out(_) == "new"))
      val converged = ((0L to 7L) ++ (100L to 119L)).sorted
      assert(indexedIds().sorted == converged,
        "overlapping delivery must not double-index")
      assert(IndexStore.cellFileCounts(spark, tbl).values.forall(_ <= 1),
        "the cadence's compactCoded must rewrite overgrown cells to ~1 file")
      q.stop()

      // replay on a fresh checkpoint: everything already indexed
      val replay = MemoryStream[(Long, Seq[Float])]
      val q2 = StreamingIncremental.sinkCoded(
        replay.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        tbl, centroids, model, onBatch, maintainEvery = 0)
        .option("checkpointLocation",
          Files.createTempDirectory("graft_coded_chk2").toString)
        .start()
      replay.addData((0L to 7L).map(i => i -> vecs(i)): _*)
      q2.processAllAvailable()
      assert((0L to 7L).forall(out(_) == "already_indexed"))
      assert(indexedIds().sorted == converged,
        "a replayed batch must append nothing")
      q2.stop()

      // retraction feed: takedown id 3 in the same cycle its
      // re-submission arrives — retract runs BEFORE the probe, so the
      // arrival re-indexes as new (retraction FORGETS); exactly one
      // row for id 3 afterwards
      val third = MemoryStream[(Long, Seq[Float])]
      val q3 = StreamingIncremental.sinkCoded(
        third.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        tbl, centroids, model, onBatch, maintainEvery = 0,
        retractions = (s, _) => { import s.implicits._
          Some(Seq(3L).toDF("vec_id")) })
        .option("checkpointLocation",
          Files.createTempDirectory("graft_coded_chk3").toString)
        .start()
      third.addData(3L -> vecs(3L))
      q3.processAllAvailable()
      assert(out(3L) == "new", "a retracted id must re-accept as new")
      assert(indexedIds().sorted == converged,
        "retract + re-accept must converge to the same id set")
      assert(indexedIds().count(_ == 3L) == 1)
      q3.stop()

      // search law: full probing over the streamed table equals the
      // whole-corpus ADC scan over the equivalent static corpus
      spark.catalog.refreshTable(tbl)
      val corpus = e.filter((col("vec_id") < 8) ||
        (col("vec_id") >= 100 && col("vec_id") < 120))
      val queries = e.filter(col("vec_id") < 3)
      def sorted(df: DataFrame) =
        df.collect().map(_.toSeq.toVector).toSeq.sortBy(_.mkString("|"))
      assert(sorted(ProductQuant.ivfAdcTopKPruned(spark.table(tbl), queries,
        "vec_id", "embedding", centroids, model, k = 5,
        nprobe = centroids.length, ordered = false)) ==
        sorted(ProductQuant.adcTopK(corpus, queries, "vec_id", "embedding",
          model, k = 5, ordered = false)),
        "the streamed index must search exactly like a batch-built one")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("sinkCoded allowUpdates: a re-delivered id with a changed vector updates in place — one row per id always, replay converges, pre-existing double-index self-heals") {
    import graft.llm.{Clustering, ProductQuant}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, lit}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = ProductQuant.train(e, "vec_id", "embedding", m = 16, ksub = 16, iters = 2)
    val centroids = Clustering.train(e, "vec_id", "embedding", k = 4, iters = 3).centroids
    val vecs: Map[Long, Seq[Float]] = e.filter(col("vec_id") < 120)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    // two source vectors that IVF-assign to DIFFERENT cells — the exact
    // shape of the default path's documented hole
    val cellOf: Map[Long, Int] = ProductQuant.buildCodedIndex(
      e.filter(col("vec_id") < 120), "vec_id", "embedding",
      centroids, model, ordered = false)
      .select("vec_id", "list").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val va = 0L
    val vb = (1L until 120L).find(i => cellOf(i) != cellOf(va)).get

    val tbl = "graft_stream_coded_upd"
    try {
      IndexStore.saveCoded(
        ProductQuant.buildCodedIndex(
          e.filter(col("vec_id") >= 100 && col("vec_id") < 120),
          "vec_id", "embedding", centroids, model, ordered = false),
        tbl,
        Files.createTempDirectory("graft_coded_upd").resolve(tbl).toString,
        nlist = centroids.length, m = model.m)

      val out = scala.collection.mutable.Map[Long, String]()
      val delivered = scala.collection.mutable.ArrayBuffer[(Long, String)]()
      def onBatch(classified: DataFrame, batchId: Long): Unit =
        out.synchronized {
          classified.collect().foreach { r =>
            out(r.getLong(0)) = r.getString(3)
            delivered += ((r.getLong(0), r.getString(3)))
          }
        }
      def rowsOf(id: Long): Seq[Int] = {
        spark.catalog.refreshTable(tbl)
        spark.table(tbl).filter(col("vec_id") === id)
          .select("list").collect().map(_.getInt(0)).toSeq
      }

      // seed a PRE-EXISTING double-indexed id (77 in two cells) — what
      // the default path leaves behind when its contract is violated;
      // appendCoded itself never probes
      IndexStore.appendCoded(
        ProductQuant.buildCodedIndex(
          e.filter(col("vec_id") === va)
            .select(lit(77L).as("vec_id"), col("embedding")),
          "vec_id", "embedding", centroids, model, ordered = false), tbl,
        centroids.length, model.m)
      IndexStore.appendCoded(
        ProductQuant.buildCodedIndex(
          e.filter(col("vec_id") === vb)
            .select(lit(77L).as("vec_id"), col("embedding")),
          "vec_id", "embedding", centroids, model, ordered = false), tbl,
        centroids.length, model.m)
      assert(rowsOf(77L).size == 2, "the seeded hole must exist to be healed")

      val input = MemoryStream[(Long, Seq[Float])]
      val q = StreamingIncremental.sinkCoded(
        input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        tbl, centroids, model, onBatch, maintainEvery = 0,
        allowUpdates = true)
        .option("checkpointLocation",
          Files.createTempDirectory("graft_coded_upd_chk").toString)
        .start()

      // batch 1: fresh id 42 with vector va
      input.addData(42L -> vecs(va))
      q.processAllAvailable()
      assert(out(42L) == "new")
      assert(rowsOf(42L) == Seq(cellOf(va)))

      // batch 2: SAME id, CHANGED vector landing in a different cell —
      // the default path would double-index; updates must not
      input.addData(42L -> vecs(vb))
      q.processAllAvailable()
      assert(out(42L) == "updated",
        "a changed-vector re-delivery must classify updated")
      assert(rowsOf(42L) == Seq(cellOf(vb)),
        "the update must move the id's ONE row to the new cell")

      // batch 3: exact replay of the update — idempotent
      input.addData(42L -> vecs(vb))
      q.processAllAvailable()
      assert(out(42L) == "already_indexed",
        "replaying an applied update must append nothing")
      assert(rowsOf(42L) == Seq(cellOf(vb)))

      // batch 4: update the seeded double-indexed id — self-heals to one
      input.addData(77L -> vecs(vb))
      q.processAllAvailable()
      assert(rowsOf(77L) == Seq(cellOf(vb)),
        "an update of a double-indexed id must heal it to one row")
      assert(delivered.count(_._1 == 77L) == 1 &&
        out(77L) == "updated",
        "onBatch must see ONE status row for a double-indexed id, and " +
          "'updated' must win over 'already_indexed'")
      q.stop()

      // search law: a full probe never returns one id twice (query id
      // outside the corpus — the search excludes self-matches)
      spark.catalog.refreshTable(tbl)
      val hits = ProductQuant.ivfAdcTopKPruned(spark.table(tbl),
        e.filter(col("vec_id") === vb)
          .select(lit(999999L).as("vec_id"), col("embedding")),
        "vec_id", "embedding", centroids, model, k = 10,
        nprobe = centroids.length, ordered = false)
        .collect().map(_.getLong(2))
      assert(hits.length == hits.distinct.length,
        "a search must never return the same id as two neighbors")
      assert(hits.contains(42L))
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("probeCodedByIds: the update probe reads ONLY the ids' old cells — O(batch), not O(index); sidecar stays complete and folds") {
    import graft.llm.{Clustering, ProductQuant}
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._

    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = ProductQuant.train(e, "vec_id", "embedding", m = 16, ksub = 16, iters = 2)
    val centroids = Clustering.train(e, "vec_id", "embedding", k = 4, iters = 3).centroids
    val tbl = "graft_coded_probe"
    try {
      IndexStore.saveCoded(
        ProductQuant.buildCodedIndex(e, "vec_id", "embedding",
          centroids, model, ordered = false),
        tbl,
        Files.createTempDirectory("graft_coded_probe").resolve(tbl).toString,
        nlist = centroids.length, m = model.m)
      val cellOf = spark.table(tbl).select("vec_id", "list").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      // probe ids all living in ONE cell: the scan must touch only it
      val someCell = cellOf.values.groupBy(identity).maxBy(_._2.size)._1
      val inCell = cellOf.collect { case (id, c) if c == someCell => id }
        .take(5).toSeq
      val probe = IndexStore.probeCodedByIds(spark, tbl,
        inCell.toDF("vec_id"), "vec_id")
      val files = probe.inputFiles.filter(_.contains("list="))
      assert(files.nonEmpty &&
        files.forall(_.contains(s"list=$someCell")),
        s"probe must prune to list=$someCell; read: ${files.toSeq}")
      assert(probe.collect().map(_.getLong(0)).toSet == inCell.toSet)
      // completeness through appendCoded: new rows enter the sidecar
      IndexStore.appendCoded(
        ProductQuant.buildCodedIndex(
          e.filter(col("vec_id") === 3L)
            .select(lit(900001L).as("vec_id"), col("embedding")),
          "vec_id", "embedding", centroids, model, ordered = false),
        tbl, centroids.length, model.m)
      val late = IndexStore.probeCodedByIds(spark, tbl,
        Seq(900001L).toDF("vec_id"), "vec_id")
      assert(late.collect().map(_.getLong(0)).toSeq == Seq(900001L),
        "an appended id must be visible through the sidecar probe")
      // an id absent from index and sidecar probes to zero rows (and,
      // with no known cells, to zero input files)
      val miss = IndexStore.probeCodedByIds(spark, tbl,
        Seq(123456789L).toDF("vec_id"), "vec_id")
      assert(miss.count() == 0)
      // fold: rebuild collapses the append-accumulated sidecar files
      // to the same (id, cell) contents
      spark.catalog.refreshTable(tbl + "_idmap")
      val before = spark.table(tbl + "_idmap").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      IndexStore.rebuildIdmap(spark, tbl)
      spark.catalog.refreshTable(tbl + "_idmap")
      val after = spark.table(tbl + "_idmap").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(after == before && after.contains((900001L, cellOf(3L))))
      // a saveCoded rebuild invalidates the sidecar (new encodings,
      // missing ids) — it must be dropped, then lazily rebuilt
      IndexStore.saveCoded(
        ProductQuant.buildCodedIndex(e, "vec_id", "embedding",
          centroids, model, ordered = false),
        tbl,
        Files.createTempDirectory("graft_coded_probe2").resolve(tbl).toString,
        nlist = centroids.length, m = model.m)
      assert(!IndexStore.idmapExists(spark, tbl),
        "saveCoded must drop the sidecar — stale maps double-index")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_idmap")
    }
  }

  test("reindexCoded: quantizer rebuild between batches — membership preserved (takedowns not resurrected, missing vectors dropped), sink resumes under the new stamps, search law on the new quantizer") {
    import graft.llm.{Clustering, ProductQuant}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = ProductQuant.train(e, "vec_id", "embedding", m = 16, ksub = 16, iters = 2)
    val centroids = Clustering.train(e, "vec_id", "embedding", k = 4, iters = 3).centroids
    val vecs: Map[Long, Seq[Float]] = e.filter(col("vec_id") < 120)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val tbl = "graft_reindex_coded_idx"
    try {
      IndexStore.saveCoded(
        ProductQuant.buildCodedIndex(
          e.filter(col("vec_id") >= 100 && col("vec_id") < 120),
          "vec_id", "embedding", centroids, model, ordered = false),
        tbl,
        Files.createTempDirectory("graft_reindex").resolve(tbl).toString,
        nlist = centroids.length, m = model.m)

      // batch 1 under the OLD quantizer: ids 0-4
      val input = MemoryStream[(Long, Seq[Float])]
      val q = StreamingIncremental.sinkCoded(
        input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        tbl, centroids, model, maintainEvery = 0)
        .option("checkpointLocation",
          Files.createTempDirectory("graft_reindex_chk").toString)
        .start()
      input.addData((0L to 4L).map(i => i -> vecs(i)): _*)
      q.processAllAvailable()
      q.stop()

      // a takedown BEFORE the reindex — it must survive it
      spark.catalog.refreshTable(tbl)
      assert(IndexStore.retractCoded(spark, tbl, Seq(100L).toDF("vec_id"),
        "vec_id", centroids.length, model.m) == 1L)

      // the reindex: new quantizer shape (6 cells, m = 8); the corpus
      // feed deliberately LACKS id 101 (its vector is gone — the id
      // cannot be re-encoded) and still CARRIES id 100 (retracted —
      // must not resurrect)
      val (c2, m2) = IndexStore.reindexCoded(spark, tbl,
        e.filter(col("vec_id") =!= 101L), "vec_id", "embedding",
        nlist = centroids.length, m = model.m,
        newNlist = 6, newM = 8, ksub = 16, kmeansIters = 2, pqIters = 2)
      assert(c2.length == 6 && m2.m == 8)
      spark.catalog.refreshTable(tbl)
      // new stamps accepted, old stamps rejected (only MIXED writes fail)
      IndexStore.codedIndex(spark, tbl, 6, 8)
      intercept[IllegalArgumentException] {
        IndexStore.codedIndex(spark, tbl, centroids.length, model.m)
      }
      val wantLive = ((0L to 4L) ++ (102L to 119L)).sorted
      assert(spark.table(tbl).select("vec_id").collect().map(_.getLong(0))
        .sorted.toSeq == wantLive,
        "membership = old index ids minus the takedown (100) minus the missing vector (101)")

      // the sink RESUMES under the new quantizer/stamps: batch 2
      val input2 = MemoryStream[(Long, Seq[Float])]
      val q2 = StreamingIncremental.sinkCoded(
        input2.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        tbl, c2, m2, maintainEvery = 0)
        .option("checkpointLocation",
          Files.createTempDirectory("graft_reindex_chk2").toString)
        .start()
      input2.addData((5L to 7L).map(i => i -> vecs(i)): _*)
      q2.processAllAvailable()
      q2.stop()
      // a MIXED write (old quantizer against the new stamps) still
      // fails fast
      intercept[IllegalArgumentException] {
        IndexStore.appendCoded(
          ProductQuant.buildCodedIndex(e.filter(col("vec_id") === 8L),
            "vec_id", "embedding", centroids, model, ordered = false),
          tbl, centroids.length, model.m)
      }

      // search law on the NEW quantizer: streamed-across-reindex index
      // == batch-built ADC over the equivalent static corpus
      spark.catalog.refreshTable(tbl)
      val corpus = e.filter(col("vec_id").isin(
        (wantLive ++ (5L to 7L)).map(Long.box): _*))
      val queries = e.filter(col("vec_id") < 3)
      def sorted(df: DataFrame) =
        df.collect().map(_.toSeq.toVector).toSeq.sortBy(_.mkString("|"))
      assert(sorted(ProductQuant.ivfAdcTopKPruned(spark.table(tbl), queries,
        "vec_id", "embedding", c2, m2, k = 5,
        nprobe = c2.length, ordered = false)) ==
        sorted(ProductQuant.adcTopK(corpus, queries, "vec_id", "embedding",
          m2, k = 5, ordered = false)),
        "the reindexed-and-resumed index must search exactly like a batch-built one")
    } finally Seq(tbl, tbl + "_compacting")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
