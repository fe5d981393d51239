package graft.llm

import graft.TestSpark
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The bucketed index-store contracts (SURVEY.md §4 "Repeated-join
 * co-location" applied to the flagship incremental-dedup path):
 *
 *  1. PLAN: classify against a saved index runs with ZERO exchange
 *     above the index scan — the index (terabyte-scale in production,
 *     re-joined EVERY batch) is never re-shuffled; only batch-derived
 *     plan branches exchange.
 *  2. RESULTS: the saved-index path classifies identically to the
 *     in-memory path.
 *  3. APPEND LAW: appending a classified batch's accepted keepers
 *     reproduces exactly what mergeIndex computes — the O(batch)
 *     append and the O(corpus) merge are the same index.
 *  4. COMPACTION LAW: compaction changes file layout only, never
 *     contents, and the compacted table still joins exchange-free.
 */
class IndexStoreSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  /** AQE off so the executed plan is the plain tree (traversable);
    * broadcast off so the index join must be sort-merge — the assert
    * then proves bucketing, not a small-table special case. Shuffle
    * partitions match the bucket count, as production would. */
  private def planSession(buckets: Int): SparkSession = {
    val s2 = TestSpark.spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.shuffle.partitions", buckets.toString)
    s2
  }

  /** True when `p` reaches the bucketed index scan without crossing a
    * join: an exchange with such a child re-shuffles INDEX rows before
    * the index has joined anything — the cost bucketing exists to
    * remove. Exchanges above the first join re-key batch-derived join
    * OUTPUT (candidate pairs), which is batch-sized and legitimate. */
  private def reachesScanBeforeJoin(p: SparkPlan): Boolean = p match {
    case f: FileSourceScanExec => f.relation.bucketSpec.isDefined
    case _: org.apache.spark.sql.execution.joins.BaseJoinExec => false
    case other => other.children.exists(reachesScanBeforeJoin)
  }

  /** Exchanges (shuffle or broadcast) sitting between the bucketed
    * index scan and its first join — the set that must be empty. */
  private def exchangesAboveIndexScan(plan: SparkPlan): Seq[Exchange] =
    plan.collect { case e: Exchange if e.children.exists(reachesScanBeforeJoin) => e }

  private def tmpPath(name: String): String =
    java.nio.file.Files.createTempDirectory("graft_idx").resolve(name).toString

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.toVector: Seq[Any]).toSeq
      .sortBy(_.mkString("|"))

  test("exact index: saved-index classify has zero exchange above the index scan and matches the in-memory path") {
    val s2 = planSession(buckets = 8)
    val d = s2.read.parquet(s"$dir/documents.parquet")
    val history = d.filter(col("doc_id") % 2 === 0)
    val batch = d.select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val memIndex = IncrementalDedup.buildIndex(history, "doc_id", "text")
    val tbl = "graft_idx_exact"
    try {
      IndexStore.saveExact(memIndex, tbl, tmpPath(tbl), buckets = 8)
      val saved = IndexStore.exactIndex(s2, tbl)
      val cls = IncrementalDedup.classify(batch, saved, "doc_id", "text")
      val plan = cls.queryExecution.executedPlan
      assert(plan.collectLeaves().exists {
        case f: FileSourceScanExec => f.relation.bucketSpec.isDefined
        case _ => false
      }, s"index scan is not bucketed:\n$plan")
      val offending = exchangesAboveIndexScan(plan)
      assert(offending.isEmpty,
        s"the index side re-shuffles (${offending.size} exchange(s)):\n$plan")
      // identical classification to the in-memory index
      assert(sortedRows(cls) ==
        sortedRows(IncrementalDedup.classify(batch, memIndex, "doc_id", "text")))
    } finally s2.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("exact index: append law — appended keepers reproduce mergeIndex exactly; compaction preserves contents and the plan") {
    val s2 = planSession(buckets = 8)
    val d = s2.read.parquet(s"$dir/documents.parquet")
    val history = d.filter(col("doc_id") % 2 === 0)
    // batch overlaps history (dup_of_history), itself (dup_in_batch via
    // duplicated text), and brings new content
    val batch = d.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      .unionByName(d.filter(col("doc_id") === 3)
        .select((col("doc_id") + 200000).as("doc_id"), col("text")))
    val initial = IncrementalDedup.buildIndex(history, "doc_id", "text")
    val tbl = "graft_idx_append"
    val tbl2 = "graft_idx_compacted"
    try {
      IndexStore.saveExact(initial, tbl, tmpPath(tbl), buckets = 8)
      val classified = IncrementalDedup.classify(
        batch, IndexStore.exactIndex(s2, tbl), "doc_id", "text")
        .localCheckpoint(true) // classify once; append must not re-run it
      IndexStore.appendExactKeepers(classified, tbl)
      val appended = sortedRows(IndexStore.exactIndex(s2, tbl))
      val merged = sortedRows(IncrementalDedup.mergeIndex(initial, classified))
      assert(appended == merged,
        "O(batch) append diverged from O(corpus) mergeIndex")
      // compaction: same rows, still bucketed, still exchange-free
      IndexStore.compactExact(s2, tbl, tbl2, tmpPath(tbl2), buckets = 8)
      assert(sortedRows(IndexStore.exactIndex(s2, tbl2)) == appended,
        "compaction must be file-layout only, never contents")
      val next = d.select((col("doc_id") + 300000).as("doc_id"), col("text"))
      val plan = IncrementalDedup.classify(
        next, IndexStore.exactIndex(s2, tbl2), "doc_id", "text")
        .queryExecution.executedPlan
      assert(exchangesAboveIndexScan(plan).isEmpty,
        s"compacted index re-shuffles:\n$plan")
    } finally Seq(tbl, tbl2).foreach(t => s2.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("maintain law: probe + compact + swap in one call — contents identical, same name, exchange-free join preserved, old files gone") {
    val s2 = planSession(buckets = 8)
    val d = s2.read.parquet(s"$dir/documents.parquet")
    val history = d.filter(col("doc_id") % 4 === 0)
    val tbl = "graft_idx_maintain"
    try {
      val firstPath = tmpPath(tbl)
      IndexStore.saveExact(
        IncrementalDedup.buildIndex(history, "doc_id", "text"),
        tbl, firstPath, buckets = 8)
      // three appended batches: files-per-bucket grows past 1
      (1 to 3).foreach { i =>
        val batch = d.filter(col("doc_id") % 4 === i)
          .select((col("doc_id") + i * 100000).as("doc_id"), col("text"))
        IndexStore.appendExactKeepers(
          IncrementalDedup.classify(batch, IndexStore.exactIndex(s2, tbl),
            "doc_id", "text").localCheckpoint(true), tbl)
      }
      val before = sortedRows(IndexStore.exactIndex(s2, tbl))
      val filesBefore = IndexStore.dataFileCount(s2, tbl)
      assert(filesBefore > 8, s"fixture must exceed 1 file/bucket, got $filesBefore")
      // below threshold: maintain is a no-op probe
      assert(!IndexStore.maintain(s2, tbl, maxFilesPerBucket = 100))
      assert(IndexStore.dataFileCount(s2, tbl) == filesBefore)
      // above threshold: compacts and swaps under the SAME name
      val newPath = tmpPath(tbl + "_v2")
      assert(IndexStore.maintain(s2, tbl, maxFilesPerBucket = 1, Some(newPath)))
      assert(sortedRows(IndexStore.exactIndex(s2, tbl)) == before,
        "maintain must be file-layout only, never contents")
      assert(IndexStore.dataFileCount(s2, tbl) == 8, "one file per bucket")
      assert(!new java.io.File(new java.net.URI(firstPath).getPath).exists ||
        new java.io.File(new java.net.URI(firstPath).getPath).listFiles().isEmpty,
        "old files must be deleted after the swap")
      // the swapped table still joins exchange-free
      val next = d.select((col("doc_id") + 900000).as("doc_id"), col("text"))
      val plan = IncrementalDedup.classify(
        next, IndexStore.exactIndex(s2, tbl), "doc_id", "text")
        .queryExecution.executedPlan
      assert(exchangesAboveIndexScan(plan).isEmpty,
        s"maintained index re-shuffles:\n$plan")
      // the temp _compacting name never leaks
      assert(!s2.catalog.tableExists(tbl + "_compacting"))
    } finally Seq(tbl, tbl + "_compacting").foreach(
      t => s2.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("maintain law: crash recovery — half-finished swaps are completed, stale attempts cleaned, in-place compaction refused") {
    val s2 = planSession(buckets = 8)
    val d = s2.read.parquet(s"$dir/documents.parquet")
    val tbl = "graft_idx_recover"
    val tmp = tbl + "_compacting"
    try {
      val index = IncrementalDedup.buildIndex(
        d.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      IndexStore.saveExact(index, tbl, tmpPath(tbl), buckets = 8)
      // one append pushes files past 1/bucket so maintain(max=1) would
      // actually compact — the in-place guard must fire before it does
      IndexStore.appendExactKeepers(
        IncrementalDedup.classify(
          d.filter(col("doc_id") % 2 === 1)
            .select((col("doc_id") + 100000).as("doc_id"), col("text")),
          IndexStore.exactIndex(s2, tbl), "doc_id", "text")
          .localCheckpoint(true), tbl)
      val rows = sortedRows(IndexStore.exactIndex(s2, tbl))
      // in-place compaction refused: toPath == current location would
      // delete the fresh files with the old after the swap
      val loc = s2.sessionState.catalog.getTableMetadata(
        s2.sessionState.sqlParser.parseTableIdentifier(tbl)).location.getPath
      val e = intercept[IllegalArgumentException] {
        IndexStore.maintain(s2, tbl, maxFilesPerBucket = 1, Some(loc))
      }
      assert(e.getMessage.contains("must not equal or nest"))
      // nested either way is just as destructive: a toPath UNDER the
      // location dies with the old files; the location under toPath
      // dies in the overwrite write
      intercept[IllegalArgumentException] {
        IndexStore.maintain(s2, tbl, maxFilesPerBucket = 1,
          Some(loc.stripSuffix("/") + "/nested"))
      }
      intercept[IllegalArgumentException] {
        IndexStore.maintain(s2, tbl, maxFilesPerBucket = 1,
          Some(new java.io.File(loc).getParent))
      }
      // crash BEFORE the DROP: a stale _compacting table sits alongside
      // the live one — maintain discards it, files included, and the
      // live table wins
      val stalePath = tmpPath(tbl + "_stale")
      IndexStore.compactExact(s2, tbl, tmp, stalePath, buckets = 8)
      assert(!IndexStore.maintain(s2, tbl, maxFilesPerBucket = 100),
        "below threshold after recovery must be a no-op probe")
      assert(!s2.catalog.tableExists(tmp), "stale _compacting must be dropped")
      assert(!new java.io.File(stalePath).exists ||
        new java.io.File(stalePath).listFiles().isEmpty,
        "stale attempt's orphaned files must be deleted")
      assert(sortedRows(IndexStore.exactIndex(s2, tbl)) == rows)
      // crash BETWEEN DROP and RENAME: only _compacting survives —
      // maintain completes the rename and reports the compaction done
      IndexStore.compactExact(s2, tbl, tmp, tmpPath(tbl + "_v2"), buckets = 8)
      s2.sql(s"DROP TABLE $tbl")
      assert(IndexStore.maintain(s2, tbl, maxFilesPerBucket = 1))
      assert(s2.catalog.tableExists(tbl) && !s2.catalog.tableExists(tmp))
      assert(sortedRows(IndexStore.exactIndex(s2, tbl)) == rows,
        "recovered table must carry the compacted contents")
    } finally Seq(tbl, tmp).foreach(t => s2.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("retract law: retracted keepers leave the exact index, the content re-accepts as new, maintain preserves retraction, the plan stays exchange-free") {
    val s2 = planSession(buckets = 8)
    import s2.implicits._
    val d = s2.read.parquet(s"$dir/documents.parquet")
    val tbl = "graft_idx_retract"
    try {
      IndexStore.saveExact(
        IncrementalDedup.buildIndex(d, "doc_id", "text"),
        tbl, tmpPath(tbl), buckets = 8)
      val before = sortedRows(IndexStore.exactIndex(s2, tbl))
      val takedown = (0L to 9L).toDF("keep_id")
      val removed = IndexStore.retract(s2, tbl, takedown)
      val expectGone = before.count(_(1).asInstanceOf[Long] <= 9L)
      assert(expectGone > 0, "fixture must actually have keepers 0-9")
      assert(removed == expectGone, "retract must report the rows removed")
      val after = sortedRows(IndexStore.exactIndex(s2, tbl))
      assert(after == before.filterNot(_(1).asInstanceOf[Long] <= 9L),
        "retraction must remove exactly the retracted keepers' rows")
      // re-acceptance: re-submitted content finds no index row — nothing
      // classifies dup_of_history, and resolveKeepers can never emit a
      // retracted id because no index row carries one
      val resub = d.filter(col("doc_id") < 10)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      val cls = IncrementalDedup.classify(
        resub, IndexStore.exactIndex(s2, tbl), "doc_id", "text")
        .localCheckpoint(true)
      assert(cls.filter(col("status") === "dup_of_history").count() == 0,
        "content whose keeper was retracted must re-accept, not match a ghost")
      assert(cls.filter(col("dup_of").isNotNull && col("dup_of") <= 9L).count() == 0,
        "no classification may point at a retracted keeper")
      // the loop continues: fresh keepers append, maintain compacts, and
      // the retracted ids never come back
      IndexStore.appendExactKeepers(cls, tbl)
      assert(IndexStore.maintain(s2, tbl, maxFilesPerBucket = 1))
      assert(IndexStore.exactIndex(s2, tbl)
        .filter(col("keep_id") <= 9L).count() == 0,
        "compaction must preserve retraction")
      val plan = IncrementalDedup.classify(
        d.select((col("doc_id") + 900000).as("doc_id"), col("text")),
        IndexStore.exactIndex(s2, tbl), "doc_id", "text")
        .queryExecution.executedPlan
      assert(exchangesAboveIndexScan(plan).isEmpty,
        s"retracted index re-shuffles:\n$plan")
      // ids touching nothing: a probe, never a rewrite (location stable)
      def loc(): String = s2.sessionState.catalog.getTableMetadata(
        s2.sessionState.sqlParser.parseTableIdentifier(tbl)).location.toString
      val before2 = loc()
      assert(IndexStore.retract(s2, tbl, Seq(99999999L).toDF("keep_id")) == 0L)
      assert(loc() == before2, "a no-hit retract must not rewrite the table")
    } finally Seq(tbl, tbl + "_compacting").foreach(
      t => s2.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("retract law: minhash rows leave by keeper id and the sketch properties survive the swap") {
    val s2 = planSession(buckets = 8)
    import s2.implicits._
    val d = s2.read.parquet(s"$dir/documents.parquet")
    val tbl = "graft_idx_mh_retract"
    try {
      IndexStore.saveMinhash(
        IncrementalMinHash.buildIndex(
          d.filter(col("doc_id") < 20), "doc_id", "text"),
        tbl, tmpPath(tbl), buckets = 8)
      val before = sortedRows(IndexStore.minhashIndex(s2, tbl))
      val removed = IndexStore.retract(s2, tbl, Seq(3L, 7L).toDF("keep_id"))
      assert(removed == before.count(r => Set(3L, 7L)(r(2).asInstanceOf[Long])))
      assert(sortedRows(IndexStore.minhashIndex(s2, tbl)) ==
        before.filterNot(r => Set(3L, 7L)(r(2).asInstanceOf[Long])))
      // properties survived: drift still fails fast, and a retracted
      // doc's near-copy now classifies new
      intercept[IllegalArgumentException] {
        IndexStore.minhashIndex(s2, tbl, numHashes = 18, bands = 6)
      }
      val resub = d.filter(col("doc_id") === 3)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      val cls = IncrementalMinHash.classifyBanded(
        resub, IndexStore.minhashIndex(s2, tbl), "doc_id", "text")
      assert(cls.filter(col("status") === "dup_of_history").count() == 0,
        "a retracted keeper's content must re-accept")
    } finally Seq(tbl, tbl + "_compacting").foreach(
      t => s2.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("recover law: a crash between DROP and RENAME heals — and the swap marker gets the PRE-SWAP directory deleted too") {
    val s2 = planSession(buckets = 8)
    val d = s2.read.parquet(s"$dir/documents.parquet")
    val tbl = "graft_idx_marker"
    val tmp = tbl + "_compacting"
    try {
      IndexStore.saveExact(
        IncrementalDedup.buildIndex(d.filter(col("doc_id") % 2 === 0),
          "doc_id", "text"),
        tbl, tmpPath(tbl), buckets = 8)
      val rows = sortedRows(IndexStore.exactIndex(s2, tbl))
      val oldLoc = s2.sessionState.catalog.getTableMetadata(
        s2.sessionState.sqlParser.parseTableIdentifier(tbl)).location
      // healthy table: recover is a no-op
      assert(!IndexStore.recover(s2, tbl))
      // simulate maintain crashing between its DROP and RENAME: the
      // compacted tmp carries the marker maintain stamps before the DROP
      IndexStore.compactExact(s2, tbl, tmp, tmpPath(tbl + "_v2"), buckets = 8)
      s2.sql(s"ALTER TABLE $tmp SET TBLPROPERTIES " +
        s"('graft.compactedFrom'='${oldLoc.toString.stripSuffix("/")}')")
      s2.sql(s"DROP TABLE $tbl")
      assert(IndexStore.recover(s2, tbl), "recover must complete the RENAME")
      assert(s2.catalog.tableExists(tbl) && !s2.catalog.tableExists(tmp))
      assert(sortedRows(IndexStore.exactIndex(s2, tbl)) == rows)
      val oldDir = new java.io.File(new java.net.URI(oldLoc.toString).getPath)
      assert(!oldDir.exists || oldDir.listFiles().isEmpty,
        "recover must delete the pre-swap directory the marker names")
      val props = s2.sessionState.catalog.getTableMetadata(
        s2.sessionState.sqlParser.parseTableIdentifier(tbl)).properties
      assert(!props.contains("graft.compactedFrom"),
        "the marker must be cleared once the old files are gone")
      // idempotent: a second recover is a no-op
      assert(!IndexStore.recover(s2, tbl))
    } finally Seq(tbl, tmp).foreach(t => s2.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("maintain law: repeated default-path compactions re-stamp the suffix instead of compounding it") {
    val s2 = planSession(buckets = 2)
    val d = s2.read.parquet(s"$dir/documents.parquet")
    val tbl = "graft_idx_suffix"
    try {
      IndexStore.saveExact(
        IncrementalDedup.buildIndex(d.filter(col("doc_id") % 2 === 0),
          "doc_id", "text"),
        tbl, tmpPath(tbl), buckets = 2)
      def loc(): String = s2.sessionState.catalog.getTableMetadata(
        s2.sessionState.sqlParser.parseTableIdentifier(tbl)).location.getPath
      // each call brings CONTENT the index has never seen (suffix the
      // text with the shift), so every append adds keeper files
      def appendOnce(shift: Long): Unit = IndexStore.appendExactKeepers(
        IncrementalDedup.classify(
          d.filter(col("doc_id") % 2 === 1)
            .select((col("doc_id") + shift).as("doc_id"),
              concat(col("text"), lit(s" u$shift")).as("text")),
          IndexStore.exactIndex(s2, tbl), "doc_id", "text")
          .localCheckpoint(true), tbl)
      val base = new java.io.File(loc()).getName
      appendOnce(100000)
      assert(IndexStore.maintain(s2, tbl, maxFilesPerBucket = 1))
      val name1 = new java.io.File(loc()).getName
      assert(name1.matches(java.util.regex.Pattern.quote(base) + "-compact-\\d+"),
        s"first compaction must stamp one suffix: $name1")
      appendOnce(200000)
      assert(IndexStore.maintain(s2, tbl, maxFilesPerBucket = 1))
      val name2 = new java.io.File(loc()).getName
      assert(name2.matches(java.util.regex.Pattern.quote(base) + "-compact-\\d+"),
        s"repeat compaction must RE-stamp, never compound (a long-running " +
          s"maintenance loop would outgrow the filesystem name limit): $name2")
    } finally Seq(tbl, tbl + "_compacting").foreach(
      t => s2.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("maintain law: rebucketTo rewrites the swap at a new bucket count — contents identical, exchange-free at the new count") {
    val s2 = planSession(buckets = 8)
    val d = s2.read.parquet(s"$dir/documents.parquet")
    val tbl = "graft_idx_rebucket"
    try {
      IndexStore.saveExact(
        IncrementalDedup.buildIndex(d.filter(col("doc_id") % 2 === 0),
          "doc_id", "text"),
        tbl, tmpPath(tbl), buckets = 8)
      val rows = sortedRows(IndexStore.exactIndex(s2, tbl))
      // same count requested below the file threshold: plain no-op
      assert(!IndexStore.maintain(s2, tbl, maxFilesPerBucket = 100,
        rebucketTo = Some(8)))
      // a DIFFERENT count forces the rewrite even below the threshold
      assert(IndexStore.maintain(s2, tbl, maxFilesPerBucket = 100,
        Some(tmpPath(tbl + "_v2")), rebucketTo = Some(16)))
      val spec = s2.sessionState.catalog.getTableMetadata(
        s2.sessionState.sqlParser.parseTableIdentifier(tbl)).bucketSpec.get
      assert(spec.numBuckets == 16, s"bucket count must be rewritten: $spec")
      assert(sortedRows(IndexStore.exactIndex(s2, tbl)) == rows,
        "rebucketing must never change contents")
      assert(IndexStore.dataFileCount(s2, tbl) <= 16, "one file per bucket")
      // the rebucketed table still joins exchange-free when the session
      // shuffles at the NEW count
      val s3 = planSession(buckets = 16)
      val next = s3.read.parquet(s"$dir/documents.parquet")
        .select((col("doc_id") + 900000).as("doc_id"), col("text"))
      val plan = IncrementalDedup.classify(
        next, IndexStore.exactIndex(s3, tbl), "doc_id", "text")
        .queryExecution.executedPlan
      assert(exchangesAboveIndexScan(plan).isEmpty,
        s"rebucketed index re-shuffles:\n$plan")
    } finally Seq(tbl, tbl + "_compacting").foreach(
      t => s2.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("maintain law: minhash dispatch carries the sketch properties through the swap") {
    val s2 = planSession(buckets = 8)
    val d = s2.read.parquet(s"$dir/documents.parquet")
    val tbl = "graft_idx_mh_maintain"
    try {
      IndexStore.saveMinhash(
        IncrementalMinHash.buildIndex(
          d.filter(col("doc_id") % 2 === 0), "doc_id", "text"),
        tbl, tmpPath(tbl), buckets = 8)
      val batch = d.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      IndexStore.appendMinhashSketched(
        IncrementalMinHash.classifyBandedSketched(
          IncrementalMinHash.sketchTotal(batch, "doc_id", "text"),
          IndexStore.minhashIndex(s2, tbl)).localCheckpoint(true),
        tbl)
      val before = sortedRows(IndexStore.minhashIndex(s2, tbl))
      assert(IndexStore.maintain(s2, tbl, maxFilesPerBucket = 1,
        Some(tmpPath(tbl + "_v2"))))
      assert(sortedRows(IndexStore.minhashIndex(s2, tbl)) == before)
      // properties survived the swap: a drifted call still fails fast
      intercept[IllegalArgumentException] {
        IndexStore.minhashIndex(s2, tbl, numHashes = 18, bands = 6)
      }
    } finally Seq(tbl, tbl + "_compacting").foreach(
      t => s2.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("minhash index: saved banded index classifies exchange-free on the index side and matches the in-memory path") {
    val s2 = planSession(buckets = 8)
    val d = s2.read.parquet(s"$dir/documents.parquet")
    val history = d.filter(col("doc_id") % 2 === 0)
    // overlap so dup_of_history fires; shifted ids so spines differ
    val batch = d.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val memIndex = IncrementalMinHash.buildIndex(history, "doc_id", "text")
    val tbl = "graft_idx_minhash"
    try {
      IndexStore.saveMinhash(memIndex, tbl, tmpPath(tbl), buckets = 8)
      val saved = IndexStore.minhashIndex(s2, tbl)
      val cls = IncrementalMinHash.classifyBanded(batch, saved, "doc_id", "text")
      val plan = cls.queryExecution.executedPlan
      assert(plan.collectLeaves().exists {
        case f: FileSourceScanExec => f.relation.bucketSpec.isDefined
        case _ => false
      }, s"banded index scan is not bucketed:\n$plan")
      val offending = exchangesAboveIndexScan(plan)
      assert(offending.isEmpty,
        s"the banded index side re-shuffles (${offending.size} exchange(s)):\n$plan")
      assert(sortedRows(cls) ==
        sortedRows(IncrementalMinHash.classify(batch, memIndex, "doc_id", "text")))
      // at least one history dup actually exercised the candidate join
      assert(cls.filter(col("status") === "dup_of_history").count() > 0)
      // parameter drift fails fast via the stamped table properties
      val e = intercept[IllegalArgumentException] {
        IndexStore.minhashIndex(s2, tbl, numHashes = 18, bands = 6)
      }
      assert(e.getMessage.contains("numHashes") || e.getMessage.contains("bands"))
    } finally s2.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("minhash index: append law — appended accepted docs reproduce the banded rows of history ∪ buildIndex(accepted); compaction carries the sketch properties") {
    val s2 = planSession(buckets = 8)
    val d = s2.read.parquet(s"$dir/documents.parquet")
    val history = d.filter(col("doc_id") % 2 === 0)
    val batch = d.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val initial = IncrementalMinHash.buildIndex(history, "doc_id", "text")
    val tbl = "graft_idx_mh_append"
    val tbl2 = "graft_idx_mh_compacted"
    try {
      IndexStore.saveMinhash(initial, tbl, tmpPath(tbl), buckets = 8)
      // the sketch-carrying classification: the append writes the
      // sketches it carries, never re-sketching the batch
      val classified = IncrementalMinHash.classifyBandedSketched(
          IncrementalMinHash.sketchTotal(batch, "doc_id", "text"),
          IndexStore.minhashIndex(s2, tbl))
        .localCheckpoint(true)
      val accepted = classified.filter(col("status") === "new")
        .select(col("doc_id"), col("text"))
      assert(accepted.count() > 0 &&
        classified.filter(col("status") =!= "new").count() > 0,
        "the batch must mix accepted and dropped docs")
      IndexStore.appendMinhashSketched(classified, tbl)
      val appended = sortedRows(IndexStore.minhashIndex(s2, tbl))
      // the O(corpus) rebuild it must equal: history plus the accepted
      // docs' sketches, computed from their text
      val rebuilt = sortedRows(IncrementalMinHash.bandedIndex(
        initial.unionByName(
          IncrementalMinHash.buildIndex(accepted, "doc_id", "text"))))
      assert(appended == rebuilt,
        "O(batch) banded append diverged from the rebuilt index's banded rows")
      IndexStore.compactMinhash(s2, tbl, tbl2, tmpPath(tbl2), buckets = 8)
      assert(sortedRows(IndexStore.minhashIndex(s2, tbl2)) == appended)
      // properties survived compaction: a drifted call still fails fast
      intercept[IllegalArgumentException] {
        IndexStore.minhashIndex(s2, tbl2, numHashes = 18, bands = 6)
      }
    } finally Seq(tbl, tbl2).foreach(t => s2.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
