package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Bucketed, catalog-backed persistence for the incremental-dedup
 * indexes — the storage half of the every-batch classify join.
 *
 * WHY BUCKETED: [[IncrementalDedup.classify]] equi-joins each batch
 * against the exact index on `content_hash`, and
 * [[IncrementalMinHash.classifyBanded]] against the banded sketch index
 * on (band_idx, band_key). At 100 TB corpus scale the index is
 * terabyte-scale, and a plain parquet index pays a full exchange of
 * that index EVERY batch. Writing it `bucketBy` the join key gives the
 * scan a hash partitioning Catalyst recognizes (v1 bucketing hashes
 * with the same murmur3 as a shuffle), so the history join plans with
 * ZERO exchange above the index scan — only the batch-derived side
 * shuffles, into the bucket count. Pinned in PlanAssertionsSpec.
 *
 * WHY APPEND: the classify/merge cycle only ever ADDS rows for contents
 * the index has never seen (`status = new` keepers), so the per-batch
 * index write is an O(batch) bucketed APPEND, not the O(corpus) rewrite
 * [[IncrementalDedup.mergeIndex]] performs on DataFrames. Uniqueness is
 * maintained by construction: a batch keeper is appended only when its
 * hash missed the index it was classified against. Appends add one file
 * per bucket per batch; Spark unions a bucket's files in one task, so
 * the JOIN shape is unchanged, but scan parallelism is bucket-bound and
 * file counts grow per batch — run [[compactExact]]/[[compactMinhash]]
 * on a cadence (e.g. every ~100 batches, or when files-per-bucket
 * exceeds the HDFS/object-store small-file comfort zone) to rewrite the
 * table to one file per bucket. SCALE.md §"Incremental index growth"
 * carries the runbook.
 *
 * BUCKET COUNT: `buckets` defaults to 32 to match the session's
 * `spark.sql.shuffle.partitions` — when the two are equal, the batch
 * side's existing hash partitioning (from the keeper aggregate) is
 * co-partitioned with the index scan and the second join inserts no
 * extra exchange at all. Size it like shuffle partitions: index rows /
 * buckets should fit a task comfortably (the exact index is ~24 bytes
 * per distinct content — even 10^12 contents over 4096 buckets is ~6 GB
 * a bucket; pick thousands of buckets at that scale).
 *
 * The table name is a catalog identifier; `path` places the parquet
 * files (external table), so the catalog entry is metadata only.
 */
object IndexStore {

  private[llm] def writeBucketed(df: DataFrame, tableName: String, path: String,
      buckets: Int, keys: Seq[String], mode: String): Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    // Repartition on the bucket keys into exactly `buckets` partitions:
    // Spark's HashPartitioning uses the same murmur3 hash as v1 bucket
    // assignment, so each write task then holds exactly ONE bucket and
    // emits exactly one file for it. Without this, every scan task
    // writes a file for every bucket it happens to hold — a compaction
    // that reads 3 appends' files would emit 3 × buckets files and not
    // compact at all (and an N-task append would emit up to N × buckets
    // files instead of the one-file-per-bucket-per-batch the growth
    // model promises).
    df.repartition(buckets, keys.map(col): _*).write
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .option("path", path)
      .mode(mode)
      .format("parquet")
      .saveAsTable(tableName)
  }

  // ------------------------------------------------------------------
  // Exact index: (content_hash, keep_id), bucketed by content_hash
  // ------------------------------------------------------------------

  /** Write an exact-dedup index ([[IncrementalDedup.buildIndex]] /
    * [[IncrementalDedup.mergeIndex]] output) as a bucketed external
    * table. Overwrites. */
  def saveExact(index: DataFrame, tableName: String, path: String,
      buckets: Int = 32): Unit =
    writeBucketed(
      // belt-and-braces sentinel normalization: classify consumes the
      // stored column RAW (a read-side coalesce would discard the
      // bucketed partitioning), so normalization must happen here
      index.select(coalesce(col("content_hash"), lit("-")).as("content_hash"),
        col("keep_id")),
      tableName, path, buckets, Seq("content_hash"), "overwrite")

  /** The bucketed exact index, ready for [[IncrementalDedup.classify]]
    * — minus any pending [[tombstone]] ids (anti-joined broadcast, so
    * the bucketed partitioning survives and classify plans stay
    * exchange-free on the index side). */
  def exactIndex(spark: SparkSession, tableName: String): DataFrame =
    tombstoneFiltered(spark, tableName, spark.table(tableName))

  /** O(batch) index maintenance: append the batch's accepted keepers
    * (`status = new` rows of a [[IncrementalDedup.classify]] result
    * that was computed AGAINST THIS TABLE — that precondition is what
    * keeps content_hash unique without a merge). */
  def appendExactKeepers(classified: DataFrame, tableName: String): Unit = {
    val spark = classified.sparkSession
    val (buckets, keys) = bucketSpecOf(spark, tableName)
    require(keys == Seq("content_hash"),
      s"$tableName is not an exact-dedup index table (bucket keys $keys)")
    val path = tablePath(spark, tableName)
    writeBucketed(
      classified.filter(col("status") === "new")
        .select(col("content_hash"), col("doc_id").as("keep_id")),
      tableName, path, buckets, keys, "append")
  }

  /** Rewrite the (append-accumulated) exact index into `toTable` with
    * one file per bucket. Contents are identical rows MINUS any
    * pending [[tombstone]] ids, which the rewrite folds (the append
    * invariant keeps content_hash unique; with no tombstones this is
    * a pure file-layout compaction) — pinned by the compaction law
    * spec. Writes to a NEW table/path: Spark cannot overwrite a table
    * from a plan that reads it; swap names afterwards if desired. */
  def compactExact(spark: SparkSession, fromTable: String, toTable: String,
      toPath: String, buckets: Int = 32): Unit =
    saveExact(exactIndex(spark, fromTable), toTable, toPath, buckets)

  // ------------------------------------------------------------------
  // MinHash banded index: (band_idx, band_key, keep_id, sig),
  // bucketed by (band_idx, band_key)
  // ------------------------------------------------------------------

  /** Sketch parameters stamped on the table so a later classify with
    * different parameters fails fast instead of silently missing
    * matches (the per-row width/band guards catch most mismatches; the
    * properties catch them all, before any job runs). */
  private def minhashProps(shingleN: Int, numHashes: Int, bands: Int) = Seq(
    "graft.shingleN" -> shingleN.toString,
    "graft.numHashes" -> numHashes.toString,
    "graft.bands" -> bands.toString)

  /** Write a MinHash sketch index ([[IncrementalMinHash.buildIndex]]
    * output) as a band-exploded bucketed external table. Overwrites. */
  def saveMinhash(index: DataFrame, tableName: String, path: String,
      buckets: Int = 32, shingleN: Int = 3, numHashes: Int = 9,
      bands: Int = 3): Unit = {
    val spark = index.sparkSession
    writeBucketed(IncrementalMinHash.bandedIndex(index), tableName, path,
      buckets, Seq("band_idx", "band_key"), "overwrite")
    val props = minhashProps(shingleN, numHashes, bands)
      .map { case (k, v) => s"'$k'='$v'" }.mkString(", ")
    spark.sql(s"ALTER TABLE $tableName SET TBLPROPERTIES ($props)")
  }

  /** Parameter-drift guard against the table's stamped properties.
    * A MISSING key fails too: a table that lost its stamp (written by
    * an older save, or an ALTER dropped it) would otherwise pass the
    * check silently and a drifted read would return garbage — the
    * exact failure the stamp exists to prevent. */
  private[llm] def requireStamped(spark: SparkSession, tableName: String,
      expected: Seq[(String, String)]): Unit = {
    val props = spark.sql(s"SHOW TBLPROPERTIES $tableName").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    expected.foreach { case (k, exp) =>
      props.get(k) match {
        case None => throw new IllegalArgumentException(
          s"$tableName carries no stamped $k property, so parameter drift " +
            "cannot be checked — re-save the index through IndexStore (or " +
            s"restore the property: ALTER TABLE $tableName SET TBLPROPERTIES " +
            s"('$k'='<value it was built with>'))")
        case Some(actual) => require(actual == exp,
          s"$tableName was built with $k=$actual, but this call expects " +
            s"$exp — rebuild the index or pass the parameters it was " +
            "built with")
      }
    }
  }

  /** The banded index, parameter-checked against the table's stamped
    * sketch parameters, ready for [[IncrementalMinHash.classifyBanded]]
    * and the streaming sink's [[IncrementalMinHash.classifyBandedSketched]]
    * — minus any pending [[tombstone]] ids (see [[exactIndex]]). Its rows
    * come from [[saveMinhash]] and [[appendMinhashSketched]], which write
    * the sketches the classification already carries. */
  def minhashIndex(spark: SparkSession, tableName: String,
      shingleN: Int = 3, numHashes: Int = 9, bands: Int = 3): DataFrame = {
    requireStamped(spark, tableName, minhashProps(shingleN, numHashes, bands))
    tombstoneFiltered(spark, tableName, spark.table(tableName))
  }

  /** O(batch) index maintenance for the sketch index: append the banded
    * sketch rows of a SKETCH-CARRYING classification's accepted `new`
    * docs ([[IncrementalMinHash.classifyBandedSketched]] output, or any
    * frame with its (_id, status, _sig, _bands) columns). The sketches
    * ride on the classified rows, so the append writes them directly —
    * one projection + explode, no second sketch pass over the batch
    * text. Docs with a null sketch (too short to shingle) have nothing
    * to append, exactly as [[IncrementalMinHash.buildIndex]] drops
    * them. */
  private[graft] def appendMinhashSketched(classified: DataFrame,
      tableName: String, shingleN: Int = 3, numHashes: Int = 9,
      bands: Int = 3): Unit = {
    val spark = classified.sparkSession
    val (buckets, keys) = bucketSpecOf(spark, tableName)
    require(keys == Seq("band_idx", "band_key"),
      s"$tableName is not a minhash index table (bucket keys $keys)")
    // fail fast on parameter drift before any job runs
    requireStamped(spark, tableName, minhashProps(shingleN, numHashes, bands))
    writeBucketed(
      IncrementalMinHash.bandedIndex(IncrementalMinHash.indexRows(
        classified.filter(col("status") === "new"))),
      tableName, tablePath(spark, tableName), buckets, keys, "append")
  }

  /** File-layout compaction (+ tombstone fold) for the banded index —
    * see [[compactExact]]. */
  def compactMinhash(spark: SparkSession, fromTable: String, toTable: String,
      toPath: String, buckets: Int = 32): Unit = {
    val props = spark.sql(s"SHOW TBLPROPERTIES $fromTable").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    writeBucketed(
      tombstoneFiltered(spark, fromTable, spark.table(fromTable)),
      toTable, toPath, buckets,
      Seq("band_idx", "band_key"), "overwrite")
    val carried = minhashProps(
      props.getOrElse("graft.shingleN", "3").toInt,
      props.getOrElse("graft.numHashes", "9").toInt,
      props.getOrElse("graft.bands", "3").toInt)
      .map { case (k, v) => s"'$k'='$v'" }.mkString(", ")
    spark.sql(s"ALTER TABLE $toTable SET TBLPROPERTIES ($carried)")
  }

  // ------------------------------------------------------------------
  // IVF-PQ coded index: (id, codes, list), PARTITIONED by list
  // ------------------------------------------------------------------

  /** Parameters stamped so a probe with a drifted model fails fast —
    * codes against the wrong codebooks are silent garbage distances. */
  private def ivfProps(nlist: Int, m: Int) = Seq(
    "graft.nlist" -> nlist.toString, "graft.m" -> m.toString)

  /**
   * Persist a [[ProductQuant.buildCodedIndex]] result PARTITIONED BY
   * the coarse cell (`list`): a probe-limited search then reads ONLY
   * the probed cells' directories — Catalyst turns the `list IN (...)`
   * prefilter into a partition filter, so an nprobe-of-nlist probe
   * reads ~nprobe/nlist of the index bytes. That is the on-disk
   * analogue of IVF's candidate cut, and the difference between a
   * billion-vector index being a full scan per query batch or a few
   * directories. Unlike the dedup indexes (bucketed by a JOIN key —
   * the classify is an equi-join), the IVF probe is a SCAN-and-score,
   * so directory pruning, not bucketing, is the right physical layout.
   */
  def saveCoded(coded: DataFrame, tableName: String, path: String,
      nlist: Int, m: Int, tasksPerCell: Int = 1): Unit = {
    require(tasksPerCell >= 1, s"tasksPerCell must be >= 1, got $tasksPerCell")
    val spark = coded.sparkSession
    // Repartition onto the cell key before the partitioned write — the
    // writeBucketed lesson applied to cells: without it, every write
    // task emits a file into every cell it happens to hold, so an
    // N-task bulk build writes up to N × nlist files (the object-store
    // small-files failure mode, and a slow commit). On the cell key
    // alone each cell lands in exactly ONE task → one file per cell;
    // for extreme bulk builds where a single cell is too big for one
    // task, tasksPerCell > 1 salts the shuffle with a content hash,
    // bounding files-per-cell at tasksPerCell while restoring write
    // parallelism.
    val out =
      if (tasksPerCell == 1) coded.repartition(col("list"))
      else coded.repartition(col("list"),
        pmod(xxhash64(coded.columns.filterNot(_ == "list").map(col)
          .toIndexedSeq: _*), lit(tasksPerCell)))
    out.write.partitionBy("list")
      .option("path", path).mode("overwrite").format("parquet")
      .saveAsTable(tableName)
    val props = ivfProps(nlist, m)
      .map { case (k, v) => s"'$k'='$v'" }.mkString(", ")
    spark.sql(s"ALTER TABLE $tableName SET TBLPROPERTIES ($props)")
    // a rebuilt index invalidates any (id → cell) sidecar: stale cells
    // AND missing new ids — the double-index hazard probeCodedByIds
    // documents. Dropped here, lazily rebuilt on the next probe.
    dropIdmap(spark, tableName)
  }

  /**
   * O(batch) append into the cell-partitioned coded index — the write
   * half of a STREAMING vector index: each batch's vectors are
   * IVF-assigned + PQ-encoded upstream
   * ([[ProductQuant.buildCodedIndex]] with the index's own centroids/
   * model) and inserted into their cells' directories. Parameters are
   * checked against the stamped (nlist, m) first — appending rows
   * encoded under a different codebook would silently corrupt every
   * ADC distance in the touched cells. Appends add roughly one file
   * per task per touched cell per batch; run [[compactCoded]] on a
   * cadence (the [[maintain]] discipline, per-cell instead of
   * per-bucket).
   */
  def appendCoded(coded: DataFrame, tableName: String,
      nlist: Int, m: Int): Unit = {
    val spark = coded.sparkSession
    requireStamped(spark, tableName, ivfProps(nlist, m))
    coded.select(spark.table(tableName).columns.map(col).toIndexedSeq: _*)
      .write.mode("append").insertInto(tableName)
    // keep the (id → cell) sidecar COMPLETE when one exists — the
    // probe's safety property (see probeCodedByIds): every row that
    // enters the index enters the map, O(batch)
    if (idmapExists(spark, tableName)) {
      val idColName = coded.columns.find(c => c != "list" && c != "codes").get
      coded.select(col(idColName).as("_id"), col("list"))
        .write.mode("append").insertInto(idmapTable(tableName))
    }
  }

  /**
   * Garbage-collect crash residue under the coded table's location —
   * ONLY safe when no write is in flight, which the single-writer
   * discipline guarantees at the top of a sink batch
   * ([[graft.streaming.StreamingIncremental.sinkCoded]] runs it there,
   * the coded analogue of `recover`). Two kinds of residue:
   *
   *  - `.spark-staging-*` directories (an append killed mid-write);
   *  - ORPHANED versioned cell directories — `.v<nano>/list=<c>` dirs
   *    a [[rewriteCells]] wrote but crashed before repointing: they
   *    are neither a current partition location nor on the retired
   *    list, so nothing will ever read or vacuum them. A version
   *    shell whose every cell is gone is removed too.
   *
   * Committed data is never touched: current and retired locations are
   * both excluded. Returns directories deleted (shells uncounted).
   */
  def cleanStagingDirs(spark: SparkSession, tableName: String): Int = {
    val root = new org.apache.hadoop.fs.Path(tablePath(spark, tableName))
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return 0
    val stale = fs.listStatus(root).filter(s => s.isDirectory &&
      s.getPath.getName.startsWith(".spark-staging"))
    stale.foreach(s => fs.delete(s.getPath, true))
    var cleaned = stale.length
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(tableName)
    val meta = spark.sessionState.catalog.getTableMetadata(ident)
    val referenced = liveLocations(spark, tableName) ++
      retiredEntries(meta).map(e => qualify(spark, e._3))
    fs.listStatus(root).filter(s => s.isDirectory &&
        s.getPath.getName.matches("\\.v\\d+")).foreach { v =>
      def cellDirs() = fs.listStatus(v.getPath).filter(c =>
        c.isDirectory && c.getPath.getName.startsWith("list="))
      cellDirs().filterNot(c =>
          referenced.contains(qualify(spark, c.getPath.toString)))
        .foreach { c => fs.delete(c.getPath, true); cleaned += 1 }
      if (cellDirs().isEmpty) fs.delete(v.getPath, true)
    }
    cleaned
  }

  /** Parquet data files per cell — [[compactCoded]]'s probe and the
    * growth monitor for streaming appends. Reads each cell's CURRENT
    * location from the catalog (a rewritten cell's directory is
    * versioned under the root, not `list=<c>` — see [[rewriteCells]]). */
  def cellFileCounts(spark: SparkSession, tableName: String): Map[Int, Int] = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(tableName)
    val fs = new org.apache.hadoop.fs.Path(tablePath(spark, tableName))
      .getFileSystem(spark.sessionState.newHadoopConf())
    spark.sessionState.catalog.listPartitions(ident).flatMap { p =>
      p.spec.get("list").map { c =>
        val d = new org.apache.hadoop.fs.Path(p.location)
        c.toInt -> (if (fs.exists(d)) fs.listStatus(d)
          .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        else 0)
      }
    }.toMap
  }

  /**
   * The cell-rewrite engine behind [[retractCoded]] and
   * [[compactCoded]] — SNAPSHOT-SAFE and per-cell ATOMIC:
   *
   *  1. The affected cells' rows are read (partition-pruned), passed
   *     through `transform`, repartitioned onto the cell key (≈ one
   *     task per cell ⇒ one file per cell), and written to a fresh
   *     VERSIONED staging directory `<root>/.v<nano>/list=<c>` — a NEW
   *     path, so the read is never from an overwritten location (no
   *     checkpoint needed) and the original files stay untouched for
   *     in-flight readers.
   *  2. Each surviving cell is repointed with one
   *     `ALTER TABLE ... PARTITION (list=c) SET LOCATION` — a single
   *     catalog op per cell, so every cell transitions atomically from
   *     its complete old data to its complete new data. A cell whose
   *     every row was dropped by `transform` is `DROP PARTITION`ed
   *     (also one op). There is no in-place overwrite anywhere.
   *  3. The cells' pre-rewrite directories are RETIRED (recorded
   *     before step 2 — a crash in between leaves entries naming live
   *     locations, which [[vacuum]]'s guard drops harmlessly) and
   *     reclaimed by vacuum after `graceMs`.
   *
   * CRASH ANYWHERE converges: un-repointed cells keep their complete
   * old data (a re-run sees and rewrites them again); repointed cells
   * are complete new data; orphaned staging cells (written but never
   * repointed) are swept by [[cleanStagingDirs]] under the
   * single-writer discipline.
   */
  private def rewriteCells(spark: SparkSession, tableName: String,
      cells: Seq[Int], graceMs: Long)(transform: DataFrame => DataFrame): Unit = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(tableName)
    val cat = spark.sessionState.catalog
    val table = spark.table(tableName)
    val cellSet = cells.toSet
    val oldDirs = cat.listPartitions(ident).collect {
      case p if p.spec.get("list").exists(c => cellSet(c.toInt)) =>
        p.location.toString
    }
    val root = tablePath(spark, tableName).stripSuffix("/")
    val rootFs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // nanoTime's origin is arbitrary per JVM, so a collision with an
    // existing .v directory — possibly a CURRENT versioned partition
    // location — is unlikely but not impossible, and mode("overwrite")
    // would destroy committed live data. Probe-and-retry instead.
    val stagingRoot = Iterator.iterate(System.nanoTime())(_ + 1)
      .map(v => s"$root/.v$v")
      .find(p => !rootFs.exists(new org.apache.hadoop.fs.Path(p)))
      .get
    val survivors = transform(
      table.filter(col("list").isin(cells.map(Int.box): _*))
        .select(table.columns.map(col).toIndexedSeq: _*))
      .repartition(cells.length, col("list"))
    survivors.write.partitionBy("list").mode("overwrite").parquet(stagingRoot)
    // cells with survivors = the staging write's list= children
    // (driver-side listing, ≤ |cells| entries)
    val stP = new org.apache.hadoop.fs.Path(stagingRoot)
    val fs = stP.getFileSystem(spark.sessionState.newHadoopConf())
    val present =
      if (!fs.exists(stP)) Set.empty[Int]
      else fs.listStatus(stP).filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("list="))
        .map(_.getPath.getName.stripPrefix("list=").toInt).toSet
    retire(spark, tableName, oldDirs, graceMs)
    cells.foreach { c =>
      if (present(c))
        spark.sql(s"ALTER TABLE $tableName PARTITION (list=$c) " +
          s"SET LOCATION '$stagingRoot/list=$c'")
      else
        spark.sql(s"ALTER TABLE $tableName DROP IF EXISTS PARTITION (list=$c)")
    }
    spark.catalog.refreshTable(tableName)
    vacuum(spark, tableName)
  }

  /**
   * Compact the cells whose file count exceeds `maxFilesPerCell` back
   * to ~one file each — the per-cell sibling of [[maintain]] for the
   * partitioned coded index, via [[rewriteCells]] with an identity
   * transform: cells under the threshold are untouched byte-for-byte,
   * each overgrown cell swaps atomically to its compacted directory,
   * and the old files stay for `graceMs` so concurrent searches never
   * error. Returns the number of cells compacted.
   */
  def compactCoded(spark: SparkSession, tableName: String,
      nlist: Int, m: Int, maxFilesPerCell: Int = 16, graceMs: Long = 0L): Int = {
    require(maxFilesPerCell >= 1,
      s"maxFilesPerCell must be >= 1, got $maxFilesPerCell")
    requireStamped(spark, tableName, ivfProps(nlist, m))
    val over = cellFileCounts(spark, tableName)
      .collect { case (cell, files) if files > maxFilesPerCell => cell }
      .toSeq.sorted
    if (over.isEmpty) return 0
    rewriteCells(spark, tableName, over, graceMs)(identity)
    over.length
  }

  /** The cell-partitioned coded index, parameter-checked against the
    * stamped (nlist, m), ready for [[ProductQuant.ivfAdcTopKPruned]].
    * Pass `repair = true` after partition directories were written by
    * an external process or restored from a snapshot — it runs
    * `recoverPartitions` (MSCK REPAIR) so those cells register; without
    * it an unregistered cell is silently invisible to the pruned scan
    * (wrong, incomplete top-k — not an error). [[saveCoded]]'s own
    * writes always register, so the default skips the listing cost. */
  def codedIndex(spark: SparkSession, tableName: String,
      nlist: Int, m: Int, repair: Boolean = false): DataFrame = {
    if (repair) spark.catalog.recoverPartitions(tableName)
    requireStamped(spark, tableName, ivfProps(nlist, m))
    spark.table(tableName)
  }

  // ------------------------------------------------------------------
  // (id → cell) sidecar: the O(batch) update probe for the coded index
  // ------------------------------------------------------------------

  private def idmapTable(tableName: String): String = tableName + "_idmap"

  /** True when `tableName` has an (id → cell) sidecar. */
  def idmapExists(spark: SparkSession, tableName: String): Boolean =
    spark.catalog.tableExists(idmapTable(tableName))

  /**
   * (Re)build the `<table>_idmap` sidecar from the coded index itself:
   * one narrow (id, cell) projection — the [[SwapTable]] swap, so a
   * crash mid-rebuild leaves the previous complete sidecar in place
   * (a HALF-readable sidecar would be worse than none: a missing
   * entry hides an id's old row from the update probe and the id gets
   * double-indexed). Also the FOLD for the staleness appends/updates
   * accumulate — run it on the maintenance cadence.
   */
  def rebuildIdmap(spark: SparkSession, tableName: String): Unit = {
    val t = spark.table(tableName)
    val idColName = t.columns.find(c => c != "list" && c != "codes").getOrElse(
      throw new IllegalArgumentException(
        s"$tableName has no id column beside (list, codes)"))
    val rows = t.select(col(idColName).as("_id"), col("list"))
    val path = tablePath(spark, tableName).stripSuffix("/")
      .replaceAll("-compact-\\d+$", "") + "_idmap"
    SwapTable.upsert(rows, idmapTable(tableName), path)
    ()
  }

  /** Drop the sidecar (metadata + files) — required whenever the index
    * is REBUILT under new encodings ([[saveCoded]] overwrite,
    * [[reindexCoded]]): old entries would name cells of the previous
    * quantizer and, worse, the new build's ids would be MISSING, which
    * makes the probe classify an indexed id `new` and double-index it.
    * Lazily rebuilt on the next [[probeCodedByIds]]. */
  def dropIdmap(spark: SparkSession, tableName: String): Unit = {
    val mt = idmapTable(tableName)
    if (!spark.catalog.tableExists(mt)) return
    val p = new org.apache.hadoop.fs.Path(tablePath(spark, mt))
    spark.sql(s"DROP TABLE $mt")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // the sidecar swaps locations (SwapTable -v siblings): clear them all
    val parent = p.getParent
    val prefix = p.getName.replaceAll("-v\\d+$", "")
    if (fs.exists(parent))
      fs.listStatus(parent).foreach { st =>
        val n = st.getPath.getName
        if (n == prefix || n.startsWith(prefix + "-v")) {
          fs.delete(st.getPath, true); ()
        }
      }
  }

  /**
   * The coded index's BY-ID probe, O(batch): the old rows of `ids`,
   * found through the sidecar instead of a full index pass. The
   * sidecar (built from the index on first use) maps each id to every
   * cell that ever held it; the index scan is partition-pruned to
   * exactly those cells — bounded by the batch, never by the index.
   * Stale sidecar entries (rows since retracted or updated away) cost
   * a pruned cell read and match nothing — harmless, folded away by
   * [[rebuildIdmap]] on the maintenance cadence. The sidecar lookup
   * itself broadcasts the batch ids, so neither side shuffles.
   *
   * COMPLETENESS is the safety property: every id in the index must
   * be in the sidecar, else its old row is invisible and an update
   * double-indexes. [[appendCoded]] maintains it on every append when
   * it exists; [[saveCoded]]/[[reindexCoded]] drop it when they
   * rebuild the index (single-writer, like every maintainer here).
   */
  def probeCodedByIds(spark: SparkSession, tableName: String,
      ids: DataFrame, idCol: String): DataFrame = {
    if (!idmapExists(spark, tableName)) rebuildIdmap(spark, tableName)
    val mt = idmapTable(tableName)
    spark.catalog.refreshTable(mt)
    val probeIds = ids.select(col(idCol).as("_probe_id")).distinct()
    val cells = spark.table(mt)
      .join(broadcast(probeIds), col("_id") === col("_probe_id"), "left_semi")
      .select("list").distinct().collect().map(_.getInt(0)).toSeq
    val t = spark.table(tableName)
    if (cells.isEmpty) t.limit(0)
    else t.filter(col("list").isin(cells.map(Int.box): _*))
      .join(broadcast(probeIds), col(idCol) === col("_probe_id"), "left_semi")
  }

  // ------------------------------------------------------------------
  // Snapshot retention: retired directories + grace-period vacuum
  // ------------------------------------------------------------------

  /** Table properties listing directories RETIRED by a swap/rewrite but
    * retained on disk so in-flight readers finish against them —
    * `<epochMillis>:<graceMs>:<path>` entries joined by `;` (paths are
    * URIs validated `;`-free at [[retire]] time), CHUNKED across
    * numbered keys `graft.retired.0`, `graft.retired.1`, … so no single
    * property value exceeds [[RetiredChunkLen]]: Hive-compatible
    * metastores cap property values (commonly ~4000 chars), and a
    * retraction touching many cells would otherwise overflow — breaking
    * retention exactly when it is most loaded. The unnumbered legacy
    * key `graft.retired` (`<epochMillis>:<path>`, no grace) is still
    * READ — its entries carry [[LegacyGraceMs]] — and is rewritten into the
    * chunked form on the next update. [[vacuum]] deletes entries once
    * their stamped grace elapses. */
  private val RetiredKey = "graft.retired"
  private[llm] val RetiredChunkLen = 3000

  /** Grace assigned to LEGACY (unnumbered, grace-less) retired entries.
    * Parsing them as grace 0 would let the first post-upgrade cadence
    * vacuum delete directories that pre-upgrade code retired expecting
    * the caller-supplied window — a reader mid-scan would die 2 minutes
    * into a promised 10-minute grace. One hour from the entry's retire
    * timestamp comfortably exceeds any realistic read; entries retired
    * long before the upgrade reclaim immediately (their hour has long
    * elapsed), and `vacuum(table, 0L)` remains the explicit force. */
  private[llm] val LegacyGraceMs: Long = 60L * 60L * 1000L

  private def qualify(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf())
      .makeQualified(p).toString.stripSuffix("/")
  }

  private def isRetiredProp(key: String): Boolean =
    key == RetiredKey ||
      (key.startsWith(RetiredKey + ".") &&
        key.drop(RetiredKey.length + 1).forall(_.isDigit))

  /** (retiredAtMillis, graceMs, path) per entry. Numbered chunks are
    * read in index order so the list round-trips stably; legacy
    * unnumbered entries (no grace field) parse with [[LegacyGraceMs]]. */
  private[llm] def retiredEntries(meta: org.apache.spark.sql.catalyst.catalog.CatalogTable)
      : Seq[(Long, Long, String)] = {
    val chunks =
      meta.properties.get(RetiredKey).toSeq ++
        meta.properties.collect {
          case (k, v) if k != RetiredKey && isRetiredProp(k) =>
            (k.drop(RetiredKey.length + 1).toInt, v)
        }.toSeq.sortBy(_._1).map(_._2)
    chunks.flatMap(_.split(";")).filter(_.nonEmpty).map { e =>
      val i = e.indexOf(':')
      val ts = e.take(i).toLong
      val rest = e.drop(i + 1)
      val j = rest.indexOf(':')
      // a grace field is all-digits up to the next ':'; a legacy entry's
      // first segment is a URI scheme or path start, never all-digits
      if (j > 0 && rest.take(j).forall(_.isDigit))
        (ts, rest.take(j).toLong, rest.drop(j + 1))
      else (ts, LegacyGraceMs, rest)
    }
  }

  /** Set the retired list via the catalog API (not SQL ALTER) — paths
    * need no quoting and the update is one catalog op. Entries are
    * packed into as few ≤[[RetiredChunkLen]] chunks as fit; stale
    * numbered keys beyond the new chunk count (and the legacy
    * unnumbered key) are removed in the same op. */
  private[llm] def writeRetired(spark: SparkSession, tableName: String,
      entries: Seq[(Long, Long, String)]): Unit = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(tableName)
    val cat = spark.sessionState.catalog
    val meta = cat.getTableMetadata(ident)
    val chunks = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    entries.foreach { case (ts, grace, p) =>
      val e = s"$ts:$grace:$p"
      // an over-cap entry (a pre-guard legacy path) ships as its own
      // oversized chunk — the pre-chunking risk, but confined to that
      // one entry. NEW entries are refused at retire() time; throwing
      // HERE would wedge every retire and vacuum of the table (vacuum
      // round-trips the kept list after deleting files) until the
      // oversized entry's grace elapsed.
      if (cur.nonEmpty && cur.length + 1 + e.length > RetiredChunkLen) {
        chunks += cur.result(); cur.clear()
      }
      if (cur.nonEmpty) cur += ';'
      cur ++= e
    }
    if (cur.nonEmpty) chunks += cur.result()
    val props = meta.properties.filterNot { case (k, _) => isRetiredProp(k) } ++
      chunks.zipWithIndex.map { case (c, i) => s"$RetiredKey.$i" -> c }
    cat.alterTable(meta.copy(properties = props))
  }

  /** Record `dirs` as retired NOW with the rewrite's own `graceMs`
    * stamped on each entry, so retention is SELF-DESCRIBING: a later
    * maintenance call made with a different (or default) grace never
    * collapses the snapshot window these directories were retired
    * expecting. They stay on disk until a [[vacuum]] sees their stamped
    * grace elapsed (or an explicit operator override). Called BEFORE
    * the catalog op that stops referencing them — a crash in between
    * leaves an entry naming still-live data, which vacuum's
    * live-location guard drops (entry only) instead of deleting. */
  private[llm] def retire(spark: SparkSession, tableName: String,
      dirs: Seq[String], graceMs: Long): Unit = {
    if (dirs.isEmpty) return
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(tableName)
    val meta = spark.sessionState.catalog.getTableMetadata(ident)
    val now = System.currentTimeMillis()
    val qualified = dirs.map(qualify(spark, _))
    qualified.foreach { q =>
      require(!q.contains(";"),
        s"cannot retire a path containing ';' (the entry separator): $q")
      // serialized as "<ts>:<grace>:<path>" — refuse NEW entries that
      // could not fit one chunk (writeRetired tolerates pre-existing
      // oversized entries rather than wedging the table, so this guard
      // is the only thing keeping them from ever appearing). The
      // reserve is the ACTUAL serialized prefix for this entry, not a
      // fixed allowance: a 13-digit epoch plus a pathological 19-digit
      // grace is 34 chars with the colons, past any round guess.
      val prefixLen = s"$now:${graceMs max 0L}:".length
      require(prefixLen + q.length <= RetiredChunkLen,
        s"cannot retire a path whose entry would exceed the " +
          s"$RetiredChunkLen-char metastore-safe chunk cap: $q")
    }
    writeRetired(spark, tableName,
      retiredEntries(meta) ++ qualified.map(q => (now, graceMs max 0L, q)))
  }

  /** Public form of [[retire]] for swap-style maintainers OUTSIDE this
    * store (e.g. [[SwapTable]], backing
    * [[graft.streaming.StreamingSample]]'s generations and
    * [[IncrementalPipeline]]'s cursor state): same `;`/chunk-length
    * guards, same per-entry grace stamps, same [[vacuum]] contract. */
  def retireLocations(spark: SparkSession, tableName: String,
      dirs: Seq[String], graceMs: Long): Unit =
    retire(spark, tableName, dirs, graceMs)

  /** Every location the table currently references: the root plus, for
    * a partitioned table, each partition's (possibly versioned)
    * directory. The guard set for [[vacuum]] and the staging GC. */
  private def liveLocations(spark: SparkSession, tableName: String): Set[String] = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(tableName)
    val cat = spark.sessionState.catalog
    val meta = cat.getTableMetadata(ident)
    val parts =
      if (meta.partitionColumnNames.isEmpty) Nil
      else cat.listPartitions(ident).map(_.location.toString)
    (meta.location.toString +: parts).map(qualify(spark, _)).toSet
  }

  /** Sentinel for [[vacuum]]'s `graceMs`: honor each entry's own
    * stamped grace (the default, self-describing retention). */
  val PerEntryGrace: Long = -1L

  /**
   * Delete retired directories whose grace has elapsed — the MVCC-style
   * reclamation that makes index reads SNAPSHOT-SAFE across
   * [[maintain]]/[[retract]]/[[retractCoded]]/[[compactCoded]]: a
   * rewrite never deletes the files a concurrent reader's listing
   * points at; it retires them stamped with the rewrite's own grace,
   * and reclamation happens here once that stamped grace has elapsed —
   * set each rewrite's `graceMs` longer than the longest concurrent
   * read. The rewriters vacuum at entry and exit, so a steady
   * maintenance cadence reclaims the previous round's files; because
   * each entry carries its OWN grace, those entry/exit vacuums can
   * never collapse a longer window some earlier rewrite promised its
   * readers (`graceMs` here defaults to [[PerEntryGrace]]).
   *
   * Passing `graceMs >= 0` is an explicit OPERATOR OVERRIDE that
   * ignores the stamps: `vacuum(spark, t, 0L)` reclaims everything now
   * (safe only when no reads are in flight — forced cleanup, tests,
   * decommissioning).
   *
   * Entries naming a location the table STILL references (the
   * crash-between-retire-and-swap window) are dropped from the list
   * without deleting anything. Returns directories deleted.
   */
  def vacuum(spark: SparkSession, tableName: String,
      graceMs: Long = PerEntryGrace): Int = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(tableName)
    val meta = spark.sessionState.catalog.getTableMetadata(ident)
    val entries = retiredEntries(meta)
    if (entries.isEmpty) return 0
    val live = liveLocations(spark, tableName)
    val now = System.currentTimeMillis()
    var deleted = 0
    val kept = entries.filter { case (ts, stamped, path) =>
      val q = qualify(spark, path)
      val grace = if (graceMs >= 0L) graceMs else stamped
      // live = the entry IS a referenced location, or deleting it would
      // take one down with it (it's an ancestor of one). An entry merely
      // NESTED UNDER the root is the normal case — a retired cell
      // directory lives under the partitioned table's root.
      val isLive = live.exists(l => q == l || l.startsWith(q + "/"))
      if (isLive) false // aborted swap: drop the entry, never the files
      else if (now - ts >= grace) {
        val p = new org.apache.hadoop.fs.Path(q)
        p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
        deleted += 1
        false
      } else true
    }
    if (kept.size != entries.size) writeRetired(spark, tableName, kept)
    deleted
  }

  /** Drop a stale `<table>_compacting` entry left by a crash. When it
    * points at a DIFFERENT path than the live table (crash before the
    * swap took effect), the attempt's files go too; when it points at
    * the SAME path (crash between [[locationSwap]]'s ALTER and its
    * DROP), the files ARE the live data — metadata drop only. */
  private def dropStaleTmp(spark: SparkSession, tableName: String): Unit = {
    val tmp = tableName + "_compacting"
    if (!spark.catalog.tableExists(tmp) || !spark.catalog.tableExists(tableName))
      return
    val staleQ = qualify(spark, tablePath(spark, tmp))
    val liveQ = qualify(spark, tablePath(spark, tableName))
    spark.sql(s"DROP TABLE $tmp")
    if (staleQ != liveQ && !liveQ.startsWith(staleQ + "/") &&
        !staleQ.startsWith(liveQ + "/")) {
      val p = new org.apache.hadoop.fs.Path(staleQ)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  /**
   * QUANTIZER REBUILD — the orchestrated migration for a drifted coded
   * index. An IVF-PQ index is only coherent under ONE quantizer, so
   * re-training on a drifted corpus was documented as "build a new
   * table and repoint everything"; this performs that migration under
   * the SAME table name: train fresh coarse centroids and PQ codebooks
   * from the corpus vectors of the index's LIVE ids, bulk re-encode,
   * write the replacement to a fresh versioned location, and swap it
   * in with updated (nlist, m) stamps. Returns the new
   * (centroids, model) — restart [[graft.streaming.StreamingIncremental.sinkCoded]]
   * with them; its stamp fail-fast accepts the post-swap state and
   * keeps rejecting only MIXED writes.
   *
   * MEMBERSHIP, not content, comes from the index: `vectors` is the
   * corpus source of truth (PQ codes are lossy — codes cannot be
   * re-encoded, only original vectors can), semi-joined to the
   * index's current ids. An id taken down before the reindex is NOT
   * resurrected even when `vectors` still carries it; an id whose
   * vector is gone from `vectors` cannot be re-encoded and is
   * dropped (logged by the caller's own diff if needed). One row per
   * id in `vectors` is the caller contract (the sinkCoded
   * one-immutable-vector-per-id discipline).
   *
   * COST: the live semi-join is checkpointed once (corpus-sized,
   * block-manager backed) and then read three times — two
   * driver-sample trains and one full encode — so the migration is
   * ~one materialization plus one encode pass, the honest minimum.
   *
   * SWAP: whole-table metadata must change (partition set, stamps),
   * so this is the DROP+RENAME route (the rebucket-class caveat: a
   * reader resolving between the two ops sees a missing table —
   * run it from the single writer with the sink stopped). The old
   * root is RETIRED (stamped on the replacement before the swap, so
   * the entry survives the rename) and reclaimed by [[vacuum]] after
   * `graceMs`; readers mid-scan on the old files finish. Crash
   * windows: before DROP → stale tmp discarded at the next entry;
   * between DROP and RENAME → [[recover]] completes the rename (the
   * coded sink runs it every batch).
   */
  def reindexCoded(spark: SparkSession, tableName: String,
      vectors: DataFrame, idCol: String, vecCol: String,
      nlist: Int, m: Int, newNlist: Int, newM: Int, ksub: Int = 256,
      kmeansIters: Int = 5, pqIters: Int = 5, sampleN: Int = 4096,
      tasksPerCell: Int = 1, graceMs: Long = 0L)
      : (Array[Array[Long]], ProductQuant.PqModel) = {
    recover(spark, tableName)
    dropStaleTmp(spark, tableName)
    requireStamped(spark, tableName, ivfProps(nlist, m))
    vacuum(spark, tableName)
    val tmp = tableName + "_compacting"
    val live = vectors
      .join(spark.table(tableName).select(col(idCol)).distinct(),
        Seq(idCol), "left_semi")
      .localCheckpoint(true)
    try {
      val centroids = Clustering.train(live, idCol, vecCol, newNlist,
        kmeansIters, sampleN).centroids
      val model = ProductQuant.train(live, idCol, vecCol, newM, ksub,
        pqIters, sampleN)
      val coded = ProductQuant.buildCodedIndex(live, idCol, vecCol,
        centroids, model, ordered = false)
      val (newPath, oldQ, _) = swapTarget(spark, tableName, None)
      saveCoded(coded, tmp, newPath, newNlist, newM, tasksPerCell)
      // retire the old root ON THE REPLACEMENT so the entry survives
      // the rename; a crash after DROP leaves it for vacuum via
      // recover. Routed through retire() so this path gets the same
      // ';'/chunk-length validation as every other retirement — a raw
      // writeRetired here would be the one way an invalid entry could
      // ever enter a table.
      retire(spark, tmp, Seq(oldQ), graceMs)
      spark.sql(s"DROP TABLE $tableName")
      spark.sql(s"ALTER TABLE $tmp RENAME TO $tableName")
      spark.catalog.refreshTable(tableName)
      vacuum(spark, tableName)
      // the re-encode moved every vector's cell: any sidecar is now
      // wrong AND incomplete — drop it (probeCodedByIds rebuilds)
      dropIdmap(spark, tableName)
      (centroids, model)
    } finally graft.CacheScope.release(live)
  }

  // ------------------------------------------------------------------
  // Maintenance: files-per-bucket probe + compact + name swap
  // ------------------------------------------------------------------

  /** Data files under the table's location — the files-per-bucket
    * probe. Bucketed appends add one file per bucket per batch, so
    * files/buckets ~ appends since the last compaction. */
  def dataFileCount(spark: SparkSession, tableName: String): Int = {
    val loc = new org.apache.hadoop.fs.Path(tablePath(spark, tableName))
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(loc)) 0
    else {
      val it = fs.listFiles(loc, true)
      var n = 0
      while (it.hasNext) {
        val name = it.next().getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".")) n += 1
      }
      n
    }
  }

  /** One-call index maintenance: probe files-per-bucket, and when it
    * exceeds `maxFilesPerBucket`, compact (one file per bucket) into a
    * fresh path and SWAP the table name back — the step
    * [[compactExact]]/[[compactMinhash]] leave to the caller. Dispatches
    * exact vs minhash on the table's bucket keys; minhash sketch
    * properties are carried through the swap. Returns true iff a
    * compaction ran. After the swap the OLD files are deleted — callers
    * holding a pre-swap DataFrame for the table must re-resolve it
    * (`spark.table`), the usual catalog-table contract.
    *
    * The swap is metadata-atomic per step (DROP then RENAME are each
    * single catalog ops) but not jointly atomic — a concurrent reader
    * between the two sees a missing table, the standard
    * non-transactional-catalog caveat; run maintenance from the single
    * writer that also owns appends (the batch/foreachBatch loop).
    *
    * CRASH RECOVERY: a crash between DROP and RENAME leaves the data
    * alive only under the `<table>_compacting` name. On entry,
    * maintain runs [[recover]] — that state (tmp exists, table
    * doesn't) completes the interrupted RENAME, and a swap marker
    * stamped on the tmp table before the DROP records the pre-swap
    * data directory so recovery (or a retry after a crash between
    * RENAME and the delete) also removes the prior attempt's files; a
    * stale tmp alongside a live table (crash before the DROP) is
    * dropped AND its now-orphaned external files are deleted. The one
    * window this does not cover is a crash DURING the compact write
    * itself — the partial `-compact-<nano>` directory is not yet
    * referenced by any catalog entry; SCALE.md's runbook carries the
    * GC rule (delete any `-compact-*` sibling no table points at).
    *
    * REBUCKETING: `rebucketTo` rewrites the swap with a DIFFERENT
    * bucket count — the escape hatch for an index that outgrew the
    * count chosen at creation (rows per bucket no longer fit a task).
    * A rebucket is forced even below the file threshold (the point is
    * the layout, not the files). Classify plans against the rebucketed
    * table stay exchange-free on the index side; re-align
    * `spark.sql.shuffle.partitions` with the new count to keep the
    * batch side co-partitioned too. */
  def maintain(spark: SparkSession, tableName: String,
      maxFilesPerBucket: Int = 16, toPath: Option[String] = None,
      rebucketTo: Option[Int] = None, graceMs: Long = 0L): Boolean = {
    require(maxFilesPerBucket > 0,
      s"maxFilesPerBucket must be positive, got $maxFilesPerBucket")
    rebucketTo.foreach(b => require(b > 0, s"rebucketTo must be positive, got $b"))
    val tmp = tableName + "_compacting"
    // crashed between DROP and RENAME: the compacted data is complete —
    // finish the swap. Do NOT return yet: the recovered table carries
    // the PRIOR attempt's bucket count, so a rebucketTo in THIS call
    // still needs its own rewrite below (returning early would report a
    // rebucket that never happened)
    val recovered = recover(spark, tableName)
    // crashed before/inside a swap: discard a stale attempt (files too,
    // unless its path IS the live data — the post-ALTER crash window)
    dropStaleTmp(spark, tableName)
    // reclaim the PREVIOUS round's retired directories once their
    // grace elapsed — the steady-state reclamation cadence
    vacuum(spark, tableName)
    val (buckets, keys) = bucketSpecOf(spark, tableName)
    val files = dataFileCount(spark, tableName)
    val rebucket = rebucketTo.exists(_ != buckets)
    if (!rebucket && files <= maxFilesPerBucket.toLong * buckets) return recovered
    val newBuckets = rebucketTo.getOrElse(buckets)
    def compactInto(newPath: String): Unit =
      if (keys == Seq("content_hash"))
        compactExact(spark, tableName, tmp, newPath, newBuckets)
      else
        compactMinhash(spark, tableName, tmp, newPath, newBuckets)
    // same-count compaction swaps ATOMICALLY (one ALTER ... SET
    // LOCATION — no missing-table window, old files retained under the
    // grace); a REBUCKET must replace the table metadata itself (there
    // is no ALTER for a bucket spec), so it keeps the DROP+RENAME
    // route, whose two-op window recover() heals
    if (rebucket) swapRewrite(spark, tableName, toPath)(compactInto)
    else locationSwap(spark, tableName, toPath, graceMs)(compactInto)
    // the rewrite read through the tombstone-filtered index, so any
    // pending tombstones are now folded — physically gone; clear the
    // sidecar (a crash before this line is benign: the anti-join of
    // already-absent ids is a no-op and the next rewrite re-clears)
    clearTombstones(spark, tableName)
    true
  }

  /** The marker stamped on the compacting table just before the swap's
    * DROP — it names the pre-swap data directory, so [[recover]] can
    * finish the delete after a crash anywhere between DROP and the
    * post-RENAME cleanup. Cleared once the old files are gone. */
  private val CompactedFromKey = "graft.compactedFrom"

  /** Rewrite-and-swap: `write` produces the replacement table under the
    * `<table>_compacting` name at a fresh (or caller-chosen) path; the
    * swap then renames it in under `tableName` and deletes the old
    * files, with the [[CompactedFromKey]] marker making every
    * post-write crash window recoverable by [[recover]]. */
  /** The fresh swap destination: caller-chosen, or the current path
    * with its `-compact-<n>` suffix RE-stamped (never compounded — a
    * long-running maintenance loop would otherwise outgrow the
    * filesystem's 255-byte name limit). Validated against equal/nested
    * locations both directions: a toPath UNDER the table's location
    * would be deleted with the old files after the swap; the location
    * under toPath would be destroyed by the overwrite-mode write while
    * still being read. Returns (newPath, qualified old, qualified new). */
  private def swapTarget(spark: SparkSession, tableName: String,
      toPath: Option[String]): (String, String, String) = {
    val oldPath = tablePath(spark, tableName)
    // probe-and-retry: nanoTime's origin is arbitrary per JVM, so the
    // generated path could collide with an existing -compact-N dir
    // (e.g. one retired but not yet vacuumed, with readers mid-scan)
    // that the overwrite-mode write would destroy
    val newPath = toPath.getOrElse {
      val base = oldPath.stripSuffix("/").replaceAll("-compact-\\d+$", "")
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sessionState.newHadoopConf())
      Iterator.iterate(System.nanoTime())(_ + 1)
        .map(v => s"$base-compact-$v")
        .find(p => !fs.exists(new org.apache.hadoop.fs.Path(p)))
        .get
    }
    val oldQ = qualify(spark, oldPath)
    val newQ = qualify(spark, newPath)
    require(oldQ != newQ && !newQ.startsWith(oldQ + "/") &&
        !oldQ.startsWith(newQ + "/"),
      s"toPath ($newQ) must not equal or nest with the table's current " +
        s"location ($oldQ): one side's files would be deleted with the other's")
    (newPath, oldQ, newQ)
  }

  /**
   * The SNAPSHOT-SAFE swap: `write` produces the replacement table
   * under the `<table>_compacting` name at a fresh path; the swap is
   * then ONE atomic catalog op — `ALTER TABLE ... SET LOCATION` — so a
   * concurrent reader resolving the table never sees it missing (the
   * DROP+RENAME window [[swapRewrite]] carries), and the pre-swap
   * directory is RETIRED rather than deleted, so a reader whose file
   * listing predates the swap finishes against retained files.
   * Reclamation happens via [[vacuum]] after `graceMs`.
   *
   * Only valid when the replacement carries the SAME table metadata
   * (bucket spec) as the original — a rebucket must go through
   * [[swapRewrite]].
   *
   * CRASH WINDOWS (all converge without data loss):
   *  - after `write`, before retire: tmp alongside live →
   *    [[dropStaleTmp]] discards the attempt, files included.
   *  - after retire, before ALTER: the retired entry names the LIVE
   *    location → vacuum's guard drops the entry, never the files;
   *    tmp discarded as above.
   *  - after ALTER, before DROP tmp: tmp's path IS the live data →
   *    [[dropStaleTmp]] drops metadata only; the old dir is already
   *    retired and vacuums on cadence.
   */
  private def locationSwap(spark: SparkSession, tableName: String,
      toPath: Option[String], graceMs: Long)(write: String => Unit): Unit =
    locationSwapAbortable(spark, tableName, toPath, graceMs) { p =>
      write(p); true
    }

  /** [[locationSwap]] whose `write` decides AFTER writing whether to
    * commit (true) or abort (false). An abort discards the attempt
    * exactly as [[dropStaleTmp]] discards a crashed one — tmp metadata
    * and files dropped, live table untouched — so callers that can
    * only learn "this rewrite changed nothing" from the rewrite pass
    * itself (an [[org.apache.spark.sql.Observation]] on the write)
    * keep the no-op-leaves-the-table-alone contract. */
  private def locationSwapAbortable(spark: SparkSession, tableName: String,
      toPath: Option[String], graceMs: Long)
      (write: String => Boolean): Boolean = {
    val tmp = tableName + "_compacting"
    val (newPath, oldQ, newQ) = swapTarget(spark, tableName, toPath)
    if (!write(newPath)) {
      dropStaleTmp(spark, tableName)
      return false
    }
    retire(spark, tableName, Seq(oldQ), graceMs)
    spark.sql(s"ALTER TABLE $tableName SET LOCATION '$newQ'")
    spark.sql(s"DROP TABLE $tmp") // external: its files are now the live data
    spark.catalog.refreshTable(tableName)
    vacuum(spark, tableName)
    true
  }

  private def swapRewrite(spark: SparkSession, tableName: String,
      toPath: Option[String])(write: String => Unit): Unit = {
    val tmp = tableName + "_compacting"
    val (newPath, oldQ, _) = swapTarget(spark, tableName, toPath)
    val oldP = new org.apache.hadoop.fs.Path(oldQ)
    val fs = oldP.getFileSystem(spark.sessionState.newHadoopConf())
    write(newPath)
    spark.sql(
      s"ALTER TABLE $tmp SET TBLPROPERTIES ('$CompactedFromKey'='$oldQ')")
    spark.sql(s"DROP TABLE $tableName")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $tableName")
    fs.delete(oldP, true)
    spark.sql(
      s"ALTER TABLE $tableName UNSET TBLPROPERTIES IF EXISTS ('$CompactedFromKey')")
  }

  /** Complete a [[maintain]]/[[retract]] swap interrupted by a crash —
    * safe to call any time from the single writer (the streaming sinks
    * run it at the top of every micro-batch so a restarted stream
    * self-heals instead of wedging on table-not-found):
    *
    *  - tmp exists, table missing (crash between DROP and RENAME): the
    *    rewritten data is complete — finish the RENAME.
    *  - the live table still carries the [[CompactedFromKey]] marker
    *    (crash between RENAME and the old-files delete, including a
    *    swap just completed by the branch above): delete the pre-swap
    *    directory it names and clear the marker.
    *
    * Returns true iff a half-finished swap's RENAME was completed. A
    * stale tmp ALONGSIDE a live table is deliberately left for
    * [[maintain]]: deleting it here would race an in-flight compaction
    * if a reader ever called recover concurrently. */
  def recover(spark: SparkSession, tableName: String): Boolean = {
    val tmp = tableName + "_compacting"
    val completed =
      if (spark.catalog.tableExists(tmp) && !spark.catalog.tableExists(tableName)) {
        spark.sql(s"ALTER TABLE $tmp RENAME TO $tableName")
        true
      } else false
    if (spark.catalog.tableExists(tableName)) {
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(tableName)
      val meta = spark.sessionState.catalog.getTableMetadata(ident)
      meta.properties.get(CompactedFromKey).foreach { old =>
        val oldP = new org.apache.hadoop.fs.Path(old)
        val fs = oldP.getFileSystem(spark.sessionState.newHadoopConf())
        val oldQ = fs.makeQualified(oldP).toString.stripSuffix("/")
        val cur = fs.makeQualified(new org.apache.hadoop.fs.Path(
          meta.location)).toString.stripSuffix("/")
        // belt-and-braces: the swap's nesting guard means the marker can
        // never name the live location, but never delete it if it does
        if (oldQ != cur && !cur.startsWith(oldQ + "/") &&
            !oldQ.startsWith(cur + "/"))
          fs.delete(oldP, true)
        spark.sql(s"ALTER TABLE $tableName UNSET TBLPROPERTIES " +
          s"IF EXISTS ('$CompactedFromKey')")
      }
    }
    completed
  }

  // ------------------------------------------------------------------
  // Tombstones: O(ids) takedown latency for the bucketed indexes
  // ------------------------------------------------------------------

  private def tombstoneTable(tableName: String): String =
    tableName + "_tombstones"

  /** Anti-join `df` against the table's pending tombstones when the
    * sidecar exists — broadcast (takedown sets are human-scale), so
    * the index side's bucketed partitioning is preserved and classify
    * plans stay exchange-free above the index scan. */
  private def tombstoneFiltered(spark: SparkSession, tableName: String,
      df: DataFrame): DataFrame = {
    val tt = tombstoneTable(tableName)
    if (!spark.catalog.tableExists(tt)) df
    else df.join(
      broadcast(spark.table(tt).select(col("keep_id").as("_ts_id"))),
      df("keep_id") === col("_ts_id"), "left_anti")
  }

  /**
   * O(ids) TAKEDOWN for the bucketed exact/minhash indexes — the
   * latency fix for [[retract]]'s O(index) rewrite: buckets (unlike
   * the coded index's cells) are not partitions, so a physical delete
   * always rewrites the whole table. This instead appends the ids to
   * a tiny `<table>_tombstones` sidecar; [[exactIndex]] and
   * [[minhashIndex]] anti-join it, so every classify/resolve built on
   * them behaves as if the rows were gone THE MOMENT this returns —
   * takedown latency is O(ids), independent of index size. The
   * physical rows leave at the next rewrite: [[maintain]]'s
   * compaction and [[retract]] both FOLD pending tombstones and clear
   * the sidecar (a maintain below its file threshold leaves them
   * pending — the anti-join keeps hiding the rows, so nothing is
   * observable either way).
   *
   * Semantics match [[retract]]: FORGETTING, not blocklisting — a
   * re-submission of tombstoned content classifies `new` under a
   * fresh keeper (the old row is hidden, so its content hash is
   * re-acceptable; the RAW table transiently holds both rows, every
   * read through exactIndex/minhashIndex sees only the new one, and
   * the fold removes the old one physically). `resolveKeepers` can
   * never emit a tombstoned id because classify never sees one.
   *
   * Idempotent and self-deduplicating: ids already in the sidecar are
   * not re-appended. Returns the number of NEW ids recorded.
   */
  def tombstone(spark: SparkSession, tableName: String, ids: DataFrame,
      idCol: String = "keep_id"): Long = {
    // fail fast if the main table is not an IndexStore bucketed index
    bucketSpecOf(spark, tableName)
    val tt = tombstoneTable(tableName)
    val incoming = ids.select(col(idCol).cast("long").as("keep_id")).distinct()
    val fresh =
      if (spark.catalog.tableExists(tt))
        incoming.join(spark.table(tt), Seq("keep_id"), "left_anti")
      else incoming
    val staged = fresh.localCheckpoint(true) // count + write, one evaluation
    val n = staged.count()
    if (n > 0L) {
      if (spark.catalog.tableExists(tt))
        staged.write.mode("append").insertInto(tt)
      else {
        // sidecar beside the index's ORIGINAL path (suffix-stripped:
        // the main location moves across compaction swaps)
        val path = tablePath(spark, tableName).stripSuffix("/")
          .replaceAll("-compact-\\d+$", "") + "_tombstones"
        staged.write.option("path", path).format("parquet").saveAsTable(tt)
      }
    }
    n
  }

  /** Drop the sidecar after a rewrite folded its ids — metadata and
    * files. Safe under the single-writer discipline (the same writer
    * tombstones, rewrites, clears). */
  private def clearTombstones(spark: SparkSession, tableName: String): Unit = {
    val tt = tombstoneTable(tableName)
    if (!spark.catalog.tableExists(tt)) return
    val p = new org.apache.hadoop.fs.Path(tablePath(spark, tt))
    spark.sql(s"DROP TABLE $tt")
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }

  /**
   * RETRACTION — the delete path the append-only indexes otherwise
   * lack (a takedown/opt-out request for a keeper document): remove
   * every index row whose keeper id is in `ids` and swap the rewritten
   * table in under the same name. Dispatches exact vs minhash on the
   * table's bucket keys; minhash sketch properties are carried through.
   * Returns the number of index rows removed (0 = no rewrite ran).
   *
   * AFTER RETRACTION the content is re-acceptable: a re-submission
   * finds no index row for its hash/bands, classifies `new`, and a
   * fresh keeper id takes over — retraction is forgetting, not
   * blocklisting (compose with [[Blocklist]] when re-acceptance must
   * also be refused). `resolveKeepers` over post-retraction classify
   * output can never emit a retracted id, because no index row carries
   * one.
   *
   * COST: ONE bucketed scan minus a BROADCAST anti-join (takedown
   * sets are human-scale) — the removed count is observed on the
   * rewrite pass itself, not probed in a separate scan. An ids set
   * that touches nothing still leaves the table untouched (the swap
   * aborts and the written attempt is discarded), but it pays the
   * rewrite-sized pass to find that out — issue membership-unknown
   * takedowns through [[tombstone]], where a no-op costs O(ids).
   * When takedown LATENCY must not pay a
   * full rewrite, use [[tombstone]] instead — O(ids) immediately,
   * physically folded by the next rewrite (this call folds pending
   * tombstones too, and clears the sidecar). At production scale,
   * batch retractions and fold them into the compaction cadence: a
   * retraction IS a forced compaction (same swap machinery, crash
   * recovery, and suffix re-stamping as [[maintain]]), so running it
   * at the moment maintain would rewrite anyway makes the delete
   * amortized-free.
   *
   * SNAPSHOT-SAFE: the swap is one atomic `ALTER ... SET LOCATION`
   * and the pre-swap files are retained for `graceMs` ([[vacuum]]) —
   * a search running concurrently with the retraction never errors;
   * it reads either the pre- or post-retraction snapshot.
   */
  def retract(spark: SparkSession, tableName: String, ids: DataFrame,
      idCol: String = "keep_id", toPath: Option[String] = None,
      graceMs: Long = 0L): Long = {
    recover(spark, tableName)
    dropStaleTmp(spark, tableName)
    vacuum(spark, tableName)
    val (buckets, keys) = bucketSpecOf(spark, tableName)
    val retracted = broadcast(
      ids.select(col(idCol).cast("long").as("_retract_id")).distinct())
    // the base is the tombstone-FILTERED view: ids already hidden by a
    // tombstone count as gone (they are, observably), and the rewrite
    // folds any pending tombstones alongside this retraction
    val base = tombstoneFiltered(spark, tableName, spark.table(tableName))
    // ONE pass computes the survivors AND the removed count: observe
    // the row count above and below the anti-join on the rewrite plan
    // itself (removed = total − kept), instead of a separate semi-join
    // probe scan — at index scale the saved scan is the whole point of
    // the fold. The no-op contract survives via the abortable swap:
    // removed == 0 discards the written attempt and leaves the live
    // table (and its location) untouched.
    val obsAll = org.apache.spark.sql.Observation()
    val obsKept = org.apache.spark.sql.Observation()
    // the remaining rows re-bucket on the SAME keys/count, so classify
    // plans against the retracted table stay exchange-free
    val remaining = base
      .observe(obsAll, count(lit(1)).as("n"))
      .join(retracted, col("keep_id") === col("_retract_id"), "left_anti")
      .observe(obsKept, count(lit(1)).as("n"))
    val tmp = tableName + "_compacting"
    var removed = 0L
    // no sketch-prop carrying needed: the location swap keeps the main
    // table's metadata (props included) — only the files move
    val committed =
      locationSwapAbortable(spark, tableName, toPath, graceMs) { newPath =>
        writeBucketed(remaining, tmp, newPath, buckets, keys, "overwrite")
        removed = obsAll.get("n").asInstanceOf[Long] -
          obsKept.get("n").asInstanceOf[Long]
        removed != 0L
      }
    if (committed) clearTombstones(spark, tableName)
    removed
  }

  /**
   * RETRACTION for the cell-partitioned IVF-PQ index — [[retract]]'s
   * sibling for [[saveCoded]] tables (a takedown that removes a
   * document's content hash but leaves its VECTOR searchable is only
   * half a takedown). Removes every coded row whose id is in `ids`
   * and returns the number of rows removed (0 = nothing written).
   *
   * SCALE SHAPE — this is where the cell layout pays again: the only
   * full pass is a two-column (id, list) probe scan that finds the
   * AFFECTED CELLS (driver-sized: at most nlist rows come back).
   * The rewrite ([[rewriteCells]]) then reads ONLY those cells'
   * directories, writes their survivors to fresh versioned
   * directories, and repoints each cell with one catalog op — so a
   * takedown touching 3 of 4096 cells rewrites 3 directories, not the
   * index. Centroids and codebooks are data-independent parameters
   * and are untouched; a probe of an emptied cell (DROP PARTITIONed)
   * simply scores zero rows.
   *
   * SNAPSHOT-SAFE + per-cell ATOMIC: a search running concurrently
   * with the retraction never errors — the old files are retained for
   * `graceMs` — and each cell transitions in one catalog op from its
   * complete old data to its complete new data, so there is no
   * partially-rewritten cell and no insert-then-drop window: a crash
   * leaves every cell either fully pre- or fully post-retraction, and
   * re-running the same retraction converges (ids still present are
   * found by the probe and rewritten; a retraction is idempotent by
   * construction — the re-delivering-feed discipline is a
   * belt-and-braces convention, not a correctness requirement).
   *
   * Like [[retract]], this FORGETS: re-submitting a retracted vector
   * id re-indexes it. Compose with [[Blocklist]] upstream when
   * re-acceptance must also be refused.
   */
  def retractCoded(spark: SparkSession, tableName: String, ids: DataFrame,
      idCol: String, nlist: Int, m: Int, graceMs: Long = 0L): Long = {
    requireStamped(spark, tableName, ivfProps(nlist, m))
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(tableName)
    val meta = spark.sessionState.catalog.getTableMetadata(ident)
    require(meta.partitionColumnNames == Seq("list"),
      s"$tableName is not a saveCoded cell-partitioned index " +
        s"(partitions: ${meta.partitionColumnNames.mkString(",")})")
    vacuum(spark, tableName)
    val table = spark.table(tableName)
    val idType = table.schema(table.schema.fieldIndex(idCol)).dataType
    val retracted = broadcast(
      ids.select(col(idCol).cast(idType).as("_retract_id")).distinct())
    // one (id, list) probe pass: affected cells + removed count together
    val affected = table
      .join(retracted, table(idCol) === col("_retract_id"), "left_semi")
      .groupBy("list").agg(count(lit(1)).as("_n")).collect()
    if (affected.isEmpty) return 0L
    val removed = affected.map(_.getLong(1)).sum
    val cells = affected.map(_.getInt(0)).toSeq
    rewriteCells(spark, tableName, cells, graceMs) { pruned =>
      pruned.join(retracted, pruned(idCol) === col("_retract_id"), "left_anti")
    }
    removed
  }

  // ------------------------------------------------------------------

  private[llm] def bucketSpecOf(spark: SparkSession, tableName: String): (Int, Seq[String]) = {
    val cat = spark.sessionState.catalog
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(tableName)
    val spec = cat.getTableMetadata(ident).bucketSpec.getOrElse(
      sys.error(s"$tableName has no bucket spec — was it written by IndexStore?"))
    (spec.numBuckets, spec.bucketColumnNames)
  }

  private[llm] def tablePath(spark: SparkSession, tableName: String): String = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(tableName)
    spark.sessionState.catalog.getTableMetadata(ident).location.toString
  }
}
