package graft.llm

import graft.TestSpark
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Scale-growth pins for the LLM-pipeline layer: a 10x corpus must cost
 * near-linear wall time AND near-linear candidate volume (a quadratic
 * candidate path would show up as ~100x), plan construction must trigger
 * zero Spark jobs (no hidden corpus collects), and with size-based
 * broadcasting disabled the dedup plans must contain no broadcast at all
 * — proof that nothing relies on the corpus fitting a broadcast relation.
 *
 * The 10x corpus interleaves a copy-specific marker into every third
 * word, so copies of the same base document share no 3-gram shingles and
 * few SimHash bits: candidate volume grows with corpus size, not with
 * duplicate-cluster size — the honest linear-scaling shape. Both sides
 * of the ratio are materialized to parquet first so each timed run pays
 * one identical scan + the operator, nothing else.
 *
 * Wall-clock ratios on a shared host are noisy; each measurement is a
 * min-of-2 and the bound (15x for 10x data) is deliberately generous —
 * it catches a superlinear blow-up, not a 20% regression (the bench
 * tracks those). The row-count pins are deterministic and carry the
 * design evidence even on a saturated host.
 */
class ScaleSpec extends AnyFunSuite {
  import TestSpark.spark

  // sf0.1: 5000 docs / 2000 vectors at 1x, so the 10x corpus (50k docs)
  // is data-dominated, not floor-dominated, even at local[4]
  private val base = "/root/testdata/sf0.1"

  /** `copies` perturbed copies of each document, distinct doc_ids, every
    * third word tagged with the copy index so cross-copy shingle overlap
    * vanishes. */
  private def docCorpus(copies: Int): DataFrame = {
    val d = spark.read.parquet(s"$base/documents.parquet").select("doc_id", "text")
    d.withColumn("_c", explode(array((0 until copies).map(lit): _*)))
      .select(
        (col("doc_id") + col("_c").cast("long") * 1000000L).as("doc_id"),
        array_join(
          zip_with(
            split(col("text"), " "),
            transform(split(col("text"), " "), (_, i) => i),
            (w, i) => when(i % 3 === 0, concat(w, lit("_"), col("_c"))).otherwise(w)),
          " ").as("text"))
  }

  /** `copies` scaled copies of each embedding (scale preserves the SRP
    * bucket, so bucket occupancy — and candidate volume — grows exactly
    * linearly with the corpus). */
  private def embCorpus(copies: Int): DataFrame = {
    val e = spark.read.parquet(s"$base/embeddings.parquet").select("vec_id", "embedding")
    e.withColumn("_c", explode(array((0 until copies).map(lit): _*)))
      .select(
        (col("vec_id") + col("_c").cast("long") * 1000000L).as("vec_id"),
        transform(col("embedding"),
          x => (x * (lit(1.0f) + col("_c").cast("float") * lit(0.05f))).cast("float"))
          .as("embedding"))
  }

  private def materialize(df: DataFrame, name: String): DataFrame = {
    val path = java.nio.file.Files.createTempDirectory("graft_scale").resolve(name)
    df.write.parquet(path.toString)
    spark.read.parquet(path.toString)
  }

  private def timeMinOf2(run: () => Unit): Double = {
    def once(): Double = {
      val t0 = System.nanoTime(); run(); (System.nanoTime() - t0) / 1e9
    }
    once() // warmup (codegen/JIT)
    math.min(once(), once())
  }

  test("10x corpus: near-linear wall time AND output volume for dedup + ANN") {
    val d1 = materialize(docCorpus(1), "d1")
    val d10 = materialize(docCorpus(10), "d10")
    val e1 = materialize(embCorpus(1), "e1")
    val e10 = materialize(embCorpus(10), "e10")
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    // ANN keeps the query side FIXED (20 base queries) — the scale axis is
    // the corpus; fixed queries over a 10x corpus is the production shape
    val queries = e1.filter(col("vec_id") < 20)
    // edit distance runs on its short-string domain with the doc-unique
    // hash LEADING: segment buckets key on leading content, so a shared
    // 20-char prefix across 10 copies would put every copy in one
    // bucket (the documented hot-segment quadratic — the operator's
    // contract says pre-ExactDedup / distinct leading content, which
    // this fixture honors; a tail-hash variant measured 13.9x at 10x
    // data from exactly that bucket growth)
    val edStrings = (c: DataFrame) => c.select(col("doc_id"),
      concat(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 8),
        substring(col("text"), 1, 20)).as("s"))
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "exact_dedup" -> (c => ExactDedup(c, "doc_id", "text")),
      "minhash_lsh" -> (c => MinHashNearDup(c, "doc_id", "text")),
      "simhash_neardup" -> (c => SimHashNearDup(c, "doc_id", "text")),
      "edit_distance" -> (c => EditDistance.nearDupPairs(
        edStrings(c), "doc_id", "s", maxDist = 2, ordered = false)),
      "ann_bucketed" -> (c => Similarity.bucketedTopK(
        c, queries, "vec_id", "embedding", k = 3, bucketBits = 4)))
    ops.foreach { case (name, op) =>
      val (small, big) = if (name == "ann_bucketed") (e1, e10) else (d1, d10)
      // deterministic pin first: result volume grows at most ~linearly
      // (ratio <= 12 allows the 10x linear term plus boundary effects;
      // a per-cluster quadratic would be ~45x for 10 copies)
      val n1 = op(small).count().max(1L)
      val n10 = op(big).count()
      spark.catalog.clearCache(); graft.CacheScope.releaseSession()
      assert(n10 <= n1 * 12,
        s"$name output grew superlinearly: 1x=$n1 rows, 10x=$n10 rows")
      val t1 = timeMinOf2(() => { noop(op(small)); spark.catalog.clearCache(); graft.CacheScope.releaseSession() })
      val t10 = timeMinOf2(() => { noop(op(big)); spark.catalog.clearCache(); graft.CacheScope.releaseSession() })
      // floor the denominator at 0.3 s: a floor-dominated 1x baseline
      // (exact dedup runs in ~0.25 s) would otherwise let ordinary host
      // noise on the 10x side read as "superlinear growth"
      val ratio = t10 / math.max(t1, 0.3)
      info(f"$name%-16s 1x=${t1}%.2fs 10x=${t10}%.2fs ratio=${ratio}%.1f rows ${n1}->${n10}")
      assert(ratio < 15.0,
        s"$name grew superlinearly: 1x=$t1 s, 10x=$t10 s (ratio $ratio)")
    }
  }

  test("plan construction triggers zero Spark jobs (no hidden corpus collect)") {
    val d = spark.read.parquet(s"$base/documents.parquet")
    val e = spark.read.parquet(s"$base/embeddings.parquet")
    // each construction runs under its own job group; one settle after
    // the last, then every group's job count is checked
    val log = new graft.JobLog
    val built = scala.collection.mutable.ArrayBuffer.empty[(String, String, Int)]
    def boundedJobs(name: String, bound: Int)(build: => DataFrame): Unit = {
      val group = s"scale-construct-$name-${java.util.UUID.randomUUID()}"
      spark.sparkContext.setJobGroup(group, s"$name construction")
      try build finally spark.sparkContext.clearJobGroup()
      built += ((name, group, bound))
    }
    def constructionJobs(name: String)(build: => DataFrame): Unit =
      boundedJobs(name, 0)(build)
    spark.sparkContext.addSparkListener(log)
    try {
      // Documented exceptions, absent here: Ivf.topK trains on a capped
      // (<=4096-row) collected sample — standard IVF practice — and
      // cosineTopK collects the QUERY side (its small-|Q| brute-force
      // contract). Neither ever collects the corpus.
      constructionJobs("ExactDedup")(ExactDedup(d, "doc_id", "text"))
      constructionJobs("NgramJaccard")(NgramJaccard(d, "doc_id", "text"))
      constructionJobs("MinHashNearDup")(MinHashNearDup(d, "doc_id", "text"))
      constructionJobs("SimHashSignatures")(SimHashSignatures(d, "doc_id", "text"))
      constructionJobs("SimHashNearDup")(SimHashNearDup(d, "doc_id", "text"))
      // both ride their corpus scalars (N/avgdl, the share normalizer)
      // as broadcast one-row aggregates — nothing collects at build
      constructionJobs("bm25Scores")(Retrieval.bm25Scores(
        d, "doc_id", "text", Seq("scan", "merge")))
      constructionJobs("temperatureMixtureRates")(
        Sampling.temperatureMixtureRates(d, "source", "n_chars", 0.5, 1000L))
      // the host report's total and the MW step's normalizer both ride
      // broadcast one-row aggregates — plan-only until an action
      constructionJobs("hostStats")(
        UrlOps.hostStats(d.withColumn("url",
          concat(lit("http://h"), col("doc_id"), lit(".x/"))), "url", "n_chars"))
      constructionJobs("Doremi.reweight")(
        Doremi.reweight(d.select(col("source"), lit(0.5).as("ex")),
          "source", "ex", eta = 0.5, smoothing = 0.1))
      // the SRP-bucketed ops sniff the embedding DIMENSION via a
      // limit(1) probe — O(1) rows regardless of corpus size; pin that
      // the construction cost stays a few bounded jobs, never a scan
      boundedJobs("bucketedTopK", 6)(Similarity.bucketedTopK(
        e, e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 3))
      boundedJobs("nearDupPairs", 6)(Similarity.nearDupPairs(
        e, "vec_id", "embedding", threshold = 0.99))
      log.settle()
    } finally spark.sparkContext.removeSparkListener(log)
    val jobs = log.jobs
    built.foreach { case (name, group, bound) =>
      val n = jobs.count(_.group.contains(group))
      if (bound == 0) assert(n === 0,
        s"$name construction ran $n Spark job(s) — a driver-side collect is hiding in plan construction")
      else assert(n <= bound,
        s"$name construction ran $n jobs — more than its limit(1) dimension probe explains")
    }
  }

  test("10x growth: incremental-minhash batch and dup-cluster edge set cost near-linear time") {
    // IncrementalMinHash: the scale axis is the BATCH against a FIXED
    // index — the production shape (history summarized once, batches
    // stream through). Copies share no shingles (docCorpus marker), so
    // candidate volume grows with batch size, not cluster size.
    val d1 = materialize(docCorpus(1), "im1")
    val d10 = materialize(docCorpus(10), "im10")
    val index = materialize(
      IncrementalMinHash.buildIndex(d1, "doc_id", "text"), "imidx")
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val n1 = IncrementalMinHash.classify(d1, index, "doc_id", "text").count()
    val n10 = IncrementalMinHash.classify(d10, index, "doc_id", "text").count()
    spark.catalog.clearCache(); graft.CacheScope.releaseSession()
    assert(n1 == d1.count() && n10 == d10.count(),
      s"classify must emit one row per batch doc: $n1/$n10")
    val t1 = timeMinOf2(() => {
      noop(IncrementalMinHash.classify(d1, index, "doc_id", "text"))
      spark.catalog.clearCache(); graft.CacheScope.releaseSession()
    })
    val t10 = timeMinOf2(() => {
      noop(IncrementalMinHash.classify(d10, index, "doc_id", "text"))
      spark.catalog.clearCache(); graft.CacheScope.releaseSession()
    })
    val ratio = t10 / math.max(t1, 0.3)
    info(f"incr_minhash 1x=$t1%.2fs 10x=$t10%.2fs ratio=$ratio%.1f")
    assert(ratio < 15.0, s"incremental minhash grew superlinearly: $t1 s -> $t10 s")

    // DupClusters: the scale axis is the EDGE set; disjoint pair
    // components keep the round count constant (2), so 10x edges must
    // cost ~10x per-round work — a quadratic closure would blow past it.
    // (DupClusters runs jobs during construction by design — it is an
    // iterative algorithm driver like Ivf's sampler, so the zero-job
    // construction pin deliberately does not apply.)
    def edges(n: Long): DataFrame =
      spark.range(n).select(col("id").as("a"), (col("id") + 10000000L).as("b"))
    val e1 = materialize(edges(20000), "ce1")
    val e10 = materialize(edges(200000), "ce10")
    assert(DupClusters(e1, "a", "b").count() == 40000L)
    val c1 = timeMinOf2(() => DupClusters(e1, "a", "b").count())
    val c10 = timeMinOf2(() => DupClusters(e10, "a", "b").count())
    val cRatio = c10 / math.max(c1, 0.3)
    info(f"dup_clusters 1x=$c1%.2fs 10x=$c10%.2fs ratio=$cRatio%.1f")
    assert(cRatio < 15.0, s"dup clustering grew superlinearly: $c1 s -> $c10 s")
  }

  test("10x growth: decontamination cost is near-linear in the train corpus") {
    // the scale axis is the TRAIN side (the whole training corpus) with
    // a fixed eval set — the production shape; copies share no shingles
    // (docCorpus marker), so the distinct train-shingle set grows ~10x
    // and the eval join stays eval-sized
    val d1 = materialize(docCorpus(1), "dc1")
    val d10 = materialize(docCorpus(10), "dc10")
    val eval = materialize(docCorpus(1).filter(col("doc_id") < 50)
      .select((col("doc_id") + 900000000L).as("doc_id"), col("text")), "dceval")
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    // deterministic pin: one row per eval doc regardless of train size,
    // and the fixed eval set is fully contained in both corpora
    val r1 = Decontamination.containment(d1, eval, "doc_id", "text")
    val r10 = Decontamination.containment(d10, eval, "doc_id", "text")
    assert(r1.count() == 50 && r10.count() == 50)
    assert(r1.filter(col("containment") === 1.0).count() == 50)
    val t1 = timeMinOf2(() =>
      noop(Decontamination.containment(d1, eval, "doc_id", "text")))
    val t10 = timeMinOf2(() =>
      noop(Decontamination.containment(d10, eval, "doc_id", "text")))
    val ratio = t10 / math.max(t1, 0.3)
    info(f"decontaminate 1x=$t1%.2fs 10x=$t10%.2fs ratio=$ratio%.1f")
    assert(ratio < 15.0, s"decontamination grew superlinearly: $t1 s -> $t10 s")
  }

  test("with size-based broadcast off, dedup plans contain no broadcast of anything") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val d = s2.read.parquet(s"$base/documents.parquet")
    Seq[(String, DataFrame)](
      "ExactDedup" -> ExactDedup(d, "doc_id", "text"),
      "MinHashNearDup" -> MinHashNearDup(d, "doc_id", "text"),
      "SimHashNearDup" -> SimHashNearDup(d, "doc_id", "text"),
      // broadcastSizes=false is the documented extreme-scale fallback —
      // with it, nothing in the n-gram Jaccard plan broadcasts either
      "NgramJaccard" -> NgramJaccard(d, "doc_id", "text", broadcastSizes = false),
      // the train side is the whole corpus: the containment join must
      // survive without ever broadcasting it
      "Decontamination" -> Decontamination.containment(
        d, d.limit(50), "doc_id", "text")
    ).foreach { case (name, q) =>
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"),
        s"$name broadcasts at corpus scale:\n$plan")
    }
  }
}
