package graft.operators

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Physical-plan contracts (SURVEY.md §4): filters reach the parquet scan,
 * projections prune the read schema, and dimension joins broadcast.
 * These pin the *plan*, not results — a regression here is invisible to
 * the correctness gate but fatal at 100 TB.
 */
class PlanAssertionsSpec extends AnyFunSuite {
  import TestSpark.spark

  private val dir = "/root/testdata/sf0.001"

  test("filter + projection push down to the parquet scan") {
    val q = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_quantity") > 45 && col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber", "l_returnflag")
    val plan = q.queryExecution.executedPlan.toString
    // predicate pushdown: both comparisons reach the scan (the plan
    // string truncates the pushed list, so match the untruncated
    // DataFilters twin for the second predicate)
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity)"))
    assert(plan.contains("GreaterThan(l_quantity,45.0)"))
    assert(plan.contains("= R)"))
    // column pruning: the scan reads exactly the needed columns
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(Seq("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      .forall(readSchema.contains))
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_shipdate"))
  }

  test("the typed (mapPartitions) operator tier still prunes the parquet scan") {
    // typed stages black-box their row function, but the select() in
    // front of each mapPartitions is what keeps column pruning alive:
    // the documents scan must read (doc_id, text) only — never source,
    // lang, n_chars — or at 100 TB every quality pass drags the whole
    // table through IO
    val d = spark.read.parquet(s"$dir/documents.parquet")
    Seq[(String, org.apache.spark.sql.DataFrame)](
      "qualityMetrics" -> graft.llm.TextAnalysis.qualityMetrics(d, "doc_id", "text"),
      "repetitionMetrics" -> graft.llm.TextAnalysis.repetitionMetrics(d, "doc_id", "text"),
      "chunkDocuments" -> graft.llm.TextAnalysis.chunkDocuments(d, "doc_id", "text"),
      "redactPii" -> graft.llm.TextAnalysis.redactPii(d, "doc_id", "text"),
      "packSequences" -> graft.llm.Packing.packSequences(d, "doc_id", "text", 128, 4)
    ).foreach { case (name, q) =>
      val readSchema = q.queryExecution.executedPlan.toString
        .linesIterator.find(_.contains("ReadSchema")).get
      assert(readSchema.contains("doc_id") && readSchema.contains("text"),
        s"$name must read its input columns: $readSchema")
      assert(!readSchema.contains("source") && !readSchema.contains("n_chars"),
        s"$name reads columns it never uses: $readSchema")
    }
  }

  test("dimension joins broadcast; the fact side never shuffles for the join") {
    val supplier = spark.read.parquet(s"$dir/supplier.parquet")
    val nation = spark.read.parquet(s"$dir/nation.parquet")
    val q = supplier.join(nation, col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "n_name")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("ANN candidate joins are equi-joins, never cartesian; multi-probe explodes only the query side") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = e.filter(col("vec_id") < 5)
    val multi = graft.llm.Similarity.bucketedTopK(e, q, "vec_id", "embedding",
      k = 3, bucketBits = 6, srp = true, probes = 4)
    val mp = multi.queryExecution.optimizedPlan.toString
    // bucket-equality join (hash-partitionable); a cartesian/BNL product
    // here would be the 100 TB scale-killer
    assert(!mp.contains("Cartesian") && !mp.contains("BroadcastNestedLoop"))
    // the probe expansion is a Generate (explode) of the probe-key array
    assert(mp.contains("Generate"))
    // and no row-level Scala UDF anywhere in the probe-key computation
    assert(!mp.toLowerCase.contains("scalaudf"))

    val ivf = graft.llm.Ivf.topK(e, q, "vec_id", "embedding",
      k = 3, nlist = 4, nprobe = 2)
    val ip = ivf.queryExecution.optimizedPlan.toString
    assert(!ip.contains("Cartesian") && !ip.contains("BroadcastNestedLoop"))
  }

  test("incremental-minhash classify and dup-cluster rounds are equi-joins, never cartesian") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val idx = graft.llm.IncrementalMinHash.buildIndex(d, "doc_id", "text")
    val cls = graft.llm.IncrementalMinHash.classify(
      d.select((col("doc_id") + 10000).as("doc_id"), col("text")), idx, "doc_id", "text")
    val cp = cls.queryExecution.optimizedPlan.toString
    // both the band-key candidate joins and the signature re-joins must
    // be equi-joins — a nested-loop against the index is the scale-killer
    assert(!cp.contains("Cartesian") && !cp.contains("BroadcastNestedLoop"))

    // DupClusters propagation rounds: the edge-label hop join and the
    // pointer-jump self-join are both equi-joins on the node id
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val labels = graft.llm.DupClusters(pairs, "a", "b")
    val lp = labels.queryExecution.optimizedPlan.toString
    assert(!lp.contains("Cartesian") && !lp.contains("BroadcastNestedLoop"))
  }

  test("bucketed tables join with ZERO exchanges — the co-located repeated-join shape") {
    // SURVEY §4: for joins repeated across runs on the same key (the
    // embed/reference-resolution shape at warehouse scale), pre-bucketing
    // both sides on the join key removes the shuffle entirely. Broadcast
    // is disabled so the join must be sort-merge — the assert then proves
    // the bucketing, not a small-table special case.
    val s2 = spark.newSession() // shares the catalog + warehouse
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val df = s2.range(0, 10000).select(col("id").as("k"), (col("id") % 7).as("v"))
    try {
      Seq("graft_bucket_a", "graft_bucket_b").foreach(t =>
        df.write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable(t))
      val j = s2.table("graft_bucket_a").join(s2.table("graft_bucket_b"), "k")
      j.write.format("noop").mode("overwrite").save()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"), // neither shuffle nor broadcast
        s"bucketed join still exchanges:\n$plan")
      assert(j.count() === 10000)
    } finally Seq("graft_bucket_a", "graft_bucket_b").foreach(t =>
      s2.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("bucketed as-of joins are equi-joins on (key, bucket) — never cartesian") {
    import spark.implicits._
    val l = Seq((1, 10L, "a")).toDF("k", "ts", "tag")
    val r = Seq((1, 7L, "x")).toDF("k", "ts", "v")
      .select($"k", $"ts", $"ts".as("ref_ts"), $"v")
    for (dir <- Seq("backward", "forward", "nearest")) {
      val p = graft.operators.AsOfJoin.bucketed(l, r, Seq("k"), "ts",
        Seq("ref_ts", "v"), bucketSeconds = 5L, direction = dir)
        .queryExecution.optimizedPlan.toString
      assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
        s"bucketed as-of ($dir) planned a product join:\n$p")
    }
  }

  test("chunkDocuments is pure Catalyst — no object boundary, explode stays in codegen") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val q = graft.llm.TextAnalysis.chunkDocuments(d, "doc_id", "text")
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("DeserializeToObject") && !plan.contains("SerializeFromObject")
      && !plan.contains("MapPartitions"),
      s"chunking fell out of codegen into the object tier:\n$plan")
    assert(plan.contains("Generate explode"), s"expected a codegen explode:\n$plan")
  }

  test("incremental exact dedup: the batch keeper is one running-min window over content_hash; the batch is read once") {
    // the keeper is a min(doc_id) window (ROWS unbounded preceding to
    // current row) over the content_hash partition, not an aggregate
    // joined back: the batch leaf appears once in the plan. A hot
    // content group is held in the window's spillable buffer
    // (IncrementalPipelineSpec pins 20,000 copies under a 64-row spill
    // threshold)
    import spark.implicits._
    val batch = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "text")
    val index = Seq(("c", 0L)).toDF("content_hash", "keep_id")
    val op = graft.llm.IncrementalDedup.classify(batch, index, "doc_id", "text")
      .queryExecution.optimizedPlan.toString
    val windowSpecs = op.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windowSpecs.size == 1 &&
      windowSpecs.head.contains("windowspecdefinition(content_hash#") &&
      windowSpecs.head.contains("specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())"),
      s"expected one running-min window over content_hash:\n$op")
    assert(!op.contains("Aggregate"), s"the keeper regressed to an aggregate:\n$op")
    assert(op.linesIterator.count(_.contains("LocalRelation")) == 2,
      s"the batch must be read once (plus the one index leaf):\n$op")
  }

  test("tfIdfTopTerms: document frequency is a keyed aggregate, never a term-partition window") {
    // Term frequency is Zipfian: a window partitioned by term puts every
    // (doc, term) row for a hot term into ONE task with no map-side
    // combine — at corpus scale that's a straggler/OOM. df must come from
    // groupBy(term).agg(count) (partial-aggregating) equi-joined back; the
    // only window allowed in the plan is the per-doc top-k ranking, whose
    // partitions are bounded by document size.
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val q = graft.llm.TextAnalysis.tfIdfTopTerms(d, "doc_id", "text", k = 3)
    val op = q.queryExecution.optimizedPlan.toString
    val windowSpecs = op.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windowSpecs.nonEmpty, s"expected the per-doc ranking window:\n$op")
    assert(windowSpecs.forall(_.contains("doc_id#")),
      s"a window in the tf-idf plan is not partitioned by doc_id:\n${windowSpecs.mkString("\n")}")
    assert(!windowSpecs.exists(l => l.contains("windowspecdefinition(term#")),
      s"document frequency regressed to a term-partition window:\n${windowSpecs.mkString("\n")}")
    // and the df aggregate is a real keyed aggregate feeding an equi-join
    assert(op.contains("Aggregate [term#"), s"expected groupBy(term) df aggregate:\n$op")
  }

  test("k-means assign is one broadcast argmin pass — ZERO exchanges") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val cents = Array(Array.fill(64)(0L), Array.fill(64)(100L))
    val plan = graft.llm.Clustering.assign(e, "vec_id", "embedding", cents,
      ordered = false).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assign must not shuffle:\n$plan")
  }

  test("model-sized aggregates carry map-side partial aggregation") {
    // each of these reduces a corpus-scale stream to a model/stat-sized
    // table; without partial (map-side) aggregation the full stream
    // would shuffle. The executed plan must show a partial_ aggregate
    // below the exchange.
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val cents = Array(Array.fill(64)(0L), Array.fill(64)(100L))
    val words = d.select(explode(graft.llm.TextOps.tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
    Seq[(String, org.apache.spark.sql.DataFrame)](
      "kmeans updateStep" -> graft.llm.Clustering.updateStep(
        e, "vec_id", "embedding", cents, ordered = false),
      "pca momentStats" -> graft.llm.Pca.momentStats(
        e.select(col("embedding")), "embedding", dims = 4, ordered = false),
      "bpe wordCounts" -> graft.llm.Bpe.wordCounts(d, "text", ordered = false),
      "dsir bucketDistribution" -> graft.llm.Dsir.bucketDistribution(
        d, "text", buckets = 64, ordered = false),
      "countmin build" -> graft.llm.CountMin.build(words, "word", 2, 64, ordered = false)
    ).foreach { case (name, q) =>
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("partial"),
        s"$name must aggregate map-side before its exchange:\n$plan")
    }
  }

  test("z-order keys are pure codegen'd arithmetic — no object boundary") {
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val q = o.select(col("o_orderkey"),
      ZOrder.zValue(Seq(ZOrder.modCell(col("o_custkey"), 16),
        ZOrder.modCell(col("o_orderkey"), 16)), bitsPerDim = 16).as("z"))
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("DeserializeToObject") && !plan.contains("MapPartitions"),
      s"zValue must stay in the expression tier:\n$plan")
    // "*(n)" is the compact-plan WholeStageCodegen marker
    assert(plan.contains("*(1) Project"), s"zValue must codegen:\n$plan")
  }

  test("IVF-PQ search never joins — the coded scan scores via the broadcast probe map") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val model = graft.llm.ProductQuant.PqModel(4, 16,
      Array.fill(4)(Array.tabulate(4)(c => Array.fill(16)(c * 100L))))
    val cents = Array(Array.fill(64)(0L), Array.fill(64)(100L))
    val coded = graft.llm.ProductQuant.buildCodedIndex(
      e, "vec_id", "embedding", cents, model, ordered = false)
    val q = graft.llm.ProductQuant.ivfAdcTopK(coded, e.filter(col("vec_id") < 5),
      "vec_id", "embedding", cents, model, k = 3, nprobe = 1, ordered = false)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"IVF-PQ search must not join:\n$plan")
  }

  test("AQE skew-join splits the same hot-key shuffle the manual salt targets, with identical results") {
    // The vq20 shape: 5 event_type keys at ~20% each joined to a tiny
    // dim, shuffle join forced. At real scale AQE's skew handling
    // (spark.sql.adaptive.skewJoin, on by default) splits oversized
    // sort-merge partitions at runtime — the thresholds here are scaled
    // down from their cluster-sized defaults (256 MB) so the ~100 KB
    // test shuffle qualifies. The manual SkewJoin.saltedJoin remains for
    // the cases AQE can't cover: broadcast-ineligible nested-embed
    // builds, and extreme skew known in advance (salting prevents the
    // oversized map output; AQE only splits it after it exists).
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true") // raw events ts
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8k")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8k")
    // One hot key with 80% of 200k rows, emitted by a 4-task range scan:
    // skewed reduce partitions split at MAPPER granularity, so the map
    // side must have several tasks (a single-row-group parquet scan is
    // one indivisible map output no matter what maxPartitionBytes says).
    val events = s2.range(0, 200000).select(
      when(col("id") % 10 < 8, lit("hot"))
        .otherwise(concat(lit("k"), col("id") % 50)).as("event_type"),
      (col("id") % 1000).cast("double").as("value"))
    // the dim must be a plain scan: OptimizeSkewedJoin matches only
    // SMJ(Sort(Shuffle), Sort(Shuffle)) — an aggregate between sort and
    // shuffle (the vq20 shape) defeats it, which is precisely one of the
    // cases the manual salt stays for. Materialize the dim first.
    val dimPath = java.nio.file.Files.createTempDirectory("graft_skew").resolve("dim")
    events.groupBy("event_type").agg(round(avg("value"), 3).as("weight"))
      .write.parquet(dimPath.toString)
    val dim = s2.read.parquet(dimPath.toString)
    val plain = events.join(dim, Seq("event_type"))
    val rows = plain.collect() // executes; finalizes the adaptive plan
    val plan = plain.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"),
      s"AQE did not mark the shuffle join skewed:\n$plan")
    // identical results to the manual salt on the same input
    val salted = graft.operators.SkewJoin.saltedJoin(
      events, dim, Seq("event_type"), saltBuckets = 4)
    def key(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).sorted
    assert(key(rows) === key(salted.collect()))
  }

  test("weightedSample is TakeOrdered — never a global range sort") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val q = graft.llm.Sampling.weightedSample(d.select("doc_id", "n_chars"),
      "doc_id", "n_chars", k = 10, salt = "t")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected per-partition bounded heaps:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"weightedSample paid a full range-sort exchange:\n$plan")
  }

  test("sketches are ONE map-side-combined exchange (CountMin, HLL)") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(graft.llm.TextOps.tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
    Seq[(String, org.apache.spark.sql.DataFrame)](
      "countmin" -> graft.llm.CountMin.build(d, "word", 4, 64, "t", ordered = false),
      "hll" -> graft.llm.Hll.sketch(d, "word", 64, "t", ordered = false)
    ).foreach { case (name, q) =>
      val plan = q.queryExecution.executedPlan.toString
      val exchanges = plan.linesIterator.count(_.contains("Exchange"))
      assert(exchanges == 1, s"$name: expected exactly one shuffle:\n$plan")
      assert(plan.contains("partial_"),
        s"$name: aggregate lost its map-side partial:\n$plan")
    }
  }

  test("text cleaning chains are shuffle-free codegen projections") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    Seq[(String, org.apache.spark.sql.DataFrame)](
      "stripHtml" -> graft.llm.TextClean.stripHtml(
        d.select(col("doc_id"), col("text").as("html")), "doc_id", "html",
        ordered = false),
      "canonicalizeUrls" -> graft.llm.UrlOps.canonicalizeUrls(
        d.select(col("doc_id"), col("text").as("url")), "doc_id", "url",
        ordered = false)
    ).foreach { case (name, q) =>
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"$name shuffles:\n$plan")
      assert(!plan.contains("DeserializeToObject") && !plan.contains("MapPartitions"),
        s"$name fell out of codegen into the object tier:\n$plan")
    }
  }

  test("edit-distance candidate generation is an equi-join, never cartesian") {
    import spark.implicits._
    val df = Seq((1L, "abcdef"), (2L, "abcdex"), (3L, "zzzzzz")).toDF("id", "s")
    val p = graft.llm.EditDistance.nearDupPairs(df, "id", "s", maxDist = 2,
      ordered = false).queryExecution.optimizedPlan.toString
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      s"PassJoin planned a product join:\n$p")
  }

  test("semantic decontamination is ZERO-shuffle: one scan, no Exchange, both arms") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val eval = e.filter(col("vec_id") < 5)
    Seq(0, 4).foreach { bits =>
      val plan = graft.llm.Decontamination.semanticFlags(e, eval, "vec_id",
          "embedding", tau = 0.99, bucketBits = bits, ordered = false)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"semanticFlags(bits=$bits) shuffles — the broadcast-argmax contract broke:\n$plan")
    }
  }

  test("weighted per-stratum sampler: the rank-limit pushdown fires (WindowGroupLimit)") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source", "n_chars")
    val plan = graft.llm.Sampling.weightedTopKPerStratum(d, "doc_id",
        "source", "n_chars", k = 5, salt = "pl")
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank-limit pushdown lost — a Zipf stratum would sort whole in one task:\n$plan")
  }

  test("UniMax allocation prunes the scan to (stratum, tokens); materialization adds no shuffle") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val alloc = graft.llm.Sampling.unimaxAllocation(d, "source", "n_chars",
      budgetTokens = 360000L, maxEpochs = 2.5, ordered = false)
    val readSchema = alloc.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("source") && readSchema.contains("n_chars") &&
      !readSchema.contains("text"),
      s"allocation must read only the stratum and token columns: $readSchema")
    // the materialized frame itself is filter + literal when-chain +
    // bounded sequence explode — no Exchange (the allocation's own
    // aggregate ran eagerly at call time, outside this plan)
    val mat = graft.llm.Sampling.unimaxMaterialize(
      d.select("doc_id", "source", "n_chars"), "doc_id", "source",
      "n_chars", budgetTokens = 360000L, maxEpochs = 2.5, salt = "pl")
    val mplan = mat.queryExecution.executedPlan.toString
    assert(!mplan.contains("Exchange"),
      s"materialization must be a shuffle-free projection over the scan:\n$mplan")
  }

  test("the builder's gate stage is SHUFFLE-FREE: clean + both gates run as filters over one scan") {
    // the gates emit one verdict per doc, so gating is a filter, not an
    // id semi-join — gateStage must compile to mapPartitions + Filter
    // over the scan with ZERO Exchange (at 100 TB the old semi-join
    // shape paid four full-corpus shuffles before the first real
    // aggregate)
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val weights = Array.tabulate(64)(i => (i % 7 - 3).toDouble / 10)
    val cfg = graft.llm.Pipeline.Config(minTokens = 2, maxTokens = 100000,
      minMeanWlen = 1.0, maxMeanWlen = 30.0, minStopRatio = 0.0,
      minTtr = 0.0, maxDupBigramFrac = 1.0, maxTopBigramFrac = 1.0,
      classifierWeights = Some(weights))
    val gated = graft.llm.Pipeline.gateStageForPlanPin(d, "doc_id", cfg)
    val plan = gated.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"the gate stage must be shuffle-free filters over the scan:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"gating is a per-doc decision — no join belongs in this stage:\n$plan")
  }
}
