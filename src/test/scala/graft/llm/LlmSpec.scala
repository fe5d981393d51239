package graft.llm

import graft.TestSpark
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Twin-equivalence and behavior tests for the LLM-pipeline operators.
 *  The typed (JVM) stages must agree exactly with the Column expression
 *  forms they replaced — these tests pin that contract. */
class LlmSpec extends AnyFunSuite {
  import TestSpark.{df, spark}

  private val trickyTexts = Seq(
    "a b c", "  leading and trailing  ", "", " ", "one",
    "double  space", "tab\tseparated", "newline\nbound", "a  b   c    d")

  test("tokensJvm matches Spark split(trim(text), \\s+) on edge cases") {
    val in = df("t STRING", trickyTexts.map(Row(_)))
    val sparkToks = in.select(TextOps.tokens(col("t"))).collect()
      .map(_.getSeq[String](0).toList).toList
    val jvmToks = trickyTexts.map(TextOps.tokensJvm(_).toList).toList
    assert(jvmToks == sparkToks)
  }

  test("md5HexJvm matches Spark md5()") {
    val inputs = Seq("", "hello", "0:three gram shingle", "ünïcode")
    val in = df("s STRING", inputs.map(Row(_)))
    val sparkMd5 = in.select(TextOps.md5Hex(col("s"))).collect().map(_.getString(0)).toSeq
    val md = java.security.MessageDigest.getInstance("MD5")
    assert(inputs.map(TextOps.md5HexJvm(md, _)) == sparkMd5)
  }

  test("shinglesJvm matches the shingles Column expression") {
    val texts = Seq("a b c d e", "x x x x", "p q r")
    val in = df("t STRING", texts.map(Row(_)))
    val sparkSh = in.select(TextOps.shingles(TextOps.tokens(col("t")), 3))
      .collect().map(_.getSeq[String](0).toList).toList
    val jvmSh = texts.map(t => TextOps.shinglesJvm(TextOps.tokensJvm(t), 3).toList)
    assert(jvmSh == sparkSh)
  }

  test("round3 matches Spark round(c, 3)") {
    val vals = Seq(0.0015, 1.0 / 3.0, 2.0 / 3.0, 0.5, 0.12345, 7.0)
    val in = df("d DOUBLE", vals.map(Row(_)))
    val sparkRounded = in.select(round(col("d"), 3)).collect().map(_.getDouble(0)).toSeq
    assert(vals.map(TextOps.round3) == sparkRounded)
  }

  test("simhashHexJvm: independent bit-count reference implementation agrees") {
    // independent reference: BigInteger bit tests over the md5 digest
    def reference(text: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val counts = new Array[Int](64)
      TextOps.tokensJvm(text).foreach { w =>
        val d = md.digest(w.getBytes("UTF-8"))
        val hi = new java.math.BigInteger(1, d.take(8))
        (0 until 64).foreach { j =>
          counts(j) += (if (hi.testBit(63 - j)) 1 else -1)
        }
      }
      val bits = counts.map(c => if (c > 0) 1 else 0)
      bits.grouped(4)
        .map(g => Character.forDigit(g.foldLeft(0)((a, b) => (a << 1) | b), 16))
        .mkString
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    Seq("the quick brown fox", "a a a b", "solo").foreach { t =>
      val got = TextOps.simhashHexJvm(md, TextOps.tokensJvm(t))
      assert(got == reference(t), s"for '$t'")
      assert(got.length == 16 && got.forall("0123456789abcdef".contains(_)))
    }
  }

  test("fingerprints typed stage matches the bottomKSketch Column form") {
    val in = df("doc_id BIGINT, text STRING", Seq(
      Row(1L, "the quick brown fox jumps over the lazy dog"),
      Row(2L, "one two"), Row(3L, "solo")))
    val typed = TextAnalysis.fingerprints(in, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaExpr = in
      .filter(size(TextOps.tokens(col("text"))) >= 2)
      .select(col("doc_id"),
        TextOps.bottomKSketch(TextOps.shingles(TextOps.tokens(col("text")), 2), 4))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(typed == viaExpr)
    assert(!typed.contains(3L)) // < 2 tokens skipped in both forms
  }

  test("pickLangJvm matches langIdExpr fold semantics including ties") {
    val texts = Seq(
      "the cat sat", "el la los", "der die das", "le les une",
      "the el der le", // all-ones tie -> en
      "el der",        // en loses, es ties de -> es
      "xyz nothing")   // all zero -> en
    val profiles = TextAnalysis.DefaultLangProfiles
    val in = df("t STRING", texts.map(Row(_)))
    val viaExpr = in.select(
      TextAnalysis.langIdExpr(TextOps.tokens(col("t")), profiles))
      .collect().map(_.getString(0)).toSeq
    val langs = profiles.map(_._1).toIndexedSeq
    val sets = profiles.map(_._2.toSet)
    val viaJvm = texts.map { t =>
      val toks = TextOps.tokensJvm(t)
      val scores = sets.map(s => toks.count(s.contains)).toArray
      TextAnalysis.pickLangJvm(langs, scores)
    }
    assert(viaJvm == viaExpr)
    assert(viaJvm == Seq("en", "es", "de", "fr", "en", "es", "en"))
  }

  test("ExactDedup groups by content hash with min-id keeper and copy count") {
    val in = df("doc_id BIGINT, text STRING", Seq(
      Row(3L, "same text"), Row(1L, "same text"), Row(2L, "unique")))
    val out = ExactDedup(in, "doc_id", "text").orderBy("keep_id").collect()
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((1L, 2L), (2L, 1L)))
  }

  test("MinHashNearDup finds near-identical docs and orders pairs (a < b)") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val in = df("doc_id BIGINT, text STRING", Seq(
      Row(1L, base),
      Row(2L, base + " extra"),      // ~0.9 jaccard on 3-gram shingles
      Row(3L, (100 to 140).map(i => s"z$i").mkString(" ")),
      Row(4L, "too short")))         // < 3 tokens after shingling guard
    val out = MinHashNearDup(in, "doc_id", "text", threshold = 0.8).collect()
    assert(out.length == 1)
    assert(out.head.getLong(0) == 1L && out.head.getLong(1) == 2L)
    assert(out.head.getDouble(2) >= 0.8)
  }

  test("shingleN < 1 fails at plan construction for MinHashNearDup and IncrementalMinHash.buildIndex") {
    // with n = 0 every text, empty ones included, has the one shingle ""
    // — every doc would be a duplicate of every other. Both calls only
    // build plans, so the throw comes before any job.
    val in = df("doc_id BIGINT, text STRING", Seq(Row(1L, "a b c"), Row(2L, "x y z")))
    val e1 = intercept[IllegalArgumentException](
      MinHashNearDup(in, "doc_id", "text", shingleN = 0))
    val e2 = intercept[IllegalArgumentException](
      IncrementalMinHash.buildIndex(in, "doc_id", "text", shingleN = 0))
    assert(e1.getMessage.contains("shingle size") && e2.getMessage.contains("shingle size"))
  }

  test("NgramJaccard: exact jaccard via rare-shingle index; maxDf cut drops hot-shingle pairs") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val in = df("doc_id BIGINT, text STRING", Seq(
      Row(1L, base),
      Row(2L, base + " extra"),      // doc1's 28 shingles all shared; doc2 adds 1
      Row(3L, (100 to 140).map(i => s"z$i").mkString(" ")),
      Row(4L, "too short")))
    val out = NgramJaccard(in, "doc_id", "text", threshold = 0.6).collect()
    assert(out.length == 1)
    assert(out.head.getLong(0) == 1L && out.head.getLong(1) == 2L)
    // exact: |A∩B|=28, |A∪B|=29
    assert(out.head.getDouble(2) == TextOps.round3(28.0 / 29.0))
    // every shared shingle appears in 2 docs; maxDf = 1 silences them all
    assert(NgramJaccard(in, "doc_id", "text", threshold = 0.6, maxDf = 1).count() == 0)
  }

  test("SimHashSignatures: identical docs share a signature; signature is stable hex") {
    val in = df("doc_id BIGINT, text STRING", Seq(
      Row(1L, "shared words in this document"),
      Row(2L, "shared words in this document"),
      Row(3L, "totally different content here")))
    val out = SimHashSignatures(in, "doc_id", "text").collect()
    assert(out(0).getString(1) == out(1).getString(1))
    assert(out(0).getString(1) != out(2).getString(1))
  }

  test("cosineTopK ranks by exact cosine, excludes self, respects k") {
    val rows = Seq(
      Row(0L, Seq(1.0f, 0.0f)),   // query
      Row(1L, Seq(1.0f, 0.01f)),  // nearly parallel -> rank 1
      Row(2L, Seq(1.0f, 1.0f)),   // 45 degrees -> rank 2
      Row(3L, Seq(-1.0f, 0.0f)))  // opposite -> rank 3 (excluded by k=2)
    val e = df("vec_id BIGINT, embedding ARRAY<FLOAT>", rows)
    val out = Similarity.cosineTopK(e, e.filter(col("vec_id") === 0), "vec_id", "embedding", k = 2)
      .collect()
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((1L, 1L), (2L, 2L)))
  }

  test("hammingJvm matches the hammingExpr Column form") {
    val pairs = Seq(
      ("0000000000000000", "0000000000000000"),
      ("0000000000000000", "ffffffffffffffff"),
      ("0123456789abcdef", "0123456789abcdee"),
      ("8000000000000001", "0000000000000000"),
      ("a5a5a5a5a5a5a5a5", "5a5a5a5a5a5a5a5a"))
    val in = df("a STRING, b STRING", pairs.map { case (a, b) => Row(a, b) })
    val sparkH = in.select(SimHashNearDup.hammingExpr(col("a"), col("b")))
      .collect().map(_.getLong(0)).toSeq
    assert(pairs.map { case (a, b) => SimHashNearDup.hammingJvm(a, b) } == sparkH)
  }

  test("quantizeJvm matches the quantize Column expression (HALF_UP at .5)") {
    val vals = Seq(0.0f, 0.0005f, -0.0005f, 0.0015f, 1.2345f, -1.2345f,
      0.9999f, -0.9999f, 123.456f, -0.5f, 0.5f)
    val in = df("f FLOAT", vals.map(Row(_)))
    val sparkQ = in.select(Similarity.quantize(array(col("f"))))
      .collect().map(_.getSeq[Long](0).head).toSeq
    val jvmQ = vals.map(f => Similarity.quantizeJvm(f.toDouble))
    assert(jvmQ == sparkQ)
  }

  test("nearDupPairs auto bucket bits: coarser buckets find a superset of explicit 4-bit pairs") {
    // sign buckets are prefix-nested, so a small corpus (auto -> 1 bit)
    // must recover every pair the 4-bit bucketing finds
    val rows = (0L until 30L).map { i =>
      Row(i, Seq.tabulate(8)(d => (math.sin(i * 0.7 + d) * 0.9).toFloat))
    } ++ (0L until 5L).map { i =>
      Row(i + 100L, Seq.tabulate(8)(d => (math.sin(i * 0.7 + d) * 0.9 * 1.01).toFloat))
    }
    val e = df("vec_id BIGINT, embedding ARRAY<FLOAT>", rows)
    def pairs(bits: Int) =
      Similarity.nearDupPairs(e, "vec_id", "embedding", threshold = 0.99, bucketBits = bits)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val explicit4 = pairs(4)
    val auto = Similarity.nearDupPairs(e, "vec_id", "embedding", threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(explicit4.nonEmpty)
    assert(explicit4.subsetOf(auto))
  }

  test("bucketedTopK multi-probe: recall is monotone in probes and beats single-probe") {
    // deterministic corpus spread across many 6-bit SRP buckets; queries'
    // true neighbors often land one hyperplane sign away, which is
    // exactly what margin-ordered Hamming-1 probing recovers
    val rows = (0L until 300L).map { i =>
      Row(i, Seq.tabulate(8)(d => math.sin(i * 1.7 + d * 0.9).toFloat))
    }
    val e = df("vec_id BIGINT, embedding ARRAY<FLOAT>", rows)
    val q = e.filter(col("vec_id") < 20)
    val exact = Similarity.cosineTopK(e, q, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def approx(probes: Int) =
      Similarity.bucketedTopK(e, q, "vec_id", "embedding", k = 5,
        bucketBits = 6, srp = true, probes = probes)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(s: Set[(Long, Long)]) = (s intersect exact).size.toDouble / exact.size
    val Seq(r1, r3, r7) = Seq(1, 3, 7).map(p => recall(approx(p)))
    // candidate sets grow with probes and scoring is exact, so recall is
    // monotone; on this corpus the extra probes recover real neighbors
    assert(r1 <= r3 && r3 <= r7, s"recall not monotone: $r1, $r3, $r7")
    assert(r7 > r1, s"multi-probe recovered nothing: $r1 -> $r7")
    // probes = 1 degenerates to exactly the single-bucket result
    assert(approx(1) ==
      Similarity.bucketedTopK(e, q, "vec_id", "embedding", k = 5,
        bucketBits = 6, srp = true)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet)
  }

  test("Ivf: full probe equals brute force; recall monotone in nprobe; deterministic") {
    val rows = (0L until 300L).map { i =>
      Row(i, Seq.tabulate(8)(d => math.sin(i * 1.7 + d * 0.9).toFloat))
    }
    val e = df("vec_id BIGINT, embedding ARRAY<FLOAT>", rows)
    val q = e.filter(col("vec_id") < 20)
    def rowsOf(dfr: org.apache.spark.sql.DataFrame) =
      dfr.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val exact = rowsOf(Similarity.cosineTopK(e, q, "vec_id", "embedding", k = 5))
    // nprobe == nlist probes every cell -> provably identical to brute force
    val full = rowsOf(Ivf.topK(e, q, "vec_id", "embedding", k = 5, nlist = 8, nprobe = 8))
    assert(full == exact)
    // recall rises with nprobe (candidate sets grow, scoring is exact)
    def recall(nprobe: Int) = {
      val got = rowsOf(Ivf.topK(e, q, "vec_id", "embedding", k = 5,
        nlist = 8, nprobe = nprobe)).toSet
      (got intersect exact.toSet).size.toDouble / exact.size
    }
    val Seq(r1, r3) = Seq(1, 3).map(recall)
    assert(r1 <= r3 && r3 <= 1.0, s"recall not monotone: $r1, $r3")
    assert(r1 > 0.3, s"single-probe recall implausibly low: $r1") // cells hold ~37 of 300
    // deterministic end to end: identical result on a re-run
    assert(full == rowsOf(Ivf.topK(e, q, "vec_id", "embedding", k = 5, nlist = 8, nprobe = 8)))
  }

  test("Ivf.kmeans/nearest: strided init, HALF_UP means, exact integer argmin") {
    // two well-separated clusters; 0 iterations = pure strided init
    val sample = Array(
      Array(0L, 0L), Array(2L, 0L), // cluster A around (1, 0)
      Array(100L, 100L), Array(102L, 100L)) // cluster B around (101, 100)
    val init = Ivf.kmeans(sample, nlist = 2, iters = 0)
    assert(init.toSeq.map(_.toSeq) == Seq(Seq(0L, 0L), Seq(100L, 100L))) // strides 0, 2
    val trained = Ivf.kmeans(sample, nlist = 2, iters = 3)
    assert(trained.toSeq.map(_.toSeq) == Seq(Seq(1L, 0L), Seq(101L, 100L))) // cluster means
    assert(Ivf.nearest(Array(3L, 1L), trained) == 0)
    assert(Ivf.nearest(Array(90L, 90L), trained) == 1)
    // nearestN orders by ascending distance
    assert(Ivf.nearestN(Array(90L, 90L), trained, 2).toSeq == Seq(1, 0))
    // nlist > sample size degrades gracefully to one centroid per point
    assert(Ivf.kmeans(sample.take(1), nlist = 4, iters = 2).length == 1)
  }

  test("Ivf.topK on an all-invalid corpus returns empty like cosineTopK") {
    val e = df("vec_id BIGINT, embedding ARRAY<FLOAT>", Seq(
      Row(1L, null), Row(2L, Seq(0.0f, 0.0f)))) // null + zero-norm: both filtered
    val q = df("vec_id BIGINT, embedding ARRAY<FLOAT>", Seq(Row(9L, Seq(1.0f, 0.0f))))
    assert(Ivf.topK(e, q, "vec_id", "embedding", k = 3, nlist = 4, nprobe = 4).count() == 0)
    assert(Similarity.cosineTopK(e, q, "vec_id", "embedding", k = 3).count() == 0)
  }

  test("srpBucket splits a biased corpus that sign-prefix buckets cannot") {
    // every vector has positive leading dims -> signBucket puts ALL rows
    // in one bucket (quadratic); SRP hyperplanes still split, and the
    // planted near-dup pairs survive bucketing (same key => found)
    val rows = (0L until 40L).map { i =>
      Row(i, Seq.tabulate(8)(d =>
        (0.5 + 0.4 * math.sin(i * 1.3 + d * 2.1)).toFloat.max(0.01f)))
    } ++ (0L until 6L).map { i =>
      Row(i + 100L, Seq.tabulate(8)(d =>
        ((0.5 + 0.4 * math.sin(i * 1.3 + d * 2.1)) * 1.01).toFloat.max(0.01f)))
    }
    val e = df("vec_id BIGINT, embedding ARRAY<FLOAT>", rows)
    val prep = e.select(col("vec_id"),
      Similarity.quantize(col("embedding").cast("array<double>")).as("v"))
    def distinctBuckets(key: org.apache.spark.sql.Column): Long =
      prep.select(key.as("b")).distinct().count()
    assert(distinctBuckets(Similarity.signBucket(col("v"), 4)) == 1L)  // degenerate
    assert(distinctBuckets(Similarity.srpBucket(col("v"), 4, 8)) > 1L) // still splits
    val pairs = Similarity.nearDupPairs(e, "vec_id", "embedding",
      threshold = 0.999, bucketBits = 4, srp = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0L until 6L).map(i => (i, i + 100L)).toSet.subsetOf(pairs))
  }

  test("nearDupPairs: decimal and long ids give the same pairs through the kernel") {
    // the kernel compares ids with Catalyst's ordering for the id type,
    // so a decimal id column pairs exactly as its long twin does
    val rows = (0L until 20L).map { i =>
      Row(i, Seq.tabulate(8)(d => (math.sin(i * 0.7 + d) * 0.9).toFloat))
    } ++ (0L until 4L).map { i =>
      Row(i + 100L, Seq.tabulate(8)(d => (math.sin(i * 0.7 + d) * 0.9 * 1.01).toFloat))
    }
    val asLong = df("vec_id BIGINT, embedding ARRAY<FLOAT>", rows)
    val asDec = asLong.select(
      col("vec_id").cast("decimal(10,0)").as("vec_id"), col("embedding"))
    val longs = Similarity.nearDupPairs(asLong, "vec_id", "embedding",
      threshold = 0.99, bucketBits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val decimals = Similarity.nearDupPairs(asDec, "vec_id", "embedding",
      threshold = 0.99, bucketBits = 2)
      .collect()
      .map(r => (r.getDecimal(0).longValue, r.getDecimal(1).longValue, r.getDouble(2))).toSet
    assert(longs.nonEmpty)
    assert(decimals == longs)
  }

  test("partitionTopK pre-reduction returns the same rows as the plain window") {
    // many candidates across partitions, with exact cosine ties (duplicate
    // vectors) to exercise the cid tie-break agreement
    val vecs = (0L until 40L).map { i =>
      Row(i, Seq((i % 7).toFloat + 1f, ((i * 3) % 5).toFloat))
    }
    val e = TestSpark.spark.createDataFrame(
      TestSpark.spark.sparkContext.parallelize(vecs, numSlices = 4),
      org.apache.spark.sql.types.StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>"))
    val q = e.filter(col("vec_id") < 5)
    val got = Similarity.cosineTopK(e, q, "vec_id", "embedding", k = 3).collect().toSeq
    // independent computation of expected top-3 per query
    val all = vecs.map(r => (r.getLong(0), r.getSeq[Float](1).map(f => math.round(f * 1000).toLong)))
    def cos(a: Seq[Long], b: Seq[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot.toDouble / math.sqrt(a.map(x => x * x).sum.toDouble * b.map(x => x * x).sum.toDouble)
    }
    val expected = all.filter(_._1 < 5).flatMap { case (qid, qv) =>
      all.filter(_._1 != qid)
        .map { case (cid, cv) => (qid, cid, cos(qv, cv)) }
        .sortBy { case (_, cid, c) => (-c, cid) }
        .take(3).zipWithIndex
        .map { case ((q2, cid, c), i) =>
          Row(q2, (i + 1).toLong, cid,
            BigDecimal.valueOf(c).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) }
    }
    assert(got == expected)
  }

  test("Multimodal decodeBatch produces the deterministic stub metadata") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, Array.fill[Byte](100)(7), "image/x-test"),
      Multimodal.MediaRow(2L, Array.fill[Byte](3)(1), "audio/x-test")).toDS()
    val out = Multimodal.decodeBatch(media).collect().sortBy(_.doc_id)
    val m1 = out(0)
    assert(m1.n_bytes == 100 && m1.width == 16 + 100 % 64 && m1.height == 16 + (100 / 64) % 64)
    assert(m1.n_frames == 1 + 100 % 7)
    assert(m1.frame_offsets == (0 until m1.n_frames).map(i => i * (100L / m1.n_frames)))
    assert(out(1).n_bytes == 3)
  }

  test("corpusStats aggregates per language") {
    val in = df("lang STRING, n_chars BIGINT, text STRING", Seq(
      Row("en", 10L, "a b"), Row("en", 20L, "c d e"), Row("fr", 6L, "f")))
    val out = TextAnalysis.corpusStats(in, "lang", "n_chars", "text").collect()
    val en = out.find(_.getString(0) == "en").get
    assert(en.getLong(1) == 2L)       // n_docs
    assert(en.getLong(2) == 30L)      // total_chars
    assert(en.getDouble(3) == 15.0)   // avg_chars
    assert(en.getLong(4) == 5L)       // total_tokens
    assert(en.getLong(5) == 3L)       // max_tokens
  }

  test("qualityMetrics computes the five metrics in one pass") {
    val in = df("doc_id BIGINT, text STRING",
      Seq(Row(1L, "the cat the dog")))
    val r = TextAnalysis.qualityMetrics(in, "doc_id", "text").collect().head
    assert(r.getLong(1) == 4L)             // n_tokens
    assert(r.getLong(2) == 3L)             // n_types (the, cat, dog)
    assert(r.getDouble(3) == 0.75)         // ttr
    assert(r.getDouble(4) == 0.5)          // stop_ratio (the x2)
    assert(r.getDouble(5) == 3.0)          // mean_wlen (3+3+3+3)/4
  }

  test("shingleHashesJvm equals fnv64 over the materialized shingle strings") {
    val texts = Seq("a b c d e", "x x x x", "p q r", "one two")
    texts.foreach { t =>
      val toks = TextOps.tokensJvm(t)
      if (toks.length >= 3) {
        val viaStrings = TextOps.shinglesJvm(toks, 3).map(TextOps.fnv64Jvm).toList
        assert(TextOps.shingleHashesJvm(toks, 3).toList == viaStrings, s"text: $t")
      }
    }
  }

  test("IncrementalDedup.classify: history beats batch, batch min wins, new is keeper") {
    val history = df("doc_id BIGINT, text STRING",
      Seq(Row(1L, "alpha"), Row(2L, "beta")))
    val index = IncrementalDedup.buildIndex(history, "doc_id", "text")
    val batch = df("doc_id BIGINT, text STRING", Seq(
      Row(10L, "alpha"),  // dup_of_history -> 1 (even though 10 is batch min)
      Row(11L, "gamma"),  // new
      Row(12L, "gamma"),  // dup_in_batch -> 11
      Row(13L, "delta"))) // new
    val out = IncrementalDedup.classify(batch, index, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(2), Option(r.get(3)).map(_.asInstanceOf[Long])))
    assert(out.toSeq == Seq(
      (10L, "dup_of_history", Some(1L)),
      (11L, "new", None),
      (12L, "dup_in_batch", Some(11L)),
      (13L, "new", None)))
  }

  test("IncrementalDedup.classify: null-text rows keep one-row-per-input and dedup among themselves") {
    // md5(null) = null; the keeper join must be null-SAFE or these rows
    // silently vanish from the output (the contract is one classified
    // row per batch row, null texts grouped as their own content)
    val history = df("doc_id BIGINT, text STRING", Seq(Row(1L, "alpha")))
    val index = IncrementalDedup.buildIndex(history, "doc_id", "text")
    val batch = df("doc_id BIGINT, text STRING", Seq(
      Row(20L, null), Row(21L, null), Row(22L, "alpha")))
    val out = IncrementalDedup.classify(batch, index, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(2), Option(r.get(3)).map(_.asInstanceOf[Long])))
    assert(out.toSeq == Seq(
      (20L, "new", None),
      (21L, "dup_in_batch", Some(20L)),
      (22L, "dup_of_history", Some(1L))))
  }

  test("IncrementalDedup: null-text dedup holds ACROSS batches through the index") {
    // the sentinel normalization must survive buildIndex + classify +
    // mergeIndex: a null-text doc accepted once is dup_of_history in
    // every later batch ("seen once, dropped forever"), not re-accepted
    val history = df("doc_id BIGINT, text STRING",
      Seq(Row(1L, "alpha"), Row(2L, null)))
    val index = IncrementalDedup.buildIndex(history, "doc_id", "text")
    val batch = df("doc_id BIGINT, text STRING", Seq(Row(30L, null)))
    val classified = IncrementalDedup.classify(batch, index, "doc_id", "text")
    val first = classified.head()
    assert(first.getString(2) == "dup_of_history" && first.getLong(3) == 2L)
    // and through a merge round too
    val merged = IncrementalDedup.mergeIndex(index, classified)
    val again = IncrementalDedup.classify(
      df("doc_id BIGINT, text STRING", Seq(Row(40L, null))), merged,
      "doc_id", "text").head()
    assert(again.getString(2) == "dup_of_history" && again.getLong(3) == 2L)
  }

  test("IncrementalDedup.mergeIndex folds only the accepted keepers in") {
    val history = df("doc_id BIGINT, text STRING", Seq(Row(1L, "alpha")))
    val index = IncrementalDedup.buildIndex(history, "doc_id", "text")
    val batch = df("doc_id BIGINT, text STRING", Seq(
      Row(10L, "alpha"), Row(11L, "gamma"), Row(12L, "gamma")))
    val merged = IncrementalDedup.mergeIndex(index,
      IncrementalDedup.classify(batch, index, "doc_id", "text"))
    val byHash = merged.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byHash.size == 2)
    assert(byHash.values.toSet == Set(1L, 11L)) // alpha keeps 1, gamma enters as 11
    // a second run of the same batch is now all duplicates
    val again = IncrementalDedup.classify(batch, merged, "doc_id", "text")
    assert(again.filter(col("status") === "new").isEmpty)
  }

  test("shingleHashesJvm law: equals fnv64 over shinglesJvm for arbitrary token arrays") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val tok: Gen[String] = Gen.nonEmptyListOf(Gen.frequency(
      8 -> Gen.alphaNumChar, 1 -> Gen.oneOf('ü', 'ß', '!', '.'))).map(_.mkString)
    val p = Prop.forAll(Gen.listOf(tok), Gen.choose(1, 4)) { (toks, n) =>
      val arr = toks.toArray
      TextOps.shingleHashesJvm(arr, n).toList ==
        TextOps.shinglesJvm(arr, n).map(TextOps.fnv64Jvm).toList
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, res.status.toString)
  }

  test("normalizeForDedup laws over random strings: idempotent, case/pad-invariant") {
    val rnd = new scala.util.Random(7)
    val alphabet = "abc XYZ09.,;!-\t\n\"'éü  "
    val strs = Seq.fill(300)(
      (0 until rnd.nextInt(40)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val in = df("t STRING", strs.map(Row(_)))
    val once = in.select(TextAnalysis.normalizeForDedup(col("t")).as("n"))
    val vals = once.collect().map(_.getString(0))
    // idempotent
    val twice = once.select(TextAnalysis.normalizeForDedup(col("n"))).collect().map(_.getString(0))
    assert(twice.toSeq == vals.toSeq)
    // case- and padding-invariant
    val upperPadded = in.select(TextAnalysis.normalizeForDedup(
      concat(lit("  "), upper(col("t")), lit("\t"))).as("n")).collect().map(_.getString(0))
    assert(upperPadded.toSeq == vals.toSeq)
    // output alphabet is the canonical one
    assert(vals.forall(_.forall(c => c.isDigit || (c >= 'a' && c <= 'z') || c == ' ')))
  }

  test("IncrementalDedup invariants on a random batch: total classification, keeper laws") {
    val rnd = new scala.util.Random(11)
    val contents = (0 until 40).map(i => s"content ${i % 25}") // forced collisions
    val history = df("doc_id BIGINT, text STRING",
      (0 until 15).map(i => Row(i.toLong, contents(rnd.nextInt(25)))))
    val batch = df("doc_id BIGINT, text STRING",
      (100 until 140).map(i => Row(i.toLong, contents(rnd.nextInt(40)))))
    val index = IncrementalDedup.buildIndex(history, "doc_id", "text")
    val out = IncrementalDedup.classify(batch, index, "doc_id", "text").collect()
    assert(out.length == 40) // every batch row classified exactly once
    val histHashes = index.collect().map(_.getString(0)).toSet
    val byStatus = out.groupBy(_.getString(2))
    byStatus.getOrElse("dup_of_history", Array.empty).foreach { r =>
      assert(histHashes.contains(r.getString(1)) && r.getLong(3) < 100) }
    byStatus.getOrElse("new", Array.empty).foreach { r =>
      assert(!histHashes.contains(r.getString(1)) && r.isNullAt(3)) }
    byStatus.getOrElse("dup_in_batch", Array.empty).foreach { r =>
      assert(!histHashes.contains(r.getString(1)) && r.getLong(3) < r.getLong(0)) }
    // exactly one keeper per unseen content
    val newKeepers = byStatus.getOrElse("new", Array.empty).map(_.getString(1))
    assert(newKeepers.distinct.length == newKeepers.length)
  }

  test("normalizeForDedup collapses case/punct/space variants and is idempotent") {
    val in = df("t STRING", Seq(
      Row("Hello,  World!"), Row("hello world"), Row("  HELLO   world  "),
      Row("a-b c"), Row("ab c")))
    val norm = in.select(TextAnalysis.normalizeForDedup(col("t")).as("n"))
    val vals = norm.collect().map(_.getString(0)).toSeq
    assert(vals.take(3).toSet == Set("hello world")) // variants collapse
    assert(vals(3) == "ab c" && vals(4) == "ab c")   // punctuation stripped
    val twice = norm.select(TextAnalysis.normalizeForDedup(col("n"))).collect()
      .map(_.getString(0)).toSeq
    assert(twice == vals) // idempotent
  }
}
