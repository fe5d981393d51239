package graft.llm

import graft.TestSpark
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Unigram LM scoring laws (arithmetic is oracle-pinned in pq54):
 *
 *  - DIRECTION: text made of common reference words scores higher than
 *    text of rare/unseen words — the signal CCNet buckets on.
 *  - OOV: an all-unseen document scores exactly n * ln(1/(T+V)) / n.
 *  - DETERMINISM: bit-identical across partitionings (sorted fold).
 *  - Buckets partition the corpus; thresholds are inclusive at head.
 *  - Token-free docs score exactly 0.0 with n_tokens 0.
 */
class LmScoreSpec extends AnyFunSuite {
  import TestSpark.spark

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val lm = Bpe.wordCounts(docs, "text", ordered = false)

  private def score(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Double)] =
    LmScore.unigramLogProb(df, "doc_id", "text", lm, ordered = false)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap

  test("common-word text outscores rare-word text; OOV scores the smoothing floor") {
    // the most frequent reference word vs pure OOV gibberish
    val top = lm.orderBy(col("cnt").desc, col("word")).limit(1)
      .collect().head.getString(0)
    val Seq(tRow) = lm.agg(sum("cnt"), count(lit(1))).collect().toSeq
    val denom = (tRow.getLong(0) + tRow.getLong(1)).toDouble
    val f = TestSpark.df("doc_id bigint, text string", Seq(
      Row(1L, s"$top $top $top $top"),
      Row(2L, "zzqx1 zzqx2 zzqx3 zzqx4")))
    val s = score(f)
    assert(s(1L)._2 > s(2L)._2, s"common words must outscore OOV: $s")
    // all-OOV: every token smooths to ln(1/(T+V)); the mean equals it
    assert(math.abs(s(2L)._2 - math.log(1.0 / denom)) < 1e-12)
  }

  test("scores are bit-identical across partitionings") {
    assert(score(docs.repartition(1)) == score(docs.repartition(13)))
  }

  test("perplexityBuckets: per-group terciles, cutoff-inclusive head, no rank window in the plan") {
    // two groups with hand-placed perplexity spreads: the SAME text in
    // a different group can land in a different bucket (the CCNet
    // point — ppl is judged relative to the group)
    val f = TestSpark.df("doc_id bigint, text string, lang string", Seq(
      Row(1L, "zzq1", "a"), Row(2L, "zzq1 zzq1", "a"), Row(3L, "zzq2", "a"),
      Row(4L, "zzq3", "a"), Row(5L, "zzq4 zzq4 zzq4", "a"), Row(6L, "zzq5", "a"),
      Row(10L, "zzq1", "b"), Row(11L, "common common common", "b")))
    val ref = TestSpark.df("doc_id bigint, text string", Seq(
      Row(100L, "common common common common zzq1")))
    val refLm = Bpe.wordCounts(ref, "text", ordered = false)
    val out = LmScore.perplexityBuckets(f, "doc_id", "text", "lang", refLm,
      ordered = false)
    assert(out.columns.toSeq ==
      Seq("doc_id", "lang", "n_tokens", "ppl", "bucket"))
    val rows = out.collect()
      .map(r => r.getLong(0) -> ((r.getDouble(3), r.getLong(4)))).toMap
    // buckets partition each group into 1..3 and are monotone in ppl
    val byBucket = rows.collect { case (id, (p, b)) if id <= 6 => (b, p) }
    assert(byBucket.map(_._1).toSet.subsetOf(Set(1L, 2L, 3L)))
    for ((b1, p1) <- byBucket; (b2, p2) <- byBucket if b1 < b2)
      assert(p1 <= p2, s"bucket $b1 (ppl $p1) must not exceed bucket $b2 ($p2)")
    // group-relative: doc 10's text equals doc 1's, but group b's only
    // other member is far more LM-like, so 10 lands in b's tail while
    // 1 sits under a's head cutoff
    assert(rows(10L)._2 == 3L && rows(1L)._2 == 1L,
      s"same text, different group, different bucket: $rows")
    // a ppl EQUAL to a cutoff stays in the LOWER bucket (strict >):
    // group a's 2/3 cutoff interpolates between two OOV docs, i.e.
    // equals their ppl exactly — they must read bucket 2, not 3
    assert(Seq(3L, 4L, 5L, 6L).forall(id => rows(id)._2 == 2L),
      s"cutoff-equal ppl must stay below the cut: $rows")
    // scale shape: cutoffs come from an aggregate, never a rank window
    val plan = LmScore.perplexityBuckets(f, "doc_id", "text", "lang", refLm,
      ordered = false).queryExecution.executedPlan.toString
    assert(!plan.contains("Window ["), s"bucketing must not sort per group:\n$plan")
    // deterministic under repartitioning
    val re = LmScore.perplexityBuckets(f.repartition(7), "doc_id", "text",
      "lang", refLm, ordered = false).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(3), r.getLong(4)))).toMap
    assert(re == rows)
    intercept[IllegalArgumentException] {
      LmScore.perplexityBuckets(f, "doc_id", "text", "lang", refLm,
        cuts = Seq(0.8, 0.2))
    }
  }

  test("composition is LAZY: building a score plan runs zero Spark jobs") {
    // Count ONLY this test's jobs: setJobGroup is thread-local — every
    // job this thread's actions submit carries the group id in its
    // properties, and nothing else does.
    val group = s"lmscore-lazy-${java.util.UUID.randomUUID()}"
    lm.count() // materialize the lazy vals outside the counted window
    val log = new graft.JobLog
    spark.sparkContext.addSparkListener(log)
    spark.sparkContext.setJobGroup(group, "LmScore laziness law")
    try {
      val uni = LmScore.unigramLogProb(docs, "doc_id", "text", lm, ordered = false)
      val bi = LmScore.bigramLogProb(docs, "doc_id", "text", lm,
        LmScore.bigramCounts(docs, "text", ordered = false), ordered = false)
      assert(uni.schema.fieldNames.toSeq == Seq("doc_id", "n_tokens", "logprob"))
      assert(bi.schema.fieldNames.toSeq == Seq("doc_id", "n_tokens", "logprob"))
      log.settle()
      val jobs = log.jobs.count(_.group.contains(group))
      assert(jobs == 0, s"composing LmScore plans ran $jobs Spark job(s)")
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(log)
    }
  }

  test("token-free docs score exactly 0.0 with n_tokens 0") {
    val f = TestSpark.df("doc_id bigint, text string", Seq(
      Row(1L, null), Row(2L, ""), Row(3L, "   "), Row(4L, "real text")))
    val s = score(f)
    assert(s(1L) == (0L, 0.0) && s(2L) == (0L, 0.0) && s(3L) == (0L, 0.0))
    assert(s(4L)._1 == 2L && s(4L)._2 != 0.0)
  }

  test("perplexityBuckets partitions the corpus with inclusive head threshold") {
    val scored = LmScore.unigramLogProb(docs, "doc_id", "text", lm, ordered = false)
    val lps = scored.select("logprob").collect().map(_.getDouble(0)).sorted
    val (t1, t2) = (lps(lps.length * 2 / 3), lps(lps.length / 3))
    val b = LmScore.perplexityBuckets(scored, headMin = t1, middleMin = t2)
    val byBucket = b.groupBy("bucket").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byBucket.values.sum == docs.count())
    assert(byBucket.keySet.subsetOf(Set("head", "middle", "tail")))
    assert(byBucket.getOrElse("head", 0L) > 0 && byBucket.getOrElse("tail", 0L) > 0)
    // inclusive at the boundary: a doc exactly at headMin is head
    val atBoundary = b.filter(col("logprob") === t1).select("bucket").distinct().collect()
    assert(atBoundary.map(_.getString(0)).toSeq == Seq("head"))
  }

  // ---- bigram + stupid backoff ------------------------------------

  private lazy val bi = LmScore.bigramCounts(docs, "text", ordered = false)

  private def score2(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Double)] =
    LmScore.bigramLogProb(df, "doc_id", "text", lm, bi, ordered = false)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap

  test("bigram: exact closed form on a hand corpus covering every branch") {
    val corpus = TestSpark.df("doc_id bigint, text string", Seq(
      Row(1L, "a b a b"), Row(2L, "a c")))
    val u = Bpe.wordCounts(corpus, "text", ordered = false)
    val b2 = LmScore.bigramCounts(corpus, "text", ordered = false)
    // uni: a=3 b=2 c=1 (T=6, V=3); bi: (a,b)=2 (b,a)=1 (a,c)=1
    val denom = 9.0
    val probe = TestSpark.df("doc_id bigint, text string", Seq(
      Row(10L, "a b a"), // first + 2 seen bigrams
      Row(11L, "a zz"), // first + backoff (OOV bigram AND word)
      Row(12L, "c a"))) // first + backoff (both words known, bigram unseen)
    val got = LmScore.bigramLogProb(probe, "doc_id", "text", u, b2, ordered = false)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def ln(x: Double) = math.log(x)
    val e10 = (ln(4.0 / denom) + ln(2.0 / 3.0) + ln(1.0 / 2.0)) / 3
    val e11 = (ln(4.0 / denom) + ln(0.4 * (1.0 / denom))) / 2
    val e12 = (ln(2.0 / denom) + ln(0.4 * (4.0 / denom))) / 2
    assert(got(10L)._1 == 3L && math.abs(got(10L)._2 - e10) < 1e-12)
    assert(got(11L)._1 == 2L && math.abs(got(11L)._2 - e11) < 1e-12)
    assert(got(12L)._1 == 2L && math.abs(got(12L)._2 - e12) < 1e-12)
  }

  test("bigram: scores are bit-identical across partitionings") {
    assert(score2(docs.repartition(1)) == score2(docs.repartition(13)))
  }

  test("bigram: in-LM word order outscores the same words scrambled against the LM") {
    // same unigram content, different bigrams: the corpus's own
    // adjacent pairs score >= the reversed sequence on average
    val f = docs.filter(col("text").isNotNull && col("doc_id") < 20)
      .select(col("doc_id"), col("text"),
        array_join(reverse(TextOps.tokens(col("text"))), " ").as("rev"))
    val fwd = score2(f.select(col("doc_id"), col("text")))
    val rev = score2(f.select(col("doc_id"), col("rev").as("text")))
    val better = fwd.keys.count(k => fwd(k)._2 >= rev(k)._2)
    assert(better * 2 > fwd.size,
      s"bigram structure signal missing: only $better/${fwd.size} docs prefer true order")
  }

  test("bigram: token-free docs score exactly 0.0 with n_tokens 0") {
    val f = TestSpark.df("doc_id bigint, text string", Seq(
      Row(1L, null), Row(2L, "  ")))
    val s = score2(f)
    assert(s(1L) == (0L, 0.0) && s(2L) == (0L, 0.0))
  }
}
