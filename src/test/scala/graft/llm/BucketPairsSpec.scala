package graft.llm

import graft.TestSpark
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType, LongType}
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicLong

/** [[BucketPairs]]: bounded verification work per bucket, lazy emission,
 *  Catalyst id equality, and the in-batch MinHash rule it serves. Every
 *  bound is a count, so it holds on any host. */
class BucketPairsSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val k = 20000

  /** Runs the kernel over rows (key, id, payload) sorted on (key, id);
    * a pair verifies when the payloads are equal. */
  private def pairs(rows: Seq[Row], idType: DataType, earliestOnly: Boolean,
      calls: AtomicLong): Iterator[(Any, Any)] =
    BucketPairs.pairs[(Any, String), (Any, Any)](rows.iterator, Seq(0), 1,
        idType, earliestOnly)(r => (r.get(1), r.getString(2))) { (a, b) =>
      calls.incrementAndGet()
      if (a._2 == b._2) (a._1, b._1) else null
    }

  /** One bucket of k identical members with distinct ids. */
  private def hotBucket: Seq[Row] = (0 until k).map(i => Row("hot", i.toLong, "same"))

  test("earliest-partner mode: a 20,000-member identical bucket yields 19,999 pairs for at most 40,000 verifications") {
    val calls = new AtomicLong
    val got = pairs(hotBucket, LongType, earliestOnly = true, calls).toSeq
    assert(got.size == k - 1)
    assert(got.forall(_._1 == 0L), "every member's earliest partner is the min id")
    assert(got.map(_._2).toSet == (1 until k).map(_.toLong).toSet)
    assert(calls.get <= 40000L, s"${calls.get} verify calls")
  }

  test("all-pairs mode emits lazily: take(10) on the same bucket costs at most 20 verifications") {
    val calls = new AtomicLong
    val first = pairs(hotBucket, LongType, earliestOnly = false, calls).take(10).toList
    assert(first.size == 10)
    assert(first.forall { case (a, b) => a.asInstanceOf[Long] < b.asInstanceOf[Long] })
    assert(calls.get <= 20L, s"${calls.get} verify calls")
  }

  test("equal ids never pair (Catalyst equality: NaN = NaN, -0.0 = 0.0); null keys and ids never pair; buckets do not bleed") {
    val calls = new AtomicLong
    val rows = Seq(
      Row("a", 1.0, "x"), Row("a", -0.0, "x"), Row("a", 0.0, "x"),
      Row("a", Double.NaN, "x"), Row("a", Double.NaN, "x"),
      Row("b", 2.0, "x"), Row("b", null, "x"),
      Row(null, 3.0, "x"), Row(null, 4.0, "x"))
    // (key, id) in Spark's ascending sort order: nulls first, and
    // -0.0 = 0.0 < 1.0 < NaN
    val sorted = Seq(rows(7), rows(8), rows(1), rows(2), rows(0), rows(3),
      rows(4), rows(6), rows(5))
    val got = pairs(sorted, DoubleType, earliestOnly = false, calls)
      .map { case (a, b) => s"$a<$b" }.toSeq.sorted
    // each NaN member pairs with the three smaller ids, never the other NaN
    assert(got == Seq("-0.0<1.0", "0.0<1.0", "-0.0<NaN", "0.0<NaN",
      "1.0<NaN", "-0.0<NaN", "0.0<NaN", "1.0<NaN").sorted)
  }

  test("classifyBanded on a 20,000-doc identical batch: 19,999 dup_in_batch rows, all dup_of the min id") {
    val text = "one shared boilerplate body copied verbatim into every single doc"
    val batch = (0 until k).map(i => (1000L + i, text)).toDF("doc_id", "text")
    val got = IncrementalMinHash.classifyBanded(batch,
      IncrementalMinHash.emptyBandedIndex(spark), "doc_id", "text")
      .groupBy("status", "dup_of").count()
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map(("new", -1L) -> 1L, ("dup_in_batch", 1000L) -> (k - 1).toLong))
  }

  /** The batch-LSH reference: an all-pairs Column self-join on SQL's
    * `a.id < b.id` with exact 3-gram Jaccard. It equals
    * [[MinHashNearDup]]'s output on fixtures whose docs are either
    * identical (every band matches) or share no shingle. */
  private def referencePairs(docs: DataFrame): Set[(Any, Any, Double)] = {
    val sh = docs.filter(col("text").isNotNull && size(TextOps.tokens(col("text"))) >= 3)
      .select(col("doc_id").as("id"), TextOps.shingles(TextOps.tokens(col("text")), 3).as("sh"))
    val inter = size(array_intersect(col("a.sh"), col("b.sh")))
    val jac = inter.cast("double") / (size(col("a.sh")) + size(col("b.sh")) - inter)
    sh.as("a").join(sh.as("b"), col("a.id") < col("b.id"))
      .filter(jac >= 0.8)
      .select(col("a.id"), col("b.id"), round(jac, 3))
      .collect().map(r => (r.get(0), r.get(1), r.getDouble(2))).toSet
  }

  private def lshPairs(docs: DataFrame): (DataFrame, Seq[(Any, Any, Double)]) = {
    val out = MinHashNearDup(docs, "doc_id", "text", ordered = false)
    (out, out.collect().map(r => (r.get(0), r.get(1), r.getDouble(2))).toSeq)
  }

  private val body = "one shared boilerplate body copied verbatim into every doc"

  test("MinHashNearDup: 300 identical docs give each of the 44,850 pairs once, at jaccard 1.0") {
    val docs = (0 until 300).map(i => (i.toLong, body)).toDF("doc_id", "text")
    val (_, got) = lshPairs(docs)
    assert(got.size == 44850, "a pair matching in all 3 bands is emitted once")
    assert(got.toSet.size == 44850)
    assert(got.forall(_._3 == 1.0))
    assert(got.toSet == referencePairs(docs))
  }

  test("MinHashNearDup: string ids pair in SQL order, decimal ids keep their type, a null id never pairs") {
    val other = "an unrelated text that shares no three word shingle"
    val strDocs = TestSpark.df("doc_id string, text string", Seq(
      Row("9", body), Row("10", body), Row("100", body), Row(null, body),
      Row("7", other)))
    val (strOut, strGot) = lshPairs(strDocs)
    // "10" < "100" < "9" as strings
    assert(strGot.sortBy(p => (p._1.toString, p._2.toString)) ==
      Seq(("10", "100", 1.0), ("10", "9", 1.0), ("100", "9", 1.0)))
    assert(strGot.toSet == referencePairs(strDocs))
    assert(strOut.schema("doc_a").dataType == org.apache.spark.sql.types.StringType)

    val decDocs = TestSpark.df("doc_id decimal(10,2), text string", Seq(
      Row(BigDecimal("9.00").bigDecimal, body), Row(BigDecimal("10.00").bigDecimal, body),
      Row(BigDecimal("100.00").bigDecimal, body), Row(null, body),
      Row(BigDecimal("7.00").bigDecimal, other)))
    val (decOut, decGot) = lshPairs(decDocs)
    assert(decOut.schema("doc_a").dataType == DecimalType(10, 2))
    assert(decOut.schema("doc_b").dataType == DecimalType(10, 2))
    assert(decGot.size == 3)
    assert(decGot.toSet == referencePairs(decDocs))
    assert(decGot.forall(p => p._1 != null && p._2 != null))
  }
}
