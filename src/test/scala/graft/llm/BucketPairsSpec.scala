package graft.llm

import graft.TestSpark
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}
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
}
