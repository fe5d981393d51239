package graft.llm

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

/**
 * Verified pairs inside one LSH bucket — the one kernel behind every
 * bucketed near-dup path: batch MinHash bands ([[MinHashNearDup]]),
 * in-batch MinHash bands ([[IncrementalMinHash.classifyBanded]]),
 * SimHash pigeonhole chunks ([[SimHashNearDup]]) and embedding sign
 * buckets ([[Similarity.nearDupPairs]]).
 *
 * Execution: ONE exchange hash-partitions the rows on the bucket key and
 * Spark sorts each partition on (bucket key, id), so a bucket arrives as
 * one contiguous run ordered by id. The kernel walks the runs holding
 * only the current bucket's members — O(k) for a k-member bucket — and
 * yields pairs lazily: each member, as it arrives, is verified against
 * the earlier members whose id is strictly smaller. Nothing is collected
 * before it is emitted, so no bucket ever costs O(k²) heap.
 *
 * Ids are compared only between sort neighbours, with Catalyst's
 * ordering for the id type, so "strictly smaller" is exactly SQL's
 * `a.id < b.id` for decimal, string and integral ids alike. Rows with a
 * null key or a null id never pair — equi-join semantics. Bucket keys
 * compare with `==` (callers key on ints and strings).
 *
 * Two modes:
 *  - all pairs: every verified (earlier, later) pair, for callers that
 *    output the pairs themselves;
 *  - earliest partner (`earliestOnly`): per member, only its
 *    smallest-id verified partner. Exact for any consumer that reduces
 *    each id's smaller partners with `min`; output is O(k) per bucket,
 *    and a bucket of k near-identical members costs k - 1 verifications
 *    instead of k(k-1)/2.
 */
private[llm] object BucketPairs {

  /** Pairs of `df`'s rows bucketed on `keys`. `member` extracts what
    * `verify(earlier, later)` reads; `verify` returns the output row
    * (schema `out`) or null for a rejected pair. */
  def apply[M](df: DataFrame, keys: Seq[String], idCol: String,
      out: StructType, earliestOnly: Boolean)(member: Row => M)(
      verify: (M, M) => Row): DataFrame = {
    val keyIdx = keys.map(df.schema.fieldIndex)
    val idIdx = df.schema.fieldIndex(idCol)
    val idType = df.schema(idCol).dataType
    df.repartition(keys.map(col): _*)
      .sortWithinPartitions((keys :+ idCol).map(col): _*)
      .mapPartitions(rows =>
        pairs[M, Row](rows, keyIdx, idIdx, idType, earliestOnly)(member)(verify)
      )(Encoders.row(out))
  }

  /** The kernel over rows already sorted on (keys, id). */
  def pairs[M, O >: Null](rows: Iterator[Row], keyIdx: Seq[Int],
      idIdx: Int, idType: DataType, earliestOnly: Boolean)(
      member: Row => M)(verify: (M, M) => O): Iterator[O] = {
    val idOrd = PhysicalDataType.ordering(idType)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(idType)
    new scala.collection.AbstractIterator[O] {
      private val group = scala.collection.mutable.ArrayBuffer.empty[M]
      private var head: Row = null    // first row of the current bucket
      private var lastId: Any = null  // Catalyst id of the newest member
      private var smaller = 0         // members [0, smaller) have a smaller id
      private var i = 0               // next earlier candidate of the newest
      private var pending: O = null

      private def sameBucket(r: Row): Boolean =
        head != null && keyIdx.forall(k => r.get(k) == head.get(k))

      private def fill(): Unit =
        while (pending == null && (i < smaller || rows.hasNext)) {
          if (i < smaller) {
            pending = verify(group(i), group(group.length - 1))
            i = if (pending != null && earliestOnly) smaller else i + 1
          } else {
            val r = rows.next()
            if (!r.isNullAt(idIdx) && !keyIdx.exists(r.isNullAt)) {
              val id = toCatalyst(r.get(idIdx))
              if (!sameBucket(r)) { group.clear(); head = r; smaller = 0 }
              else if (idOrd.compare(lastId, id) != 0) smaller = group.length
              lastId = id
              group += member(r)
              i = 0
            }
          }
        }

      def hasNext: Boolean = { fill(); pending != null }
      def next(): O = {
        if (!hasNext) throw new NoSuchElementException("BucketPairs.next")
        val o = pending
        pending = null
        o
      }
    }
  }
}
