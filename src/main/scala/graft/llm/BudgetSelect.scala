package graft.llm

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/**
 * Budget-bounded selection: take rows in (score DESC, id ASC) order
 * until a weight budget is exhausted — "train on the best documents
 * that fit N tokens", the data-selection step after quality scoring.
 * A row is selected iff the running weight sum up to AND INCLUDING it
 * is <= budget, so the output is the maximal prefix of the score order
 * that fits (the first overflowing row is excluded, nothing after it
 * can enter).
 *
 * The naive plan is a GLOBAL window (`SUM(w) OVER (ORDER BY score)`
 * with no partition key) — every row through ONE task, the worst
 * straggler there is. This is the classic distributed prefix sum
 * instead:
 *  1. range-repartition + sort by (score DESC, id ASC) — the sanctioned
 *     global-order shape: partition i holds a contiguous slice of the
 *     order;
 *  2. one pass computes per-PARTITION weight totals (a
 *     partition-count-sized collect — driver holds P longs, never
 *     rows), whose prefix sums are each partition's starting offset;
 *  3. a second pass adds the local running sum to the broadcast offset
 *     and filters to the budget inside the partition.
 * Both passes stream; per-partition state is O(1).
 *
 * The sorted relation is persisted (and registered with
 * [[graft.CacheScope.track]]) before the first pass: range
 * repartitioning SAMPLES its split points, so an unpinned plan could
 * re-sample different bounds between the totals pass and the emit
 * pass and mis-assign offsets — the
 * persist is a CORRECTNESS pin, not a performance cache (the split
 * points may vary run to run, but the row ORDER never does, so the
 * result is deterministic either way). At corpus scale the sorted,
 * scored relation is exactly what a selection job materializes anyway.
 *
 * Rows with a NULL id, score, or weight are excluded (no stable place
 * in the order / nothing to charge); weights must be non-negative.
 * Output: (idCol, scoreCol, weightCol as `weight`, `cum_weight`).
 */
object BudgetSelect {

  def takeUntilBudget(df: DataFrame, idCol: String, scoreCol: String,
      weightCol: String, budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val spark = df.sparkSession
    val sorted = graft.CacheScope.track(df
      .filter(col(idCol).isNotNull && col(scoreCol).isNotNull &&
        col(weightCol).isNotNull)
      .select(col(idCol), col(scoreCol),
        when(col(weightCol) >= 0, col(weightCol).cast("long"))
          .otherwise(raise_error(concat(
            lit(s"takeUntilBudget: negative weight in '$weightCol': "),
            col(weightCol).cast("string")))).as("weight"))
      .repartitionByRange(col(scoreCol).desc, col(idCol).asc)
      .sortWithinPartitions(col(scoreCol).desc, col(idCol).asc)
      .withColumn("_pid", spark_partition_id())
      .persist())
    val totals = sorted.groupBy("_pid").agg(sum("weight").as("_w"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets: Map[Int, Long] = {
      var acc = 0L
      totals.keys.toSeq.sorted.map { pid =>
        val off = acc; acc += totals(pid); pid -> off
      }.toMap
    }
    val bc = spark.sparkContext.broadcast(offsets)
    val schema = StructType(Seq(
      sorted.schema(0), sorted.schema(1),
      StructField("weight", LongType, nullable = false),
      StructField("cum_weight", LongType, nullable = false)))
    sorted.mapPartitions { rows =>
      var cum = -1L
      rows.flatMap { r =>
        if (cum < 0) cum = bc.value(r.getInt(3)) // partition's start offset
        cum += r.getLong(2)
        if (cum <= budget) Iterator.single(Row(r.get(0), r.get(1), r.getLong(2), cum))
        else Iterator.empty
      }
    }(Encoders.row(schema))
  }
}
