package graft.llm

import graft.TestSpark
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BudgetSelectSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(29)
  // scores collide on purpose (ties broken by id), null rows excluded
  private val rows: Seq[(java.lang.Long, java.lang.Long, java.lang.Long)] =
    (0L until 200L).map { i =>
      (java.lang.Long.valueOf(i),
        java.lang.Long.valueOf(rnd.nextInt(20).toLong),
        java.lang.Long.valueOf(1L + rnd.nextInt(50)))
    } :+ ((null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(5L),
      java.lang.Long.valueOf(5L)))
  private def df = rows.toDF("id", "score", "w")
  private val budget = 2000L

  /** Definitional answer: one global window. */
  private def reference: Set[(Long, Long, Long, Long)] =
    df.filter(col("id").isNotNull)
      .withColumn("cum_weight", sum(col("w")).over(
        Window.orderBy(col("score").desc, col("id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum_weight") <= budget)
      .select(col("id"), col("score"), col("w").as("weight"), col("cum_weight"))
      .as[(Long, Long, Long, Long)].collect().toSet

  private def run(): Set[(Long, Long, Long, Long)] = {
    val out = BudgetSelect.takeUntilBudget(df, "id", "score", "w", budget)
      .as[(Long, Long, Long, Long)].collect().toSet
    graft.CacheScope.releaseSession()
    out
  }

  test("law: equals the global-window answer (maximal fitting prefix)") {
    val got = run()
    val want = reference
    assert(got === want)
    assert(got.nonEmpty && got.size < 200) // budget actually bites
    // maximality: total fits, and the best excluded row would overflow
    val total = got.toSeq.map(_._3).sum
    assert(total <= budget)
    val cums = got.toSeq.map(_._4).sorted
    assert(cums.last === total)
  }

  test("law: stable across shuffle-partition counts") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      val one = run()
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val seven = run()
      assert(one === seven)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("edge: zero budget selects nothing; budget over total selects everything") {
    assert(BudgetSelect.takeUntilBudget(df, "id", "score", "w", 0L).count() === 0L)
    val all = BudgetSelect.takeUntilBudget(df, "id", "score", "w", 1000000L)
    assert(all.count() === 200L) // null-id row excluded
    graft.CacheScope.releaseSession()
  }
}
