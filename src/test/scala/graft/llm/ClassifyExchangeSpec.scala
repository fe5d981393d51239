package graft.llm

import graft.TestSpark
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Exchange discipline of the text-carrying classify paths (the r21
 * verdict's "wrong" #2 pin): carrying text THROUGH a classification is
 * only a win while the text crosses AT MOST ONE hash exchange — the
 * once the old kept-rejoin paid. A regression that re-shuffles batch
 * text a second time (e.g. a lost co-partitioning between the keeper
 * join and the bucketed history join) is invisible to the correctness
 * gate but doubles the wire bytes of every builder batch at 100 TB.
 *
 * Pinned WORST-CASE (AQE off, broadcasts off): at runtime AQE may
 * replace the surviving exchange with a broadcast, which only lowers
 * the count.
 */
class ClassifyExchangeSpec extends AnyFunSuite {

  private def planSession(buckets: Int): SparkSession = {
    val s2 = TestSpark.spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.shuffle.partitions", buckets.toString)
    s2
  }

  private def textExchanges(df: org.apache.spark.sql.DataFrame): Seq[ShuffleExchangeExec] =
    df.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec if e.output.exists(_.name == "text") => e
    }

  test("classifyWithText: batch text crosses at most ONE hash exchange against the bucketed exact index") {
    val s2 = planSession(buckets = 4)
    import s2.implicits._
    val tbl = "graft_test_clsx_exact"
    try {
      val hist = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
        .toDF("doc_id", "text")
      IndexStore.saveExact(
        IncrementalDedup.buildIndex(hist, "doc_id", "text"),
        tbl,
        java.nio.file.Files.createTempDirectory("graft_clsx").resolve(tbl).toString,
        buckets = 4)
      val batch = Seq((10L, "alpha beta gamma"), (11L, "fresh words here"))
        .toDF("doc_id", "text")
      val classified = IncrementalDedup.classifyWithText(
        batch, IndexStore.exactIndex(s2, tbl), "doc_id", "text")
      val crossings = textExchanges(classified)
      assert(crossings.size <= 1,
        s"batch text crosses ${crossings.size} exchanges (expected <= 1):\n" +
          classified.queryExecution.executedPlan)
      // and the bucketed index side never re-shuffles (the IndexStore
      // contract): no exchange sits above a bucketed scan
      val bucketReshuffle = classified.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec if e.child.collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.bucketSpec.isDefined => f
        }.isDefined => e
      }
      assert(bucketReshuffle.isEmpty,
        s"the bucketed index re-shuffles:\n${classified.queryExecution.executedPlan}")
    } finally s2.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("classifyBandedSketched: batch text crosses at most ONE hash exchange; band rows shuffle without text") {
    val s2 = planSession(buckets = 4)
    import s2.implicits._
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "entirely fresh words nothing shared with anything else here"))
      .toDF("doc_id", "text")
    val cls = IncrementalMinHash.classifyBandedSketched(
      IncrementalMinHash.sketchTotal(batch, "doc_id", "text"),
      IncrementalMinHash.emptyBandedIndex(s2))
    val crossings = textExchanges(cls)
    assert(crossings.size <= 1,
      s"batch text crosses ${crossings.size} exchanges (expected <= 1):\n" +
        cls.queryExecution.executedPlan)
  }
}
