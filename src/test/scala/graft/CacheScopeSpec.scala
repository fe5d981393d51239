package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The cache-release contract: operators register what they persist or
 * checkpoint with the one session registry, and
 * [[CacheScope.releaseSession]] releases exactly those — no
 * session-wide clearCache, no caller-owned caches touched.
 * [[CacheScope.release]] acts only on a checkpoint root, and the round
 * loop holds O(1) checkpoints, throwing at `maxRounds`.
 */
class CacheScopeSpec extends AnyFunSuite {
  import TestSpark.spark

  private val dir = "/root/testdata/sf0.001"

  /** Persistent-RDD ids currently registered with the context, after
    * letting in-flight async unpersists settle to a fixed point. */
  private def settledRddIds(): Set[Int] = {
    var prev = spark.sparkContext.getPersistentRDDs.keySet.toSet
    var tries = 0
    while (tries < 50) {
      Thread.sleep(100)
      val cur = spark.sparkContext.getPersistentRDDs.keySet.toSet
      if (cur == prev) return cur
      prev = cur
      tries += 1
    }
    prev
  }

  private def awaitReleased(ids: Set[Int]): Boolean = {
    var tries = 0
    while (tries < 100) {
      if (spark.sparkContext.getPersistentRDDs.keySet.toSet.intersect(ids).isEmpty)
        return true
      Thread.sleep(100)
      tries += 1
    }
    false
  }

  test("releaseSession frees an operator's persisted cache; a caller cache survives") {
    CacheScope.releaseSession()
    val base = settledRddIds()
    // a caller-owned cache that must SURVIVE the session release
    val mine = spark.read.parquet(s"$dir/nation.parquet").persist()
    mine.count()
    val withMine = settledRddIds() -- base
    assert(withMine.nonEmpty, "caller persist should register storage")

    val d = spark.read.parquet(s"$dir/documents.parquet")
    val q = graft.llm.TextAnalysis.tfIdfTopTerms(d, "doc_id", "text", k = 2)
    val rows = q.count()
    assert(rows > 0)
    val opIds = settledRddIds() -- base -- withMine
    assert(opIds.nonEmpty, "tfIdfTopTerms should persist its tf intermediate")

    CacheScope.releaseSession()
    assert(awaitReleased(opIds), s"releaseSession left operator storage behind: $opIds")
    // the caller's own cache is untouched — the clearCache failure mode
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet.intersect(withMine)
      == withMine, "releaseSession must not touch caller-owned caches")
    // and the operator result is still correct via lineage recompute
    assert(q.count() == rows)
    mine.unpersist(true)
    CacheScope.releaseSession()
  }

  test("iterative operators hold O(1) checkpoints; releaseSession frees the survivor") {
    import spark.implicits._
    CacheScope.releaseSession()
    val base = settledRddIds()
    // an 8-node chain forces multiple propagation rounds
    val pairs = (1L until 8L).map(i => (i, i + 1)).toDF("a", "b")
    val labels = graft.llm.DupClusters(pairs, "a", "b")
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == (1L to 8L).map(_ -> 1L).toMap)
    // per-round checkpoints were released in-loop: at most the final
    // labels table (plus nothing else) survives the call
    val leftover = settledRddIds() -- base
    assert(leftover.size <= 1,
      s"DupClusters leaked per-round checkpoints: ${leftover.size} RDDs")
    CacheScope.releaseSession()
    assert(awaitReleased(leftover), "releaseSession left the final checkpoint behind")
  }

  test("resolveKeepers releases superseded rounds and tracks only the final one") {
    import spark.implicits._
    CacheScope.releaseSession()
    val base = settledRddIds()
    // dup_of chain 4 -> 3 -> 2 -> 1(history keeper 100): three hops
    val classified = Seq(
      (1L, "dup_of_history", Some(100L)),
      (2L, "dup_in_batch", Some(1L)),
      (3L, "dup_in_batch", Some(2L)),
      (4L, "dup_in_batch", Some(3L)),
      (5L, "new", None: Option[Long])
    ).toDF("doc_id", "status", "dup_of")
    val resolved = graft.llm.IncrementalMinHash.resolveKeepers(classified)
    val got = resolved.collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(got(2L) == Some(100L) && got(3L) == Some(100L) && got(4L) == Some(100L))
    assert(got(5L).isEmpty)
    val leftover = settledRddIds() -- base
    assert(leftover.size <= 1,
      s"resolveKeepers leaked per-round checkpoints: ${leftover.size} RDDs")
    CacheScope.releaseSession()
    assert(awaitReleased(leftover), "releaseSession left the final checkpoint behind")
  }

  test("resolveKeepers exhausting maxRounds throws naming it and leaves no storage behind") {
    import spark.implicits._
    CacheScope.releaseSession()
    val base = settledRddIds()
    // a 25-hop dup_in_batch chain 26 -> 25 -> ... -> 1 (new): one hop
    // per round, so 3 rounds cannot resolve it
    val classified = ((1L, "new", None: Option[Long]) +:
      (2L to 26L).map(i => (i, "dup_in_batch", Some(i - 1))))
      .toDF("doc_id", "status", "dup_of")
    val ex = intercept[IllegalStateException] {
      graft.llm.IncrementalMinHash.resolveKeepers(classified, maxRounds = 3)
    }
    assert(ex.getMessage.contains("maxRounds"))
    // every round's checkpoint was released on the way out
    var left = settledRddIds() -- base
    var tries = 0
    while (left.nonEmpty && tries < 100) {
      Thread.sleep(100)
      left = spark.sparkContext.getPersistentRDDs.keySet.toSet -- base
      tries += 1
    }
    assert(left.isEmpty, s"an exhausted resolveKeepers left storage behind: $left")
  }

  test("checkpointCount and release act on a checkpoint root only, never on a frame derived from one") {
    import spark.implicits._
    CacheScope.releaseSession()
    val base = settledRddIds()
    val ck = (1L to 100L).toDF("id").localCheckpoint(true)
    val ckIds = settledRddIds() -- base
    assert(ckIds.size == 1, s"one checkpoint RDD expected, got $ckIds")
    val derived = ck.filter(col("id") <= 10L)
    // the derived frame counts its own rows, not the checkpoint's
    assert(CacheScope.checkpointCount(derived) == derived.count())
    assert(CacheScope.checkpointCount(derived) == 10L)
    assert(CacheScope.checkpointCount(ck) == 100L)
    // releasing the derived frame leaves the checkpoint's storage
    // registered, so ck is still read from it — no recompute
    CacheScope.release(derived)
    assert(settledRddIds().intersect(ckIds) == ckIds,
      "release of a derived frame must not unpersist the checkpoint it reads")
    assert(ck.count() == 100L)
    CacheScope.release(ck)
    assert(awaitReleased(ckIds), "release of the checkpoint root frees its storage")
  }
}
