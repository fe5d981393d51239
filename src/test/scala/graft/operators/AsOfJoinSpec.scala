package graft.operators

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

class AsOfJoinSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def run(left: Seq[(Int, Long, String)], right: Seq[(Int, Long, String)]) =
    AsOfJoin(
      left.toDF("k", "ts", "tag"),
      right.toDF("k", "ts", "v").select($"k", $"ts", $"ts".as("ref_ts"), $"v"),
      Seq("k"), "ts", Seq("ref_ts", "v"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) null else r.getString(4)))
      .toSet

  test("each left row gets the latest right row at or before its ts, per key") {
    val got = run(
      left = Seq((1, 10L, "a"), (1, 20L, "b"), (1, 5L, "c"), (2, 10L, "d")),
      right = Seq((1, 7L, "r7"), (1, 15L, "r15"), (2, 30L, "r30")))
    assert(got == Set(
      (1, 10L, "a", 7L, "r7"),   // 7 <= 10 < 15
      (1, 20L, "b", 15L, "r15"), // latest wins
      (1, 5L, "c", -1L, null),   // nothing precedes -> null match
      (2, 10L, "d", -1L, null))) // key 2's only right row is later
  }

  test("equal timestamps match (inclusive, DuckDB ASOF semantics)") {
    val got = run(
      left = Seq((1, 10L, "a")),
      right = Seq((1, 10L, "r10")))
    assert(got == Set((1, 10L, "a", 10L, "r10")))
  }

  test("payload columns are carried atomically from one right row") {
    // the ts=20 right row carries a NULL v; a per-column carry would
    // resurrect ts=10's v under ts=20's ref_ts — the struct carry must
    // keep both fields from the matched row
    val left = Seq((1, 25L)).toDF("k", "ts")
    val right = Seq((1, 10L, Some("old")), (1, 20L, Option.empty[String]))
      .toDF("k", "ts", "v").select($"k", $"ts", $"ts".as("ref_ts"), $"v")
    val r = AsOfJoin(left, right, Seq("k"), "ts", Seq("ref_ts", "v")).head()
    assert(r.getLong(2) == 20L && r.isNullAt(3),
      s"expected (ref_ts=20, v=null) from the matched row, got $r")
  }

  test("no join operator in the plan: one shuffle on the key, window-only") {
    val left = Seq((1, 10L, "a")).toDF("k", "ts", "tag")
    val right = Seq((1, 7L, "r")).toDF("k", "ts", "v")
      .select($"k", $"ts", $"ts".as("ref_ts"), $"v")
    val plan = AsOfJoin(left, right, Seq("k"), "ts", Seq("ref_ts", "v"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"as-of must not plan a join:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1, s"expected exactly one key shuffle, got $shuffles:\n$plan")
  }

  test("forward direction: earliest right row at or after, equal ts inclusive") {
    val left = Seq((1, 10L, "a"), (1, 16L, "b"), (1, 30L, "c")).toDF("k", "ts", "tag")
    val right = Seq((1, 7L, "r7"), (1, 15L, "r15"), (1, 16L, "r16"))
      .toDF("k", "ts", "v").select($"k", $"ts", $"ts".as("ref_ts"), $"v")
    val got = AsOfJoin(left, right, Seq("k"), "ts", Seq("ref_ts", "v"),
      direction = "forward")
      .collect().map(r => (r.getString(2),
        if (r.isNullAt(4)) null else r.getString(4))).toMap
    assert(got == Map("a" -> "r15", "b" -> "r16", "c" -> null))
  }

  test("tolerance nulls matches farther than the cap, in both directions") {
    val left = Seq((1, 100L, "x")).toDF("k", "ts", "tag")
    val right = Seq((1, 40L, "far"), (1, 90L, "near"))
      .toDF("k", "ts", "v").select($"k", $"ts", $"ts".as("ref_ts"), $"v")
    def match1(tol: Double, dir: String) = {
      val r = AsOfJoin(left, right, Seq("k"), "ts", Seq("ref_ts", "v"),
        direction = dir, tolerance = Some(tol)).head()
      if (r.isNullAt(4)) null else r.getString(4)
    }
    assert(match1(15.0, "backward") == "near") // gap 10 <= 15
    assert(match1(5.0, "backward") == null)    // nearest is 10 away — nulled
    assert(match1(5.0, "forward") == null)     // nothing at or after 100 at all
  }

  test("forward direction: null-ts left rows match nothing (desc scan puts nulls last)") {
    // without the left-ts guard the descending scan would carry the
    // minimum-ts right payload into the null-ts left row
    val left = Seq((1, Option(10L), "a"), (1, Option.empty[Long], "b"))
      .toDF("k", "ts", "tag")
    val right = Seq((1, Option(15L), "r15")).toDF("k", "ts", "v")
      .select($"k", $"ts", $"ts".as("ref_ts"), $"v")
    val got = AsOfJoin(left, right, Seq("k"), "ts", Seq("ref_ts", "v"),
      direction = "forward")
      .collect().map(r => (r.getString(2),
        if (r.isNullAt(4)) null else r.getString(4))).toSet
    assert(got == Set(("a", "r15"), ("b", null)))
  }

  test("null timestamps: right rows are dropped (no 'as of when'), left rows match nothing") {
    // an unfiltered null-ts reference row would sort first in the
    // window and poison every left row of its key with its payload
    val left = Seq((1, Option(10L), "a"), (1, Option.empty[Long], "b"))
      .toDF("k", "ts", "tag")
    val right = Seq((1, Option.empty[Long], "poison"), (1, Option(7L), "r7"))
      .toDF("k", "ts", "v")
      .select($"k", $"ts", $"ts".as("ref_ts"), $"v")
    val got = AsOfJoin(left, right, Seq("k"), "ts", Seq("ref_ts", "v"))
      .collect().map(r => (r.getString(2),
        if (r.isNullAt(4)) null else r.getString(4))).toSet
    assert(got == Set(("a", "r7"), ("b", null)))
  }

  test("payload name collisions are rejected up front") {
    val df = Seq((1, 10L, "x")).toDF("k", "ts", "tag")
    val ex = intercept[IllegalArgumentException] {
      AsOfJoin(df, df, Seq("k"), "ts", Seq("tag"))
    }
    assert(ex.getMessage.contains("collide"))
  }

  test("a _match_ts payload column is rejected, not silently ambiguous") {
    val left = Seq((1, 10L, "a")).toDF("k", "ts", "tag")
    val right = Seq((1, 7L, "r")).toDF("k", "ts", "_match_ts")
      .select($"k", $"ts", $"_match_ts", $"ts".as("ref_ts"))
    val ex = intercept[IllegalArgumentException] {
      AsOfJoin(left, right, Seq("k"), "ts", Seq("_match_ts", "ref_ts"))
    }
    assert(ex.getMessage.contains("_match_ts"))
  }

  test("nearest direction: closer side wins, ties go backward, tolerance gates each candidate") {
    val left = Seq((1, 10L, "closerBack"), (1, 20L, "closerFwd"),
      (1, 31L, "tie"), (1, 50L, "onlyBack"), (2, 5L, "none"))
      .toDF("k", "ts", "tag")
    val right = Seq((1, 8L, "r8"), (1, 14L, "r14"), (1, 22L, "r22"),
      (1, 30L, "r30"), (1, 32L, "r32")).toDF("k", "ts", "v")
      .select($"k", $"ts", $"ts".as("ref_ts"), $"v")
    def got(tol: Option[Double]) = AsOfJoin(left, right, Seq("k"), "ts",
      Seq("ref_ts", "v"), direction = "nearest", tolerance = tol)
      .collect().map(r => (r.getString(2),
        if (r.isNullAt(4)) null else r.getString(4))).toMap
    assert(got(None) == Map(
      "closerBack" -> "r8",  // |10-8|=2 < |14-10|=4
      "closerFwd" -> "r22",  // |20-14|=6 > |22-20|=2
      "tie" -> "r30",        // |31-30| == |32-31| — backward wins
      "onlyBack" -> "r32",   // nothing after 50
      "none" -> null))       // key 2 has no right rows
    // tolerance 3: closerFwd's backward candidate (gap 6) is out of
    // range but its forward candidate (gap 2) is in — pandas semantics:
    // the gate applies per candidate, not after the pick
    assert(got(Some(3.0)).apply("closerFwd") == "r22")
    assert(got(Some(1.0)).apply("closerFwd") == null)
  }

  test("bucketed carry is result-identical to the plain window on a hot key, all directions") {
    // one key holds ~all rows (the straggler shape bucketed() exists
    // for); buckets of 10s cut the 600s timeline into 60 slices. Left
    // rows land in buckets with and without right rows, so both the
    // in-bucket carry and the cross-bucket carry-in paths execute.
    val left = (0L until 600L by 3L).map(ts => (1, ts, s"l$ts")) :+ ((2, 5L, "cold"))
    val right = (0L until 600L by 50L).map(ts => (1, ts + 1L, s"r$ts")) :+ ((2, 9L, "rc"))
    val lDf = left.toDF("k", "ts", "tag")
    val rDf = right.toDF("k", "ts", "v").select($"k", $"ts", $"ts".as("ref_ts"), $"v")
    for (dir <- Seq("backward", "forward", "nearest");
         tol <- Seq(None, Some(25.0))) {
      val plain = AsOfJoin(lDf, rDf, Seq("k"), "ts", Seq("ref_ts", "v"),
        direction = dir, tolerance = tol).collect().map(_.toSeq).toSet
      val buck = AsOfJoin.bucketed(lDf, rDf, Seq("k"), "ts", Seq("ref_ts", "v"),
        bucketSeconds = 10L, direction = dir, tolerance = tol)
        .collect().map(_.toSeq).toSet
      assert(buck == plain, s"bucketed != plain for direction=$dir tolerance=$tol")
    }
  }

  test("law: bucketed == plain on a seeded random fixture, across bucket widths") {
    // random keys/timestamps with collisions and gaps; every (direction,
    // width) pair must reproduce the plain window's rows exactly —
    // including widths of 1 (every row its own bucket) and 10_000 (one
    // bucket, pure in-bucket path)
    val rnd = new scala.util.Random(7)
    val left = (0 until 300).map(i =>
      (rnd.nextInt(4), rnd.nextInt(500).toLong, s"l$i"))
    val right = (0 until 120).map(i =>
      (rnd.nextInt(4), rnd.nextInt(500).toLong, i.toDouble))
      .distinct.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq // unique (k, ts)
    val lDf = left.toDF("k", "ts", "tag")
    val rDf = right.toDF("k", "ts", "v").select($"k", $"ts", $"ts".as("ref_ts"), $"v")
    for (dir <- Seq("backward", "forward", "nearest"); width <- Seq(1L, 37L, 10000L)) {
      val plain = AsOfJoin(lDf, rDf, Seq("k"), "ts", Seq("ref_ts", "v"),
        direction = dir).collect().map(_.toSeq).toSet
      val buck = AsOfJoin.bucketed(lDf, rDf, Seq("k"), "ts", Seq("ref_ts", "v"),
        bucketSeconds = width, direction = dir).collect().map(_.toSeq).toSet
      assert(buck == plain, s"bucketed($width) != plain for direction=$dir")
    }
  }

  test("bucketed: null-ts rows keep the plain contract (right dropped, left unmatched)") {
    val left = Seq((1, Option(10L), "a"), (1, Option.empty[Long], "b"))
      .toDF("k", "ts", "tag")
    val right = Seq((1, Option.empty[Long], "poison"), (1, Option(7L), "r7"))
      .toDF("k", "ts", "v")
      .select($"k", $"ts", $"ts".as("ref_ts"), $"v")
    for (dir <- Seq("backward", "forward", "nearest")) {
      val got = AsOfJoin.bucketed(left, right, Seq("k"), "ts", Seq("ref_ts", "v"),
        bucketSeconds = 5L, direction = dir)
        .collect().map(r => (r.getString(2),
          if (r.isNullAt(4)) null else r.getString(4))).toSet
      val expectA = if (dir == "forward") null else "r7"
      assert(got == Set(("a", expectA), ("b", null)), s"direction=$dir got $got")
    }
  }

  test("bucketed persists nothing: collecting every direction leaves the persistent RDDs unchanged") {
    // the union is re-read per plan branch, never cached: a caching
    // variant would leave storage registered with the context
    val left = (0L until 200L by 7L).map(ts => (1, ts, s"l$ts")).toDF("k", "ts", "tag")
    val right = (0L until 200L by 30L).map(ts => (1, ts + 1L, s"r$ts"))
      .toDF("k", "ts", "v").select($"k", $"ts", $"ts".as("ref_ts"), $"v")
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    for (dir <- Seq("backward", "forward", "nearest"))
      assert(AsOfJoin.bucketed(left, right, Seq("k"), "ts", Seq("ref_ts", "v"),
        bucketSeconds = 20L, direction = dir).collect().length == left.count())
    // RDD ids only grow, so any persist made here shows up as a new id
    // (storage an earlier suite released may still be leaving the set)
    assert((spark.sparkContext.getPersistentRDDs.keySet.toSet -- before).isEmpty)
  }
}
