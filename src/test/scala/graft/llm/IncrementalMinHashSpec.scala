package graft.llm

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

class IncrementalMinHashSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val history: DataFrame = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "pack my box with five dozen liquor jugs for the long trip"),
    (3L, "completely unrelated text about spark catalyst optimizer rules")
  ).toDF("doc_id", "text")

  private def classified(batch: Seq[(Long, String)]): Map[Long, (String, Long)] = {
    val index = IncrementalMinHash.buildIndex(history, "doc_id", "text")
    IncrementalMinHash.classify(batch.toDF("doc_id", "text"), index, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
  }

  test("near-copy of history is dup_of_history; disjoint text is new; its copy is dup_in_batch") {
    val got = classified(Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again extra"),
      (11L, "entirely fresh words nothing shared with the indexed corpus here"),
      (12L, "entirely fresh words nothing shared with the indexed corpus here")))
    assert(got(10L) == ("dup_of_history", 1L))
    assert(got(11L) == ("new", -1L))
    assert(got(12L) == ("dup_in_batch", 11L))
  }

  test("exact copy of history matches its keeper; short docs are new by construction") {
    val got = classified(Seq(
      (20L, "pack my box with five dozen liquor jugs for the long trip"),
      (21L, "too short"))) // < shingleN tokens: no sketch, cannot be a dup
    assert(got(20L) == ("dup_of_history", 2L))
    assert(got(21L) == ("new", -1L))
    // the output contract: one row per DISTINCT id — a duplicated id is
    // one row with its shared status, the null id is one `new` row
    val index = IncrementalMinHash.buildIndex(history, "doc_id", "text")
    val fresh = "entirely fresh words nothing shared with the indexed corpus here"
    val rows = IncrementalMinHash.classify(Seq[(java.lang.Long, String)](
        (20L, "pack my box with five dozen liquor jugs for the long trip"),
        (20L, "pack my box with five dozen liquor jugs for the long trip"),
        (null, fresh), (null, "too short"), (21L, "too short"), (22L, fresh))
      .toDF("doc_id", "text"), index, "doc_id", "text").collect()
      .map(r => (Option(r.get(0)), r.getString(1), r.getLong(2))).toSeq
    assert(rows.sortBy(_._1.map(_.toString)) == Seq(
      (None, "new", -1L),
      (Some(20L), "dup_of_history", 2L),
      (Some(21L), "new", -1L),
      (Some(22L), "new", -1L)))
  }

  test("a non-numeric id fails classify and buildIndex with the id-column message, ANSI on or off") {
    // cast to null (a non-ANSI session's cast), "doc-x" would classify
    // `new` however close it is to history, and drop out of an index
    def messages(run: => Unit): Seq[String] = {
      val ex = intercept[Exception](run)
      Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null).take(8)
        .map(e => String.valueOf(e.getMessage)).toSeq
    }
    for (ansi <- Seq("true", "false")) {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.ansi.enabled", ansi)
      import s2.implicits._
      val bad = Seq(
        ("40", "entirely fresh words nothing shared with the indexed corpus here"),
        ("doc-x", "the quick brown fox jumps over the lazy dog again and again"))
        .toDF("doc_id", "text")
      val index = IncrementalMinHash.buildIndex(
        s2.createDataFrame(history.collect().toSeq.map(r => (r.getLong(0), r.getString(1))))
          .toDF("doc_id", "text"), "doc_id", "text")
      Seq(
        messages(IncrementalMinHash.classify(bad, index, "doc_id", "text").collect()),
        messages(IncrementalMinHash.buildIndex(bad, "doc_id", "text").collect())
      ).foreach(m => assert(
        m.exists(_.contains("id column 'doc_id' holds a non-null value that is not a long")),
        s"ansi=$ansi: " + m.mkString("\n")))
    }
  }

  test("history precedence beats in-batch: a copy of history with a smaller batch twin") {
    // both rows near-match history doc 1 AND each other; dup_of_history
    // must win for both (precedence), pointing at the indexed keeper
    val t = "the quick brown fox jumps over the lazy dog again and again"
    val got = classified(Seq((30L, t), (31L, t)))
    assert(got(30L) == ("dup_of_history", 1L))
    assert(got(31L) == ("dup_of_history", 1L))
  }

  test("in-batch pair generation: a hot band group (many copies of one text) resolves every copy to the min id; independent groups in one partition stay independent") {
    // five exact copies share every band (the hot-key shape the
    // in-partition pair generation must handle) → min id keeps, the
    // other four are dup_in_batch of it; a second, unrelated dup pair
    // coexists in the same (tiny) shuffle — groups must not bleed
    val hot = "some very repetitive boilerplate document body repeated verbatim everywhere"
    val other = "a different duplicated passage that only matches its own twin here"
    val got = classified(
      (50L to 54L).map(i => (i, hot)) ++ Seq((60L, other), (61L, other)))
    assert(got(50L) == ("new", -1L))
    (51L to 54L).foreach(i => assert(got(i) == ("dup_in_batch", 50L)))
    assert(got(60L) == ("new", -1L))
    assert(got(61L) == ("dup_in_batch", 60L))
  }

  test("in-batch pair generation is partitioning-invariant") {
    val index = IncrementalMinHash.buildIndex(history, "doc_id", "text")
    val rows = Seq(
      (70L, "entirely fresh words nothing shared with the indexed corpus here"),
      (71L, "entirely fresh words nothing shared with the indexed corpus here"),
      (72L, "the quick brown fox jumps over the lazy dog again and again extra"),
      (73L, "another block of novel text with no twin anywhere in this batch"))
    def run(df: DataFrame): Map[Long, (String, Long)] =
      IncrementalMinHash.classify(df, index, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val base = run(rows.toDF("doc_id", "text"))
    assert(run(rows.toDF("doc_id", "text").repartition(7)) == base)
    assert(run(rows.toDF("doc_id", "text").coalesce(1)) == base)
  }

  test("the accepted rows' carried sketches fold into the index: re-running the batch flips new to dup_of_history") {
    val index = IncrementalMinHash.buildIndex(history, "doc_id", "text")
    val batch = Seq(
      (40L, "entirely fresh words nothing shared with the indexed corpus here"),
      (41L, "the quick brown fox jumps over the lazy dog again and again extra"))
      .toDF("doc_id", "text")
    val first = IncrementalMinHash.classifyBandedSketched(
      IncrementalMinHash.sketchTotal(batch, "doc_id", "text"),
      IncrementalMinHash.bandedIndex(index))
    val merged = index.unionByName(
      IncrementalMinHash.indexRows(first.filter($"status" === "new")))
    // only the accepted `new` row joined the index (the history near-dup
    // must not: its content is already represented by keeper 1)
    assert(merged.count() == history.count() + 1)
    val again = IncrementalMinHash.classify(batch, index = merged, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(again(40L) == ("dup_of_history", 40L)) // its own prior acceptance
    assert(again(41L) == ("dup_of_history", 1L))
  }

  test("resolveKeepers: every dup_of lands in (index ∪ batch keepers), statuses untouched") {
    // synthetic classified frame with the chain shapes classify can emit:
    //   2 -> 1 (keeper, stays)            4 -> 3 (dup_of_history: adopt 3's
    //   5 -> 4 -> 3 (depth-2 chain)          history keeper 100)
    //   6 -> 5 -> 4 -> 3 (depth-3 chain)  100 is ALSO a batch id classified
    // dup_in_batch — the resolved pin must stop 4/5/6 from chasing it
    // after their dup_of rewrites to HISTORY id 100
    val classified = Seq(
      (1L, "new", -1L),
      (2L, "dup_in_batch", 1L),
      (3L, "dup_of_history", 100L),
      (4L, "dup_in_batch", 3L),
      (5L, "dup_in_batch", 4L),
      (6L, "dup_in_batch", 5L),
      (100L, "dup_in_batch", 1L)
    ).toDF("doc_id", "status", "dup_of")
    val got = IncrementalMinHash.resolveKeepers(classified)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got == Map(
      1L -> ("new", -1L),
      2L -> ("dup_in_batch", 1L),
      3L -> ("dup_of_history", 100L),
      4L -> ("dup_in_batch", 100L),
      5L -> ("dup_in_batch", 100L),
      6L -> ("dup_in_batch", 100L),
      100L -> ("dup_in_batch", 1L)))
    // totality: every reference resolves to a keeper ('new' row) or a
    // history id — never to a dropped dup row (other than ids that are
    // keepers under a different run, like the colliding 100)
    val keepers = got.collect { case (id, ("new", _)) => id }.toSet + 100L
    got.collect { case (_, ("dup_in_batch", d)) => d }
      .foreach(d => assert(keepers.contains(d), s"dangling dup_of $d"))
  }

  test("resolveKeepers is a no-op on classify output that is already total") {
    val index = IncrementalMinHash.buildIndex(history, "doc_id", "text")
    val raw = IncrementalMinHash.classify(Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again extra"),
      (11L, "entirely fresh words nothing shared with the indexed corpus here"),
      (12L, "entirely fresh words nothing shared with the indexed corpus here"))
      .toDF("doc_id", "text"), index, "doc_id", "text")
    val before = raw.collect().map(_.toSeq).toSet
    val after = IncrementalMinHash.resolveKeepers(raw).collect().map(_.toSeq).toSet
    assert(after == before)
  }

  test("classify raises on an index built with different sketch parameters") {
    // numHashes=12/bands=4 index vs default 9/3 call: zip_with over
    // different-length sig arrays would null-pad and silently
    // under-count matches (dups misclassified as new) — the width
    // guard must raise instead
    val index = IncrementalMinHash.buildIndex(history, "doc_id", "text",
      numHashes = 12, bands = 4)
    val batch = Seq(
      (50L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    val ex = intercept[Exception] {
      IncrementalMinHash.classify(batch, index, "doc_id", "text").collect()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(chain(ex).exists(_.contains("different sketch parameters")))
  }
}
