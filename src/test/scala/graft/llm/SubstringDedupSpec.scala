package graft.llm

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

class SubstringDedupSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  // doc 2 copies doc 1's 10-token a-region (cross-doc dup), doc 4 repeats
  // its own 8-token prefix (within-doc dup), doc 3 is unique, doc 5 has
  // null text, doc 6 is shorter than the gram. All other tokens are
  // globally unique so no accidental 8-grams repeat.
  private val corpus = Seq(
    (1L, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 u1 u2 u3 u4 u5 u6 u7 u8"),
    (2L, "z1 z2 a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 z3 z4 z5 z6 z7 z8"),
    (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12"),
    (4L, "p1 p2 p3 p4 p5 p6 p7 p8 p1 p2 p3 p4 p5 p6 p7 p8"),
    (5L, null.asInstanceOf[String]),
    (6L, "s1 s2 s3"))

  private def df = corpus.toDF("doc_id", "text")

  test("duplicatedSpans: exact bounds for cross-doc, within-doc, and clean docs") {
    val spans = SubstringDedup.duplicatedSpans(df, "doc_id", "text", gramN = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 1: dup grams start at 1..3 (the 10-token region) -> [1, 11)
    // doc 2: region sits at tokens 3..12 -> dup starts 3..5 -> [3, 13)
    // doc 4: the p1..p8 gram occurs at 1 and 9; windows touch (end 9 =
    //        start 9) so they merge into the whole doc [1, 17)
    assert(spans.toSet === Set(
      (1L, 1L, 11L, 10L), (2L, 3L, 13L, 10L), (4L, 1L, 17L, 16L)))
  }

  test("removeDuplicated: keep-first policy cuts every later occurrence only") {
    val out = SubstringDedup.removeDuplicated(df, "doc_id", "text", gramN = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L, 6L)) // null-text doc 5 excluded
    assert(out(1L) === ((18L, 0L, corpus(0)._2)))  // first site survives intact
    assert(out(2L) === ((18L, 10L, "z1 z2 z3 z4 z5 z6 z7 z8")))
    assert(out(3L) === ((12L, 0L, corpus(2)._2)))
    assert(out(4L) === ((16L, 8L, "p1 p2 p3 p4 p5 p6 p7 p8")))
    assert(out(6L) === ((3L, 0L, "s1 s2 s3")))     // sub-gram doc passes through
  }

  test("law: a corpus of globally unique tokens has no spans and loses nothing") {
    val unique = (0L until 40L)
      .map(i => (i, (0 until 12).map(j => s"w${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    assert(SubstringDedup.duplicatedSpans(unique, "doc_id", "text", gramN = 8).count() === 0L)
    val removed = SubstringDedup.removeDuplicated(unique, "doc_id", "text", gramN = 8)
    assert(removed.filter(org.apache.spark.sql.functions.col("n_removed") > 0).count() === 0L)
  }

  test("law: gramHashesWithPosJvm(i) == fnv64Jvm of the space-joined gram") {
    val rnd = new scala.util.Random(7)
    (0 until 50).foreach { _ =>
      val toks = Array.fill(rnd.nextInt(20))(s"t${rnd.nextInt(8)}")
      val n = 1 + rnd.nextInt(5)
      val got = TextOps.gramHashesWithPosJvm(toks, n)
      val want = (0 to toks.length - n).map(i =>
        TextOps.fnv64Jvm(toks.slice(i, i + n).mkString(" ")))
      assert(got.toSeq === want, s"toks=${toks.mkString(",")} n=$n")
    }
    assert(TextOps.gramHashesWithPosJvm(Array.empty[String], 3).isEmpty)
    assert(TextOps.gramHashesWithPosJvm(Array("a", "b"), 3).isEmpty)
  }

  test("plan: doc-keyed windows only, no cartesian, pruned scan") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    Seq(
      "duplicatedSpans" -> SubstringDedup.duplicatedSpans(d, "doc_id", "text", gramN = 8),
      "removeDuplicated" -> SubstringDedup.removeDuplicated(d, "doc_id", "text", gramN = 8)
    ).foreach { case (name, q) =>
      val plan = q.queryExecution.executedPlan.toString
      // never a cartesian/nested-loop: candidate pairing is pure gram
      // equality
      assert(!plan.contains("CartesianProduct"), s"$name went cartesian:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name nested-loop:\n$plan")
      // the only windows are the gaps-and-islands pass, partitioned by
      // the DOC id — a window keyed on the Zipfian gram key would be the
      // tf-idf scale-killer all over again
      val windows = plan.linesIterator.filter(_.contains("Window [")).toSeq
      assert(windows.nonEmpty, s"$name lost its islands window:\n$plan")
      windows.foreach { w =>
        assert(w.contains("[_id#"), s"$name window not doc-keyed: $w")
        assert(!w.contains("_g#"), s"$name window keyed on the gram: $w")
      }
      // the gram-count aggregate combines map-side before its exchange
      assert(plan.contains("partial_count"), s"$name gram count not partial:\n$plan")
      // column pruning through the typed gram pass
      val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
      assert(readSchemas.nonEmpty && readSchemas.forall(r =>
        !r.contains("source") && !r.contains("n_chars")),
        s"$name reads columns it never uses:\n${readSchemas.mkString("\n")}")
    }
  }
}
