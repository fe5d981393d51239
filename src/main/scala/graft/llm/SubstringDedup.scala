package graft.llm

import graft.Presented

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/**
 * Exact duplicated-substring detection and removal — the suffix-array
 * dedup of "Deduplicating Training Data Makes Language Models Better"
 * (Lee et al., 2022), re-expressed as a Spark plan. Instead of a global
 * suffix array (which needs the whole corpus in one address space), the
 * duplicated regions of length >= gramN are recovered from a gram
 * occurrence index: a token span is duplicated iff every length-gramN
 * window inside it occurs more than once in the corpus, so marking all
 * occurrences of repeated grams and merging overlapping windows yields
 * exactly the maximal duplicated spans at gramN resolution.
 *
 * Scale shape (nothing driver-sized, no Zipfian windows):
 *  - one projection pass emits (doc, pos, fnv64(gram)) per gram
 *    OCCURRENCE ([[TextOps.gramHashesWithPosJvm]] — the gram string
 *    never leaves the row; downstream is pure equality on the 8-byte
 *    key, the [[NgramJaccard]] collision trade);
 *  - one map-side-combined aggregate on the gram key computes each
 *    gram's occurrence count (and, for removal, its first occurrence);
 *    the count > 1 filter runs BEFORE the join back, so the build side
 *    is only the duplicated-gram set (often broadcast-able; a Zipfian
 *    hot gram is an AQE skew-join case, never a window);
 *  - span merging is gaps-and-islands per DOCUMENT: the window
 *    partition key is the doc id, bounded by document length —
 *    deliberately NOT the gram key;
 *  - the doc-keyed island aggregate and the final doc join reuse the
 *    window's hash partitioning (no extra exchange).
 *
 * Rows whose text is NULL emit no grams and are excluded from the
 * output (the pq35 null-text contract). Documents shorter than gramN
 * tokens cannot be duplicated at this resolution and come out span-free.
 */
object SubstringDedup {

  /** One row per word-gramN-gram occurrence: (_id, _pos, _g) with _pos
    * the 1-based start token index and _g the gram's fnv64. */
  def gramPosIndex(df: DataFrame, idCol: String, textCol: String,
      gramN: Int): DataFrame = {
    require(gramN >= 1, s"gram size must be >= 1, got $gramN")
    val schema = StructType(Seq(
      df.schema(df.schema.fieldIndex(idCol)).copy(name = "_id"),
      StructField("_pos", LongType, nullable = false),
      StructField("_g", LongType, nullable = false)))
    df.select(col(idCol), col(textCol).cast("string"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          if (r.isNullAt(1)) Iterator.empty
          else {
            val hs = TextOps.gramHashesWithPosJvm(
              TextOps.tokensJvm(r.getString(1)), gramN)
            Iterator.tabulate(hs.length)(i => Row(r.get(0), (i + 1).toLong, hs(i)))
          }
        }
      }(Encoders.row(schema))
  }

  /** Merge 1-based gram start positions (each covering gramN tokens)
    * into maximal token spans per doc — gaps-and-islands: a new island
    * starts where a position clears every previous window's end. */
  private[llm] def mergeSpans(dup: DataFrame, gramN: Int): DataFrame = {
    val byDoc = Window.partitionBy("_id").orderBy("_pos")
    val prevEnd = max(col("_pos") + gramN)
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    dup
      .withColumn("_new", when(prevEnd.isNull || col("_pos") > prevEnd, 1).otherwise(0))
      .withColumn("_isl", sum(col("_new"))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("_id"), col("_isl"))
      .agg(min("_pos").as("span_start"), (max(col("_pos")) + gramN).as("span_end"))
      .select(col("_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("n_tokens"))
  }

  /**
   * Maximal duplicated token spans: (doc_id, span_start, span_end,
   * n_tokens), 1-based token indices, span_end exclusive. Every
   * occurrence is reported (including the first), so this is the
   * detection/reporting form — [[removeDuplicated]] applies the
   * keep-first policy.
   */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      gramN: Int = 8, ordered: Boolean = true): DataFrame = {
    val occ = gramPosIndex(df, idCol, textCol, gramN)
    val dupGrams = occ.groupBy("_g")
      .agg(count(lit(1)).as("_cnt")).filter(col("_cnt") > 1).select("_g")
    val dup = occ.join(dupGrams, Seq("_g")).select("_id", "_pos")
    mergeSpans(dup, gramN)
      .withColumnRenamed("_id", "doc_id")
      .transform(Presented(_, ordered, "doc_id", "span_start"))
  }

  /**
   * Keep-first substring dedup: every occurrence of a duplicated gram
   * EXCEPT its globally first one (ordered by (doc_id, pos)) is cut;
   * cut windows merge into spans and the covered tokens are removed
   * from the document. A repeated region longer than gramN survives
   * intact at its first site — each of its grams has its first
   * occurrence there — and is cut everywhere else, which is the Lee et
   * al. keep-one-copy policy at gram resolution.
   *
   * Output: (doc_id, n_tokens, n_removed, cleaned_text) — one row per
   * non-null-text document, cleaned_text the kept tokens re-joined with
   * single spaces (tokenization is [[TextOps.tokens]], so original
   * inter-token whitespace is already canonical by the time spans are
   * cut).
   *
   * The first-occurrence order packs (doc_id, pos) into one 64-bit min
   * (`doc_id * 2^32 + pos`) so the per-gram "first" is a plain
   * map-side-combinable MIN, not a window over the Zipfian gram key.
   * Requires an integral doc id with doc_id < 2^31 and documents under
   * 2^32 tokens — the production regime; the packing is documented
   * rather than guarded because a guard would cost a corpus pass.
   */
  def removeDuplicated(df: DataFrame, idCol: String, textCol: String,
      gramN: Int = 8, ordered: Boolean = true): DataFrame = {
    val occ = gramPosIndex(df, idCol, textCol, gramN)
    val packed = col("_id").cast("long") * lit(1L << 32) + col("_pos")
    val dupGrams = occ.groupBy("_g")
      .agg(count(lit(1)).as("_cnt"), min(packed).as("_keep"))
      .filter(col("_cnt") > 1)
      .select("_g", "_keep")
    val cut = occ.join(dupGrams, Seq("_g"))
      .filter(packed =!= col("_keep"))
      .select("_id", "_pos")
    applySpans(df, idCol, textCol,
      mergeSpans(cut, gramN).select(col("_id").as("doc_id"),
        col("span_start"), col("span_end")), ordered)
  }

  /**
   * Cut token spans out of documents: given (doc_id, span_start,
   * span_end) rows (1-based, end-exclusive — [[duplicatedSpans]] /
   * [[Decontamination.leakedSpans]] output), rebuild each document
   * without the covered tokens. Span-less docs pass through unchanged;
   * null texts are excluded (the pq35 contract). One doc-keyed spans
   * aggregate + a codegen'd higher-order token filter — no window, no
   * UDF. Output: (doc_id, n_tokens, n_removed, cleaned_text).
   */
  def applySpans(df: DataFrame, idCol: String, textCol: String,
      spans: DataFrame, ordered: Boolean = true): DataFrame = {
    val perDoc = spans
      .groupBy(col("doc_id").as("_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("_spans"))
    val emptySpans = array()
      .cast("array<struct<span_start:bigint,span_end:bigint>>")
    val base = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        TextOps.tokens(col(textCol).cast("string")).as("_toks"))
    base.join(perDoc, base("doc_id") === perDoc("_id"), "left")
      .select(col("doc_id"), col("_toks"),
        coalesce(col("_spans"), emptySpans).as("_spans"))
      .select(col("doc_id"), col("_toks"),
        filter(col("_toks"), (_, i) => !exists(col("_spans"),
          s => (i + 1) >= s("span_start") && (i + 1) < s("span_end"))).as("_kept"))
      .select(col("doc_id"),
        size(col("_toks")).cast("long").as("n_tokens"),
        (size(col("_toks")) - size(col("_kept"))).cast("long").as("n_removed"),
        array_join(col("_kept"), " ").as("cleaned_text"))
      .transform(Presented(_, ordered, "doc_id"))
  }
}
