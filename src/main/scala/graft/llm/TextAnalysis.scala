package graft.llm

import graft.Presented

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

/**
 * Text-analysis operators over a document corpus: corpus statistics,
 * per-document quality scoring, stopword-profile language ID, and
 * bottom-k fingerprints. All are single-pass: per-row projections plus at
 * most one hash aggregation — the shapes that scale to 100 TB unchanged
 * (the aggregations are partial/map-side combinable; nothing collects to
 * the driver).
 *
 * Every operator takes `ordered` (default true): a totally-ordered
 * presentation of the result. At scale pass `ordered = false` — a global
 * sort is a range exchange over the full output and row order carries no
 * semantics in any of these results.
 */
object TextAnalysis {

  /** Token count of a text column (whitespace tokenization). */
  def tokenCount(text: Column): Column = size(TextOps.tokens(text)).cast("long")

  /**
   * BPE-ish token-class counts: letter runs, digit runs, and punctuation
   * singles — the pre-tokenizer split classes a byte-pair tokenizer sees
   * (ASCII classes only, so the regexes behave identically across
   * engines). One projection, three codegen'd regex scans per row.
   */
  def tokenClassCounts(df: DataFrame, idCol: String, textCol: String,
      ordered: Boolean = true): DataFrame = {
    def cnt(pattern: String): Column =
      size(regexp_extract_all(col(textCol), lit(pattern), lit(0))).cast("long")
    val out = df.select(
      col(idCol).as("doc_id"),
      cnt("[A-Za-z]+").as("n_words"),
      cnt("[0-9]+").as("n_numbers"),
      cnt("[^A-Za-z0-9 \\t\\n]").as("n_punct"))
      .withColumn("n_bpeish", col("n_words") + col("n_numbers") + col("n_punct"))
    Presented(out, ordered, "doc_id")
  }

  /**
   * MOD-sampled rolling fingerprint: the sorted md5 hashes of word-bigram
   * shingles whose hash falls in the sample class (first hex digit '0' —
   * a deterministic 1/16 sample, the winnowing-by-mod scheme). Unlike
   * [[fingerprints]]' bottom-k, the sample size scales with document
   * length, so containment between fingerprints estimates overlap of
   * long documents. Typed stage; empty sample -> empty string.
   */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      ordered: Boolean = true): DataFrame = {
    val outSchema = StructType(Seq(
      df.schema(df.schema.fieldIndex(idCol)).copy(name = "doc_id"),
      StructField("fingerprint", StringType, nullable = true)))
    df.select(col(idCol), col(textCol).cast("string"))
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.flatMap { r =>
          if (r.isNullAt(1)) Iterator.empty
          else {
            val toks = TextOps.tokensJvm(r.getString(1))
            if (toks.length < 2) Iterator.empty
            else {
              val sampled = TextOps.shinglesJvm(toks, 2)
                .map(TextOps.md5HexJvm(md, _))
                .filter(_.charAt(0) == '0')
              java.util.Arrays.sort(sampled, Ordering[String])
              Iterator.single(Row(r.get(0), sampled.mkString(",")))
            }
          }
        }
      }(Encoders.row(outSchema))
      .transform(Presented(_, ordered, "doc_id"))
  }

  /**
   * Per-language corpus statistics: doc count, total/avg chars, total/max
   * tokens. One hash aggregation on the language key.
   */
  def corpusStats(df: DataFrame, langCol: String, charsCol: String, textCol: String,
      ordered: Boolean = true): DataFrame =
    df.select(col(langCol).as("lang"), col(charsCol).as("n_chars"),
        tokenCount(col(textCol)).as("n_tokens"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        round(avg("n_chars"), 2).as("avg_chars"),
        sum("n_tokens").as("total_tokens"),
        max("n_tokens").as("max_tokens"))
      .transform(Presented(_, ordered, "lang"))

  /**
   * Dedup-normalization projection: lowercase, strip every char outside
   * [a-z0-9 space], collapse whitespace runs, trim — the canonical form
   * under which case/punctuation/spacing variants of the same text
   * become exact duplicates. Pure Column composition (codegen'd); feed
   * the result to [[ExactDedup]]/[[IncrementalDedup]] for
   * normalized-exact dedup, the standard first tier before fuzzy
   * matching.
   */
  def normalizeForDedup(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 \\t\\n]", ""),
      "\\s+", " "))

  /**
   * Per-document quality metrics: token count, distinct-token count,
   * type-token ratio, stopword ratio, mean word length. Pure projection.
   * Low TTR flags boilerplate/repetition; abnormal stopword ratio or word
   * length flags non-prose — the standard cheap quality gates applied
   * before expensive pipeline stages.
   */
  def qualityMetrics(df: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String] = DefaultStopwords,
      ordered: Boolean = true): DataFrame = {
    // Typed single-pass stage: the five metrics share the token array, and
    // Catalyst's projection collapse would re-inline (and re-evaluate) the
    // tokenizer per metric — interpreted, since filter/aggregate are
    // higher-order. One mapPartitions computes the array once per row.
    // Rounding replicates Spark's round() (BigDecimal HALF_UP) exactly.
    val stopSet = stopwords.toSet
    val outSchema = StructType(Seq(
      df.schema(df.schema.fieldIndex(idCol)).copy(name = "doc_id"),
      StructField("n_tokens", LongType, nullable = true),
      StructField("n_types", LongType, nullable = true),
      StructField("ttr", DoubleType, nullable = true),
      StructField("stop_ratio", DoubleType, nullable = true),
      StructField("mean_wlen", DoubleType, nullable = true)))
    df.select(col(idCol), col(textCol).cast("string"))
      .mapPartitions { rows =>
        rows.map { r =>
          if (r.isNullAt(1)) Row(r.get(0), null, null, null, null, null)
          else {
            val toks = TextOps.tokensJvm(r.getString(1))
            val n = toks.length
            val types = new java.util.HashSet[String]()
            var stops = 0
            var sumLen = 0L
            var i = 0
            while (i < n) {
              val w = toks(i)
              types.add(w)
              if (stopSet.contains(w)) stops += 1
              sumLen += w.codePointCount(0, w.length)
              i += 1
            }
            Row(r.get(0), n.toLong, types.size.toLong,
              TextOps.round3(types.size.toDouble / n),
              TextOps.round3(stops.toDouble / n),
              TextOps.round3(sumLen.toDouble / n))
          }
        }
      }(Encoders.row(outSchema))
      .transform(Presented(_, ordered, "doc_id"))
  }

  val DefaultStopwords: Seq[String] = Seq("the", "a", "of", "and", "in")

  /**
   * Composed quality gate — the C4/Gopher filter step as one operator:
   * per-document pass/fail flags for the standard gate families (length
   * bounds, mean word length band, minimum stopword ratio, minimum
   * type-token ratio, duplicate/dominant-bigram ceilings) and their
   * conjunction `pass`. This is the decision layer over the signals
   * [[qualityMetrics]] and [[repetitionMetrics]] report — but computed
   * in ONE typed pass (one token array, one count map per row, zero
   * shuffle) rather than joining two corpus-sized metric tables, with
   * the thresholds applied in a codegen'd projection on top so the
   * typed stage never changes when thresholds do.
   *
   * Comparisons use the RAW (unrounded) ratios: each is an IEEE
   * division of two exact integers, bit-identical across engines, so
   * the oracle pins every flag exactly.
   *
   * Contracts: a NULL-text row fails every gate (n_tokens 0 — an
   * unambiguous sentinel, since any non-null text tokenizes to >= 1
   * token — and pass false: a doc with no text is not trainable; no
   * output column is ever null, so engine comparers never face
   * null-vs-NaN semantics). A doc with fewer than 2 tokens has no
   * bigrams: the repetition gates pass and the length gate does the
   * filtering (dup/top are null-safe true).
   *
   * Output: (doc_id, n_tokens, len_ok, wlen_ok, stop_ok, ttr_ok,
   * rep_ok, pass).
   */
  def qualityGate(df: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String] = DefaultStopwords,
      minTokens: Long = 50, maxTokens: Long = 100000,
      minMeanWlen: Double = 3.0, maxMeanWlen: Double = 10.0,
      minStopRatio: Double = 0.01, minTtr: Double = 0.2,
      maxDupBigramFrac: Double = 0.3, maxTopBigramFrac: Double = 0.2,
      ordered: Boolean = true): DataFrame = {
    val stopSet = stopwords.toSet
    val raw = StructType(Seq(
      df.schema(df.schema.fieldIndex(idCol)).copy(name = "doc_id"),
      StructField("n_tokens", LongType, nullable = true),
      StructField("_mw", DoubleType, nullable = true),
      StructField("_sr", DoubleType, nullable = true),
      StructField("_ttr", DoubleType, nullable = true),
      StructField("_dupf", DoubleType, nullable = true),
      StructField("_topf", DoubleType, nullable = true)))
    val metrics = df.select(col(idCol), col(textCol).cast("string"))
      .mapPartitions { rows =>
        rows.map { r =>
          if (r.isNullAt(1)) Row(r.get(0), 0L, null, null, null, null, null)
          else {
            val toks = TextOps.tokensJvm(r.getString(1))
            val n = toks.length
            val types = new java.util.HashSet[String]()
            var stops = 0
            var sumLen = 0L
            var i = 0
            while (i < n) {
              val w = toks(i)
              types.add(w)
              if (stopSet.contains(w)) stops += 1
              sumLen += w.codePointCount(0, w.length)
              i += 1
            }
            val nb = n - 1
            var dupf: Any = null
            var topf: Any = null
            if (nb >= 1) {
              val counts = new java.util.HashMap[String, Int]()
              var top = 0
              var j = 0
              val sb = new java.lang.StringBuilder()
              while (j < nb) {
                sb.setLength(0)
                sb.append(toks(j)).append(' ').append(toks(j + 1))
                val c = counts.merge(sb.toString, 1, Integer.sum)
                if (c > top) top = c
                j += 1
              }
              dupf = (nb - counts.size).toDouble / nb
              topf = top.toDouble / nb
            }
            Row(r.get(0), n.toLong, sumLen.toDouble / n, stops.toDouble / n,
              types.size.toDouble / n, dupf, topf)
          }
        }
      }(Encoders.row(raw))
    // _mw is null exactly when the text was null — the "had text" marker
    val lenOk = col("_mw").isNotNull &&
      col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens
    val wlenOk = col("_mw").isNotNull &&
      col("_mw") >= minMeanWlen && col("_mw") <= maxMeanWlen
    val stopOk = col("_sr").isNotNull && col("_sr") >= minStopRatio
    val ttrOk = col("_ttr").isNotNull && col("_ttr") >= minTtr
    val repOk = col("_mw").isNotNull && (col("_dupf").isNull ||
      (col("_dupf") <= maxDupBigramFrac && col("_topf") <= maxTopBigramFrac))
    metrics.select(col("doc_id"), col("n_tokens"),
      lenOk.as("len_ok"), wlenOk.as("wlen_ok"), stopOk.as("stop_ok"),
      ttrOk.as("ttr_ok"), repOk.as("rep_ok"),
      (lenOk && wlenOk && stopOk && ttrOk && repOk).as("pass"))
      .transform(Presented(_, ordered, "doc_id"))
  }

  /**
   * Repetition metrics — the duplicate-n-gram quality gates (the
   * Gopher-rules family) applied before training: boilerplate and
   * degenerate generations show up as a high duplicate-n-gram fraction
   * or a single dominant n-gram. Per document with >= ngramN tokens
   * (shorter docs have no n-grams and emit no row, same contract as
   * [[fingerprints]]):
   *  - n_ngrams        — total word n-grams
   *  - dup_ngram_frac  — (n_ngrams - distinct) / n_ngrams
   *  - top_ngram_frac  — occurrences of the most frequent n-gram /
   *                      n_ngrams (ties don't matter: only the count is
   *                      used)
   * Single typed pass (one token array + one count map per row), no
   * shuffle; rounding is [[TextOps.round3]] = Spark's round().
   */
  def repetitionMetrics(df: DataFrame, idCol: String, textCol: String,
      ngramN: Int = 2, ordered: Boolean = true): DataFrame = {
    val outSchema = StructType(Seq(
      df.schema(df.schema.fieldIndex(idCol)).copy(name = "doc_id"),
      StructField("n_ngrams", LongType, nullable = true),
      StructField("dup_ngram_frac", DoubleType, nullable = true),
      StructField("top_ngram_frac", DoubleType, nullable = true)))
    df.select(col(idCol), col(textCol).cast("string"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          if (r.isNullAt(1)) Iterator.empty
          else {
            val toks = TextOps.tokensJvm(r.getString(1))
            val n = toks.length - ngramN + 1
            if (n <= 0) Iterator.empty
            else {
              val counts = new java.util.HashMap[String, Int]()
              var top = 0
              var i = 0
              val sb = new java.lang.StringBuilder()
              while (i < n) {
                sb.setLength(0)
                var o = 0
                while (o < ngramN) {
                  if (o > 0) sb.append(' ')
                  sb.append(toks(i + o))
                  o += 1
                }
                val c = counts.merge(sb.toString, 1, Integer.sum)
                if (c > top) top = c
                i += 1
              }
              Iterator.single(Row(r.get(0), n.toLong,
                TextOps.round3((n - counts.size).toDouble / n),
                TextOps.round3(top.toDouble / n)))
            }
          }
        }
      }(Encoders.row(outSchema))
      .transform(Presented(_, ordered, "doc_id"))
  }

  /**
   * Split documents into fixed-size token windows with optional overlap
   * — the chunking pass that precedes tokenization/embedding in a
   * training or retrieval pipeline. Chunk starts advance by
   * `chunkTokens - overlapTokens`; every chunk except possibly the last
   * carries `chunkTokens` tokens; a chunk is emitted for every start
   * offset below the token count (no tail suppression — deterministic
   * and slice-expressible in any engine). Pure Catalyst projection +
   * explode — tokenize/sequence/slice/array_join all stay inside
   * WholeStageCodegen (no typed mapPartitions, no object
   * serialization boundary): no shuffle, chunks stay colocated with
   * their document's partition. Output:
   * (doc_id, chunk_idx, n_tokens, chunk_text).
   */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 128, overlapTokens: Int = 0,
      ordered: Boolean = true): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive, got $chunkTokens")
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"overlap must be in [0, chunkTokens), got $overlapTokens")
    val stride = chunkTokens - overlapTokens
    // tokens() never yields an empty array for non-null text (split of
    // "" is [""]), so n >= 1 and the chunk count is (n-1)/stride + 1;
    // greatest(0) still clamps the sequence bound because sequence(0, x)
    // COUNTS DOWN for x < 0 instead of returning empty
    val lastChunk = greatest(
      floor((size(col("_toks")) - 1) / lit(stride)).cast("int"), lit(0))
    val chunk = slice(col("_toks"), col("chunk_idx") * stride + 1, lit(chunkTokens))
    df.select(col(idCol).as("doc_id"),
        TextOps.tokens(col(textCol).cast("string")).as("_toks"))
      .filter(col("_toks").isNotNull)
      .select(col("doc_id"), col("_toks"),
        explode(sequence(lit(0), lastChunk)).as("chunk_idx"))
      .select(col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        size(chunk).cast("long").as("n_tokens"),
        array_join(chunk, " ").as("chunk_text"))
      .transform(Presented(_, ordered, "doc_id", "chunk_idx"))
  }

  /** (pattern, replacement) pairs for [[redactPii]]: email, NANP-style
    * phone, IPv4 — ASCII regexes that Java and RE2 engines read
    * identically. */
  val DefaultRedactions: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b\\d{3}-\\d{3}-\\d{4}\\b" -> "<PHONE>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<IP>")

  /**
   * PII scrubbing: replace every match of each pattern with its tag and
   * count the redactions — the privacy pass a corpus runs before
   * training. Replacements apply in sequence and each pattern's count
   * is taken on the text AS IT STANDS when that pattern runs (the
   * already-redacted prefix stages), so `n_redactions` is exactly the
   * number of replacements performed — a match swallowed by an earlier
   * pattern (an IPv4 inside an email's local part, say) is not
   * double-counted. Pure codegen'd Column projection — two regex scans
   * per pattern per row, no shuffle, no UDF. Output:
   * (doc_id, redacted_text, n_redactions).
   */
  def redactPii(df: DataFrame, idCol: String, textCol: String,
      redactions: Seq[(String, String)] = DefaultRedactions,
      ordered: Boolean = true): DataFrame = {
    val text = col(textCol).cast("string")
    val (redacted, counts) =
      redactions.foldLeft((text, Seq.empty[Column])) {
        case ((acc, cs), (pat, tag)) =>
          val n = size(regexp_extract_all(acc, lit(pat), lit(0))).cast("long")
          (regexp_replace(acc, pat, tag), cs :+ n)
      }
    df.select(
      col(idCol).as("doc_id"),
      redacted.as("redacted_text"),
      counts.reduce(_ + _).as("n_redactions"))
      .transform(Presented(_, ordered, "doc_id"))
  }

  /**
   * Top-k characteristic terms per document by tf-idf-style weighting —
   * the keyword-extraction / topic-tagging pass of a corpus pipeline.
   *
   * The idf factor is the RATIONAL form N / df (not log(N / df)):
   * integer counts through one IEEE division and one multiplication are
   * bit-identical across engines, which makes the operator exactly
   * oracle-checkable; production scoring that wants the log dampening
   * swaps one expression, the plan shape is unchanged. Ranking ties
   * break on the term string, so top-k membership is deterministic.
   *
   * Scale shape: the document frequency is a KEYED aggregate
   * (`groupBy(term).agg(count)`) equi-joined back onto the tf rows —
   * never a window over the term partition. Term frequency is Zipfian:
   * a window partition is one task, so the hottest terms would put
   * ~n_docs rows in a single task with no map-side combine — a
   * straggler/OOM at corpus scale. The keyed aggregate gets partial
   * (map-side) combine, collapsing hot keys before the shuffle, and
   * the term-keyed equi-join is AQE-skew-join eligible. The per-doc
   * ranking window that follows partitions on doc_id, which is
   * high-cardinality and bounded per document. The corpus size N joins
   * in as a broadcast one-row aggregate — never a driver action, the
   * plan stays lazy.
   */
  def tfIdfTopTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, ordered: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = df
      .select(col(idCol).as("doc_id"),
        explode(TextOps.tokens(col(textCol).cast("string"))).as("term"))
      .filter(col("term") =!= "")
    // persisted: tf feeds BOTH the join probe side and the df aggregate.
    // Without it each branch re-scans and re-tokenizes the corpus (the
    // branches prune differently — df needs only distinct (doc, term) —
    // so even exchange reuse can't unify them). |tf| is counts, smaller
    // than the text it summarizes.
    val tf = graft.CacheScope.track(terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val nDocs = df.select(col(idCol)).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("weight").desc, col("term").asc)
    val dfByTerm = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(dfByTerm, "term")
      .join(broadcast(nDocs))
      .withColumn("weight",
        col("tf").cast("double") * col("n_docs").cast("double") / col("df").cast("double"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk"), col("term"), round(col("weight"), 4).as("weight"))
      .transform(Presented(_, ordered, "doc_id", "rnk"))
  }

  /**
   * Stopword-profile language ID: score each candidate language by hits
   * from its function-word list; highest score wins, ties broken by list
   * order. A cheap n-gram-free heuristic that runs as a projection; for
   * production language ID swap in char-n-gram profiles via the same
   * shape (score columns + greatest()).
   */
  def langIdExpr(toks: Column, profiles: Seq[(String, Seq[String])]): Column = {
    val scores = profiles.map { case (lang, words) =>
      lang -> size(filter(toks, w => w.isin(words.map(lit): _*)))
    }
    // tie-break by profile order: lang i wins if score_i >= max(later scores)
    scores.init.zipWithIndex.foldRight(lit(scores.last._1): Column) {
      case (((lang, score), i), elseExpr) =>
        val rest = scores.drop(i + 1).map(_._2)
        val maxRest = if (rest.sizeIs == 1) rest.head else greatest(rest: _*)
        when(score >= maxRest, lit(lang)).otherwise(elseExpr)
    }
  }

  val DefaultLangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "es" -> Seq("el", "la", "los"),
    "de" -> Seq("der", "die", "das"),
    "fr" -> Seq("le", "les", "une"))

  /** JVM twin of [[langIdExpr]]'s winner selection: first lang i whose
   *  score >= max of all later scores; last lang is the fallthrough. */
  def pickLangJvm(langs: IndexedSeq[String], scores: Array[Int]): String = {
    var i = 0
    while (i < scores.length - 1) {
      var maxRest = Int.MinValue
      var j = i + 1
      while (j < scores.length) { if (scores(j) > maxRest) maxRest = scores(j); j += 1 }
      if (scores(i) >= maxRest) return langs(i)
      i += 1
    }
    langs.last
  }

  /**
   * Language distribution of a corpus: per-row language ID + one hash
   * aggregation. Scoring runs as a typed stage (the expression form
   * re-tokenizes once per profile, interpreted); [[langIdExpr]] remains
   * the Column form and the unit suite pins both to identical outputs.
   */
  def langDistribution(df: DataFrame, textCol: String,
      profiles: Seq[(String, Seq[String])] = DefaultLangProfiles,
      ordered: Boolean = true): DataFrame = {
    val langs = profiles.map(_._1).toIndexedSeq
    val wordSets = profiles.map(_._2.toSet).toIndexedSeq
    val outSchema = StructType(Seq(StructField("predicted_lang", StringType, nullable = true)))
    df.select(col(textCol).cast("string"))
      .mapPartitions { rows =>
        rows.map { r =>
          val lang =
            // null text: every score is null -> every `when` falls through
            // to the last profile, matching langIdExpr / the SQL CASE
            if (r.isNullAt(0)) langs.last
            else {
              val toks = TextOps.tokensJvm(r.getString(0))
              val scores = new Array[Int](wordSets.length)
              var i = 0
              while (i < toks.length) {
                var p = 0
                while (p < wordSets.length) {
                  if (wordSets(p).contains(toks(i))) scores(p) += 1
                  p += 1
                }
                i += 1
              }
              pickLangJvm(langs, scores)
            }
          Row(lang)
        }
      }(Encoders.row(outSchema))
      .groupBy("predicted_lang")
      .agg(count(lit(1)).as("n"))
      .transform(Presented(_, ordered, "predicted_lang"))
  }

  /**
   * Per-document bottom-k fingerprint over word bigram shingles (docs with
   * < 2 tokens are skipped). Projection-only, computed as a typed stage —
   * the tokenize/shingle/md5/sort chain is a higher-order expression
   * pipeline that would evaluate interpreted; the JVM twins keep the
   * exact md5/lexicographic semantics (see [[TextOps.bottomKSketch]] for
   * the Column form of the same sketch).
   */
  def fingerprints(df: DataFrame, idCol: String, textCol: String, k: Int = 4,
      ordered: Boolean = true): DataFrame = {
    val outSchema = StructType(Seq(
      df.schema(df.schema.fieldIndex(idCol)).copy(name = "doc_id"),
      StructField("fingerprint", StringType, nullable = true)))
    df.select(col(idCol), col(textCol).cast("string"))
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.flatMap { r =>
          if (r.isNullAt(1)) Iterator.empty
          else {
            val toks = TextOps.tokensJvm(r.getString(1))
            if (toks.length < 2) Iterator.empty
            else {
              val hashes = TextOps.shinglesJvm(toks, 2).map(TextOps.md5HexJvm(md, _))
              java.util.Arrays.sort(hashes, Ordering[String])
              Iterator.single(Row(r.get(0), hashes.take(k).mkString(",")))
            }
          }
        }
      }(Encoders.row(outSchema))
      .transform(Presented(_, ordered, "doc_id"))
  }

  /**
   * Per-document DEFLATE compression ratio — the cheap
   * whole-document redundancy signal (RefinedWeb-family pipelines gate
   * on it: near-1 ratios mean high-entropy noise/binary junk, very low
   * ratios mean templated/repeated content; prose sits in a band).
   * Complements [[repetitionMetrics]], which only sees n-gram-level
   * repetition.
   *
   * One typed pass, one `Deflater` per partition (reset per row — the
   * per-row-allocation cost is what the partition prologue exists to
   * avoid), zero shuffle. DEFLATE output for a fixed level is
   * deterministic for a given zlib build, so the ratio is
   * partitioning/run-stable (pinned) but NOT an engine-portable
   * oracle quantity — golden-tested, the multimodal-stub precedent.
   * Null texts are excluded ([[fingerprints]] contract).
   */
  def compressionRatio(df: DataFrame, idCol: String, textCol: String,
      level: Int = java.util.zip.Deflater.DEFAULT_COMPRESSION,
      ordered: Boolean = true): DataFrame = {
    val outSchema = StructType(Seq(
      df.schema(df.schema.fieldIndex(idCol)).copy(name = "doc_id"),
      StructField("n_bytes", LongType, nullable = false),
      StructField("n_compressed", LongType, nullable = false),
      StructField("ratio", DoubleType, nullable = false)))
    df.select(col(idCol), col(textCol).cast("string"))
      .mapPartitions { rows =>
        val deflater = new java.util.zip.Deflater(level, true)
        val buf = new Array[Byte](8192)
        rows.flatMap { r =>
          if (r.isNullAt(1)) Iterator.empty
          else {
            val bytes = r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8)
            deflater.reset()
            deflater.setInput(bytes)
            deflater.finish()
            var n = 0L
            while (!deflater.finished()) n += deflater.deflate(buf)
            val ratio =
              if (bytes.length == 0) 1.0 else n.toDouble / bytes.length
            Iterator.single(Row(r.get(0), bytes.length.toLong, n,
              math.rint(ratio * 10000) / 10000))
          }
        }
      }(Encoders.row(outSchema))
      .transform(Presented(_, ordered, "doc_id"))
  }

  /**
   * Top-k most frequent terms per group (per-language/per-source
   * vocabulary report — the corpus-inspection sibling of
   * [[tfIdfTopTerms]], which ranks within documents). One explode +
   * one map-side-combined (group, word) count, then a rank window
   * PARTITIONED BY GROUP over the vocabulary-bounded count table —
   * Spark's rank-limit pushdown (`WindowGroupLimit`, pinned in
   * TopKSampleSpec) keeps the per-group sort bounded by k per
   * partition, so a Zipf vocabulary never funnels through one task's
   * full sort. Ties break alphabetically for a total order. Null
   * groups form their own group; empty tokens are dropped.
   */
  def frequentTerms(df: DataFrame, groupCol: String, textCol: String, k: Int,
      ordered: Boolean = true): DataFrame = {
    require(k > 0, s"frequentTerms: k must be positive, got $k")
    val counts = df
      .select(col(groupCol).as("group"),
        explode(filter(TextOps.tokens(col(textCol)), w => w =!= "")).as("term"))
      .groupBy("group", "term").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("group").orderBy(col("cnt").desc, col("term").asc)
    counts.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .transform(Presented(_, ordered, "group", "rank"))
  }
}
