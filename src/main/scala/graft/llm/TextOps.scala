package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/**
 * Text primitives for the large-scale training-data pipeline operators
 * (dedup, fingerprinting, text analysis). Two tiers with identical
 * semantics: per-row Catalyst Column expressions (codegen'd, no UDFs) for
 * everything the expression engine evaluates efficiently, and plain-JVM
 * twins (for typed `mapPartitions` stages) where expression evaluation
 * would be interpreted — higher-order folds over wide accumulator arrays.
 * Neither tier shuffles or moves data to the driver, so the operators
 * composed from these scale linearly with the input.
 *
 * Hashing discipline: all content hashes are md5 over UTF-8 bytes —
 * deterministic and engine-portable (the DuckDB oracle computes
 * bit-for-bit identical hex strings). MinHash uses *string-min over salted
 * md5 hex* rather than integer hashes: lexicographic min over uniformly
 * distributed hex strings is an identically distributed permutation-min,
 * and it avoids any cross-engine integer-hash mismatch.
 */
object TextOps {

  /** Whitespace tokenizer: trim, split on `\s+`. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** md5 hex (lowercase) of a string column's UTF-8 bytes. */
  def md5Hex(c: Column): Column = md5(c.cast("binary"))

  /** The typed inverted-index pass shared by [[NgramJaccard]] and
    * [[Decontamination]]: one (_id, _sh) row per DISTINCT fnv64
    * word-n-gram shingle per document (null texts and docs with fewer
    * than `shingleN` tokens emit nothing). The shingle string never
    * leaves the row — every downstream use is pure equality on the
    * 64-bit key ([[fnv64Jvm]] covers the collision trade). */
  def shingleIndex(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int): DataFrame = {
    val schema = StructType(Seq(
      df.schema(df.schema.fieldIndex(idCol)).copy(name = "_id"),
      StructField("_sh", LongType, nullable = false)))
    df.select(col(idCol), col(textCol).cast("string"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          if (r.isNullAt(1)) Iterator.empty
          else TextOps.shingleHashesJvm(
            TextOps.tokensJvm(r.getString(1)), shingleN).iterator
            .map(h => Row(r.get(0), h))
        }
      }(Encoders.row(schema))
  }

  /**
   * Distinct word n-gram shingle set from a token array. Requires
   * size(toks) >= n (callers filter first; Spark's `sequence` would
   * produce a descending range otherwise). Grams joined with single
   * spaces, matching the tokenizer.
   */
  def shingles(toks: Column, n: Int): Column = {
    require(n >= 1, s"shingle size must be >= 1, got $n")
    if (n == 1) array_distinct(toks)
    else {
      val gram = (i: Column) =>
        concat_ws(" ", (0 until n).map(o => element_at(toks, (i + lit(o)).cast("int"))): _*)
      array_distinct(transform(sequence(lit(1), size(toks) - lit(n - 1)), gram))
    }
  }

  /**
   * MinHash signature (JVM): k permutation-mins, where permutation i is
   * "lexicographic order of md5(i + ':' + shingle)" — lexicographic min
   * over lowercase hex is byte-order min, identical in Spark, the JVM and
   * the oracle. Cost: k * |shingles| md5 calls per row, no shuffle.
   */
  def minhashSignatureJvm(md: java.security.MessageDigest,
      shingles: Array[String], numHashes: Int): Array[String] =
    Array.tabulate(numHashes) { k =>
      val prefix = k.toString + ":"
      var best: String = null
      var i = 0
      while (i < shingles.length) {
        val h = md5HexJvm(md, prefix + shingles(i))
        if (best == null || h.compareTo(best) < 0) best = h
        i += 1
      }
      best
    }

  /**
   * LSH band keys (JVM) from a minhash signature: `bands` keys, each the
   * md5 of `rowsPerBand` concatenated signature entries. Two docs agree on
   * band b iff their signatures agree on all rows of that band — the
   * standard banding construction (collision prob = 1-(1-j^r)^b).
   */
  def bandKeysJvm(md: java.security.MessageDigest,
      sig: Array[String], bands: Int, rowsPerBand: Int): Array[String] =
    Array.tabulate(bands) { b =>
      val sb = new java.lang.StringBuilder(32 * rowsPerBand)
      var r = 0
      while (r < rowsPerBand) { sb.append(sig(b * rowsPerBand + r)); r += 1 }
      md5HexJvm(md, sb.toString)
    }

  private val HexChars = "0123456789abcdef".toCharArray

  /** JVM twin of [[md5Hex]]: lowercase hex md5 of the UTF-8 bytes. */
  def md5HexJvm(md: java.security.MessageDigest, s: String): String = {
    val digest = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexChars((digest(i) >> 4) & 0xf)
      out(2 * i + 1) = HexChars(digest(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** JVM twin of [[QualityClassifier.bucket]]: the md5 digest's first
    * 4 bytes read as an unsigned 32-bit value (== parsing the first 8
    * lowercase-hex chars) mod `dim` — the feature hash of the learned
    * gates, evaluated without the hex round-trip. */
  def bucketJvm(md: java.security.MessageDigest, tok: String, dim: Int): Int = {
    md.reset()
    val d = md.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    (v % dim).toInt
  }

  /** Exact twin of Spark's `round(col, scale)` on DOUBLE (BigDecimal
    * HALF_UP — the Decontamination cosine discipline). Non-finite
    * doubles pass through unchanged, as Spark's Round does —
    * BigDecimal.valueOf would throw on NaN/±Infinity, crashing the
    * task where the Catalyst path emitted the value. */
  def roundHalfUpJvm(d: Double, scale: Int): Double =
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) d
    else java.math.BigDecimal.valueOf(d)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue

  /** FNV-1a 64-bit over the string's chars — a stable, allocation-free
    * key-compression hash for shuffle keys whose downstream use is pure
    * equality counting (e.g. [[graft.llm.NgramJaccard]]'s inverted index:
    * a long key shuffles/aggregates several times cheaper than a ~25-char
    * shingle string, and a collision among ~2^20 distinct shingles has
    * probability ~2^-24 — the standard production dedup trade). NOT for
    * anything an oracle compares by value (those stay md5 strings). */
  def fnv64Jvm(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Distinct word-n-gram fnv64 hashes in first-seen order, computed by
    * streaming each window's chars (with the joining space) through the
    * FNV state — bit-identical to `fnv64Jvm(shinglesJvm(toks, n)(i))`
    * without materializing any shingle string. The allocation-free form
    * of the [[fnv64Jvm]] key-compression trade for the inverted-index
    * operators; distinctness is on the hash (a within-doc collision
    * collapses two shingles — the same ~2^-24 trade). */
  def shingleHashesJvm(toks: Array[String], n: Int): Array[Long] = {
    val set = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i + n <= toks.length) {
      var h = 0xcbf29ce484222325L
      var o = 0
      while (o < n) {
        if (o > 0) { h ^= ' '; h *= 0x100000001b3L }
        val t = toks(i + o)
        var j = 0
        while (j < t.length) { h ^= t.charAt(j); h *= 0x100000001b3L; j += 1 }
        o += 1
      }
      set.add(h)
      i += 1
    }
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    out
  }

  /** Per-position variant of [[shingleHashesJvm]] — NO distinct: element
    * i (0-based) is the fnv64 of the word n-gram starting at token i, so
    * the result has `max(0, toks.length - n + 1)` entries and a repeated
    * gram keeps every occurrence. The occurrence-level form the
    * duplicated-substring operators need ([[SubstringDedup]]): span
    * detection is about WHERE a gram repeats, which the distinct
    * first-seen set erases. Same streaming FNV state (bit-identical to
    * `fnv64Jvm(shinglesJvm(toks, n)(i))`) and the same ~2^-24
    * key-compression collision trade. */
  def gramHashesWithPosJvm(toks: Array[String], n: Int): Array[Long] = {
    val m = toks.length - n + 1
    if (m <= 0) return Array.emptyLongArray
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = 0xcbf29ce484222325L
      var o = 0
      while (o < n) {
        if (o > 0) { h ^= ' '; h *= 0x100000001b3L }
        val t = toks(i + o)
        var j = 0
        while (j < t.length) { h ^= t.charAt(j); h *= 0x100000001b3L; j += 1 }
        o += 1
      }
      out(i) = h
      i += 1
    }
    out
  }

  /** JVM twin of [[shingles]]: distinct word n-grams in first-seen order. */
  def shinglesJvm(toks: Array[String], n: Int): Array[String] = {
    val set = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i + n <= toks.length) {
      if (n == 1) set.add(toks(i))
      else {
        val sb = new java.lang.StringBuilder()
        var o = 0
        while (o < n) { if (o > 0) sb.append(' '); sb.append(toks(i + o)); o += 1 }
        set.add(sb.toString)
      }
      i += 1
    }
    set.toArray(new Array[String](set.size))
  }

  // -------------------------------------------------------------------
  // Plain-JVM twins of the Column primitives above, for the operators that
  // run as typed `Dataset.mapPartitions` stages (SURVEY.md §2.9 names
  // Dataset[T].map as the sanctioned escape hatch where expression-only
  // evaluation would be interpreted, e.g. SimHash's 64-wide fold). They
  // replicate Spark's `trim`/`split` semantics exactly — space-only trim,
  // Java-regex split with limit -1 — so a typed stage and an expression
  // stage tokenize identically and oracle hashes are unaffected.
  // -------------------------------------------------------------------

  /** Spark `trim` semantics: strips ASCII spaces only (not \t/\n, unlike
   *  java.lang.String#trim). */
  def sparkTrim(s: String): String = {
    var start = 0
    var end = s.length
    while (start < end && s.charAt(start) == ' ') start += 1
    while (end > start && s.charAt(end - 1) == ' ') end -= 1
    if (start == 0 && end == s.length) s else s.substring(start, end)
  }

  /** JVM twin of [[tokens]]: Spark's split keeps trailing empties
   *  (Java split with limit -1), so "" tokenizes to Array(""). */
  def tokensJvm(text: String): Array[String] = sparkTrim(text).split("\\s+", -1)

  /** JVM twin of Spark's `round(c, 3)` on doubles: BigDecimal.valueOf +
   *  HALF_UP — bit-identical to the expression form. */
  def round3(d: Double): Double =
    java.math.BigDecimal.valueOf(d).setScale(3, java.math.RoundingMode.HALF_UP).doubleValue

  /**
   * 64-bit SimHash over a token array (with multiplicity — repeated words
   * weigh more) as a 16-char lowercase hex string. Bit j of the result is
   * 1 iff the sum over tokens of (+1 if bit j of md5(token) else -1) is
   * positive. One md5 per token, bit-twiddling on the raw digest bytes —
   * plain JVM code meant for a `mapPartitions` stage (pass a per-partition
   * MessageDigest; `digest()` resets it after each call).
   */
  def simhashHexJvm(md: java.security.MessageDigest, toks: Array[String]): String = {
    val counts = new Array[Int](64)
    var t = 0
    while (t < toks.length) {
      val digest = md.digest(toks(t).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var j = 0
      while (j < 64) {
        // bit j = bit (7 - j%8) of digest byte j/8, MSB-first — identical
        // to the hex-digit math the DuckDB oracle computes
        if (((digest(j >> 3) >> (7 - (j & 7))) & 1) == 1) counts(j) += 1
        else counts(j) -= 1
        j += 1
      }
      t += 1
    }
    val sb = new java.lang.StringBuilder(16)
    var nib = 0
    while (nib < 16) {
      var v = 0
      var j = 0
      while (j < 4) {
        if (counts(4 * nib + j) > 0) v |= 1 << (3 - j)
        j += 1
      }
      sb.append(Character.forDigit(v, 16))
      nib += 1
    }
    sb.toString
  }

  /**
   * Bottom-k sketch of a shingle set: the k lexicographically smallest
   * md5(shingle) values joined with ','. A compact, mergeable document
   * fingerprint (bottom-k minwise sketch); identical-content docs share
   * it, and resemblance is estimable from sketch overlap.
   */
  def bottomKSketch(shingleCol: Column, k: Int): Column =
    concat_ws(",", slice(sort_array(transform(shingleCol, s => md5Hex(s))), 1, k))
}

/**
 * MinHash sketch parameters, checked when the plan is built, and the one
 * per-row sketch every MinHash pass computes: tokenize -> distinct word
 * n-gram shingles -> `numHashes` minhash components -> `bands` LSH band
 * keys. Built on the driver and shipped inside each pass's
 * `mapPartitions` closure; the passes differ only in how they key and
 * keep the rows.
 */
private[llm] final case class MinHashSketch(shingleN: Int, numHashes: Int, bands: Int) {
  // shingleN < 1 would give every text the one shingle "" — every doc a
  // duplicate of every other
  require(shingleN >= 1, s"shingle size must be >= 1, got $shingleN")
  require(bands >= 1 && numHashes % bands == 0,
    s"numHashes ($numHashes) must divide into bands ($bands)")

  /** (shingles, signature, band keys) of `text`, or null when the text
    * is null or has fewer than `shingleN` tokens. `md` is the caller's
    * per-partition digest. */
  def apply(md: java.security.MessageDigest,
      text: String): (Array[String], Array[String], Array[String]) =
    if (text == null) null
    else {
      val toks = TextOps.tokensJvm(text)
      if (toks.length < shingleN) null
      else {
        val shingles = TextOps.shinglesJvm(toks, shingleN)
        val sig = TextOps.minhashSignatureJvm(md, shingles, numHashes)
        (shingles, sig, TextOps.bandKeysJvm(md, sig, bands, numHashes / bands))
      }
    }
}
