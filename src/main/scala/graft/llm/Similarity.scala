package graft.llm

import graft.Presented

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, ByteType, DoubleType, FloatType, IntegerType, LongType, ShortType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/**
 * Similarity search over an embedding column (`array<float>`).
 *
 * Numeric discipline: vectors are quantized to integer milliunits
 * (round(x*1000)) before any arithmetic. Dot products and squared norms
 * are then exact BIGINT sums, and the final cosine (int / sqrt(int*int))
 * is a deterministic IEEE double — bit-identical across engines, so
 * results are verifiable against an external oracle and reproducible
 * across cluster runs regardless of partitioning or summation order.
 * Null embeddings and ZERO-NORM vectors (every |component| < 0.0005,
 * quantizing to all zeros) are excluded from every search path — their
 * cosine is 0/0, and NaN ranks differently in a JVM heap (last) than in
 * a Spark `desc` window (first), so admitting them would make results
 * depend on the execution path taken.
 *
 * Execution shape: quantization/norms and the per-pair dot products run
 * in typed `mapPartitions` stages (plain `while` loops over the long
 * arrays). The declarative forms ([[quantize]]/[[dot]]) are
 * Column expressions; the pair hot loop does not use them (the fold form
 * of `dot` evaluates interpreted, measured ~10x slower), and tests pin
 * the typed twins against them.
 *
 * Two search shapes:
 *  - [[Similarity.cosineTopK]]: brute force. The query set is broadcast;
 *    the corpus is scanned once, never shuffled. O(|Q| * N) dot products —
 *    the right baseline when |Q| is small or recall must be exact.
 *  - [[Similarity.bucketedTopK]]: sign-prefix LSH buckets (IVF-style
 *    coarse quantization). Corpus and queries are bucketed by the sign
 *    pattern of the leading dimensions; the join is bucket-equality, so
 *    each query only scores its bucket's candidates — the scale path,
 *    trading recall for a 2^bits candidate reduction. Bucket width
 *    defaults to [[autoBucketBits]] of the corpus size, so per-bucket
 *    pair work stays bounded as the corpus grows. More buckets,
 *    multi-probe, or a learned coarse quantizer slot into the same join
 *    shape.
 */
object Similarity {

  /** Quantize array<float> to exact integer milliunits: array<bigint>.
   *  Declarative twin of the search paths' typed prep stage, and the
   *  quantizer [[Pca]]'s moment passes (`momentStats`, `partialMoments`)
   *  read their vectors through. */
  def quantize(vec: Column, scale: Int = 1000): Column =
    transform(vec, x => round(x.cast("double") * scale).cast("long"))

  /** Exact BIGINT dot product of two quantized vectors over their common
   *  prefix — the native codegen'd [[graft.plans.LongArrayDot]] expression
   *  (the equivalent `aggregate(zip_with(...))` fold evaluates interpreted,
   *  ~10x slower; the fold form is pinned as its spec in tests). */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.plans.LongArrayDot(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Cosine similarity of quantized vectors given precomputed norms. */
  def cosine(dotCol: Column, n2a: Column, n2b: Column): Column =
    dotCol / sqrt(n2a.cast("double") * n2b.cast("double"))

  /** Sign-pattern bucket key over the first `bits` dimensions ("0101...").
   *  Buckets are prefix-nested: agreement on b bits implies agreement on
   *  any b' < b, so recall only grows as bits shrink. Weak when the
   *  leading dimensions are biased (all-positive dim 1 contributes zero
   *  split) — see [[srpBucket]] for the hyperplane fix. */
  def signBucket(qv: Column, bits: Int): Column =
    concat((1 to bits).map(i =>
      when(element_at(qv, i) > 0, lit("1")).otherwise(lit("0"))): _*)

  /** Deterministic signed-random-projection hyperplanes: md5-derived
   *  integer weights in [-8, 7] per (plane, dimension) — reproducible
   *  across JVMs and engines with no RNG state. */
  private[llm] def srpWeights(bits: Int, dim: Int): Array[Array[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(bits) { j =>
      Array.tabulate(dim) { i =>
        ((md.digest(s"$j:$i".getBytes("UTF-8"))(0) & 0xf) - 8).toLong
      }
    }
  }

  /**
   * Signed-random-projection bucket key: bit j is the sign of the
   * quantized vector's dot product with deterministic hyperplane j
   * ([[srpWeights]]). Proper cosine-LSH — collision probability is
   * 1 - angle/pi per bit regardless of how individual dimensions are
   * distributed, where [[signBucket]] degenerates when leading dims are
   * biased (an all-positive dim splits nothing). Each hyperplane dot is
   * the native codegen'd [[graft.plans.LongArrayDot]] against a literal
   * weight array, so the whole key stays in WholeStageCodegen.
   */
  def srpBucket(qv: Column, bits: Int, dim: Int): Column =
    concat(srpWeights(bits, dim).toIndexedSeq.map { w =>
      when(dot(qv, typedlit(w.toSeq)) > 0, lit("1")).otherwise(lit("0"))
    }: _*)

  /**
   * Bucket-bit sizing for a corpus of `n` vectors: enough sign bits that
   * the expected bucket holds ~`targetBucketSize` vectors, so per-bucket
   * pair work stays bounded as the corpus grows (the round-3 caveat:
   * a fixed small bit count is quadratic-per-bucket at corpus scale).
   * Callers using [[signBucket]] must ALSO cap by the embedding
   * dimension — each sign-prefix bit reads one dimension, and an
   * out-of-range `element_at` THROWS under ANSI mode (the auto paths in
   * [[nearDupPairs]]/[[bucketedTopK]] do this via the probed dim; SRP
   * hyperplanes are sized to the dim and need no cap).
   */
  def autoBucketBits(n: Long, targetBucketSize: Int = 1024, maxBits: Int = 32): Int = {
    require(targetBucketSize > 0)
    val needed = math.ceil(math.log(math.max(1.0, n.toDouble / targetBucketSize)) /
      math.log(2.0)).toInt
    math.min(maxBits, math.max(1, needed))
  }

  /** JVM twin of [[quantize]] for one component: Spark `round(double)` is
   *  BigDecimal.valueOf(d).setScale(0, HALF_UP). */
  private[llm] def quantizeJvm(x: Double, scale: Int = 1000): Long =
    java.math.BigDecimal.valueOf(x * scale)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue

  /**
   * Typed prep stage: one `mapPartitions` pass computes the quantized
   * vector and its squared norm — the per-row work that, as higher-order
   * Column expressions, would evaluate interpreted. Output:
   * (idAs, _v array<bigint>, _n2 bigint). A null input vector — or a
   * vector containing a null ELEMENT — yields null _v/_n2, matching the
   * declarative forms, where transform/aggregate propagate null (a naive
   * `getSeq[Double]` would silently unbox a null element to 0.0 and
   * produce a finite cosine the spec twin nulls out).
   */
  private[llm] def prepTyped(df: DataFrame, idCol: String, idAs: String,
      vecCol: String): DataFrame = {
    val in = df.select(col(idCol).as(idAs), col(vecCol).cast("array<double>").as("_raw"))
    val outSchema = StructType(Seq(
      in.schema(idAs),
      StructField("_v", ArrayType(LongType, containsNull = false), nullable = true),
      StructField("_n2", LongType, nullable = true)))
    in.mapPartitions { rows =>
      rows.map { r =>
        val raw = if (r.isNullAt(1)) null else r.getSeq[Any](1)
        if (raw == null || raw.contains(null)) Row(r.get(0), null, null)
        else {
          val v = new Array[Long](raw.length)
          var n2 = 0L
          var i = 0
          while (i < raw.length) {
            val q = quantizeJvm(raw(i).asInstanceOf[Double])
            v(i) = q
            n2 += q * q
            i += 1
          }
          Row(r.get(0), v.toSeq, n2)
        }
      }
    }(Encoders.row(outSchema))
  }


  /** JVM ordering agreeing with Catalyst's `<` on the id column, for the
   *  types ids actually take. None → callers fall back to a plan that
   *  never compares ids JVM-side. (String caveat: Catalyst compares
   *  UTF-8 bytes, Java UTF-16 code units — they differ only beyond the
   *  BMP, which identifiers don't reach.) */
  private[llm] def idOrdering(dt: org.apache.spark.sql.types.DataType): Option[Ordering[Any]] = dt match {
    case ByteType | ShortType | IntegerType | LongType =>
      Some(Ordering.by((v: Any) => v.asInstanceOf[java.lang.Number].longValue))
    case FloatType | DoubleType =>
      Some(Ordering.by((v: Any) => v.asInstanceOf[java.lang.Number].doubleValue))
    case org.apache.spark.sql.types.StringType =>
      Some(Ordering.by((v: Any) => v.asInstanceOf[String]))
    case _ => None
  }

  /**
   * Typed pair scoring + map-side top-k pre-reduction. Input columns
   * (qid, cid, _vq, _vc, _na, _nb); output (qid, cid, _dot, _na, _nb).
   * The integer dot product runs in a plain `while` loop (the interpreted
   * `aggregate()` fold here was 9.6x the oracle), and — when the cid type
   * has a JVM ordering agreeing with the ranking window's `cid` ASC
   * ([[idOrdering]]) — each partition keeps only the k best (cosine desc,
   * cid asc) candidates per query. Heaps are keyed by the RAW qid value
   * (hash equality — a numeric projection would collide distinct longs
   * above 2^53), and the cosine used for selection is the same double
   * expression the final window recomputes (zero norms are excluded
   * upstream, so it is never NaN), so selection agrees bit-for-bit with
   * the window ranking and only numPartitions * |Q| * k rows shuffle.
   * Unordered id types skip the pre-reduce — correct, just shuffling all
   * pairs.
   */
  private[llm] def scorePairs(pairs: DataFrame, k: Int): DataFrame = {
    val schema = pairs.schema
    val outSchema = StructType(Seq(schema("qid"), schema("cid"),
      StructField("_dot", LongType, nullable = true),
      StructField("_na", LongType, nullable = true),
      StructField("_nb", LongType, nullable = true)))
    val cidOrd = idOrdering(schema("cid").dataType)
    pairs.mapPartitions { rows =>
      def score(r: Row): Row = {
        val va = r.getSeq[Long](2)
        val vb = r.getSeq[Long](3)
        var d = 0L
        var i = 0
        val n = math.min(va.length, vb.length)
        while (i < n) { d += va(i) * vb(i); i += 1 }
        Row(r.get(0), r.get(1), d, r.getLong(4), r.getLong(5))
      }
      cidOrd match {
        case None => rows.map(score)
        case Some(ord) =>
          // per-qid bounded heap, worst candidate on top (min-heap by rank
          // order): rank (cos desc, cid asc); the queue dequeues its max,
          // i.e. the current worst survivor.
          type Cand = (Double, Any, Row) // (cos, cid, scored row)
          val byRank = Ordering.by[Cand, Double](-_._1)
            .orElse(Ordering.by[Cand, Any](_._2)(ord))
          val heaps = new java.util.HashMap[Any, scala.collection.mutable.PriorityQueue[Cand]]()
          rows.foreach { r =>
            val s = score(r)
            val cos = s.getLong(2).toDouble /
              math.sqrt(s.getLong(3).toDouble * s.getLong(4).toDouble)
            val cand = (cos, s.get(1), s)
            val heap = heaps.computeIfAbsent(s.get(0),
              _ => scala.collection.mutable.PriorityQueue.empty[Cand](byRank))
            if (heap.size < k) heap.enqueue(cand)
            else if (byRank.lt(cand, heap.head)) { heap.dequeue(); heap.enqueue(cand) }
          }
          import scala.jdk.CollectionConverters._
          heaps.values.asScala.iterator.flatMap(_.iterator.map(_._3))
      }
    }(Encoders.row(outSchema))
  }

  /** Final ranking window over the scored survivors. The window sort is
   *  semantic (rnk); the trailing total order is presentation only. */
  private[llm] def ranked(scoredPairs: DataFrame, k: Int,
      ordered: Boolean = true): DataFrame = {
    val cos = cosine(col("_dot"), col("_na"), col("_nb"))
    val w = Window.partitionBy("qid").orderBy(cos.desc, col("cid"))
    scoredPairs
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("cid"), round(cos, 4).as("cos"))
      .transform(Presented(_, ordered, "qid", "rnk"))
  }

  /** Join sides with the prep columns renamed for an unambiguous join.
   *  Null embeddings are dropped here (same contract as cosineTopK /
   *  nearDupPairs) — a null _v would otherwise land in signBucket's
   *  all-zeros bucket and NPE the typed pair scoring. */
  private[llm] def prepSides(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String): (DataFrame, DataFrame) = {
    val c = prepTyped(corpus, idCol, "cid", vecCol)
      .filter(col("_v").isNotNull && col("_n2") > 0)
      .withColumnRenamed("_v", "_vc").withColumnRenamed("_n2", "_nb")
    val q = prepTyped(queries, idCol, "qid", vecCol)
      .filter(col("_v").isNotNull && col("_n2") > 0)
      .withColumnRenamed("_v", "_vq").withColumnRenamed("_n2", "_na")
    (c, q)
  }

  private[llm] val PairCols = Seq("qid", "cid", "_vq", "_vc", "_na", "_nb").map(col)

  /**
   * Brute-force cosine top-k: for each query vector, the k most similar
   * corpus vectors (self excluded, null embeddings skipped), ranked by
   * cosine desc then id. Output: (qid, rnk, cid, cos).
   *
   * The query set is collected and broadcast as a plain array — brute
   * force is the small-|Q| exact baseline by contract, and an explicit
   * broadcast moves the same bytes a broadcast *join* would, without
   * materializing |Q| * N pair rows through the row serde (the pair rows
   * each carry two quantized vectors; at dim 64 the serde dominated the
   * dot products ~10:1). Scoring is then ONE corpus scan — no join, no
   * shuffle of scored pairs — with a per-query bounded heap per
   * partition, so the only shuffled rows are the numPartitions * |Q| * k
   * survivors entering the ranking window. Non-numeric, non-string ids
   * (no JVM ordering agreeing with the window's cid tie-break) skip the
   * pre-reduce and emit every scored pair — correct, just more shuffle.
   */
  def cosineTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, ordered: Boolean = true): DataFrame = {
    val qPrep = prepTyped(queries, idCol, "qid", vecCol)
      .filter(col("_v").isNotNull && col("_n2") > 0)
    val cPrep = prepTyped(corpus, idCol, "cid", vecCol)
      .filter(col("_v").isNotNull && col("_n2") > 0)
    val qs = qPrep.collect().map(r => (r.get(0), r.getSeq[Long](1).toArray, r.getLong(2)))
    val qB = corpus.sparkSession.sparkContext.broadcast(qs)
    val cidOrd = idOrdering(cPrep.schema("cid").dataType)
    val outSchema = StructType(Seq(qPrep.schema("qid"), cPrep.schema("cid"),
      StructField("_dot", LongType, nullable = true),
      StructField("_na", LongType, nullable = true),
      StructField("_nb", LongType, nullable = true)))
    val survivors = cPrep.mapPartitions { rows =>
      val queries = qB.value
      def dotOf(vq: Array[Long], vc: Seq[Long]): Long = {
        var d = 0L
        var i = 0
        val n = math.min(vq.length, vc.length)
        while (i < n) { d += vq(i) * vc(i); i += 1 }
        d
      }
      cidOrd match {
        case Some(ord) =>
          type Cand = (Double, Any, Row) // (cos, cid, scored row)
          // worst survivor on top: rank key (-cos, cid) ascending = better
          val byRank = Ordering.by[Cand, Double](-_._1)
            .orElse(Ordering.by[Cand, Any](_._2)(ord))
          val heaps = Array.fill(queries.length)(
            scala.collection.mutable.PriorityQueue.empty[Cand](byRank))
          rows.foreach { r =>
            val cid = r.get(0)
            val vc = r.getSeq[Long](1)
            val nb = r.getLong(2)
            var qi = 0
            while (qi < queries.length) {
              val (qid, vq, na) = queries(qi)
              if (qid != null && cid != null && qid != cid) {
                val d = dotOf(vq, vc)
                val cos = d.toDouble / math.sqrt(na.toDouble * nb.toDouble)
                val cand = (cos, cid, Row(qid, cid, d, na, nb))
                val heap = heaps(qi)
                if (heap.size < k) heap.enqueue(cand)
                else if (byRank.lt(cand, heap.head)) { heap.dequeue(); heap.enqueue(cand) }
              }
              qi += 1
            }
          }
          heaps.iterator.flatMap(_.iterator.map(_._3))
        case None =>
          rows.flatMap { r =>
            val cid = r.get(0)
            val vc = r.getSeq[Long](1)
            val nb = r.getLong(2)
            queries.iterator.collect {
              case (qid, vq, na) if qid != null && cid != null && qid != cid =>
                Row(qid, cid, dotOf(vq, vc), na, nb)
            }
          }
      }
    }(Encoders.row(outSchema))
    ranked(survivors, k, ordered)
  }

  /**
   * Embedding-cosine near-duplicate pairs: all corpus pairs sharing a
   * sign bucket whose cosine clears the threshold — the embedding-space
   * sibling of MinHash near-dup (same LSH-bucket join shape: candidate
   * generation never goes all-pairs; recall grows with fewer bucket
   * bits, cost with more). Output (id_a, id_b, cos) with id_a < id_b,
   * null ids/embeddings excluded.
   *
   * `bucketBits <= 0` (the default) sizes buckets from the corpus count
   * via [[autoBucketBits]]; pass an explicit width for deterministic
   * bucketing (oracle queries, recall experiments). Execution is one
   * shuffle on the bucket key with per-bucket JVM pair scoring — see
   * [[BucketPairs]].
   */
  def nearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bucketBits: Int = -1, srp: Boolean = false,
      ordered: Boolean = true): DataFrame = {
    val prep0 = prepTyped(corpus, idCol, "_id", vecCol)
      .filter(col("_v").isNotNull && col("_id").isNotNull && col("_n2") > 0)
    // the sizing count / dim probe read prep again — persist unless the
    // plan below consumes prep exactly once (explicit bits, no srp)
    val prep = if (bucketBits > 0 && !srp) prep0
      else graft.CacheScope.track(prep0.persist(StorageLevel.MEMORY_AND_DISK))
    // sign-prefix bits are capped by the embedding dimension — bit i
    // reads dimension i and an out-of-range element_at throws (ANSI)
    val bits =
      if (bucketBits > 0) bucketBits
      else math.min(autoBucketBits(prep.count()),
        if (srp) Int.MaxValue else probeDim(prep, "_v"))
    val withBkt = prep.withColumn("_bkt", bucketKey(prep, srp, bits))
    val idField = withBkt.schema("_id")
    val outSchema = StructType(Seq(
      idField.copy(name = "id_a"), idField.copy(name = "id_b"),
      StructField("cos", DoubleType, nullable = true)))
    BucketPairs(withBkt, Seq("_bkt"), "_id", outSchema, earliestOnly = false)(
        r => (r.get(0), r.getSeq[Long](1).toArray, r.getLong(2))) { (a, b) =>
      val va = a._2
      val vb = b._2
      var d = 0L
      var p = 0
      val n = math.min(va.length, vb.length)
      while (p < n) { d += va(p) * vb(p); p += 1 }
      val cos = d.toDouble / math.sqrt(a._3.toDouble * b._3.toDouble)
      if (cos >= threshold)
        Row(a._1, b._1, java.math.BigDecimal.valueOf(cos)
          .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue)
      else null
    }.transform(Presented(_, ordered, "id_a", "id_b"))
  }

  /** Embedding dimension probed from the prepped corpus — one limit(1)
   *  job against the (persisted) prep; only needed for SRP weights. */
  private def probeDim(prep: DataFrame, vCol: String): Int = {
    val head = prep.select(col(vCol)).limit(1).collect()
    if (head.isEmpty) 1 else head.head.getSeq[Long](0).length
  }

  /** Bucket key column: sign-prefix by default, SRP hyperplanes when
   *  `srp`. */
  private def bucketKey(prep: DataFrame, srp: Boolean, bits: Int,
      vCol: String = "_v"): Column =
    if (!srp) signBucket(col(vCol), bits)
    else srpBucket(col(vCol), bits, probeDim(prep, vCol))

  /** Flip 1-based bucket-key character `j1` ("0" <-> "1"). */
  private def flipBit(key: Column, j1: Column, bits: Int): Column =
    concat(
      key.substr(lit(1), j1 - 1),
      when(key.substr(j1, lit(1)) === "1", lit("0")).otherwise(lit("1")),
      key.substr(j1 + 1, lit(bits)))

  /**
   * Multi-probe key set for one query vector: its own bucket key plus
   * `probes - 1` keys with single bits flipped, lowest projection
   * margin first (multi-probe LSH: bit j's sign is least reliable when
   * |dot_j| is smallest, so Hamming-1 neighbors are probed in margin
   * order, not positional order). All keys are distinct (each flips a
   * different bit of the same base key), so a corpus bucket-mate joins
   * at most one probe — no pair dedup needed downstream. Entirely
   * Column-composed: the per-plane dots reuse the codegen'd
   * [[graft.plans.LongArrayDot]], the argsort is `array_sort` over
   * (margin, bit) structs — no UDF, no shuffle; query volume grows
   * `probes`x, the corpus side is untouched.
   */
  private[llm] def probeKeys(qv: Column, bits: Int, dim: Int, srp: Boolean,
      probes: Int): Column = {
    val dots: Seq[Column] =
      if (srp) srpWeights(bits, dim).toIndexedSeq.map(w => dot(qv, typedlit(w.toSeq)))
      else (1 to bits).map(i => element_at(qv, i))
    // same sign convention as signBucket/srpBucket: probes=1 degenerates
    // to exactly the single-bucket key
    val own = concat(dots.map(d => when(d > 0, lit("1")).otherwise(lit("0"))): _*)
    if (probes <= 1) array(own)
    else {
      val margins = array_sort(array(dots.zipWithIndex.map { case (d, i) =>
        struct(abs(d).as("m"), lit(i + 1).as("j1"))
      }: _*))
      val flips = (0 until math.min(probes - 1, bits)).map { r =>
        flipBit(own, element_at(margins, r + 1).getField("j1"), bits)
      }
      array(own +: flips: _*)
    }
  }

  /**
   * Bucketed ANN: both sides keyed by [[signBucket]]; candidates are
   * bucket-mates only. Same output shape as [[cosineTopK]] (queries with
   * an empty bucket return < k rows — approximate by design).
   * `bucketBits <= 0` (the default) sizes buckets from the corpus count —
   * the corpus prep is persisted so the sizing count doesn't recompute
   * the quantization pass the join then reads.
   *
   * `probes > 1` is the recall knob for high bit counts (recall falls
   * as bits rise — the documented trade above): each query also probes
   * `probes - 1` Hamming-1 neighbor buckets, lowest-margin bits first
   * ([[probeKeys]]). Join shape is unchanged — the query side explodes
   * `probes`x (the small side by contract), the corpus is still
   * bucketed once and never replicated.
   */
  def bucketedTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, bucketBits: Int = -1,
      srp: Boolean = false, probes: Int = 1, ordered: Boolean = true): DataFrame = {
    require(probes >= 1, s"probes must be >= 1, got $probes")
    val (c0, q0) = prepSides(corpus, queries, idCol, vecCol)
    val c1 = if (bucketBits > 0 && !srp) c0
      else graft.CacheScope.track(c0.persist(StorageLevel.MEMORY_AND_DISK))
    // same dimension cap as nearDupPairs: sign-prefix bit i reads dim i
    val bits =
      if (bucketBits > 0) bucketBits
      else math.min(autoBucketBits(c1.count()),
        if (srp) Int.MaxValue else probeDim(c1, "_vc"))
    val dim = if (srp) probeDim(c1, "_vc") else 0
    def key(vCol: String): Column =
      if (!srp) signBucket(col(vCol), bits)
      else srpBucket(col(vCol), bits, dim)
    val c = c1.withColumn("_bktc", key("_vc"))
    val q =
      if (probes <= 1) q0.withColumn("_bktq", key("_vq"))
      else q0.withColumn("_bktq",
        explode(probeKeys(col("_vq"), bits, dim, srp, probes)))
    val pairs = c
      .join(q, col("_bktq") === col("_bktc") && col("qid") =!= col("cid"))
      .select(PairCols: _*)
    ranked(scorePairs(pairs, k), k, ordered)
  }
}
