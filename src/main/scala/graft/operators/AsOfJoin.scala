package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Column, DataFrame}

/**
 * As-of join: for every left row, the single most recent right row with
 * `right.ts <= left.ts` within the same key — the temporal lookup
 * (latest quote for a trade, latest config for an event) that SQL
 * engines ship natively (DuckDB `ASOF JOIN`, the vq oracle) and Spark
 * lacks.
 *
 * Implementation is the UNION + CARRY-FORWARD shape, not a range join:
 * tag both sides, union on (key, ts), then one window per key ordered
 * by (ts, side) carries the latest right payload forward into each left
 * row. The payload travels as ONE struct column (null on left rows), so
 * `last(_, ignoreNulls = true)` atomically picks every carried column
 * from the SAME right row — per-column carries could mix rows when a
 * payload field is legitimately null. Right rows sort BEFORE left rows
 * at equal ts, so the match is inclusive — exactly DuckDB's
 * `ON l.ts >= r.ts`.
 *
 * Scale shape: ONE shuffle on the key (both sides together), one
 * windowed sort per key partition, zero joins — each row crosses the
 * wire once (`nearest` adds a second sort of the same exchange, still
 * one shuffle). The naive alternatives both die at scale: an
 * inequality join degenerates to a per-key cross product, and a "max
 * ts per left row" subquery re-scans the right side per row. A key hot
 * enough that its single window partition is the straggler moves to
 * [[bucketed]], which splits each key's timeline into fixed buckets
 * (parallel within the key) and stitches the carry across bucket
 * boundaries with a buckets-sized side table.
 *
 * The right side must be unique per (key, ts) — pre-aggregate if not
 * (ties would make "the" matched row nondeterministic in ANY engine;
 * DuckDB's ASOF picks one arbitrarily). Output: every left row + the
 * matched right payload columns (null when no right row matches).
 */
object AsOfJoin {

  private val Directions = Set("backward", "forward", "nearest")

  /**
   * @param left        probe side; all its columns survive
   * @param right       reference side, unique per (key, ts)
   * @param keyCols     equality keys
   * @param tsCol       ordering column name, present on both sides
   * @param payloadCols right-side columns to carry (must not collide
   *                    with left column names; alias on the way in)
   * @param direction   "backward" (default): latest right ts <= left ts;
   *                    "forward": earliest right ts >= left ts;
   *                    "nearest": whichever of the two is closer in
   *                    time, ties to backward (pandas merge_asof's
   *                    three direction knobs)
   * @param tolerance   max |left ts - matched ts| in the ts column's
   *                    units (seconds for timestamps — a cast to double
   *                    yields epoch seconds); a match farther than this
   *                    nulls out, exactly like no match. Under
   *                    "nearest" the tolerance gates each CANDIDATE, so
   *                    a too-far backward match loses to an in-range
   *                    forward one — pandas semantics
   */
  def apply(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      tsCol: String, payloadCols: Seq[String],
      direction: String = "backward",
      tolerance: Option[Double] = None): DataFrame = {
    val fr = tagFrames(left, right, keyCols, tsCol, payloadCols, direction, tolerance)
    // backward scans ascending (carry = latest ts <= current); forward
    // scans DESCENDING, so the carried row is the smallest ts >= current.
    // Right rows sort before left rows at equal ts either way: inclusive.
    def carry(asc: Boolean) = {
      val tsOrder = if (asc) col(tsCol).asc else col(tsCol).desc
      last(col("_payload"), ignoreNulls = true).over(
        Window.partitionBy(keyCols.map(col): _*)
          .orderBy(tsOrder, col("_side").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    }
    val nullPayload = lit(null).cast(fr.payloadType)
    val back = if (direction == "forward") nullPayload else carry(asc = true)
    val fwd = if (direction == "backward") nullPayload else carry(asc = false)
    fr.l.unionByName(fr.r)
      .withColumn("_cb", back)
      .withColumn("_cf", fwd)
      .filter(col("_side") === 1)
      .transform(project(fr, tsCol, payloadCols, direction, tolerance))
  }

  /**
   * The hot-key variant: identical semantics to [[apply]], with each
   * key's timeline split into `bucketSeconds`-wide buckets so a single
   * hot key parallelizes across its buckets instead of sorting in one
   * window task. The carry crosses bucket boundaries via a side table
   * with ONE row per (key, occupied bucket) — the last (backward) /
   * first (forward) right payload of each bucket, cumulatively carried
   * across buckets and equi-joined back. Costs two extra small shuffles
   * (the per-bucket aggregate and the carry-in join, both
   * buckets-sized, AQE-skew-eligible); use when a key's row count is
   * straggler-scale, [[apply]] otherwise. Pick `bucketSeconds` so a
   * hot key's densest bucket fits a task — same sizing rule as
   * [[RangeJoin]].
   *
   * `nearest` composes both carries over the same bucketed frames.
   * The ts column must be a timestamp (bucketing uses epoch seconds).
   *
   * Nothing is persisted: each of the 3 (backward/forward) to 5
   * (nearest) plan branches re-reads the inputs. When the inputs are
   * pruned columnar scans (or cheap projections of them), re-scanning
   * in parallel is CHEAPER than materializing rows-sized storage —
   * measured on the vq26d/e straggler fixture, the uncached variant is
   * what beats the plain single-window carry. A caller whose inputs
   * are expensive sub-plans checkpoints them before the call.
   */
  def bucketed(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      tsCol: String, payloadCols: Seq[String], bucketSeconds: Long,
      direction: String = "backward",
      tolerance: Option[Double] = None): DataFrame = {
    require(bucketSeconds > 0, s"bucketSeconds must be positive, got $bucketSeconds")
    val fr = tagFrames(left, right, keyCols, tsCol, payloadCols, direction, tolerance)
    val bkt = floor(col(tsCol).cast("double") / bucketSeconds).cast("long")
    // the union feeds the occupied-bucket distinct, the boundary
    // aggregate (once per carry direction) and the main carry path, each
    // re-reading the inputs (see scaladoc)
    val u = fr.l.unionByName(fr.r).withColumn("_bkt", bkt)
    // null-ts left rows get a null bucket: they join no carry-in row and
    // their in-bucket carry partition holds no right rows (right null-ts
    // rows were dropped in tagFrames), so they surface unmatched — the
    // same contract as apply()
    val bktKeys = keyCols :+ "_bkt"
    def inBucket(asc: Boolean) = {
      val tsOrder = if (asc) col(tsCol).asc else col(tsCol).desc
      last(col("_payload"), ignoreNulls = true).over(
        Window.partitionBy(bktKeys.map(col): _*)
          .orderBy(tsOrder, col("_side").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    }
    // carry-in per occupied bucket: the boundary payload of every
    // EARLIER (backward) / LATER (forward) bucket of the same key,
    // computed over the distinct (key, bucket) set of BOTH sides — a
    // left-only bucket still needs the carry from the right rows before
    // it. Buckets-sized, not rows-sized.
    val occupied = u.select(bktKeys.map(col): _*).distinct()
    def carryIn(asc: Boolean): DataFrame = {
      val boundary = u.filter(col("_side") === 0)
        .groupBy(bktKeys.map(col): _*)
        .agg((if (asc) max_by(col("_payload"), col(tsCol))
              else min_by(col("_payload"), col(tsCol))).as("_last"))
      val order = if (asc) col("_bkt").asc else col("_bkt").desc
      occupied.join(boundary, bktKeys, "left")
        .withColumn("_in", last(col("_last"), ignoreNulls = true).over(
          Window.partitionBy(keyCols.map(col): _*).orderBy(order)
            .rowsBetween(Window.unboundedPreceding, -1)))
        .select((bktKeys.map(col) :+ col("_in")): _*)
    }
    val nullPayload = lit(null).cast(fr.payloadType)
    def carried(asc: Boolean): DataFrame => DataFrame = df =>
      df.join(carryIn(asc).withColumnRenamed("_in", if (asc) "_inb" else "_inf"),
        bktKeys, "left")
    val withIns = (direction match {
      case "backward" => carried(asc = true)(u).withColumn("_inf", nullPayload)
      case "forward" => carried(asc = false)(u).withColumn("_inb", nullPayload)
      case _ => carried(asc = false)(carried(asc = true)(u))
    })
    val back = if (direction == "forward") nullPayload
      else coalesce(inBucket(asc = true), col("_inb"))
    val fwd = if (direction == "backward") nullPayload
      else coalesce(inBucket(asc = false), col("_inf"))
    withIns
      .withColumn("_cb", back)
      .withColumn("_cf", fwd)
      .filter(col("_side") === 1)
      .transform(project(fr, tsCol, payloadCols, direction, tolerance))
  }

  private case class Frames(l: DataFrame, r: DataFrame,
      leftCols: Seq[String], payloadType: StructType)

  /** Tag + align both sides: left rows carry a null payload struct,
    * right rows pack (own ts as `_match_ts`, payload cols) into one
    * struct so the carry is atomic. Validates the column contract. */
  private def tagFrames(left: DataFrame, right: DataFrame,
      keyCols: Seq[String], tsCol: String, payloadCols: Seq[String],
      direction: String, tolerance: Option[Double]): Frames = {
    require(keyCols.nonEmpty, "as-of join needs at least one equality key")
    require(payloadCols.nonEmpty, "as-of join needs at least one payload column")
    require(Directions.contains(direction),
      s"direction must be one of ${Directions.mkString("/")}, got '$direction'")
    tolerance.foreach(t => require(t >= 0, s"tolerance must be >= 0, got $t"))
    val leftCols = left.columns.toSeq
    require(payloadCols.intersect(leftCols).isEmpty,
      s"payload columns ${payloadCols.intersect(leftCols)} collide with left columns — alias the right side")
    // _match_ts is reserved too: a payload column with that name would
    // duplicate the struct field and make the tolerance check silently
    // read an ambiguous column instead of failing here
    val reserved = Seq("_side", "_payload", "_cb", "_cf", "_carried",
        "_match_ts", "_bkt", "_inb", "_inf", "_in", "_last")
      .filter(c => leftCols.contains(c) || right.columns.contains(c))
    require(reserved.isEmpty,
      s"columns $reserved collide with the operator's working columns — alias them away")
    val restCols = leftCols.filterNot(c => keyCols.contains(c) || c == tsCol)
    // the matched row's own ts travels inside the struct so the
    // tolerance check reads the SAME row the payload came from
    val payloadType = StructType(
      right.schema(tsCol).copy(name = "_match_ts") +: payloadCols.map(c => right.schema(c)))
    val l = left.select(
      (keyCols :+ tsCol).map(col) ++ Seq(
        lit(1).as("_side"),
        lit(null).cast(payloadType).as("_payload")) ++ restCols.map(col): _*)
    // a null-ts reference row would sort FIRST (nulls-first asc) and
    // carry its payload into every left row of the key — it carries no
    // "as of when" information, so it is dropped (left rows with a null
    // ts still come out, with no match: nothing "precedes" them)
    val r = right.filter(col(tsCol).isNotNull).select(
      (keyCols :+ tsCol).map(col) ++ Seq(
        lit(0).as("_side"),
        struct(col(tsCol).as("_match_ts") +: payloadCols.map(col): _*).as("_payload")) ++
        restCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    Frames(l, r, leftCols, payloadType)
  }

  /** Choose between the backward (`_cb`) and forward (`_cf`) carried
    * structs per the direction + tolerance contract, then project the
    * left columns + matched payload. The left-ts null guard matters for
    * the FORWARD scan: desc ordering puts nulls LAST, so a null-ts left
    * row would otherwise see every right row and "match" the
    * minimum-ts one — the contract is no match (backward gets this for
    * free from nulls-first asc ordering). */
  private def project(fr: Frames, tsCol: String, payloadCols: Seq[String],
      direction: String, tolerance: Option[Double]): DataFrame => DataFrame = { df =>
    val backGap = col(tsCol).cast("double") - col("_cb._match_ts").cast("double")
    val fwdGap = col("_cf._match_ts").cast("double") - col(tsCol).cast("double")
    def ok(c: Column, gap: Column): Column = {
      val matched = col(tsCol).isNotNull && c.isNotNull
      tolerance.fold(matched)(t => matched && gap <= t)
    }
    val backOk = ok(col("_cb"), backGap)
    val fwdOk = ok(col("_cf"), fwdGap)
    val chosen = direction match {
      case "backward" => when(backOk, col("_cb"))
      case "forward" => when(fwdOk, col("_cf"))
      // ties go backward (<=) — the pandas convention
      case "nearest" =>
        when(backOk && (!fwdOk || backGap <= fwdGap), col("_cb"))
          .when(fwdOk, col("_cf"))
    }
    df.withColumn("_carried", chosen)
      .select(fr.leftCols.map(col) ++
        payloadCols.map(c => col(s"_carried.$c").as(c)): _*)
  }
}
