package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verification row: its name, its Spark builder over a data dir, the
  * DuckDB SQL that must give the same rows, and whether it measures
  * Structured Streaming replay rather than batch execution (Bench reports
  * those rows' time apart, since their oracles are plain batch SQL). */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String,
    streaming: Boolean = false)

object Query {
  /** Concatenates row groups into one registry; a name may appear once. */
  def registry(groups: Seq[Query]*): Seq[Query] = {
    val rows = groups.flatten
    val dups = rows.groupBy(_.name).collect { case (n, rs) if rs.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    rows
  }
}
