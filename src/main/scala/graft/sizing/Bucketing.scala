package graft.sizing

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** T-shirt-size range bucketing (SURVEY §2.4, B1/B2).
  *
  * The reference linear-scans a dict of "lo_hi" string ranges
  * (impala_query_sizing.py:71–84; dicts py:14–28). Quirk stances:
  *  - Q1: the cache-GB range dict (py:22–28) is dead code — every call
  *    site passes a ttype != 'cache' (py:252–259, 370) so the pod ranges
  *    apply everywhere. We replicate that; the dead cache ranges are not
  *    reproduced.
  *  - Q2: the reference returns None for values > 999 (py:79–84); we make
  *    the function total with CUSTOM as the open-ended top bucket.
  *
  * A CASE WHEN chain is the Spark-idiomatic mapping: codegen'd, constant-
  * folded, no join, no UDF — at 100 TB this is a free per-row expression.
  */
object Bucketing {

  /** Pod-count ranges (py:14–20): 0–2 XSMALL, 3–10 SMALL, 11–20 MEDIUM,
    * 21–40 LARGE, 41+ CUSTOM. Bounds are inclusive on ceil'd values.
    */
  def tsize(pods: Column): Column =
    when(pods <= 2, "XSMALL")
      .when(pods <= 10, "SMALL")
      .when(pods <= 20, "MEDIUM")
      .when(pods <= 40, "LARGE")
      .otherwise("CUSTOM") // Q2: total (reference: None above 999)

  /** The t-shirt sizes in ascending order, as [[tsize]] names them. */
  val sizes: Seq[String] = Seq("XSMALL", "SMALL", "MEDIUM", "LARGE", "CUSTOM")

  /** Driver-side scalar twin of [[tsize]] (report assembly, py:370). */
  def tsizeValue(pods: Long): String =
    if (pods <= 2) "XSMALL"
    else if (pods <= 10) "SMALL"
    else if (pods <= 20) "MEDIUM"
    else if (pods <= 40) "LARGE"
    else "CUSTOM"

  /** SQL text of [[tsize]] over a named column — shared with oracle SQL so
    * the DuckDB side is guaranteed textually identical.
    */
  def tsizeSql(colName: String): String =
    s"""CASE WHEN $colName <= 2 THEN 'XSMALL'
       |     WHEN $colName <= 10 THEN 'SMALL'
       |     WHEN $colName <= 20 THEN 'MEDIUM'
       |     WHEN $colName <= 40 THEN 'LARGE'
       |     ELSE 'CUSTOM' END""".stripMargin
}
