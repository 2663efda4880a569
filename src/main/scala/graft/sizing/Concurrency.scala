package graft.sizing

import graft.plans.PrefixSum
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The sweep-line concurrency operator (SURVEY §2.6) — the reference's one
  * genuinely novel operator: max-concurrent-resource analysis over query
  * intervals (impala_query_sizing.py:307–396).
  *
  * Semantics: each query contributes a `+payload` event at its admitted
  * start (start_time shifted by admission_wait, py:307–310) and a
  * `-payload` event at its end; events are globally ordered; running sums
  * are the instantaneous resource footprint; maxima are taken ONLY at
  * start events (py:381–396 — between a start and the next event the
  * footprint is constant, so starts are the only candidates for a
  * maximum).
  *
  * Deviations (documented, SURVEY §2.10 Q5/Q11): the reference sorts raw
  * timestamp STRINGS with mixed formats and unpadded millis, which
  * mis-orders sub-second events. We order by true instant with a
  * deterministic tiebreak: at equal instants ends sort before starts
  * (kind 0 < 1 — so a query ending exactly when another starts does not
  * count as overlapping), then query_id.
  *
  * The callers differ only in the payload: the report sweeps the
  * reference's un-ceiled decimal deltas ([[Pipeline.concurrency]]), q20
  * and q73's batch parity leg the adapter's integer units. Either way the
  * deltas must be integral or decimal, so partial sums are exact and
  * associativity-safe across partitions.
  *
  * Scale: one [[PrefixSum.maxAt]] job — per-bucket summaries folded on
  * the driver, never a single-task global window. Event fan-out is 2 rows
  * per query via explode (no driver loop).
  */
object Concurrency {

  /** The two events of every query with both instants: `query_id`,
    * `ts_us`, `kind` (0 end, 1 start), `d_count` (±1) and one `d_<name>`
    * per `(name, delta)` in `payload`, negated on the end row. Input
    * carries `admitted_us`/`end_us` (µs since epoch) and whatever columns
    * the payload reads.
    *
    * Guard: a row with an unparseable/missing instant (the schema allows
    * null) would emit a null-instant event — the bucketing puts nulls
    * into bucket 0 and the window sorts them FIRST, applying the end
    * deltas before the query's start and silently depressing every
    * running sum. Such rows cannot contribute a well-formed interval, so
    * they are excluded here (kept in the CSV/aggregate paths).
    */
  private[sizing] def events(derived: DataFrame,
      payload: Seq[(String, Column)]): DataFrame = {
    val start = struct(
      col("admitted_us").as("ts_us") +: lit(1).as("kind") +:
        lit(1L).as("d_count") +:
        payload.map { case (n, c) => c.as(s"d_$n") }: _*)
    val end = struct(
      col("end_us").as("ts_us") +: lit(0).as("kind") +:
        lit(-1L).as("d_count") +:
        payload.map { case (n, c) => (-c).as(s"d_$n") }: _*)
    derived
      .filter(col("admitted_us").isNotNull && col("end_us").isNotNull)
      .select(col("query_id"), explode(array(start, end)).as("e"))
      .select(col("query_id"), col("e.*"))
  }

  /** The maxima of the running sums at start events, and the start
    * instant where the running pods peak — at equal pods the LATEST start
    * wins (py:384 `>=`). `payload` must name a `pods` delta. Returns a
    * one-row local frame: `run_count`, one `run_<name>` per payload entry
    * in its running type (BIGINT for integer deltas), then `ts_us`; every
    * value is NULL when no query has both instants. `range` is the
    * [lo, hi] span of the instants when the caller already has it;
    * without it the bucket bounds cost one min/max pass first. The span
    * only balances the buckets and never changes the result.
    */
  def maxima(derived: DataFrame, payload: Seq[(String, Column)],
      range: Option[(Double, Double)] = None): DataFrame = {
    require(payload.exists(_._1 == "pods"), "the payload needs a pods delta")
    val names = "count" +: payload.map(_._1)
    PrefixSum.maxAt(events(derived, payload), "ts_us",
      Seq(col("ts_us"), col("kind"), col("query_id")),
      names.map(n => s"d_$n" -> s"run_$n"),
      at = col("d_count") > 0, argMaxOf = "run_pods", knownRange = range)
  }

  /** q20's maxima row, in column order — the single source of truth shared
    * by the batch sweep and the streamed fold (q73), so the two output
    * schemas cannot drift.
    */
  val maximaCols: Seq[String] = Seq(
    "max_concurrent_queries", "max_concurrent_pods",
    "max_concurrent_cache_b", "max_concurrent_mem_b",
    "max_concurrent_cpu_mv", "max_concurrent_spill_b", "max_pods_at_us")
}
