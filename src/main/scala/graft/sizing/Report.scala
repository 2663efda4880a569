package graft.sizing

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The reference's five report sections (SURVEY §2.7 K4, py:399–458) as a
  * value object + formatter. Deviations (doc'd): unit labels corrected
  * (Q7 — the reference prints Memory as "GB/s" and Data Rate as "GB");
  * `constrained_by` renders in fixed cache,mem,cpu,spill order (Q13 — the
  * reference iterates a Python set).
  */
final case class SizingReport(
    totalQueries: Long,
    totalQueryTimeSec: Double,
    maxPodsQueryId: String,
    maxBackends: Int,
    maxVcores: Double,
    maxData: Double,
    maxSpill: Double,
    maxMem: Double,
    maxDataRate: Double,
    pools: Seq[String],
    pruneCount: Long,
    podLimit: Int,
    maxConcurrentQueries: Long,
    maxPodsWorkloadStartUs: Long,
    maxConcurrentCores: Double,
    maxConcurrentCache: Double,
    maxConcurrentSpill: Double,
    maxConcurrentMemory: Double,
    maxConcurrentDataRate: Double,
    minExecutorPodWorkload: Long,
    maxPodsWorkload: Double,
    tsizeWorkload: String,
    constrainedBy: Seq[String],
    matrix: Map[String, Map[String, Long]], // tsize -> dim -> count
    utilizationPct: Map[String, Double]) {

  private def r2(v: Double): Double =
    BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble

  def render: String = {
    val sb = new StringBuilder
    sb ++= "\nIndividual Query Analysis\n"
    sb ++= s" Total Queries: $totalQueries\n"
    sb ++= s" Total Query Time: ${r2(totalQueryTimeSec)} sec\n"
    sb ++= s" Highest Resources Query ID: $maxPodsQueryId\n"
    sb ++= s" Max Nodes: $maxBackends\n"
    sb ++= s" Max Cores Per Node: $maxVcores\n"
    sb ++= s" Max Data Per Node: $maxData GB\n"
    sb ++= s" Max Spill Per Node: $maxSpill GB\n"
    sb ++= s" Max Memory Per Node: $maxMem GB\n" // Q7: fixed label (was GB/s)
    sb ++= s" Max Data Rate: $maxDataRate GB/s\n" // Q7: fixed label (was GB)
    sb ++= " Pools:\n"
    pools.foreach(p => sb ++= s"   $p\n")
    if (pruneCount > 0)
      sb ++= s" Queries Over Pod Limit ( $podLimit ): $pruneCount\n"

    sb ++= "\nConcurrent Query Analysis\n"
    sb ++= s" Max Concurrent Queries: $maxConcurrentQueries\n"
    sb ++= s" Max Concurrent Resources Time: ${
      java.time.Instant.ofEpochMilli(maxPodsWorkloadStartUs / 1000)}\n"
    sb ++= s" Max Concurrent Cores Per Node: ${r2(maxConcurrentCores)}\n"
    sb ++= s" Max Concurrent Data Per Node: ${r2(maxConcurrentCache)} GB\n"
    sb ++= s" Max Concurrent Spill Per Node: ${r2(maxConcurrentSpill)} GB\n"
    sb ++= s" Max Concurrent Memory Per Node: ${r2(maxConcurrentMemory)} GB\n"
    sb ++= s" Max Concurrent Data Rate: ${r2(maxConcurrentDataRate)} GB/s\n"

    sb ++= "\n\t\t\t    Cluster Sizing\n"
    sb ++= "Size\t\tMin Pods\tMax Pods\tConstrained By\n"
    sb ++= s"$tsizeWorkload\t\t$minExecutorPodWorkload\t\t${
      math.ceil(maxPodsWorkload).toLong}\t\t${constrainedBy.mkString(" ")}\n"

    sb ++= "\n\t\t\t    Query Counts\n"
    sb ++= "                     Cache       Mem         CPU         Spill\n"
    sb ++= "Size     Count       Constrained Constrained Constrained Constrained\n"
    Bucketing.sizes.foreach { t =>
      val row = matrix.getOrElse(t, Map.empty)
      sb ++= ("%8s".format(t) +
        Seq("count", "cache", "mem", "cpu", "spill")
          .map(d => " " + "%11d".format(row.getOrElse(d, 0L))).mkString + "\n")
    }

    sb ++= "\n\t\t\t    Average Cluster Utilization\n"
    sb ++= "Cache    Memory    CPU       Spill\n"
    sb ++= Seq("cache", "mem", "cpu", "spill")
      .map(d => "%6.2f %%".format(utilizationPct.getOrElse(d, 0.0)))
      .mkString("  ") + "\n"
    sb.result()
  }
}

object Report {

  /** ONE pre-pass over the routed flows, run by [[Pipeline]] BEFORE the
    * sinks — a single union aggregate holding:
    *  - total queries + pool roster (Q10 — both include pruned rows,
    *    never skipped ones) and the prune/skip counts, which also drive
    *    the sinks' lazy creation;
    *  - every report aggregate over the kept rows, each guarded by the
    *    kept flow: the A1/A3/A4/A6 expressions
    *    ([[Aggregates.globalExprs]]), the maxima of the 2dp-rounded
    *    per-node averages, and the 25 (tsize × dimension) matrix cells;
    *  - the sweep's instant span over the kept rows that have both
    *    instants, consumed via [[sweepRange]].
    * `count(when(...))` counts only the matching rows (COUNT skips the
    * NULL of the un-matched branch); `collect_set`, `max` and `sum`
    * likewise drop the NULLs of the other flows.
    */
  def routedCounts(kept: DataFrame, pruned: DataFrame,
      skipped: DataFrame): Row = {
    val isKept = col("flow") === "kept"
    // The reference takes maxima over the 2dp-ROUNDED per-node averages
    // (py:223–227 round at derivation, py:279–292 compare the rounded
    // values). Rounding is monotone, so that is the rounded maximum:
    // Spark shares the max's buffer with A3's and rounds once per run
    // instead of once per row.
    val roundedMax = Seq("vcores" -> "avg_vcores_per_node",
      "mem" -> "avg_mem_per_node", "data" -> "avg_cache_per_node",
      "data_rate" -> "avg_data_rate_per_node",
      "spill" -> "avg_spill_per_node").map { case (n, c) =>
        round(max(when(isKept, col(c))), 2).as(s"r_max_$n") }
    val cells = for (t <- Bucketing.sizes; (d, c) <- Aggregates.matrixDims)
      yield count(when(isKept && Bucketing.tsize(col(c)) === t, 1))
        .as(cell(t, d))
    val timed = isKept && col("admitted_us").isNotNull &&
      col("end_us").isNotNull
    val aggs = Seq(
        count(when(col("flow") =!= "skipped", 1)).as("n"),
        array_join(sort_array(collect_set(
          when(col("flow") =!= "skipped", col("pool")))), ",").as("pools"),
        count(when(col("flow") === "pruned", 1)).as("n_pruned"),
        count(when(col("flow") === "skipped", 1)).as("n_skipped")) ++
      Aggregates.globalExprs(Some(isKept)) ++ roundedMax ++ cells ++ Seq(
        min(when(timed, col("admitted_us"))).as("sweep_lo_us"),
        max(when(timed, col("end_us"))).as("sweep_hi_us"))
    def flow(df: DataFrame, name: String): DataFrame =
      df.select(col("query_id"), col("pool"), lit(name).as("flow"))
    kept.withColumn("flow", lit("kept"))
      .unionByName(flow(pruned, "pruned"), allowMissingColumns = true)
      .unionByName(flow(skipped, "skipped"), allowMissingColumns = true)
      .agg(aggs.head, aggs.tail: _*)
      .head()
  }

  private def cell(tsize: String, dim: String): String = s"m_${tsize}_$dim"

  /** The kept rows' [lo, hi] instant span from the pre-pass, for
    * [[Pipeline.concurrency]]'s bucket bounds; (0, 0) when no kept row
    * has both instants (the sweep is then empty).
    */
  private[sizing] def sweepRange(pre: Row): (Double, Double) =
    if (pre.isNullAt(pre.fieldIndex("sweep_lo_us"))) (0.0, 0.0)
    else (pre.getAs[Long]("sweep_lo_us").toDouble,
      pre.getAs[Long]("sweep_hi_us").toDouble)

  /** Assemble the report from the pre-pass row `pre` (see
    * [[routedCounts]]) and the one-row `concurrencyRow`
    * ([[Pipeline.concurrency]]). Reading that row is the only action:
    * every kept-row aggregate already arrived in `pre`, so `kept` is no
    * longer read. The matrix keeps the shape of a (tsize × dimension)
    * count table: one entry per t-shirt size with a nonzero cell.
    */
  def build(cfg: SizingConfig, kept: DataFrame, concurrencyRow: DataFrame,
      pre: Row): SizingReport = {
    val matrix = Bucketing.sizes.map { t =>
      t -> Aggregates.matrixDims.map { case (d, _) =>
        d -> pre.getAs[Long](cell(t, d)) }.toMap
    }.filter(_._2.values.exists(_ > 0)).toMap

    val c = concurrencyRow.head()
    val podWorkload = pre.getAs[Long]("min_executor_pod_workload")
    val tsizeWl = Bucketing.tsizeValue(podWorkload)

    SizingReport(
      totalQueries = pre.getAs[Long]("n"),
      totalQueryTimeSec = pre.getAs[Double]("total_query_time_sec"),
      maxPodsQueryId = pre.getAs[String]("max_pods_query_id"),
      maxBackends = pre.getAs[Int]("max_backends"),
      maxVcores = pre.getAs[Double]("r_max_vcores"),
      maxData = pre.getAs[Double]("r_max_data"),
      maxSpill = pre.getAs[Double]("r_max_spill"),
      maxMem = pre.getAs[Double]("r_max_mem"),
      maxDataRate = pre.getAs[Double]("r_max_data_rate"),
      pools = pre.getAs[String]("pools").split(",").toSeq.filter(_.nonEmpty),
      pruneCount = pre.getAs[Long]("n_pruned"),
      podLimit = cfg.podLimit,
      maxConcurrentQueries = c.getAs[Long]("max_concurrent_queries"),
      maxPodsWorkloadStartUs = c.getAs[Long]("max_pods_workload_start_us"),
      maxConcurrentCores = c.getAs[Double]("max_concurrent_cores"),
      maxConcurrentCache = c.getAs[Double]("max_concurrent_cache"),
      maxConcurrentSpill = c.getAs[Double]("max_concurrent_spill"),
      maxConcurrentMemory = c.getAs[Double]("max_concurrent_memory"),
      maxConcurrentDataRate = c.getAs[Double]("max_concurrent_data_rate"),
      minExecutorPodWorkload = podWorkload,
      maxPodsWorkload = c.getAs[Double]("max_pods_workload"),
      tsizeWorkload = tsizeWl,
      constrainedBy = Aggregates.constrainedBy(matrix, tsizeWl),
      matrix = matrix,
      utilizationPct = Aggregates.utilizationPct(pre, cfg))
  }
}
