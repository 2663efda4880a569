package graft.sizing

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end sizing pipeline (SURVEY §3 EP1/EP3): querylog CSV → derive →
  * route → CSV sinks → aggregates + sweep-line → report.
  *
  * This is the engine's equivalent of `python impala_query_sizing.py
  * sizing.conf` — same inputs, same output files, same report numbers,
  * expressed as a few declarative Spark passes instead of a row-at-a-time
  * loop: one routing pre-pass for every count and report aggregate, one
  * per sink, and one for the sweep.
  */
object Pipeline {

  /** CSV-mode querylog source (SURVEY §2.1 S3, py:128–131 + 172–187).
    *
    * The reference's DictReader selects columns BY NAME, so the input may
    * carry any superset of the 12 required columns (its own example input
    * is a previous run's 24-column output). We mirror that: read with the
    * header, then select+cast the canonical columns — extra columns are
    * dropped, missing ones fail analysis (same as a KeyError).
    *
    * Timestamps stay raw strings for output pass-through (the reference
    * echoes them verbatim into the output CSV); event instants are derived
    * separately in [[withEventInstants]].
    */
  def readQuerylogCsv(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .csv(path)
    raw.select(
      col("query_id"),
      col("pool"),
      col("start_time"),
      col("end_time"),
      col("duration_millis").cast("long").as("duration_millis"),
      col("reqd_cache_gb").cast("double").as("reqd_cache_gb"),
      col("reqd_agg_mem").cast("double").as("reqd_agg_mem"),
      col("memory_spilled_gb").cast("double").as("memory_spilled_gb"),
      col("cpu_time_sec").cast("double").as("cpu_time_sec"),
      col("query_type"),
      col("admission_wait").cast("long").as("admission_wait"),
      col("num_backends").cast("int").as("num_backends"))
  }

  /** Admitted/end instants in µs since epoch (SURVEY §2.6 E2, py:307–310).
    *
    * Q5 stance: true timestamp arithmetic — `admitted = start + wait_ms`,
    * sub-second precision kept — instead of the reference's
    * floor-to-second shift and mixed-format string sort keys.
    */
  def withEventInstants(df: DataFrame): DataFrame = {
    def us(c: Column): Column =
      unix_micros(to_timestamp(regexp_replace(c, "Z$", "")))
    df.withColumn("admitted_us",
        us(col("start_time")) + col("admission_wait") * 1000)
      .withColumn("end_us", us(col("end_time")))
  }

  /** The reference's 24 output columns in order (py:120), including the
    * `in_executor_pod_spill` header typo — byte-compatible headers so a
    * reference user's downstream tooling reads our CSV unchanged.
    */
  def outputRow(derived: DataFrame): DataFrame =
    derived.select(
      col("query_id"),
      col("pool"),
      col("start_time"),
      col("end_time"),
      col("duration_millis"),
      col("reqd_cache_gb"),
      col("min_executor_pod_data").as("min_exec_pod_cache"),
      Bucketing.tsize(col("min_executor_pod_data")).as("tsize_cache"),
      col("reqd_agg_mem"),
      col("min_executor_pod_mem").as("min_exec_pod_mem"),
      Bucketing.tsize(col("min_executor_pod_mem")).as("tsize_mem"),
      col("cpu_time_sec"),
      round(col("duration_sec"), 2).as("query_sla_sec"),
      col("min_parallelism").as("reqd_parallelism_cpu"),
      col("min_executor_pod_cpu").as("min_exec_pod_cpu"),
      Bucketing.tsize(col("min_executor_pod_cpu")).as("tsize_cpu"),
      col("memory_spilled_gb"),
      col("min_executor_pod_spill").as("in_executor_pod_spill"),
      Bucketing.tsize(col("min_executor_pod_spill")).as("tsize_spill"),
      col("min_executor_pod"),
      Bucketing.tsize(col("min_executor_pod")).as("recommended_tsize"),
      col("query_type"),
      col("admission_wait"),
      col("num_backends"))

  /** The report's per-event sweep payload (py:311–333): UN-ceiled pods,
    * per-backend GB shares, avg vcores, data rate. Doubles are carried as
    * DECIMAL(38,9) so distributed partial sums are exact and
    * order-independent; rendered values round to 2dp, far below the 1e-9
    * quantization.
    */
  private[sizing] def sweepPayload: Seq[(String, Column)] = {
    def dec(c: Column): Column = c.cast("decimal(38,9)")
    Seq(
      "pods" -> dec(greatest(col("ratio_data"), col("ratio_mem"),
        col("ratio_cpu"), col("ratio_spill"))),
      "cache" -> dec(col("reqd_cache_gb") / col("num_backends")),
      "mem" -> dec(col("reqd_agg_mem") / col("num_backends")),
      "cpu" -> dec(col("avg_vcores_per_node")),
      "data_rate" -> dec(col("avg_data_rate_per_node")),
      "spill" -> dec(col("memory_spilled_gb") / col("num_backends")))
  }

  /** Sweep-line maxima over the kept rows (EP3, py:351–396): the maxima
    * of the running sums at start events, and the start instant where the
    * running pods peak — [[Concurrency.maxima]] over [[sweepPayload]],
    * returned as a one-row local frame. `range` is the [lo, hi] span of
    * the instants when the caller already has it (the routing pre-pass
    * computes it, [[Report.routedCounts]]); without it the bucket bounds
    * cost one min/max pass first. The span only balances the buckets and
    * never changes the result.
    */
  def concurrency(derived: DataFrame,
      range: Option[(Double, Double)] = None): DataFrame =
    Concurrency.maxima(derived, sweepPayload, range)
      .select(
        col("run_count").as("max_concurrent_queries"),
        col("run_pods").cast("double").as("max_pods_workload"),
        col("run_cache").cast("double").as("max_concurrent_cache"),
        col("run_mem").cast("double").as("max_concurrent_memory"),
        col("run_cpu").cast("double").as("max_concurrent_cores"),
        col("run_data_rate").cast("double").as("max_concurrent_data_rate"),
        col("run_spill").cast("double").as("max_concurrent_spill"),
        col("ts_us").as("max_pods_workload_start_us"))

  /** Full run: reads `cfg.inputFile`, writes the three sinks under
    * `outDir` (SURVEY §2.7 K1–K3), computes the report (K4).
    *
    * Sink deviations (doc'd): distributed CSV writes are directories of
    * part files with minimal quoting (vs the reference's single
    * QUOTE_NONNUMERIC file); the skip file is one id|duration|start|end
    * line per row (the reference abuses a csv writer into a single
    * newline-delimited cell, py:341–344).
    */
  def run(spark: SparkSession, cfg: SizingConfig, outDir: String)
      : SizingReport = {
    val path = cfg.inputFile.getOrElse(
      sys.error("input_file is required for CSV mode; use runRest for API mode"))
    val raw = withEventInstants(readQuerylogCsv(spark, path))
    finish(spark, cfg, raw, outDir)
  }

  /** EP2 (API mode, py:134–165 + 189–208): the DSv2 REST source feeds the
    * same downstream as CSV mode. `restOptions` are the source options
    * (url, from, to, slices, fetcher, user/passwordFile); the
    * missing-metric skip (F2) happens in the adapter, so the skip sink
    * here carries the reference's id|duration|start|end|state rows.
    */
  def runRest(spark: SparkSession, cfg: SizingConfig,
      restOptions: Map[String, String], outDir: String): SizingReport = {
    var reader = spark.read
      .format("graft.sources.RestQuerylogSource")
    restOptions.foreach { case (k, v) => reader = reader.option(k, v) }
    cfg.pool.foreach(p => reader = reader.option("pool", p))
    // Persist the fetched pages: the skip sink plus every downstream
    // action in finish() would otherwise re-run the whole HTTP pagination
    // (~10 scans of the live server) and could each observe different
    // data; one cached scan makes the run consistent and polite.
    val api = reader.load().persist()
    try {
      val apiSkipped = graft.sources.RestAdapter.skipped(api)
      if (!apiSkipped.isEmpty)
        apiSkipped.select(concat_ws("|", col("query_id"),
            col("duration_millis"), col("start_time"), col("end_time"),
            col("query_state")).as("value"))
          .write.mode("overwrite").text(s"$outDir/${cfg.skipQueryFile}")

      val raw = withEventInstants(graft.sources.RestAdapter.toQuerylog(api))
      finish(spark, cfg, raw, outDir, writeSkipSink = false)
    } finally api.unpersist()
  }

  private def finish(spark: SparkSession, cfg: SizingConfig, raw: DataFrame,
      outDir: String, writeSkipSink: Boolean = true): SizingReport = {
    // The routing pre-pass, the sinks and the sweep are independent
    // actions; cache the adapted querylog once so the source (CSV scan or
    // REST pages) is read a single time and every pass sees identical
    // data.
    val cached = raw.persist()
    // The DERIVED frame is read by the pre-pass, the kept and prune sinks
    // and the sweep — without its own cache each action re-runs
    // Formulas.derive's ~30-column arithmetic over the cached raw. One
    // cache on the pre-split derived frame; kept/pruned stay cheap
    // filters over it, skipped is a cheap filter over raw (no derivation)
    // and stays uncached.
    val pooled = Routing.poolFilter(cached, cfg)
    val skipped = pooled.filter(Routing.skipPredicate)
    val derived = Formulas
      .derive(pooled.filter(!Routing.skipPredicate), cfg).persist()
    val (kept, pruned) = Routing.pruneSplit(derived, cfg)
    try {
      // ONE routing pre-pass: the per-sink counts, every report aggregate
      // over the kept rows and the sweep's instant span (Report.routedCounts)
      val pre = Report.routedCounts(kept, pruned, skipped)

      outputRow(kept).write.mode("overwrite").option("header", "true")
        .csv(s"$outDir/${cfg.outputFile}")
      // K2 lazy creation quirk: the reference only creates the prune file on
      // the first over-limit row; an empty write is the distributed analog —
      // but we match observable behavior (no file when no pruned rows).
      if (pre.getAs[Long]("n_pruned") > 0)
        outputRow(pruned).write.mode("overwrite").option("header", "true")
          .csv(s"$outDir/${cfg.pruneOutputFile}")
      if (writeSkipSink && pre.getAs[Long]("n_skipped") > 0)
        skipped.select(concat_ws("|", col("query_id"), col("duration_millis"),
            col("start_time"), col("end_time")).as("value"))
          .write.mode("overwrite").text(s"$outDir/${cfg.skipQueryFile}")

      Report.build(cfg, kept, concurrency(kept, Some(Report.sweepRange(pre))),
        pre)
    } finally {
      derived.unpersist()
      cached.unpersist()
    }
  }
}
