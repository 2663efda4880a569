package graft.ops

import graft.{ParityGate, QueryModule, Tables}
import graft.sizing.{Concurrency, QuerylogAdapter, SizingConfig}
import graft.streaming.StreamingConcurrency
import graft.streaming.StreamingConcurrency._
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The streaming gate module: Structured Streaming surfaces under the
  * driver's correctness battery. The oracle cannot execute a stream, so
  * every entry here is rows-only checked AND carries an in-row
  * `matches_batch` parity bit against the equivalent batch operator —
  * whose own result IS oracle-hash-checked, making stream correctness
  * transitive — and every entry passes through [[graft.ParityGate]], so a
  * false bit RAISES at execution time and lands in the driver's `err`
  * field instead of a green rows-only row. q73 = the stateful sweep-line;
  * q75 = watermarked tumbling windows in append mode (emission-boundary
  * semantics included); q78 = gap sessions via `session_window`;
  * q74 (streaming exact dedup) lives with the dedup ops in [[Dedup]].
  *
  * q73: the streaming sweep-line under the driver's correctness gate.
  *
  * Runs [[graft.streaming.StreamingConcurrency]] (the Structured Streaming
  * analog of the reference's interval-overlap analysis, py:307–396) over
  * the SAME derived querylog as the batch q20_sweepline, folds the closed
  * buckets into global maxima, and emits one row with q20's schema
  * ([[Concurrency.maximaCols]] — shared, so the two cannot drift) plus a
  * `matches_batch` parity bit computed against the batch operator's own
  * result on identical input.
  *
  * The stream is fed from a real FILE SOURCE: the kept intervals are
  * written once to parquet (a distributed write) and `readStream` picks
  * them up — no driver-side collect anywhere in the data path, the same
  * shape as q74/q75/q77/q78. A sentinel interval rides in the same file;
  * its event time advances the watermark past every real bucket so the
  * event-time timeouts fire (data + sentinel arrive in one micro-batch,
  * and the engine's automatic no-data batch then flushes the timeouts —
  * two micro-batches total). The only driver-side values are the
  * min/max bounds (one 2-column aggregate — the same bounds fold as
  * [[graft.plans.PrefixSum]]'s knownRange) and the folded per-bucket
  * summaries (one tiny row per non-empty time bucket — bounded by the
  * analysis window, not the data).
  *
  * Cost shape at sf0.1 (PERF.md, "q73 phase breakdown", measured while
  * the parity leg still ran a materialized scan): ≈1 s derived querylog
  * + persist, ≈0.5 s interval write, ≈1.5 s streaming drain, 2–2.9 s the
  * batch q20 parity run — q73's bench time is the price of executing
  * BOTH engines plus fixed micro-batch machinery, not a plan defect; the
  * streamed operator itself is one 2|kept|-row shuffle and per-bucket
  * local scans.
  */
object StreamSweep extends QueryModule {

  private val cfg = SizingConfig() // reference defaults (sizing.conf)
  private val keptLimit = 40 // same F4 prune threshold as q18–q20
  // Bucket count target: buckets are the unit of state AND parallelism —
  // a state-store group per bucket. Too fine (60s over a month = 43k
  // groups) and per-group state-store commit overhead dominates; too
  // coarse and one group sorts everything. ~8 buckets per core balances
  // both; correctness is bucket-width independent (spec-pinned).
  private val TargetBuckets = 256L

  private def q73(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val kept = QuerylogAdapter.derived(s, dir, cfg)
      .filter(col("min_executor_pod") <= keptLimit)
      .persist() // read 3×: bounds agg, interval write, batch sweep

    // Bounds fold: 1 row, 2 columns — sizes the buckets and the sentinel.
    val mm = kept.agg(min(col("admitted_us")), max(col("end_us"))).head()
    if (mm.isNullAt(0)) sys.error("q73: empty querylog after pruning")
    val (minAdmittedUs, maxEndUs) = (mm.getLong(0), mm.getLong(1))
    val bucketUs = math.max(1_000_000L,
      (maxEndUs - minAdmittedUs) / TargetBuckets + 1)
    // one sentinel interval far past every real bucket: its event time
    // advances the watermark so the real buckets' event-time timeouts fire
    val sentinelUs = maxEndUs + 10 * bucketUs
    val sentinelBucket = Math.floorDiv(sentinelUs, bucketUs)

    // The stream's file source: kept intervals + sentinel, written once.
    // queryId is zero-padded so the streaming String tiebreak orders
    // identically to the batch operator's numeric query_id sort (Q5 tie
    // rule) — required for exact parity. timestamp_micros round-trips the
    // full µs through parquet (Spark writes TIMESTAMP_MICROS).
    val tmp = java.nio.file.Files.createTempDirectory("graft-q73-")
    val src = s"$tmp/intervals"
    val intervals = kept.select(
      format_string("%020d", col("query_id")).as("queryId"),
      expr("timestamp_micros(admitted_us)").as("admitted"),
      expr("timestamp_micros(end_us)").as("end"),
      col("min_executor_pod").cast("long").as("pods"),
      col("cache_b_per_backend").cast("long").as("cachePerBackend"),
      col("mem_b_per_backend").cast("long").as("memPerBackend"),
      col("cpu_mv_per_backend").cast("long").as("cpuMilliVcores"),
      col("spill_b_per_backend").cast("long").as("spillPerBackend"))
    val sentinel = Seq(QueryInterval("sentinel", usTs(sentinelUs),
      usTs(sentinelUs + bucketUs), 0, 0, 0, 0, 0)).toDS()
      .select(intervals.columns.map(col): _*)
    intervals.union(sentinel).write.parquet(src)

    val folded = try {
      graft.streaming.StreamConf.withStateParts(s) {
        val input = s.readStream
          .schema(Encoders.product[QueryInterval].schema)
          .parquet(src).as[QueryInterval]
        val summaries = StreamingConcurrency.bucketSummaries(
          StreamingConcurrency.events(input, bucketUs), bucketUs, "0 seconds")
        val qname = s"q73_${System.nanoTime()}"
        // checkpoint under the SAME managed temp root as the file source:
        // the one finally-deleted directory owns every artifact this
        // entry creates — a killed JVM leaks nothing outside it (the
        // other streaming entries create no files at all: their implicit
        // temp checkpoints are removed by stop()).
        val query = summaries.writeStream.format("memory").queryName(qname)
          .option("checkpointLocation", s"$tmp/chk")
          .outputMode("append").start()
        try {
          query.processAllAvailable()
          val closed = s.table(qname).as[BucketSummary].collect().toSeq
            .filter(_.bucket < sentinelBucket)
          GlobalAccumulator.fold(closed)
        } finally {
          query.stop()
          s.catalog.dropTempView(qname)
        }
      }
    } finally graft.Fs.deleteRecursively(tmp)
    val m = folded.getOrElse(sys.error("q73: no closed buckets — empty querylog?"))

    // Parity against batch q20 on the same kept querylog; the bounds
    // fold's span sizes its buckets too.
    val b = Sizing.sweepMaxima(kept,
      Some((minAdmittedUs.toDouble, maxEndUs.toDouble))).head()
    kept.unpersist()
    val matches = b.getLong(0) == m.maxConcurrentQueries &&
      b.getLong(1) == m.maxPods && b.getLong(2) == m.maxCache &&
      b.getLong(3) == m.maxMem && b.getLong(4) == m.maxCpu &&
      b.getLong(5) == m.maxSpill && b.getLong(6) == m.maxPodsAtUs

    ParityGate(
      Seq((m.maxConcurrentQueries, m.maxPods, m.maxCache, m.maxMem,
        m.maxCpu, m.maxSpill, m.maxPodsAtUs, matches))
        .toDF(Concurrency.maximaCols :+ "matches_batch": _*),
      "q73_stream_sweep", "matches_batch")
  }

  // --- q75: watermarked tumbling-window aggregation under the gate --------
  // Streams the events parquet through a real FILE source, watermarks on
  // event time, aggregates per (1-hour window, event_type) in APPEND mode
  // — the mode whose contract is the interesting one: a window row is
  // emitted exactly once, only after the watermark passes its end. The
  // final (still-open) windows are therefore correctly ABSENT from the
  // stream output; parity against batch asserts both the emitted values
  // and that emission boundary. The batch-side finalization predicate
  // mirrors the engine's eviction predicate EXACTLY (WatermarkSupport:
  // `window.end <= watermark`, where the watermark is the ms-TRUNCATED
  // max event time):  window_end_us <= floor(maxTsUs/1000)*1000.
  // For hour-aligned (hence ms-aligned) window ends the truncation cannot
  // change the outcome, but writing the engine's own predicate keeps the
  // parity contract byte-for-byte honest at the boundary — the case where
  // the max event time lands exactly on an hour boundary is pinned by a
  // boundary-aligned spec test (StreamSweepSpec).
  // Sum parity uses floor(value*1000) longs — integer partial sums are
  // order-independent, so stream/batch/any-partitioning agree exactly.
  /** Shared stream/batch parity harness for fixed-duration event-time
    * windows (tumbling q75 and sliding q84 — `winFn` builds the window
    * column from the shared event_ts). The batch finalization predicate
    * mirrors the engine's eviction exactly (`w_start + duration <=
    * ms-truncated watermark`); for fixed-duration windows the assignment
    * is a PER-ROW function, so pushing this predicate below the
    * aggregation is sound — unlike session windows (see q78).
    */
  private def streamWindowParity(s: SparkSession, dir: String,
      qtag: String, winFn: org.apache.spark.sql.Column,
      durationUs: Long): DataFrame = {
    import s.implicits._
    val path = s"$dir/events.parquet"
    // the file source reads the PHYSICAL schema; Tables.normalizeEvents
    // then re-establishes the internal contract (ts = nanos long) on the
    // streamed frame, same as Tables.load does for the batch side
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = s.read.parquet(path).schema
    // events.ts is a nanos long; the µs TimestampType column the watermark
    // hangs off is derived once and shared by both sides (the watermark
    // tag lives on the event_ts attribute — it must flow into the window,
    // not be re-derived after the fact).
    def withEventTs(df: DataFrame): DataFrame =
      df.withColumn("event_ts", expr("timestamp_micros(ts div 1000)"))
    def windowed(df: DataFrame): DataFrame = df
      .groupBy(winFn.as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(expr("CAST(floor(value * 1000) AS BIGINT)")).as("sum_v"))
      .select(col("w.start").as("w_start"), col("event_type"),
        col("n_events"), col("sum_v"))

    val qname = s"${qtag}_${System.nanoTime()}"
    // glob, not the bare file: FileStreamSource force-sets basePath to a
    // non-glob path and then requires it to be a directory
    val streamed = graft.streaming.StreamConf.withStateParts(s) {
      val q = windowed(
        withEventTs(Tables.normalizeEvents(s.readStream.schema(schema)
            .parquet(s"$dir/events*.parquet")))
          .withWatermark("event_ts", "0 seconds"))
        .writeStream.format("memory").queryName(qname)
        .outputMode("append").start()
      try { q.processAllAvailable(); s.table(qname).collect() }
      finally { q.stop(); s.catalog.dropTempView(qname) }
    }

    val events = Tables.load(s, dir, "events")
    val maxTsUs = events.agg(max(expr("ts div 1000"))).head().getLong(0)
    val watermarkUs = Math.floorDiv(maxTsUs, 1000L) * 1000L // ms-truncated
    val batch = windowed(withEventTs(events))
      .filter(expr(s"unix_micros(w_start) + ${durationUs}L <= $watermarkUs"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    ParityGate(
      streamed.toSeq
        .map { r =>
          val key = (r.getTimestamp(0), r.getString(1))
          (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3),
            batch.get(key).contains((r.getLong(2), r.getLong(3))) &&
              batch.size == streamed.length)
        }
        .toDF("w_start", "event_type", "n_events", "sum_v", "matches_batch"),
      qtag, "matches_batch")
  }

  private def q75(s: SparkSession, dir: String): DataFrame =
    streamWindowParity(s, dir, "q75_stream_window",
      window(col("event_ts"), "1 hour"), 3600000000L)

  // --- q84: STREAMING sliding windows under the gate ----------------------
  // The streamed twin of batch q82: 1-hour windows sliding every 15
  // minutes, append mode. Each event fans out to 4 windows of STATE
  // (bounded by windows-in-flight × types, not the stream); a window
  // emits exactly once when the watermark passes its end — same eviction
  // predicate as tumbling, just 4× the concurrently-open windows.
  private def q84(s: SparkSession, dir: String): DataFrame =
    streamWindowParity(s, dir, "q84_stream_sliding",
      window(col("event_ts"), "1 hour", "15 minutes"), 3600000000L)

  // --- q77: stream-stream interval join under the gate --------------------
  // The hardest streaming operator: two watermarked streams (views and
  // clicks, both read from the events file source) joined on user with a
  // time-range condition — the range bound is what lets the engine evict
  // join state once the watermark passes it, the contract that makes the
  // join runnable on an unbounded stream. Inner-join output for a finite
  // input is complete (state eviction happens only behind the watermark),
  // so the streamed match SET must equal the batch join exactly —
  // asserted per-row with the same transitive-parity scheme as q73–q75.
  private def q77(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/events.parquet"
    val schema = s.read.parquet(path).schema
    def side(df: DataFrame, kind: String, alias: String): DataFrame = df
      .filter(col("event_type") === kind)
      .select(
        col("event_id").as(s"${alias}_id"),
        col("user_id").as(s"${alias}_user"),
        expr("timestamp_micros(ts div 1000)").as(s"${alias}_ts"))
    def joined(views: DataFrame, clicks: DataFrame): DataFrame = views
      .join(clicks,
        col("v_user") === col("c_user") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") <= col("v_ts") + expr("INTERVAL 10 MINUTES"))
      .select(col("v_id"), col("c_id"), col("v_user").as("user_id"))

    def stream() = Tables.normalizeEvents(
      s.readStream.schema(schema).parquet(s"$dir/events*.parquet"))
    val qname = s"q77_${System.nanoTime()}"
    // 8 state parts, not the harness default 4: join state is per-EVENT
    // (every view/click inside the watermark horizon), not per-window —
    // an order of magnitude more state rows than the window harnesses
    val streamed = graft.streaming.StreamConf.withStateParts(s, n = 8) {
      val q = joined(
        side(stream(), "view", "v").withWatermark("v_ts", "0 seconds"),
        side(stream(), "click", "c").withWatermark("c_ts", "0 seconds"))
        .writeStream.format("memory").queryName(qname)
        .outputMode("append").start()
      try { q.processAllAvailable(); s.table(qname).collect() }
      finally { q.stop(); s.catalog.dropTempView(qname) }
    }

    val events = Tables.load(s, dir, "events")
    val batch = joined(side(events, "view", "v"), side(events, "click", "c"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    ParityGate(
      streamed.toSeq
        .map { r =>
          val t = (r.getLong(0), r.getLong(1), r.getLong(2))
          (t._1, t._2, t._3,
            batch.contains(t) && batch.size == streamed.length)
        }
        .toDF("v_id", "c_id", "user_id", "matches_batch"),
      "q77_stream_join", "matches_batch")
  }

  // --- q165: stream-stream LEFT OUTER join under the gate ------------------
  // q77's interval join with the semantics unbounded streams make hard:
  // emit every view, matched or not. An outer stream join can only emit
  // its null rows once the watermark proves no matching click can still
  // arrive — so the streamed output is the complete inner-match set
  // (same argument as q77) PLUS a null row for each unmatched view whose
  // join horizon (v_ts + 10 min) the FINAL global watermark has passed;
  // unmatched views inside the horizon are legitimately still open when
  // the finite input ends and must NOT appear. The expected set is
  // computed from the batch left join under exactly that predicate:
  // global watermark = min(max v_ts, max c_ts) ms-truncated (each side's
  // 0-delay watermark, q75/q78's truncation rule), null row expected iff
  // v_ts + 10 min <= wm. The no-data micro-batch after the last file is
  // what flushes the evictable state — processAllAvailable covers it.
  private def q165(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/events.parquet"
    val schema = s.read.parquet(path).schema
    def side(df: DataFrame, kind: String, alias: String): DataFrame = df
      .filter(col("event_type") === kind)
      .select(
        col("event_id").as(s"${alias}_id"),
        col("user_id").as(s"${alias}_user"),
        expr("timestamp_micros(ts div 1000)").as(s"${alias}_ts"))
    def joined(views: DataFrame, clicks: DataFrame): DataFrame = views
      .join(clicks,
        col("v_user") === col("c_user") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") <= col("v_ts") + expr("INTERVAL 10 MINUTES"),
        "left_outer")
      .select(col("v_id"), col("c_id"), col("v_user").as("user_id"))

    def stream() = Tables.normalizeEvents(
      s.readStream.schema(schema).parquet(s"$dir/events*.parquet"))
    val qname = s"q165_${System.nanoTime()}"
    val streamed = graft.streaming.StreamConf.withStateParts(s, n = 8) {
      val q = joined(
        side(stream(), "view", "v").withWatermark("v_ts", "0 seconds"),
        side(stream(), "click", "c").withWatermark("c_ts", "0 seconds"))
        .writeStream.format("memory").queryName(qname)
        .outputMode("append").start()
      try { q.processAllAvailable(); s.table(qname).collect() }
      finally { q.stop(); s.catalog.dropTempView(qname) }
    }

    val events = Tables.load(s, dir, "events")
    val v = side(events, "view", "v")
    val c = side(events, "click", "c")
    // final global watermark in µs: min of each side's max event time,
    // truncated to ms (the engine tracks watermarks at ms precision)
    val wmUs = {
      val vMax = v.agg(max(expr("unix_micros(v_ts)"))).head().getLong(0)
      val cMax = c.agg(max(expr("unix_micros(c_ts)"))).head().getLong(0)
      math.min(vMax, cMax) / 1000 * 1000
    }
    val batchRows = v.join(c,
        col("v_user") === col("c_user") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") <= col("v_ts") + expr("INTERVAL 10 MINUTES"),
        "left_outer")
      .select(col("v_id"), col("c_id"), col("v_user").as("user_id"),
        expr("unix_micros(v_ts)").as("v_us"))
      .collect()
    val matched = batchRows.filter(!_.isNullAt(1))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expectedNull = batchRows.filter(_.isNullAt(1))
      .filter(r => r.getLong(3) + 600000000L <= wmUs)
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val expectedSize = matched.size + expectedNull.size
    ParityGate(
      streamed.toSeq
        .map { r =>
          val vId = r.getLong(0)
          val cId = if (r.isNullAt(1)) None else Some(r.getLong(1))
          val user = r.getLong(2)
          val ok = cId match {
            case Some(cid) => matched.contains((vId, cid, user))
            case None => expectedNull.contains((vId, user))
          }
          (vId, cId, user, ok && expectedSize == streamed.length)
        }
        .toDF("v_id", "c_id", "user_id", "matches_batch"),
      "q165_stream_outer_join", "matches_batch")
  }

  // --- q180: late-data accounting under the watermark ----------------------
  // The lateness semantics every production stream negotiates, made
  // observable and asserted: the LATE half of events (by time) lands
  // FIRST — one processAllAvailable drives the watermark to the stream's
  // max event time — then the EARLY half arrives a batch later, entirely
  // behind the watermark. Contract under a 0s-delay watermark + 1h
  // tumbling count: (a) every early row is dropped, and the engine's own
  // `numRowsDroppedByWatermark` ledger must account for all of them in
  // its own units (see below); (b) the
  // emitted (append-mode) windows are exactly the late-half windows
  // whose end the final ms-truncated watermark passed — windows still
  // open at end-of-input stay unemitted. Both facts are computed from
  // the batch table and ParityGated per row. The two-phase landing is
  // deterministic: file batches are separated by processAllAvailable,
  // never by timing — AND the early half lands as ONE part file
  // (coalesce(1)): the live query keeps polling the directory while a
  // batch write commits its task files one rename at a time, so a
  // multi-file landing can straddle a listing and split the early half
  // across micro-batches. That split double-counts windows in the
  // per-batch drop ledger (first seen at sf1/sf10, where the write is
  // slow enough for the poller to win the race); a single part file
  // becomes visible in one atomic rename, so the early batch is
  // all-or-nothing by construction. Scratch is driver-local (q112's
  // local-mode contract; a cluster routes it through
  // spark.graft.scratch.dir).
  //
  // Ledger units (probed, not assumed): `numRowsDroppedByWatermark`
  // counts rows reaching the STATE operator — i.e. post-shuffle MERGED
  // window partials, one per distinct late window, not raw input rows
  // (4,985 early rows → 360 distinct hour windows → ledger says 360).
  // The merged-partial count is partitioning-independent (the exchange
  // collapses every window to one row), so the expected value is the
  // batch-side DISTINCT window count of the early half.
  private def q180(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        expr("timestamp_micros(ts div 1000)").as("event_ts"))
    val tMidUs = ev
      .agg(min(expr("unix_micros(event_ts)")).as("mn"),
        max(expr("unix_micros(event_ts)")).as("mx"))
      .selectExpr("(mn + mx) div 2").head().getLong(0)
    val early = ev.filter(expr(s"unix_micros(event_ts) < ${tMidUs}L"))
    val late = ev.filter(expr(s"unix_micros(event_ts) >= ${tMidUs}L"))
    // the ledger's unit: distinct early windows (merged partials), see doc
    val nEarlyWindows = early
      .select(expr("unix_micros(event_ts) div 3600000000").as("h"))
      .distinct().count()

    val scratch = java.nio.file.Files
      .createTempDirectory("graft-q180-").toString
    val qname = s"q180_${System.nanoTime()}"
    try {
      late.write.mode("append").parquet(scratch)
      val (rows, dropped) = graft.streaming.StreamConf
        .withStateParts(s, n = 4) {
          val q = s.readStream.schema(ev.schema).parquet(scratch)
            .withWatermark("event_ts", "0 seconds")
            .groupBy(window(col("event_ts"), "1 hour").as("w"))
            .agg(count(lit(1)).as("n_events"))
            .select(expr("unix_micros(w.start)").as("w_start_us"),
              col("n_events"))
            .writeStream.format("memory").queryName(qname)
            .outputMode("append").start()
          try {
            q.processAllAvailable()
            // one part file => atomic visibility to the polling source
            // (multi-file commits can split across micro-batches and
            // double-count windows in the drop ledger — see doc above)
            early.coalesce(1).write.mode("append").parquet(scratch)
            q.processAllAvailable()
            val drops = q.recentProgress.toSeq
              .flatMap(_.stateOperators.toSeq)
              .map(_.numRowsDroppedByWatermark).sum
            (s.table(qname).collect(), drops)
          } finally { q.stop(); s.catalog.dropTempView(qname) }
        }

      // expected: late-half windows whose END the final watermark passed
      val wmUs = late.agg(max(expr("unix_micros(event_ts)")))
        .head().getLong(0) / 1000 * 1000
      val expected = late
        .groupBy(window(col("event_ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(expr("unix_micros(w.start)").as("w_start_us"),
          col("n_events"), expr("unix_micros(w.end)").as("w_end_us"))
        .filter(col("w_end_us") <= wmUs)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      graft.ParityGate(
        rows.toSeq
          .map { r =>
            val t = (r.getLong(0), r.getLong(1))
            (t._1, t._2,
              expected.contains(t) && expected.size == rows.length &&
                dropped == nEarlyWindows)
          }
          .toDF("w_start_us", "n_events", "matches_batch"),
        "q180_late_data_audit", "matches_batch")
    } finally {
      graft.Fs.deleteRecursively(java.nio.file.Paths.get(scratch))
    }
  }

  // --- q78: session_window (gap sessions) under the gate ------------------
  // Streams the events parquet through the file source and groups by
  // `session_window(event_ts, 15 minutes)` per user — the engine's native
  // gap-session operator (dynamic, merging windows: a session is
  // [first_event, last_event + gap), extended whenever the next event
  // lands strictly inside the gap). Append mode emits a session exactly
  // once, when the watermark passes its END — and a session's end (last
  // event + gap) is NOT ms-aligned like q75's hour windows, so the
  // ms-truncated-watermark eviction predicate is load-bearing here, not
  // just documentation:  session_end_us <= floor(maxTsUs/1000)*1000.
  // The batch analog runs the SAME session_window expression (Spark
  // supports it in batch), filtered by that exact predicate; parity is
  // per-session on (start, user) → (end, n_events, sum_v) plus a set-size
  // check. The batch sessionize operator itself (q36, window-gap islands)
  // is oracle-hash-checked — same transitive scheme as q73–q77.
  private def q78(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = s.read.parquet(s"$dir/events.parquet").schema
    def withEventTs(df: DataFrame): DataFrame =
      df.withColumn("event_ts", expr("timestamp_micros(ts div 1000)"))
    def sessions(df: DataFrame): DataFrame = df
      .groupBy(session_window(col("event_ts"), "15 minutes").as("w"),
        col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(expr("CAST(floor(value * 1000) AS BIGINT)")).as("sum_v"))
      .select(col("w.start").as("s_start"), col("w.end").as("s_end"),
        col("user_id"), col("n_events"), col("sum_v"))

    val qname = s"q78_${System.nanoTime()}"
    val streamed = graft.streaming.StreamConf.withStateParts(s) {
      val q = sessions(
        withEventTs(Tables.normalizeEvents(s.readStream.schema(schema)
            .parquet(s"$dir/events*.parquet")))
          .withWatermark("event_ts", "0 seconds"))
        .writeStream.format("memory").queryName(qname)
        .outputMode("append").start()
      try { q.processAllAvailable(); s.table(qname).collect() }
      finally { q.stop(); s.catalog.dropTempView(qname) }
    }

    val events = Tables.load(s, dir, "events")
    val maxTsUs = events.agg(max(expr("ts div 1000"))).head().getLong(0)
    val watermarkUs = Math.floorDiv(maxTsUs, 1000L) * 1000L // ms-truncated
    // The batch analog is derived INDEPENDENTLY via the q36-style
    // lag/cumsum sessionization (new session iff the gap to the previous
    // event is STRICTLY more than 15 min — the engine MERGES touching
    // sessions: two events exactly one gap apart form ONE session, split
    // only at gap+1µs; pinned empirically by the exact-gap case in
    // StreamSweepSpec's boundary test), NOT via batch session_window.
    // Two reasons:
    //  1. independence — the parity bit then compares the streaming
    //     engine against a separately-derived (and, via q36's oracle
    //     hash-check, transitively DuckDB-verified) implementation rather
    //     than the same expression run twice;
    //  2. a sharp edge THIS GATE CAUGHT at sf0.1: filtering on
    //     session_window's end after the aggregation gets pushed below
    //     the session merge by the optimizer (the end parses as a
    //     grouping column, but post-merge it is NOT a per-row function),
    //     silently dropping pre-merge events whose individual
    //     [ts, ts+gap) window crosses the watermark — observed as a
    //     2-event session un-merged into a phantom 1-event session
    //     (DevQ78Debug reproduces). Tumbling windows (q75) are immune:
    //     their window IS a per-row function, so that pushdown is sound.
    // The filter below sits on an aggregate output (max + gap), which
    // the optimizer cannot push past the aggregation.
    val gapUs = 15L * 60L * 1000000L
    val uw = Window.partitionBy("user_id").orderBy("us")
    val batch = withEventTs(events)
      .withColumn("us", expr("unix_micros(event_ts)"))
      .withColumn("new_s",
        when(col("us") - lag(col("us"), 1).over(uw) > gapUs, 1L)
          .otherwise(lit(0L))) // first event per user: lag NULL → 0
      .withColumn("sid", sum(col("new_s")).over(uw))
      .groupBy("user_id", "sid")
      .agg(
        min(col("us")).as("s_us"),
        (max(col("us")) + gapUs).as("e_us"),
        count(lit(1)).as("n_events"),
        sum(expr("CAST(floor(value * 1000) AS BIGINT)")).as("sum_v"))
      .filter(col("e_us") <= watermarkUs)
      .collect()
      .map(r => (usTs(r.getLong(2)), r.getLong(0)) ->
        (usTs(r.getLong(3)), r.getLong(4), r.getLong(5))).toMap
    ParityGate(
      streamed.toSeq
        .map { r =>
          val key = (r.getTimestamp(0), r.getLong(2))
          (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2), r.getLong(3),
            r.getLong(4),
            batch.get(key).contains(
              (r.getTimestamp(1), r.getLong(3), r.getLong(4))) &&
              batch.size == streamed.length)
        }
        .toDF("s_start", "s_end", "user_id", "n_events", "sum_v",
          "matches_batch"),
      "q78_session_window", "matches_batch")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q73_stream_sweep" -> q73 _,
    "q75_stream_window" -> q75 _,
    "q77_stream_join" -> q77 _,
    "q165_stream_outer_join" -> q165 _,
    "q180_late_data_audit" -> q180 _,
    "q78_session_window" -> q78 _,
    "q84_stream_sliding" -> q84 _)

  // Round-14 conversion: the oracle cannot RUN a stream, but it never
  // needed to — each entry's contract is "the streamed result equals a
  // batch-derivable expected set" (asserted in-row by matches_batch,
  // fail-loud), and that EXPECTED SET is plain SQL: the same aggregates/
  // joins plus the engine's own ms-truncated-watermark eviction
  // predicate written out arithmetically. The oracle replays the
  // expected set and pins the bit as literal TRUE, so the driver hash
  // itself now proves the stream emitted exactly the eviction-correct
  // rows. Entries whose output depends on micro-batch arrival order
  // (none here — q75/q78/q84's append emission is watermark-determined,
  // q77/q165's join output is input-determined, q73/q180's harness
  // pins arrival phases deterministically) stay deterministic.

  // q75/q84 share the shape: the window-assignment arithmetic (hour
  // floor for tumbling; q82's proven epoch-aligned k = 0..3 slide grid
  // for sliding — every one of the 4 grid windows contains the event,
  // since (us mod 900e6) + k·900e6 < 3600e6 holds for k ≤ 3), then
  // eviction = window end ≤ ms-truncated max event time.
  private def windowOracle(assignCte: String): String =
    s"""WITH e AS (
       |  SELECT epoch_us(ts) AS us, event_type,
       |    CAST(floor(value * 1000) AS BIGINT) AS v
       |  FROM events
       |), wm AS (
       |  SELECT (MAX(us) // 1000) * 1000 AS w FROM e
       |), x AS (
       |$assignCte
       |)
       |SELECT make_timestamp(w_us) AS w_start, event_type,
       |  COUNT(*) AS n_events, CAST(SUM(v) AS BIGINT) AS sum_v,
       |  TRUE AS matches_batch
       |FROM x, wm
       |GROUP BY w_us, event_type, wm.w
       |HAVING w_us + 3600000000 <= wm.w""".stripMargin

  private val q75Sql = windowOracle(
    """  SELECT (us // 3600000000) * 3600000000 AS w_us, event_type, v
      |  FROM e""".stripMargin)

  private val q84Sql = windowOracle(
    """  SELECT ((us // 900000000) - k) * 900000000 AS w_us, event_type, v
      |  FROM e, unnest(generate_series(0, 3)) AS t(k)""".stripMargin)

  private val q77Sql =
    """WITH v AS (
      |  SELECT event_id AS v_id, user_id AS v_user, epoch_us(ts) AS v_us
      |  FROM events WHERE event_type = 'view'
      |), c AS (
      |  SELECT event_id AS c_id, user_id AS c_user, epoch_us(ts) AS c_us
      |  FROM events WHERE event_type = 'click'
      |)
      |SELECT v.v_id, c.c_id, v.v_user AS user_id, TRUE AS matches_batch
      |FROM v JOIN c ON v.v_user = c.c_user
      |  AND c.c_us >= v.v_us AND c.c_us <= v.v_us + 600000000""".stripMargin

  private val q165Sql =
    """WITH v AS (
      |  SELECT event_id AS v_id, user_id AS v_user, epoch_us(ts) AS v_us
      |  FROM events WHERE event_type = 'view'
      |), c AS (
      |  SELECT event_id AS c_id, user_id AS c_user, epoch_us(ts) AS c_us
      |  FROM events WHERE event_type = 'click'
      |), wm AS (
      |  SELECT (LEAST((SELECT MAX(v_us) FROM v), (SELECT MAX(c_us) FROM c))
      |    // 1000) * 1000 AS w
      |)
      |SELECT v.v_id, c.c_id, v.v_user AS user_id, TRUE AS matches_batch
      |FROM v JOIN c ON v.v_user = c.c_user
      |  AND c.c_us >= v.v_us AND c.c_us <= v.v_us + 600000000
      |UNION ALL
      |SELECT v.v_id, NULL, v.v_user, TRUE
      |FROM v, wm
      |WHERE NOT EXISTS (
      |    SELECT 1 FROM c WHERE c.c_user = v.v_user
      |      AND c.c_us >= v.v_us AND c.c_us <= v.v_us + 600000000)
      |  AND v.v_us + 600000000 <= wm.w""".stripMargin

  private val q78Sql =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS us,
      |    CAST(floor(value * 1000) AS BIGINT) AS v
      |  FROM events
      |), s1 AS (
      |  SELECT user_id, us, v,
      |    CASE WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us)
      |      > 900000000 THEN 1 ELSE 0 END AS new_s
      |  FROM e
      |), s2 AS (
      |  SELECT user_id, us, v,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM s1
      |), g AS (
      |  SELECT user_id, MIN(us) AS s_us, MAX(us) + 900000000 AS e_us,
      |    CAST(COUNT(*) AS BIGINT) AS n_events, CAST(SUM(v) AS BIGINT) AS sum_v
      |  FROM s2 GROUP BY user_id, sid
      |), wm AS (
      |  SELECT (MAX(us) // 1000) * 1000 AS w FROM e
      |)
      |SELECT make_timestamp(s_us) AS s_start, make_timestamp(e_us) AS s_end,
      |  user_id, n_events, sum_v, TRUE AS matches_batch
      |FROM g, wm WHERE e_us <= wm.w""".stripMargin

  private val q180Sql =
    """WITH e AS (
      |  SELECT epoch_us(ts) AS us FROM events
      |), b AS (
      |  SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM e
      |), late AS (
      |  SELECT us FROM e, b WHERE us >= b.mid
      |), wm AS (
      |  SELECT (MAX(us) // 1000) * 1000 AS w FROM late
      |)
      |SELECT w_start_us, n_events, TRUE AS matches_batch FROM (
      |  SELECT (us // 3600000000) * 3600000000 AS w_start_us,
      |    COUNT(*) AS n_events
      |  FROM late GROUP BY 1) g, wm
      |WHERE g.w_start_us + 3600000000 <= wm.w""".stripMargin

  private def q73Sql =
    s"""SELECT *, TRUE AS matches_batch FROM (
       |${Sizing.q20Sql}
       |)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q73_stream_sweep" -> q73Sql,
    "q75_stream_window" -> q75Sql,
    "q77_stream_join" -> q77Sql,
    "q78_session_window" -> q78Sql,
    "q84_stream_sliding" -> q84Sql,
    "q165_stream_outer_join" -> q165Sql,
    "q180_late_data_audit" -> q180Sql)
}
