package perfbench

import graft.sizing.{SizingConfig, SizingReport}

/** Sequential reference for the checked parts of a sizing report,
  * recomputed on the driver from the generated rows, one row at a time in
  * the reference tool's style.
  *
  * Every expression repeats the pipeline's double arithmetic in the same
  * operation order (`Formulas.derive`), so pod counts match exactly, not
  * within a tolerance.
  */
final case class Expected(
    total: Long,
    skipped: Long,
    pruned: Long,
    kept: Long,
    matrix: Map[String, Map[String, Long]],
    maxConcurrentQueries: Long,
    maxPodsQueryId: String,
    pools: Seq[String])

object SequentialCheck {

  val Sizes: Seq[String] = Seq("XSMALL", "SMALL", "MEDIUM", "LARGE", "CUSTOM")
  val Dims: Seq[String] = Seq("count", "cache", "mem", "cpu", "spill")

  def tsize(pods: Long): String =
    if (pods <= 2) "XSMALL" else if (pods <= 10) "SMALL"
    else if (pods <= 20) "MEDIUM" else if (pods <= 40) "LARGE" else "CUSTOM"

  /** (overall pods, per-dimension pods in cache/mem/cpu/spill order). */
  def pods(q: QRow, mem: Long, cfg: SizingConfig): (Long, Seq[Long]) = {
    val durSec = q.durationMs / 1000.0
    val cpuSec = q.cpuCs / 100.0
    val minPar = math.ceil(if (durSec == 0) 0.0 else cpuSec / durSec)
    val ratios = Seq(
      q.cacheQ / 4.0 * (cfg.cacheAdjustmentPct / 100.0) / cfg.cacheGbPerNode,
      mem / 4.0 * (cfg.memAdjustmentPct / 100.0) / cfg.queryMemPerNode,
      minPar * (cfg.cpuAdjustmentPct / 100.0) / cfg.parallelFactor,
      q.spillQ / 4.0 / cfg.scratchGbPerNode)
    (math.ceil(ratios.max).toLong, ratios.map(r => math.ceil(r).toLong))
  }

  def expected(rows: Seq[QRow], cfg: SizingConfig): Expected = {
    val sized = rows.flatMap(q => q.memQ.map(m => q -> pods(q, m, cfg)))
    val (pruned, kept) = sized.partition(_._2._1 > cfg.podLimit)
    val matrix = kept
      .flatMap { case (_, (p, dims)) =>
        Dims.zip(p +: dims).map { case (d, v) => (tsize(v), d) } }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    // Sweep line: ends sort before starts at equal instants; the maximum
    // is taken at start events only (py:351-396).
    val events = kept.flatMap { case (q, _) =>
      val admitted = (q.startMs + q.waitMs) * 1000
      Seq((admitted, 1, q.id), (q.endMs * 1000, 0, q.id))
    }.sortBy(e => (e._1, e._2, e._3))
    var run = 0L
    var maxRun = 0L
    events.foreach { case (_, kind, _) =>
      run += (if (kind == 1) 1 else -1)
      if (kind == 1 && run > maxRun) maxRun = run
    }
    val argmax = kept.map { case (q, (p, _)) => (p, q.id) }.max._2
    Expected(
      total = sized.size,
      skipped = rows.size - sized.size,
      pruned = pruned.size,
      kept = kept.size,
      matrix = Sizes.map(t =>
        t -> Dims.map(d => d -> matrix.getOrElse((t, d), 0L)).toMap).toMap,
      maxConcurrentQueries = maxRun,
      maxPodsQueryId = argmax,
      pools = sized.map(_._1.pool).distinct.sorted)
  }

  /** Mismatches between a pipeline report (plus its skip sink's line
    * count) and the reference; empty when they agree.
    */
  def diff(rep: SizingReport, skipLines: Long, exp: Expected): Seq[String] = {
    def cell(t: String, d: String) =
      rep.matrix.getOrElse(t, Map.empty[String, Long]).getOrElse(d, 0L)
    val checks = Seq(
      ("total", rep.totalQueries, exp.total),
      ("skipped", skipLines, exp.skipped),
      ("pruned", rep.pruneCount, exp.pruned),
      ("max_concurrent_queries", rep.maxConcurrentQueries,
        exp.maxConcurrentQueries),
      ("max_pods_query_id", rep.maxPodsQueryId, exp.maxPodsQueryId),
      ("pools", rep.pools.sorted, exp.pools)) ++
      (for (t <- Sizes; d <- Dims)
        yield (s"matrix[$t][$d]", cell(t, d), exp.matrix(t)(d)))
    checks.collect { case (k, got, want) if got != want =>
      s"$k: got $got, want $want" }
  }

  /** Shares of each route, t-shirt size (per dimension, over kept rows)
    * and pool in a generated input, for the run's input profile.
    */
  def profile(rows: Seq[QRow], exp: Expected): Map[String, Double] = {
    val n = rows.size.toDouble
    val routes = Map(
      "route.kept" -> exp.kept / n, "route.pruned" -> exp.pruned / n,
      "route.skipped" -> exp.skipped / n)
    val sizes = for (t <- Sizes; d <- Dims)
      yield s"tsize.$d.$t" -> exp.matrix(t)(d) / exp.kept.toDouble
    val pools = rows.groupBy(_.pool).map { case (p, rs) =>
      s"pool.$p" -> rs.size / n }
    routes ++ sizes ++ pools
  }
}
