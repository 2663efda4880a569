package perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

/** One generated query, in the units both input modes derive from.
  *
  * Byte-valued metrics are held in quarter-GiB units and CPU time in
  * centiseconds, so the CSV's GB/second values and the REST documents'
  * byte/millisecond values convert to identical doubles on both paths
  * (quarter GiB is exact in binary; `cs / 100.0` and
  * `round(ms / 1000.0, 2)` land on the same double).
  */
final case class QRow(
    id: String,
    pool: String,
    startMs: Long,
    durationMs: Long,
    waitMs: Long,
    backends: Int,
    cacheQ: Long,
    memQ: Option[Long], // None: the metric is missing, the skip route
    spillQ: Long,
    cpuCs: Long) {
  def endMs: Long = startMs + durationMs
}

/** Seeded querylog generator shared by the CSV and REST workloads.
  *
  * Input properties (the ones the sizing pipeline's cost and output depend
  * on):
  *  - arrivals follow a daily curve (business-hours peaks and a nightly
  *    ETL bump) plus short bursts, so the sweep's uniform time buckets
  *    are unbalanced the way real logs are;
  *  - durations are log-normal with a capped heavy tail;
  *  - each row draws a target t-shirt size for its largest dimension, and
  *    one of the four dimensions carries it, so every size is populated
  *    on every dimension;
  *  - about 2% of rows lack `reqd_agg_mem` (skip route) and about 1%
  *    exceed the default `pod_limit` of 100 (prune route);
  *  - six pools with skewed shares;
  *  - start instants are unique to the millisecond, which the REST
  *    emulator's window cut relies on to deliver each row exactly once.
  */
object QuerylogGen {

  val Epoch: Long = Instant.parse("2024-03-04T00:00:00Z").toEpochMilli
  val Days = 7
  private val DayMs = 86400000L

  val Pools: Seq[(String, Double)] = Seq(
    "root.etl" -> 0.35, "root.bi" -> 0.25, "root.adhoc" -> 0.20,
    "root.ml" -> 0.10, "root.reporting" -> 0.07, "root.default" -> 0.03)

  /** Share of rows per largest-dimension pod range; the last range is
    * over the default pod limit and lands on the prune route.
    */
  private val SizeClasses: Seq[((Int, Int), Double)] = Seq(
    (0, 2) -> 0.44, (3, 10) -> 0.27, (11, 20) -> 0.14, (21, 40) -> 0.08,
    (41, 100) -> 0.06, (101, 300) -> 0.01)

  private val SkipShare = 0.02
  private val BurstShare = 0.15
  private val Bursts = 40

  private val iso = DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(ZoneOffset.UTC)
  def fmt(ms: Long): String = iso.format(Instant.ofEpochMilli(ms))

  private def pick[T](r: SplittableRandom, ws: Seq[(T, Double)]): T = {
    var u = r.nextDouble() * ws.map(_._2).sum
    ws.find { case (_, w) => u -= w; u < 0 }.getOrElse(ws.last)._1
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian
    val u1 = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** Relative arrival intensity over the day (hours, UTC). */
  private def dailyCurve(h: Double): Double = {
    def bump(mu: Double, sd: Double) =
      math.exp(-0.5 * math.pow((h - mu) / sd, 2))
    0.15 + bump(10, 1.8) + 0.8 * bump(15, 2.0) + 0.6 * bump(2, 0.7)
  }

  private def arrival(r: SplittableRandom, bursts: Array[Long]): Long =
    if (r.nextDouble() < BurstShare)
      bursts(r.nextInt(bursts.length)) + r.nextLong(120000L)
    else {
      var h = 0.0
      while ({ h = r.nextDouble() * 24; r.nextDouble() * 1.7 > dailyCurve(h) })
        ()
      Epoch + r.nextInt(Days) * DayMs + (h * 3600000).toLong
    }

  /** A value whose `ceil(value / perPod)` is `pods` (0 stays 0), in
    * quarter units.
    */
  private def unitsFor(r: SplittableRandom, pods: Int, perPod: Double)
      : Long =
    if (pods == 0) 0L
    else math.ceil(((pods - 1) + 0.01 + 0.98 * r.nextDouble()) * perPod * 4)
      .toLong

  def generate(seed: Long, n: Int): IndexedSeq[QRow] = {
    val r = new SplittableRandom(seed)
    val bursts = Array.fill(Bursts)(
      Epoch + (r.nextDouble() * (Days * DayMs - 120000L)).toLong)
    val starts = Array.fill(n)(arrival(r, bursts))
    java.util.Arrays.sort(starts)
    for (i <- 1 until n) // unique to the millisecond
      if (starts(i) <= starts(i - 1)) starts(i) = starts(i - 1) + 1
    val idHigh = r.nextLong()
    starts.indices.map { i =>
      val (lo, hi) = pick(r, SizeClasses)
      val top = lo + r.nextInt(hi - lo + 1)
      val carrier = r.nextInt(4)
      def pods(dim: Int) =
        if (dim == carrier) top
        else (top * math.pow(r.nextDouble(), 2)).toInt
      val dur = math.max(20L, math.min(6 * 3600000L,
        math.exp(math.log(2000) + 1.6 * gaussian(r)).toLong))
      val wait =
        if (r.nextDouble() < 0.7) 0L
        else math.min(dur / 2, math.exp(math.log(200) + gaussian(r)).toLong)
      // cpu pods = ceil(ceil(cpu / dur) * 0.8 / 16): target a
      // parallelism inside the pod count's range
      val cpuPods = pods(2)
      val par =
        if (cpuPods == 0) 0.0
        else 20.0 * (cpuPods - 1) + 0.5 + 19.0 * r.nextDouble()
      val cpuCs = (par * dur / 10.0).toLong // cs = s * 100 = ms / 10
      QRow(
        id = f"${idHigh ^ i.toLong * 0x9E3779B97F4A7C15L}%016x:$i%016x",
        pool = pick(r, Pools),
        startMs = starts(i),
        durationMs = dur,
        waitMs = wait,
        backends = 1 + (math.pow(r.nextDouble(), 2) * 20).toInt,
        cacheQ = unitsFor(r, pods(0), 1000),
        memQ =
          if (r.nextDouble() < SkipShare) None
          else Some(math.max(1L, unitsFor(r, pods(1), 200))),
        spillQ = unitsFor(r, pods(3), 1000),
        cpuCs = cpuCs)
    }
  }

  private def gb(q: Long): String = (q / 4.0).toString
  private def sec(cs: Long): String = java.math.BigDecimal.valueOf(cs, 2)
    .toPlainString

  val CsvHeader: String =
    "query_id,pool,start_time,end_time,duration_millis,reqd_cache_gb," +
      "reqd_agg_mem,memory_spilled_gb,cpu_time_sec,query_type," +
      "admission_wait,num_backends"

  /** CSV-mode querylog (the reference's 12 input columns). */
  def writeCsv(rows: Seq[QRow], path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      w.write(CsvHeader); w.write('\n')
      rows.foreach { q =>
        w.write(s"${q.id},${q.pool},${fmt(q.startMs)},${fmt(q.endMs)}," +
          s"${q.durationMs},${gb(q.cacheQ)},${q.memQ.map(gb).getOrElse("")}," +
          s"${gb(q.spillQ)},${sec(q.cpuCs)},QUERY,${q.waitMs},${q.backends}\n")
      }
    } finally w.close()
  }

  /** API-mode document (Cloudera Manager `impalaQueries` shape): bytes,
    * milliseconds and the nested `attributes` string map.
    */
  def restDoc(q: QRow): String = {
    def bytes(u: Long) = (u << 28).toString // quarter GiB
    val mem = q.memQ.map(m =>
      s""","memory_aggregate_peak":"${bytes(m)}"""").getOrElse("")
    s"""{"queryId":"${q.id}","startTime":"${fmt(q.startMs)}",""" +
      s""""endTime":"${fmt(q.endMs)}","durationMillis":${q.durationMs},""" +
      s""""queryState":"FINISHED","user":"svc","queryType":"QUERY",""" +
      s""""attributes":{"pool":"${q.pool}",""" +
      s""""hdfs_bytes_read":"${bytes(q.cacheQ)}"$mem,""" +
      s""""memory_spilled":"${bytes(q.spillQ)}",""" +
      s""""thread_cpu_time":"${q.cpuCs * 10}",""" +
      s""""admission_wait":"${q.waitMs}","num_backends":"${q.backends}"}}"""
  }
}
