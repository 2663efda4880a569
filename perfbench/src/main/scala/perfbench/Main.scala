package perfbench

import graft.sizing.{Formulas, Pipeline, Report, Routing, SizingConfig, SizingReport}
import graft.sources.RestAdapter
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using
import scala.util.control.NonFatal

/** Benchmark entry point for the sizing pipeline (closed loop: one client, one
  * operation at a time).
  *
  * Workloads:
  *  - `sizing_csv`: `Pipeline.run` over a generated querylog CSV;
  *  - `sizing_rest`: `Pipeline.runRest` (source defaults, one slice) over
  *    the loopback Cloudera Manager emulator.
  *
  * With `--trace 0` it times the public entry points exactly as users
  * call them and reports the end-to-end metrics. With `--trace 1` it
  * alternates untraced runs with traced passes that recompose the same
  * work from the public layer functions inside spans, and reports the
  * per-layer metrics. Every report is checked against
  * [[SequentialCheck]]; a mismatch or an exception is a failed operation.
  *
  * Usage: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --cpus N --dir RUN_DIR --result FILE`
  */
object Main {

  val Rows: Map[String, Int] = Map("sizing_csv" -> 20000, "sizing_rest" -> 20000)
  val SetupRepeats = 2
  val MinReps = 3
  val RestDelayMs = 5L
  val RestCap = 6000 // rows one window may return before it is cut

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cpus: Int, dir: Path, result: Path)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("cpus").toInt, Paths.get(m("dir")),
      Paths.get(m("result")))
  }

  private val t0 = System.nanoTime()
  private def log(s: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f] $s")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(sys.error("VmHWM not available"))

  /** An input the operations run over: its rows, the reference result and
    * how to run the pipeline on it.
    */
  final class Input(val rows: IndexedSeq[QRow], val exp: Expected,
      val run: (SparkSession, String) => SizingReport,
      val traced: (SparkSession, Trace, String) => (SizingReport, Map[String, Double]),
      val restName: Option[String])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cfg = SizingConfig()
    Files.createDirectories(a.dir)
    val n = Rows.getOrElse(a.workload, sys.error(s"unknown workload ${a.workload}"))
    val emulator =
      if (a.workload == "sizing_rest") Some(new CmEmulator(a.cpus, RestDelayMs, RestCap, "bench",
        s"pw-${a.seed}"))
      else None
    try {
      def input(name: String, seed: Long, rows: Int): Input = {
        val qs = QuerylogGen.generate(seed, rows)
        val exp = SequentialCheck.expected(qs, cfg)
        emulator match {
          case None =>
            val csv = a.dir.resolve(s"$name.csv")
            QuerylogGen.writeCsv(qs, csv)
            val c = cfg.copy(inputFile = Some(csv.toString))
            new Input(qs, exp, (s, out) => Pipeline.run(s, c, out),
              (s, tr, out) => Layers.csvPass(s, tr, c, out), None)
          case Some(em) =>
            em.mount(name, qs)
            val pw = a.dir.resolve("cm_password.b64")
            Files.writeString(pw, java.util.Base64.getEncoder
              .encodeToString(em.password.getBytes("UTF-8")))
            val opts = Map("url" -> em.url(name),
              "from" -> QuerylogGen.fmt(QuerylogGen.Epoch),
              "to" -> QuerylogGen.fmt(
                QuerylogGen.Epoch + (QuerylogGen.Days + 1) * 86400000L),
              "user" -> em.user, "passwordFile" -> pw.toString)
            new Input(qs, exp, (s, out) => Pipeline.runRest(s, cfg, opts, out),
              (s, tr, out) => Layers.restPass(s, tr, cfg, opts, out),
              Some(name))
        }
      }
      val measured = input("main", a.seed, n)
      // the warm-up input has the main input's size and distribution, so
      // set-up leaves the JIT about as warm as a user's second run
      val warm = input("warm", a.seed * 31 + 7, n)
      Files.writeString(a.dir.resolve("input_profile.json"),
        SequentialCheck.profile(measured.rows, measured.exp).toSeq.sorted
          .map { case (k, v) => f""""$k":$v%.5f""" }
          .mkString("{", ",", "}\n"))

      val ops = new Ops(a, cfg, emulator)
      val result =
        if (a.trace) ops.traced(measured, warm) else ops.timed(measured, warm)
      Files.writeString(a.result, result)
    } finally emulator.foreach(_.stop())
  }

  /** Runs, checks and counts operations. */
  final class Ops(a: Args, cfg: SizingConfig, emulator: Option[CmEmulator]) {
    var attempted = 0L
    var failed = 0L
    private var outSeq = 0

    def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[${a.cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", a.cpus.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", a.dir.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", a.dir.resolve("warehouse").toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    private def freshOut(): String = {
      outSeq += 1
      a.dir.resolve(s"out-$outSeq").toString
    }

    private def skipLines(out: String): Long = {
      val p = Paths.get(out, cfg.skipQueryFile)
      if (!Files.exists(p)) 0L
      else Using.resource(Files.list(p)) { parts =>
        parts.iterator().asScala
          .filter(_.getFileName.toString.startsWith("part-"))
          .map(f => Using.resource(Files.lines(f))(_.count())).sum
      }
    }

    /** Checks one report; returns false (and logs) on a mismatch. */
    private def check(in: Input, rep: SizingReport, out: String): Boolean = {
      val skipped = skipLines(out)
      val delivery = for (em <- emulator; name <- in.restName) yield {
        val (distinct, dups) = em.delivery(name)
        val n = in.rows.size.toLong
        Seq(
          s"rows served $distinct of $n" -> (distinct == n),
          s"$dups rows served twice" -> (dups == 0),
          s"report ${rep.totalQueries} + skipped $skipped != $n" ->
            (rep.totalQueries + skipped == n))
          .collect { case (msg, false) => msg }
      }
      val bad = SequentialCheck.diff(rep, skipped, in.exp) ++
        delivery.getOrElse(Nil)
      graft.Fs.deleteRecursively(Paths.get(out))
      if (bad.nonEmpty) log(s"CHECK FAILED: ${bad.take(5).mkString("; ")}")
      bad.isEmpty
    }

    /** Runs one checked operation; returns its wall time in seconds, or
      * None when it failed.
      */
    def op[T](in: Input)(body: String => (SizingReport, T)): Option[(Double, T)] = {
      attempted += 1
      System.gc()
      emulator.foreach(_.reset())
      val out = freshOut()
      try {
        val t0 = System.nanoTime()
        val (rep, extra) = body(out)
        val dt = (System.nanoTime() - t0) / 1e9
        if (check(in, rep, out)) Some(dt -> extra) else { failed += 1; None }
      } catch {
        case NonFatal(e) =>
          log(s"OPERATION FAILED: $e")
          e.printStackTrace()
          failed += 1
          None
      }
    }

    private def plain(s: SparkSession, in: Input): Option[Double] =
      op(in)(out => (in.run(s, out), ())).map(_._1)

    private def json(metrics: Seq[(String, Double, String)]): String = {
      val m = metrics.map { case (k, v, u) =>
        s""""$k":{"value":$v,"unit":"$u"}""" }.mkString("{", ",", "}")
      s"""{"correct":${failed == 0},"attempted":$attempted,""" +
        s""""failed":$failed,"metrics":$m}"""
    }

    def timed(main: Input, warm: Input): String = {
      // set-up: session start plus one warm-up operation, repeated
      var spark: SparkSession = null
      val setups = (1 to SetupRepeats).map { i =>
        val t0 = System.nanoTime()
        spark = session()
        plain(spark, warm)
        val dt = (System.nanoTime() - t0) / 1e9
        if (i < SetupRepeats) spark.stop()
        dt
      }
      log(s"setup ${setups.map(x => f"$x%.2f").mkString(" ")}")
      val times = mutable.ArrayBuffer.empty[Double]
      val start = System.nanoTime()
      var reps = 0
      while (reps < MinReps || (System.nanoTime() - start) / 1e9 < a.seconds) {
        val t = plain(spark, main)
        t.foreach(times += _)
        reps += 1
        log(f"rep ${t.getOrElse(Double.NaN)}%.3f s")
      }
      val rss = peakRssMb()
      spark.stop()
      if (times.isEmpty) sys.error("every operation failed")
      val report = median(times.toSeq)
      json(Seq(
        ("setup_s", median(setups), "s"),
        ("peak_rss_mb", rss, "MB"),
        ("report_s", report, "s"),
        ("querylog_rows_per_s", main.rows.size / report, "rows/s")))
    }

    /** Span and engine metrics of the latest traced pass. */
    private def layerMetrics(tr: Trace): Map[String, Double] = {
      tr.awaitQuiet()
      val spans = tr.all
      val p = spans.filter(_.name.startsWith("pass.")).maxBy(_.id)
      def layer(n: String) =
        spans.filter(s => s.parent == p.id && s.name == n).map(_.durMs).sum / 1e3
      val (w, jobMs) = tr.workOf(p.id)
      Seq("ingest", "derive", "route", "sink", "aggregate", "sweep")
        .map(l => s"sizing.${l}_s" -> layer(s"sizing.$l")).toMap ++ Map(
        "sizing.sweep_share" -> layer("sizing.sweep") * 1e3 / p.durMs,
        "spark.sql_executions" -> w.sqlExecutions.toDouble,
        "spark.jobs" -> w.jobs.toDouble,
        "spark.stages" -> w.stages.toDouble,
        "spark.tasks" -> w.tasks.toDouble,
        "spark.planning_ms" -> w.planningMs.toDouble,
        "spark.job_ms" -> jobMs.toDouble,
        "spark.driver_gap_ms" -> (p.durMs - jobMs),
        "spark.task_run_ms" -> w.taskRunMs.toDouble,
        "spark.task_cpu_ms" -> w.taskCpuNs / 1e6,
        "spark.shuffle_read_bytes" -> w.shuffleReadBytes.toDouble,
        "spark.shuffle_write_bytes" -> w.shuffleWriteBytes.toDouble,
        "spark.spill_bytes" -> w.spillBytes.toDouble)
    }

    def traced(main: Input, warm: Input): String = {
      val spark = session()
      val tr = new Trace(spark)
      plain(spark, warm)
      val untraced = mutable.ArrayBuffer.empty[Double]
      val passes = mutable.ArrayBuffer.empty[Map[String, Double]]
      val start = System.nanoTime()
      var rounds = 0
      while (rounds < 2 || (System.nanoTime() - start) / 1e9 < a.seconds) {
        rounds += 1
        plain(spark, main).foreach(untraced += _)
        op(main)(out => main.traced(spark, tr, out)).foreach { case (dt, m) =>
          val rest = emulator.map { em =>
            val req = em.requests.get.toDouble
            Map("rest.requests" -> req,
              "rest.rows_served" -> em.rowsServed.get.toDouble,
              "rest.bytes_served" -> em.bytesServed.get.toDouble,
              "rest.window_shifts" -> em.windowShifts.get.toDouble,
              "rest.serve_ms" -> em.serveNs.get / 1e6,
              "rest.rows_per_request" ->
                (if (req == 0) 0.0 else main.rows.size / req))
          }.getOrElse(Map.empty)
          passes += (m ++ rest ++ layerMetrics(tr) + ("pass_s" -> dt))
        }
      }
      tr.awaitQuiet()
      tr.writeJsonl(a.dir.resolve("trace.jsonl"))
      tr.detach()
      spark.stop()
      if (passes.isEmpty || untraced.isEmpty) sys.error("every operation failed")
      def med(k: String) = median(passes.toSeq.map(_.getOrElse(k, 0.0)))
      json(Layers.Metrics.map { case (k, u) =>
        val v = k match {
          case "trace.overhead_s" => med("pass_s") - median(untraced.toSeq)
          case _ => med(k)
        }
        (k, v, u)
      })
    }
  }
}

/** The traced pass: the work of `Pipeline.run`/`runRest`, recomposed from
  * the program's public layer functions, one span per layer call.
  * Persisted frames are materialized inside the span that produces them,
  * so each span holds its own layer's jobs.
  */
object Layers {

  val Metrics: Seq[(String, String)] = Seq(
    "sizing.ingest_s" -> "s", "sizing.derive_s" -> "s",
    "sizing.route_s" -> "s", "sizing.sink_s" -> "s",
    "sizing.aggregate_s" -> "s", "sizing.sweep_s" -> "s",
    "sizing.sweep_share" -> "ratio",
    "sizing.rows_in" -> "count", "sizing.rows_kept" -> "count",
    "sizing.rows_pruned" -> "count", "sizing.rows_skipped" -> "count",
    "sizing.sweep_events" -> "count",
    "rest.requests" -> "count", "rest.rows_served" -> "count",
    "rest.bytes_served" -> "B", "rest.window_shifts" -> "count",
    "rest.serve_ms" -> "ms", "rest.rows_per_request" -> "rows/request",
    "spark.sql_executions" -> "count", "spark.jobs" -> "count",
    "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.planning_ms" -> "ms", "spark.job_ms" -> "ms",
    "spark.driver_gap_ms" -> "ms", "spark.task_run_ms" -> "ms",
    "spark.task_cpu_ms" -> "ms", "spark.shuffle_read_bytes" -> "B",
    "spark.shuffle_write_bytes" -> "B", "spark.spill_bytes" -> "B",
    "trace.overhead_s" -> "s")

  private def persisted(df: DataFrame): DataFrame = {
    val p = df.persist(); p.count(); p
  }

  def csvPass(spark: SparkSession, tr: Trace, cfg: SizingConfig, out: String)
      : (SizingReport, Map[String, Double]) =
    pass(spark, tr, cfg, out, "pass.csv") {
      val raw = tr.span("sizing.ingest") {
        persisted(Pipeline.withEventInstants(
          Pipeline.readQuerylogCsv(spark, cfg.inputFile.get)))
      }
      (raw, Seq(raw), None)
    }

  def restPass(spark: SparkSession, tr: Trace, cfg: SizingConfig,
      opts: Map[String, String], out: String)
      : (SizingReport, Map[String, Double]) =
    pass(spark, tr, cfg, out, "pass.rest") {
      tr.span("sizing.ingest") {
        var reader = spark.read.format("graft.sources.RestQuerylogSource")
        opts.foreach { case (k, v) => reader = reader.option(k, v) }
        val api = persisted(reader.load())
        val skipped = RestAdapter.skipped(api)
        val nSkipped = skipped.count()
        val raw = persisted(
          Pipeline.withEventInstants(RestAdapter.toQuerylog(api)))
        (raw, Seq(raw, api), Some(skipped -> nSkipped))
      }
    }

  /** Shared downstream of both modes (Pipeline.finish's steps). `ingest`
    * returns the adapted querylog, the frames to release afterwards, and
    * for API mode the source's skipped documents with their count.
    */
  private def pass(spark: SparkSession, tr: Trace, cfg: SizingConfig,
      out: String, name: String)(
      ingest: => (DataFrame, Seq[DataFrame], Option[(DataFrame, Long)]))
      : (SizingReport, Map[String, Double]) = {
    var frames = Seq.empty[DataFrame]
    var counts = Map.empty[String, Double]
    val rep = try tr.span(name) {
      val (raw, held, apiSkipped) = ingest
      frames = held
      val (skipped, derived) = tr.span("sizing.derive") {
        val pooled = Routing.poolFilter(raw, cfg)
        (pooled.filter(Routing.skipPredicate),
          persisted(Formulas.derive(pooled.filter(!Routing.skipPredicate), cfg)))
      }
      frames :+= derived
      val (kept, pruned) = Routing.pruneSplit(derived, cfg)
      val pre = tr.span("sizing.route") {
        Report.routedCounts(kept, pruned, skipped)
      }
      tr.span("sizing.sink") {
        def csv(df: DataFrame, file: String): Unit =
          Pipeline.outputRow(df).write.mode("overwrite")
            .option("header", "true").csv(s"$out/$file")
        csv(kept, cfg.outputFile)
        if (pre.getAs[Long]("n_pruned") > 0) csv(pruned, cfg.pruneOutputFile)
        val skipSink = apiSkipped match {
          case Some((api, n)) if n > 0 => Some(api.select(concat_ws("|",
            col("query_id"), col("duration_millis"), col("start_time"),
            col("end_time"), col("query_state")).as("value")))
          case None if pre.getAs[Long]("n_skipped") > 0 => Some(
            skipped.select(concat_ws("|", col("query_id"),
              col("duration_millis"), col("start_time"),
              col("end_time")).as("value")))
          case _ => None
        }
        skipSink.foreach(_.write.mode("overwrite")
          .text(s"$out/${cfg.skipQueryFile}"))
      }
      val conc = tr.span("sizing.sweep") { Pipeline.concurrency(kept).head() }
      val rep = tr.span("sizing.aggregate") {
        // the sweep row is already computed; Report.build collects the
        // fused global aggregates and the size matrix
        Report.build(cfg, kept, spark.createDataFrame(
          java.util.List.of(conc), conc.schema), pre)
      }
      val nKept = pre.getAs[Long]("n") - pre.getAs[Long]("n_pruned")
      counts = Map(
        "sizing.rows_in" -> pre.getAs[Long]("n").toDouble,
        "sizing.rows_kept" -> nKept.toDouble,
        "sizing.rows_pruned" -> pre.getAs[Long]("n_pruned").toDouble,
        // every generated row has both instants: two sweep events each
        "sizing.sweep_events" -> 2.0 * nKept,
        "sizing.rows_skipped" -> apiSkipped.map(_._2)
          .getOrElse(pre.getAs[Long]("n_skipped")).toDouble)
      rep
    } finally frames.foreach(_.unpersist())
    (rep, counts)
  }
}
