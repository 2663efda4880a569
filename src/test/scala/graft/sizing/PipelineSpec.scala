package graft.sizing

import graft.SparkTestBase
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end EP1 golden test (SURVEY §5.3): CSV fixture → sinks + report,
  * every number hand-computed from the reference formulas.
  *
  * Fixture (defaults: cache/scratch 1000 GB, mem 200 GB, 16 vcores,
  * cpu_adj 80 → parallel_factor 16, pod_limit 100):
  *  - q1: ratios data 3.0, mem 2.5, cpu 0.2, spill 1.5 → pod 3, kept
  *  - q2: ratios 0.5/0.5/0.05/0 → pod 1, kept; overlaps q1 on [5s,10s)
  *  - q3: cache 150000 GB → ratio 150 > 100 → pruned
  *  - q4: missing reqd_agg_mem → skipped
  */
class PipelineSpec extends SparkTestBase {

  private val csv =
    """query_id,pool,start_time,end_time,duration_millis,reqd_cache_gb,reqd_agg_mem,memory_spilled_gb,cpu_time_sec,query_type,admission_wait,num_backends
      |q1,etl,2021-07-12T00:00:00.000Z,2021-07-12T00:00:10.000Z,10000,3000,500,1500,40,QUERY,0,2
      |q2,bi,2021-07-12T00:00:05.000Z,2021-07-12T00:00:15.000Z,10000,500,100,0,10,QUERY,0,1
      |q3,etl,2021-07-12T00:01:00.000Z,2021-07-12T00:01:10.000Z,10000,150000,1,0,1,QUERY,0,1
      |q4,etl,2021-07-12T00:02:00.000Z,2021-07-12T00:02:10.000Z,10000,1,,0,1,QUERY,0,1
      |""".stripMargin

  private lazy val (report, outDir) = {
    val dir = Files.createTempDirectory("graft-pipeline").toFile
    val in = new java.io.File(dir, "querylog.csv")
    Files.writeString(in.toPath, csv)
    val cfg = SizingConfig(inputFile = Some(in.getAbsolutePath))
    (Pipeline.run(spark, cfg, dir.getAbsolutePath), dir)
  }

  test("individual query analysis numbers") {
    assert(report.totalQueries == 3) // kept 2 + pruned 1, skip excluded (Q10)
    assert(report.totalQueryTimeSec == 20.0) // kept only
    assert(report.maxPodsQueryId == "q1")
    assert(report.maxBackends == 2)
    assert(report.maxVcores == 2.0)
    assert(report.maxMem == 250.0)
    assert(report.maxData == 1500.0)
    assert(report.maxDataRate == 150.0)
    assert(report.maxSpill == 750.0)
    assert(report.pools == Seq("bi", "etl"))
    assert(report.pruneCount == 1)
  }

  test("concurrency analysis: q1/q2 overlap window") {
    assert(report.maxConcurrentQueries == 2)
    assert(report.maxPodsWorkload == 3.5) // 3.0 + 0.5 un-ceiled ratios
    assert(report.maxConcurrentMemory == 350.0) // 250 + 100
    assert(report.maxConcurrentCache == 2000.0) // 1500 + 500
    assert(report.maxConcurrentCores == 3.0) // 2 + 1
    assert(report.maxConcurrentDataRate == 200.0) // 150 + 50
    assert(report.maxConcurrentSpill == 750.0)
    val q2start = java.time.Instant.parse("2021-07-12T00:00:05Z")
    assert(report.maxPodsWorkloadStartUs == q2start.toEpochMilli * 1000)
  }

  test("cluster sizing + matrix + constrained-by") {
    assert(report.minExecutorPodWorkload == 3)
    assert(report.tsizeWorkload == "SMALL")
    assert(report.constrainedBy == Seq("cache", "mem")) // fixed order (Q13)
    assert(report.matrix("SMALL") ==
      Map("count" -> 1L, "cache" -> 1L, "mem" -> 1L, "cpu" -> 0L, "spill" -> 0L))
    assert(report.matrix("XSMALL") ==
      Map("count" -> 1L, "cache" -> 1L, "mem" -> 1L, "cpu" -> 2L, "spill" -> 2L))
  }

  test("utilization percentages (A7)") {
    assert(report.utilizationPct("mem") == 50.0) // 6000/(3*200*20)
    assert(report.utilizationPct("cache") == 100.0 * 35000 / (3 * 1000 * 20))
    assert(report.utilizationPct("cpu") == 100.0 * 50 / (3 * 16 * 20))
    assert(report.utilizationPct("spill") == 25.0)
  }

  test("sinks: main/prune/skip files with reference-compatible headers") {
    val main = spark.read.option("header", "true")
      .csv(s"$outDir/sizing_output.csv")
    assert(main.count() == 2)
    assert(main.columns.toSeq == Seq("query_id", "pool", "start_time",
      "end_time", "duration_millis", "reqd_cache_gb", "min_exec_pod_cache",
      "tsize_cache", "reqd_agg_mem", "min_exec_pod_mem", "tsize_mem",
      "cpu_time_sec", "query_sla_sec", "reqd_parallelism_cpu",
      "min_exec_pod_cpu", "tsize_cpu", "memory_spilled_gb",
      "in_executor_pod_spill", "tsize_spill", "min_executor_pod",
      "recommended_tsize", "query_type", "admission_wait", "num_backends"))
    val q1 = main.filter(main("query_id") === "q1").head()
    assert(q1.getAs[String]("min_executor_pod") == "3")
    assert(q1.getAs[String]("recommended_tsize") == "SMALL")
    assert(q1.getAs[String]("tsize_cpu") == "XSMALL")

    val prune = spark.read.option("header", "true")
      .csv(s"$outDir/sizing_pruned.csv")
    assert(prune.select("query_id").collect().map(_.getString(0)).toSeq
      == Seq("q3"))

    val skip = spark.read.text(s"$outDir/skipped_queries.txt")
      .collect().map(_.getString(0))
    assert(skip.toSeq ==
      Seq("q4|10000|2021-07-12T00:02:00.000Z|2021-07-12T00:02:10.000Z"))
  }

  test("a row with missing end_time cannot corrupt the sweep-line") {
    // q2's end event would otherwise sort at the null instant (before
    // every start) and push the running sums negative
    val dir = Files.createTempDirectory("graft-nullend").toFile
    val in = new java.io.File(dir, "querylog.csv")
    Files.writeString(in.toPath,
      """query_id,pool,start_time,end_time,duration_millis,reqd_cache_gb,reqd_agg_mem,memory_spilled_gb,cpu_time_sec,query_type,admission_wait,num_backends
        |q1,etl,2021-07-12T00:00:00.000Z,2021-07-12T00:00:10.000Z,10000,3000,500,0,40,QUERY,0,2
        |q2,etl,2021-07-12T00:00:05.000Z,,10000,500,100,0,10,QUERY,0,1
        |""".stripMargin)
    val cfg = SizingConfig(inputFile = Some(in.getAbsolutePath))
    val r = Pipeline.run(spark, cfg, dir.getAbsolutePath)
    // q2 still reaches the main CSV and the aggregates...
    assert(r.totalQueries == 2)
    val main = spark.read.option("header", "true")
      .csv(s"${dir.getAbsolutePath}/sizing_output.csv")
    assert(main.count() == 2)
    // ...but only q1 contributes a well-formed interval to the sweep
    assert(r.maxConcurrentQueries == 1)
    assert(r.maxPodsWorkload == 3.0)
  }

  test("report renders all five sections") {
    val r = report.render
    Seq("Individual Query Analysis", "Concurrent Query Analysis",
      "Cluster Sizing", "Query Counts", "Average Cluster Utilization")
      .foreach(s => assert(r.contains(s), s))
    assert(r.contains("Max Memory Per Node: 250.0 GB")) // Q7 fixed label
  }

  /** Every row over `pod_limit` (q3's shape) plus one skipped row: the
    * kept set is empty.
    */
  private val allPrunedCsv =
    """query_id,pool,start_time,end_time,duration_millis,reqd_cache_gb,reqd_agg_mem,memory_spilled_gb,cpu_time_sec,query_type,admission_wait,num_backends
      |p1,etl,2021-07-12T00:01:00.000Z,2021-07-12T00:01:10.000Z,10000,150000,1,0,1,QUERY,0,1
      |p2,bi,2021-07-12T00:01:05.000Z,2021-07-12T00:01:20.000Z,15000,120000,900,0,1,QUERY,0,2
      |p3,etl,2021-07-12T00:02:00.000Z,2021-07-12T00:02:10.000Z,10000,1,,0,1,QUERY,0,1
      |""".stripMargin

  private def writeInput(text: String): (SizingConfig, String) = {
    val dir = Files.createTempDirectory("graft-prepass").toFile
    val in = new java.io.File(dir, "querylog.csv")
    Files.writeString(in.toPath, text)
    (SizingConfig(inputFile = Some(in.getAbsolutePath)), dir.getAbsolutePath)
  }

  /** `Pipeline.finish`'s routing, recomposed from the public layers. */
  private def routed(cfg: SizingConfig): (DataFrame, DataFrame, DataFrame) = {
    val raw = Pipeline.withEventInstants(
      Pipeline.readQuerylogCsv(spark, cfg.inputFile.get))
    val pooled = Routing.poolFilter(raw, cfg)
    val (kept, pruned) = Routing.pruneSplit(
      Formulas.derive(pooled.filter(!Routing.skipPredicate), cfg), cfg)
    (kept, pruned, pooled.filter(Routing.skipPredicate))
  }

  for ((name, text) <- Seq("fixture" -> csv, "every row pruned" -> allPrunedCsv))
    test(s"pre-pass report equals the standalone aggregates ($name)") {
      val (cfg, _) = writeInput(text)
      val (kept, pruned, skipped) = routed(cfg)
      val got = Report.build(cfg, kept, Pipeline.concurrency(kept),
        Report.routedCounts(kept, pruned, skipped))

      val g = Aggregates.global(kept).head()
      val r = kept.agg(
        max(round(col("avg_vcores_per_node"), 2)),
        max(round(col("avg_mem_per_node"), 2)),
        max(round(col("avg_cache_per_node"), 2)),
        max(round(col("avg_data_rate_per_node"), 2)),
        max(round(col("avg_spill_per_node"), 2))).head()
      val matrix = Aggregates.sizeMatrix(kept).collect().map { m =>
        m.getAs[String]("tsize") -> Seq("count", "cache", "mem", "cpu",
          "spill").map(d => d -> m.getAs[Long](d)).toMap
      }.toMap
      val pod = g.getAs[Long]("min_executor_pod_workload")
      val tsizeWl = Bucketing.tsizeValue(pod)
      val routedPools = kept.select("pool").union(pruned.select("pool"))
        .distinct().collect().map(_.getString(0)).sorted.toSeq
      val want = got.copy( // the concurrency fields are the sweep's
        totalQueries = kept.count() + pruned.count(),
        totalQueryTimeSec = g.getAs[Double]("total_query_time_sec"),
        maxPodsQueryId = g.getAs[String]("max_pods_query_id"),
        maxBackends = g.getAs[Int]("max_backends"),
        maxVcores = r.getAs[Double](0),
        maxMem = r.getAs[Double](1),
        maxData = r.getAs[Double](2),
        maxDataRate = r.getAs[Double](3),
        maxSpill = r.getAs[Double](4),
        pools = routedPools,
        pruneCount = pruned.count(),
        minExecutorPodWorkload = pod,
        tsizeWorkload = tsizeWl,
        constrainedBy = Aggregates.constrainedBy(matrix, tsizeWl),
        matrix = matrix,
        utilizationPct = Aggregates.utilizationPct(g, cfg))
      assert(got == want)
      assert(got.matrix.keySet == matrix.keySet)
    }

  test("the rounded maximum equals the maximum of the rounded values") {
    // the pre-pass rounds max(x) once instead of every x: exact only
    // because round(_, 2) is monotone — checked across half-way values,
    // negatives and wide magnitudes, 40 groups of 50
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    val xs = (0 until 2000).map(i => (i % 40, rnd.nextInt(4) match {
      case 0 => rnd.nextInt(100000) / 1000.0 + 0.005
      case 1 => rnd.nextDouble() * 1e6
      case 2 => -rnd.nextDouble()
      case _ => rnd.nextInt(1000) / 100.0
    }))
    val diff = xs.toDF("g", "x").groupBy("g")
      .agg(max(round(col("x"), 2)).as("a"), round(max(col("x")), 2).as("b"))
      .filter(!(col("a") <=> col("b")))
    assert(diff.isEmpty)
  }

  test("a run over a log with every row pruned reports an empty kept set") {
    val (cfg, dir) = writeInput(allPrunedCsv)
    val r = Pipeline.run(spark, cfg, dir)
    assert(r.totalQueries == 2 && r.pruneCount == 2)
    assert(r.matrix.isEmpty && r.constrainedBy.isEmpty)
    assert(r.maxConcurrentQueries == 0 && r.minExecutorPodWorkload == 0)
  }

  /** Jobs one `Pipeline.run` starts on the fixture, counted by a
    * SparkListener: 23 while the report's aggregates ran as their own
    * passes and the sweep as a full prefix scan; 11 with them folded into
    * the routing pre-pass and per-bucket summaries. Pinned so that
    * splitting the pre-pass (or the sweep) again fails here.
    */
  private val RunJobs = 11

  test(s"one Pipeline.run starts $RunJobs Spark jobs") {
    val sc = spark.sparkContext
    val tag = "graft.test.phase"
    val jobs = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(tag)).orNull match {
          case "run" => jobs.incrementAndGet()
          case "marker" => drained.countDown()
          case _ =>
        }
    }
    val (cfg, dir) = writeInput(csv)
    sc.addSparkListener(listener)
    try withConf("spark.sql.shuffle.partitions" -> "4",
        "spark.sql.adaptive.enabled" -> "true") {
      sc.setLocalProperty(tag, "run")
      Pipeline.run(spark, cfg, dir)
      // the listener bus is FIFO: once this job's start arrives, every
      // job of the run has been counted
      sc.setLocalProperty(tag, "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS))
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
    assert(jobs.get == RunJobs)
  }
}
