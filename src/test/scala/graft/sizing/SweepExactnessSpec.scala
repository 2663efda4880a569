package graft.sizing

import graft.SparkTestBase
import graft.plans.PrefixSum
import java.math.{BigDecimal => JBigDecimal}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `Pipeline.concurrency` reduces the sweep to per-bucket summaries folded
  * on the driver. It must equal, column for column, the formulation it
  * replaced — the full `PrefixSum.scan`, a filter to start events and one
  * aggregate — kept here as the oracle, and a sequential sweep over the
  * same events on the driver, under any shuffle partition count (1 = a
  * single bucket), with AQE on and off, and whatever instant span the
  * caller passes for the bucket bounds.
  */
class SweepExactnessSpec extends SparkTestBase {

  private val deltas = Seq("d_count", "d_pods", "d_cache", "d_mem", "d_cpu",
    "d_data_rate", "d_spill")

  private def oracle(derived: DataFrame): Row =
    PrefixSum.scan(
        Concurrency.events(derived
          .filter(col("admitted_us").isNotNull && col("end_us").isNotNull),
          Pipeline.sweepPayload),
        "ts_us", Seq(col("ts_us"), col("kind"), col("query_id")),
        deltas.map(d => d -> d.replace("d_", "run_")))
      .filter(col("d_count") > 0)
      .agg(
        max(col("run_count")).as("max_concurrent_queries"),
        max(col("run_pods")).cast("double").as("max_pods_workload"),
        max(col("run_cache")).cast("double").as("max_concurrent_cache"),
        max(col("run_mem")).cast("double").as("max_concurrent_memory"),
        max(col("run_cpu")).cast("double").as("max_concurrent_cores"),
        max(col("run_data_rate")).cast("double")
          .as("max_concurrent_data_rate"),
        max(col("run_spill")).cast("double").as("max_concurrent_spill"),
        max_by(col("ts_us"), struct(col("run_pods"), col("ts_us")))
          .as("max_pods_workload_start_us"))
      .head()

  /** The sweep as py:351–396 runs it: one pass over the events in
    * (instant, end before start, query) order, exact in BigDecimal, each
    * start raising the maxima and taking the argmax on `>=`. Only the
    * final decimal → double cast runs in Spark, as in the sweep.
    */
  private def sequential(derived: DataFrame): Row = {
    val events = Concurrency.events(derived
        .filter(col("admitted_us").isNotNull && col("end_us").isNotNull),
        Pipeline.sweepPayload)
      .collect().sortBy(e => (e.getAs[Long]("ts_us"), e.getAs[Int]("kind"),
        e.getAs[String]("query_id")))
    val run = Array.fill(deltas.size)(JBigDecimal.ZERO)
    val best = Array.fill[JBigDecimal](deltas.size)(null)
    var argTs: java.lang.Long = null
    events.foreach { e =>
      deltas.indices.foreach { i =>
        run(i) = run(i).add(e.getAs[Any](deltas(i)) match {
          case l: Long => JBigDecimal.valueOf(l)
          case d: JBigDecimal => d
        })
      }
      if (e.getAs[Long]("d_count") > 0) {
        if (best(1) == null || run(1).compareTo(best(1)) >= 0)
          argTs = e.getAs[Long]("ts_us")
        deltas.indices.foreach { i =>
          if (best(i) == null || run(i).compareTo(best(i)) > 0) best(i) = run(i)
        }
      }
    }
    val dec = DecimalType(38, 9)
    val exact = spark.createDataFrame(java.util.List.of(Row.fromSeq(
        (if (best(0) == null) null else best(0).longValueExact()) +:
          best.tail.toSeq :+ argTs)),
      StructType(StructField("count", LongType) +: deltas.tail.map(
        StructField(_, dec)) :+ StructField("ts", LongType)))
    exact.select(col("count") +: deltas.tail.map(col(_).cast("double")) :+
      col("ts"): _*).head()
  }

  private val schema = StructType(Seq(
    StructField("query_id", StringType), StructField("admitted_us", LongType),
    StructField("end_us", LongType), StructField("ratio_data", DoubleType),
    StructField("ratio_mem", DoubleType), StructField("ratio_cpu", DoubleType),
    StructField("ratio_spill", DoubleType),
    StructField("reqd_cache_gb", DoubleType),
    StructField("reqd_agg_mem", DoubleType),
    StructField("memory_spilled_gb", DoubleType),
    StructField("num_backends", IntegerType),
    StructField("avg_vcores_per_node", DoubleType),
    StructField("avg_data_rate_per_node", DoubleType)))

  /** `n` random kept rows on a coarse instant grid, so starts tie with
    * starts and ends land exactly on other queries' starts; about 1 in 8
    * has zero duration, 1 in 10 zero pods (running-pods ties across
    * instants) and 1 in 12 a NULL end. Resource values carry more digits
    * than the sweep's 9-place decimals keep.
    */
  private def querylog(seed: Int, n: Int, grid: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def value(): Double = if (rnd.nextInt(10) == 0) 0.0
      else rnd.nextDouble() * 40
    val rows = (1 to n).map { i =>
      val start = rnd.nextInt(grid) * 1000000L
      val dur = if (rnd.nextInt(8) == 0) 0L else rnd.nextInt(grid / 4 + 1) * 1000000L
      val end: java.lang.Long =
        if (rnd.nextInt(12) == 0) null else start + dur
      val zeroPods = rnd.nextInt(10) == 0
      def ratio(): Double = if (zeroPods) 0.0 else rnd.nextDouble() * 30
      Row(f"q$i%04d", start, end, ratio(), ratio(), ratio(), ratio(),
        value(), value(), value(), 1 + rnd.nextInt(8), value(), value())
    }
    spark.createDataFrame(java.util.List.of[Row](rows: _*), schema).repartition(3)
  }

  private def emptyLog: DataFrame =
    spark.createDataFrame(java.util.List.of[Row](), schema)

  /** Three identical queries far apart: the pods peak is reached three
    * times, in different buckets once there is more than one; the latest
    * start wins.
    */
  private def samePeakThrice: DataFrame = {
    def q(id: String, startS: Long) = Row(id, startS * 1000000L,
      (startS + 10) * 1000000L, 2.5, 1.25, 0.5, 0.0, 3.0, 2.0, 0.0, 2, 1.5,
      0.3)
    spark.createDataFrame(java.util.List.of(q("a", 0), q("b", 1000),
      q("c", 400)), schema)
  }

  private def cases: Seq[(String, DataFrame)] = Seq(
    "random, dense ties" -> querylog(1, 300, 40),
    "random, sparse" -> querylog(2, 200, 5000),
    "one instant" -> querylog(3, 30, 1),
    "a single query" -> querylog(4, 1, 10),
    "the same peak three times" -> samePeakThrice,
    "empty kept set" -> emptyLog,
    "no query has an end" ->
      querylog(5, 20, 10).withColumn("end_us", lit(null).cast("long")))

  for (parts <- Seq(1, 7, 32); aqe <- Seq(true, false))
    test(s"summaries equal the full scan: $parts partitions, AQE $aqe") {
      withConf("spark.sql.shuffle.partitions" -> parts.toString,
          "spark.sql.adaptive.enabled" -> aqe.toString) {
        cases.foreach { case (name, df) =>
          val want = oracle(df)
          val got = Pipeline.concurrency(df)
          assert(got.columns.toSeq == want.schema.fieldNames.toSeq, name)
          assert(got.head() == want, name)
          assert(got.head() == sequential(df), name)
          // the span only balances buckets: a skewed one changes nothing
          assert(Pipeline.concurrency(df, Some((0.0, 3e6))).head() == want,
            name)
        }
      }
    }

  test("the pre-pass span gives the same sweep as the sweep's own span") {
    val df = querylog(6, 300, 400)
    val lo = df.filter(col("end_us").isNotNull)
      .agg(min("admitted_us"), max("end_us")).head()
    val range = (lo.getLong(0).toDouble, lo.getLong(1).toDouble)
    assert(Pipeline.concurrency(df, Some(range)).head() ==
      Pipeline.concurrency(df).head())
  }
}
