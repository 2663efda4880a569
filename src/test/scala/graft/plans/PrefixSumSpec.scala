package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The distributed two-pass prefix scan must equal the sequential running
  * sum for any input — bucket boundaries, carry-ins, and tiebreaks are the
  * failure surface (SURVEY §2.6 scale note).
  */
class PrefixSumSpec extends SparkTestBase {

  private def check(rows: Seq[(Long, Long, Long)]): Unit = {
    import spark.implicits._
    val df = rows.toDF("ts", "id", "delta").repartition(4)
    val got = PrefixSum
      .scan(df, "ts", Seq(col("ts"), col("id")), Seq("delta" -> "run"))
      .select("ts", "id", "run")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    var acc = 0L
    val want = rows.sortBy(t => (t._1, t._2)).map { case (ts, id, d) =>
      acc += d; (ts, id, acc)
    }
    assert(got.toSeq == want)
  }

  test("matches sequential scan on random data (seeded)") {
    val rnd = new scala.util.Random(42)
    val rows = (1L to 500L).map(i =>
      (rnd.nextInt(100).toLong, i, rnd.nextInt(21) - 10L))
    check(rows)
  }

  test("heavy ties on the bucket column stay within one bucket") {
    // all rows share 3 ts values — buckets must split BETWEEN values only
    val rnd = new scala.util.Random(7)
    check((1L to 300L).map(i => (i % 3, i, rnd.nextInt(5).toLong)))
  }

  test("single row and empty input") {
    check(Seq((5L, 1L, 3L)))
    import spark.implicits._
    val empty = Seq.empty[(Long, Long, Long)].toDF("ts", "id", "delta")
    val out = PrefixSum.scan(empty, "ts", Seq(col("ts"), col("id")),
      Seq("delta" -> "run"))
    assert(out.count() == 0)
  }

  test("running column keeps the source integer type") {
    import spark.implicits._
    val df = Seq((1L, 1L, 2L)).toDF("ts", "id", "delta")
    val out = PrefixSum.scan(df, "ts", Seq(col("ts"), col("id")),
      Seq("delta" -> "run"))
    assert(out.schema("run").dataType.typeName == "long")
  }

  test("grouped scan runs one independent prefix sum per group") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // 3 groups (incl. a NULL group) interleaved over a shared ts domain —
    // carries must chain within a group only, and the NULL group must
    // keep its carry-ins through the null-safe join
    val rows = (1L to 400L).map { i =>
      val g = rnd.nextInt(3) match {
        case 0 => "x"; case 1 => "y"; case _ => null
      }
      (g, rnd.nextInt(60).toLong, i, rnd.nextInt(15) - 7L)
    }
    val df = rows.toDF("g", "ts", "id", "delta").repartition(4)
    val got = PrefixSum.scan(df, "ts", Seq(col("ts"), col("id")),
        Seq("delta" -> "run"), groupCols = Seq("g"))
      .select("g", "ts", "id", "run").collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2),
        r.getLong(3)))
      .sortBy(t => (t._1.getOrElse(""), t._2, t._3))
    val want = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
      var acc = 0L
      rs.sortBy(t => (t._2, t._3)).map { case (_, ts, id, d) =>
        acc += d; (Option(g), ts, id, acc)
      }
    }.sortBy(t => (t._1.getOrElse(""), t._2, t._3))
    assert(got.toSeq == want)
  }

  test("multiple sum columns scan independently") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val rows = (1L to 200L).map(i =>
      (rnd.nextInt(50).toLong, i, rnd.nextInt(9) - 4L, rnd.nextInt(100).toLong))
    val df = rows.toDF("ts", "id", "a", "b").repartition(3)
    val got = PrefixSum.scan(df, "ts", Seq(col("ts"), col("id")),
        Seq("a" -> "ra", "b" -> "rb"))
      .select("ts", "id", "ra", "rb").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    var (sa, sb) = (0L, 0L)
    val want = rows.sortBy(t => (t._1, t._2)).map { case (ts, id, a, b) =>
      sa += a; sb += b; (ts, id, sa, sb)
    }
    assert(got.toSeq == want)
  }

  test("decimal(38,9) running sums keep all nine places") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val rows = (1L to 120L).map(i =>
      (rnd.nextInt(30).toLong, i, BigDecimal(rnd.nextLong() % 1000000000L, 9)))
    val df = rows.toDF("ts", "id", "d")
      .withColumn("d", col("d").cast("decimal(38,9)")).repartition(3)
    val got = PrefixSum.scan(df, "ts", Seq(col("ts"), col("id")),
        Seq("d" -> "run"))
      .select("ts", "id", "run").collect()
      .map(r => (r.getLong(0), r.getLong(1), BigDecimal(r.getDecimal(2))))
      .sortBy(t => (t._1, t._2))
    var acc = BigDecimal(0)
    val want = rows.sortBy(t => (t._1, t._2)).map { case (ts, id, d) =>
      acc += d; (ts, id, acc)
    }
    assert(got.toSeq == want)
  }

  test("decimal(38,2) running sums reach 10^36 across buckets") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // each delta is 1.2e35 + 0.25; the total, 9.6e35 + 2, needs all 36
    // integer digits decimal(38,2) has
    val d = BigDecimal("120000000000000000000000000000000000.25")
    val df = spark.createDataFrame(
      java.util.List.of((1L to 8L).map(i => Row(i, d.bigDecimal)): _*),
      StructType(Seq(StructField("ts", LongType),
        StructField("d", DecimalType(38, 2)))))
    withConf("spark.sql.shuffle.partitions" -> "4") {
      val got = PrefixSum.scan(df, "ts", Seq(col("ts")), Seq("d" -> "run"))
        .select("ts", "run").collect()
        .map(r => r.getLong(0) -> BigDecimal(r.getDecimal(1))).sortBy(_._1)
      assert(got.toSeq == (1L to 8L).map(i => i -> d * i))
    }
  }

  /** maxAt's contract, stated on the full scan it replaces. */
  private def scanMaxima(df: org.apache.spark.sql.DataFrame) =
    PrefixSum.scan(df, "ts", Seq(col("ts"), col("id")),
        Seq("a" -> "ra", "b" -> "rb"))
      .filter(col("at"))
      .agg(max("ra"), max("rb"), max_by(col("ts"), struct("ra", "ts")))
      .head()

  private def maxAt(df: org.apache.spark.sql.DataFrame) =
    PrefixSum.maxAt(df, "ts", Seq(col("ts"), col("id")),
      Seq("a" -> "ra", "b" -> "rb"), at = col("at"), argMaxOf = "ra").head()

  test("maxAt equals the maxima of the full scan, latest row on ties") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // few distinct ts and many zero deltas: the running `a` ties across
    // rows, instants and buckets
    val rows = (1L to 400L).map(i => (rnd.nextInt(25).toLong, i,
      if (rnd.nextInt(3) == 0) 0L else rnd.nextInt(9) - 4L,
      BigDecimal(rnd.nextInt(2000) - 1000, 9), rnd.nextBoolean()))
    val df = rows.toDF("ts", "id", "a", "b", "at")
      .withColumn("b", col("b").cast("decimal(38,9)")).repartition(4)
    for (parts <- Seq(1, 7))
      withConf("spark.sql.shuffle.partitions" -> parts.toString) {
        assert(maxAt(df) == scanMaxima(df), s"$parts partitions")
      }
    // one peak reached in two buckets: the later bucket's row wins
    val twice = (1L to 100L).map(i => (i, i, i match {
      case 10L | 80L => 5L; case 20L | 90L => -5L; case _ => 0L
    }, BigDecimal(0), true)).toDF("ts", "id", "a", "b", "at")
      .withColumn("b", col("b").cast("decimal(38,9)"))
    withConf("spark.sql.shuffle.partitions" -> "7") {
      assert(maxAt(twice) == scanMaxima(twice))
      assert(maxAt(twice).getLong(2) == 89L)
    }
    val none = df.withColumn("at", lit(false))
    assert(maxAt(none) == scanMaxima(none))
    assert(maxAt(none).toSeq.forall(_ == null))
  }

  test("maxAt ranks NULL running values as the scan's max_by does") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    // the first 60 deltas are NULL: several buckets start with (or hold
    // only) NULL running values
    val rows = (1L to 300L).map(i => (rnd.nextInt(40).toLong, i,
      if (i <= 60 || rnd.nextInt(4) == 0) None else Some(rnd.nextInt(9) - 4L),
      BigDecimal(rnd.nextInt(2000) - 1000, 9), rnd.nextBoolean()))
    val df = rows.toDF("ts", "id", "a", "b", "at")
      .withColumn("b", col("b").cast("decimal(38,9)")).repartition(4)
    // every running `a` NULL: no maximum, and the latest `at` row wins
    val allNull = df.withColumn("a", lit(null).cast("long"))
    for (parts <- Seq(1, 7)) withConf(
        "spark.sql.shuffle.partitions" -> parts.toString) {
      val early = df.filter(col("id") <= 60)
      for ((name, d) <- Seq("some NULL" -> df, "NULL prefix" -> early,
          "all NULL" -> allNull))
        assert(maxAt(d) == scanMaxima(d), s"$name, $parts partitions")
      assert(maxAt(allNull).isNullAt(0))
      assert(!maxAt(allNull).isNullAt(2))
    }
  }

  test("maxAt's even bounds stay exact on skewed keys (only balance degrades)") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    // 90% of keys in [0,10), rest spread to 10000 — an even split of the
    // span puts most rows in bucket 0; the result must still be exact
    val rows = (1L to 400L).map { i =>
      val ts = if (rnd.nextInt(10) < 9) rnd.nextInt(10).toLong
        else rnd.nextInt(10000).toLong
      (ts, i, rnd.nextInt(11) - 5L, BigDecimal(0), rnd.nextBoolean())
    }
    val df = rows.toDF("ts", "id", "a", "b", "at")
      .withColumn("b", col("b").cast("decimal(38,9)")).repartition(4)
    // the sequential fold: running `a` in (ts, id) order, maximum over
    // `at` rows, argmax the latest `at` row reaching it
    var (acc, best, arg) = (0L, Long.MinValue, -1L)
    rows.sortBy(t => (t._1, t._2)).foreach { case (ts, _, a, _, at) =>
      acc += a
      if (at && acc >= best) { best = acc; arg = ts }
    }
    withConf("spark.sql.shuffle.partitions" -> "7") {
      val got = maxAt(df)
      assert(got.getLong(0) == best)
      assert(got.getLong(2) == arg)
    }
  }

  test("maxAt collects at most one summary row per shuffle partition") {
    import spark.implicits._
    val df = (1L to 3000L).map(i => (i % 997, i, 1L, BigDecimal(1), true))
      .toDF("ts", "id", "a", "b", "at")
    withConf("spark.sql.shuffle.partitions" -> "7") {
      val n = PrefixSum.bucketSummaries(df, "ts", Seq(col("ts"), col("id")),
        Seq("a" -> "ra"), col("at"), "ra", knownRange = None).count()
      assert(n > 1 && n <= 7)
    }
  }
}
