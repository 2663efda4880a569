package graft.plans

import java.math.{BigDecimal => JBigDecimal}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed running (prefix) sums over a global ordering.
  *
  * A naive `Window.orderBy(ts)` with no partitionBy collapses the whole
  * dataset into ONE task — correct at 60k rows, dead at 100 TB. This is the
  * classic two-pass parallel scan instead (SURVEY §2.6 scale note):
  *
  *   1. Split the order-key domain into ~numShufflePartitions contiguous
  *      buckets. Bucket boundaries come from `approxQuantile` over the
  *      primary order column, and the bucket id is a PURE FUNCTION OF ROW
  *      VALUES (a when-chain over the boundary literals) — never
  *      `spark_partition_id()`. The scan recomputes its input across
  *      multiple Spark jobs, and physical partition ids are not stable
  *      across jobs (AQE may coalesce each job's shuffle differently), so
  *      any pid-based bucketing silently mis-assigns carry-ins. Value-based
  *      bucketing is deterministic under recomputation by construction.
  *   2. Per-bucket running sums via a window PARTITIONED by bucket id
  *      (parallel, no global sort bottleneck).
  *   3. Per-bucket totals (≤ numBuckets rows — tiny) become exclusive
  *      carry-in offsets via an unpartitioned window over the totals
  *      (one task on O(parallelism) rows), broadcast-joined back — all
  *      lazy, so the whole scan is one eager bounds pass + one job.
  *
  * Every pass is builtin ops — no custom Catalyst work needed. Cost: the
  * input is evaluated three times (bounds pass, totals branch, local
  * scan branch); callers scanning an expensive upstream should persist
  * it first.
  *
  * When only the maxima of the running sums are wanted, [[maxAt]] stops
  * after step 2: one job reduces each bucket to a summary row and the
  * driver chains the carries over those ≤ numBuckets rows.
  *
  * The order defined by `orderCols` MUST be total (include a unique
  * tiebreak column) or running values at ties are nondeterministic.
  */
object PrefixSum {

  /** Adds a running-sum column `dst` for each `(src, dst)` in `sumCols`,
    * over the global `orderCols` ordering — or, when `groupCols` is
    * non-empty, one independent running sum PER GROUP, all computed in
    * the same two-pass scan. `bucketCol` names a numeric column that is
    * the leading component of `orderCols` — it drives the range
    * bucketing; ties on it never straddle buckets. Sums are computed
    * on the source column's own type (use integer/decimal deltas for
    * exact, associativity-safe accumulation; see caller notes).
    *
    * Grouped mode: bucket boundaries stay GLOBAL over `bucketCol` (one
    * bounds pass shared by every group — a dominant group dominates the
    * quantiles, which is exactly the group that needed splitting), the
    * local window partitions by (group, bucket), and carry-ins chain per
    * group. The carry frame is ~nGroups × nBuckets rows; the grouped
    * scan targets FEW HUGE groups (the case where a per-group window
    * serializes into one task), so the broadcast stays tiny — with very
    * many small groups a plain per-group window needs no scan at all.
    * NULL group values are real keys end-to-end (null-safe carry join).
    */
  def scan(df: DataFrame, bucketCol: String, orderCols: Seq[Column],
      sumCols: Seq[(String, String)],
      knownRange: Option[(Double, Double)] = None,
      groupCols: Seq[String] = Nil): DataFrame = {
    val bucketed = df.withColumn("__bucket",
      bucketOf(df, bucketCol, uniformBounds = false, knownRange))
    val local = localSums(bucketed, orderCols, sumCols, groupCols)

    // Per-bucket totals → exclusive prefix (carry-ins), computed LAZILY:
    // an unpartitioned window over the ≤ nBuckets total rows (one task on
    // O(parallelism) rows — not a scale risk). Keeping the carries inside
    // the plan instead of collect()ing them saves one blocking job +
    // driver roundtrip per scan and keeps the driver out of the data
    // path. Sums run on the source column types (long/decimal), so the
    // exclusive prefix is exact and associativity-safe.
    val srcs = sumCols.map(_._1)
    val totals = bucketed.groupBy(("__bucket" +: groupCols).map(col): _*)
      .agg(sum(col(srcs.head)).as(srcs.head),
        srcs.tail.map(s => sum(col(s)).as(s)): _*)
    // Grouped: carries chain per group — each group's totals frame is
    // ≤ nBuckets rows, windows run in parallel across groups.
    val carryW = (if (groupCols.isEmpty) Window.orderBy("__bucket")
      else Window.partitionBy(groupCols.map(col): _*).orderBy("__bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // Join keys aliased __c*: group columns join NULL-SAFELY (<=>) so a
    // NULL group — a real key to the window and the groupBy — keeps its
    // carry-in instead of silently losing it to equi-join null semantics.
    val carries = totals.select(
      (col("__bucket").as("__cbucket") +:
        groupCols.map(g => col(g).as(s"__cg_$g"))) ++
        srcs.map(s => sum(col(s)).over(carryW).as(s"__carry_$s")): _*)
    val joinCond = ((col("__bucket") === col("__cbucket")) +:
      groupCols.map(g => col(g) <=> col(s"__cg_$g"))).reduce(_ && _)

    val joined = local.join(broadcast(carries), joinCond, "left")
    sumCols.foldLeft(joined) { case (d, (src, dst)) =>
      // Carry-in is exact; the sum is cast back to the running column's
      // type so integer-delta scans stay integral end-to-end.
      d.withColumn(dst, addExact(col(dst),
        coalesce(col(s"__carry_$src"), lit(0)), d.schema(dst).dataType))
    }.drop(Seq("__bucket", "__cbucket") ++ groupCols.map(g => s"__cg_$g") ++
      srcs.map(s => s"__carry_$s"): _*)
  }

  /** `a + b` as type `t`. For s > 6 Spark types decimal(38,s) +
    * decimal(38,s) as decimal(38,s-1) and rounds the last digit away;
    * adding at one integer digit less keeps scale s (a sum past
    * 10^(37-s) then raises under ANSI instead of rounding). For s <= 6
    * Spark keeps scale s and nothing is narrowed.
    */
  private def addExact(a: Column, b: Column, t: DataType): Column = t match {
    case d: DecimalType
        if d.precision == DecimalType.MAX_PRECISION && d.scale > 6 =>
      val narrow = DecimalType(d.precision - 1, d.scale)
      (a.cast(narrow) + b.cast(narrow)).cast(t)
    case _ => (a + b).cast(t)
  }

  /** The maxima of the running sums [[scan]] would add, taken over the
    * rows `at` selects, plus the `bucketCol` value of the row where the
    * running `argMaxOf` (one of the `dst` names) peaks — the LATEST such
    * row on a tie — without materializing the scan.
    *
    * Within a bucket every row's carry-in is the same, so a bucket's
    * maximum is its carry plus its local maximum, and so is its argmax.
    * [[bucketSummaries]] reduces each bucket to its delta totals, local
    * maxima and local argmax in one job (the groupBy shares the window's
    * bucket partitioning: no second exchange); the driver collects those
    * ≤ numShufflePartitions rows — never data-sized — and folds them
    * exactly in BigDecimal, buckets in key order. Ties on `bucketCol`
    * never straddle buckets, so a later bucket winning a tie on the
    * running value is the latest row winning it.
    *
    * `sumCols` must be integral or decimal (exact folding). A row whose
    * running value is NULL (every delta up to it NULL) counts for no
    * maximum and ranks below every non-NULL value for the argmax, as
    * `max_by` ranks it over the scan. Returns a one-row LOCAL frame: one
    * column per `dst` in its running type (NULL when `at` selects no row)
    * and `bucketCol`. Buckets split the [min, max] span of `bucketCol`
    * evenly (not [[scan]]'s quantiles); the input is evaluated once,
    * plus the min/max pass unless `knownRange` is given.
    */
  def maxAt(df: DataFrame, bucketCol: String, orderCols: Seq[Column],
      sumCols: Seq[(String, String)], at: Column, argMaxOf: String,
      knownRange: Option[(Double, Double)] = None): DataFrame = {
    val dsts = sumCols.map(_._2)
    val argIdx = dsts.indexOf(argMaxOf)
    require(argIdx >= 0, s"argMaxOf '$argMaxOf' is not a running column")
    val summaries = bucketSummaries(df, bucketCol, orderCols, sumCols, at,
      argMaxOf, knownRange)
    val runTypes = dsts.map(d => summaries.schema(s"__m_$d").dataType)
    require(runTypes.forall(t => t == LongType || t.isInstanceOf[DecimalType]),
      s"maxAt folds exactly: sum columns must be integral or decimal, got $runTypes")

    def big(v: Any): JBigDecimal = v match {
      case d: JBigDecimal => d
      case l: java.lang.Long => JBigDecimal.valueOf(l)
    }
    val carry = Array.fill(sumCols.size)(JBigDecimal.ZERO)
    val best = Array.fill[JBigDecimal](sumCols.size)(null)
    var argRun: JBigDecimal = null
    var argKey: Any = null
    var nullRunKey: Any = null // latest `at` row whose running value is NULL
    summaries.collect().sortBy(_.getAs[Int]("__bucket")).foreach { r =>
      val a = r.getAs[Row]("__arg")
      if (a != null && a.isNullAt(0)) nullRunKey = a.get(1)
      else if (a != null) {
        val v = carry(argIdx).add(big(a.get(0)))
        if (argRun == null || v.compareTo(argRun) >= 0) {
          argRun = v; argKey = a.get(1)
        }
      }
      sumCols.indices.foreach { i =>
        val m = r.getAs[Any](s"__m_${dsts(i)}")
        if (m != null) {
          val v = carry(i).add(big(m))
          if (best(i) == null || v.compareTo(best(i)) > 0) best(i) = v
        }
        val t = r.getAs[Any](s"__t_${sumCols(i)._1}")
        if (t != null) carry(i) = carry(i).add(big(t))
      }
    }

    val values = best.zip(runTypes).map {
      case (null, _) => null
      case (v, LongType) => v.longValueExact()
      case (v, _) => v
    }
    val schema = StructType(dsts.zip(runTypes).map {
      case (d, t) => StructField(d, t) } :+
      StructField(bucketCol, df.schema(bucketCol).dataType))
    df.sparkSession.createDataFrame(java.util.List.of(
      Row.fromSeq(values.toSeq :+ (if (argRun == null) nullRunKey else argKey))),
      schema)
  }

  /** [[maxAt]]'s per-bucket reduction, one row per non-empty bucket:
    * `__bucket`, the delta totals `__t_<src>`, the maxima of the local
    * running sums at `at` rows `__m_<dst>`, and `__arg`, the largest
    * (local running `argMaxOf`, `bucketCol`) pair at `at` rows.
    */
  private[plans] def bucketSummaries(df: DataFrame, bucketCol: String,
      orderCols: Seq[Column], sumCols: Seq[(String, String)], at: Column,
      argMaxOf: String, knownRange: Option[(Double, Double)]): DataFrame = {
    val bucketed = df.withColumn("__bucket",
      bucketOf(df, bucketCol, uniformBounds = true, knownRange))
    val local = localSums(bucketed, orderCols, sumCols, Nil)
      .withColumn("__at", at)
    val aggs = sumCols.map { case (src, _) => sum(col(src)).as(s"__t_$src") } ++
      sumCols.map { case (_, dst) =>
        max(when(col("__at"), col(dst))).as(s"__m_$dst") } :+
      max(when(col("__at"), struct(col(argMaxOf), col(bucketCol))))
        .as("__arg")
    local.groupBy("__bucket").agg(aggs.head, aggs.tail: _*)
  }

  /** `row_number()` per group under a total order, WITHOUT the per-group
    * single-task sort: an inclusive grouped running count of 1 via
    * [[scan]]. `Window.partitionBy(k).orderBy(...)` ranks serialize into
    * one task per distinct key — fine for high-cardinality keys, a
    * measured scale-killer when the key has a handful of values
    * (l_returnflag: 3; at sf10 each task sorts 20M rows and spills —
    * q109 clocked 14.5× for the 10× step before this path). Requirements
    * are scan's: `bucketCol` numeric and the LEADING component of
    * `orderCols`, and the order total (unique tiebreak), else ranks at
    * ties are nondeterministic. The output column is LongType (the SQL
    * function's is int) — callers compare/cast, never subtract across
    * types. Cost: the scan's three input evaluations — callers with a
    * non-trivial upstream should localCheckpoint first.
    */
  def rowNumber(df: DataFrame, bucketCol: String, orderCols: Seq[Column],
      dst: String, groupCols: Seq[String] = Nil): DataFrame =
    scan(df.withColumn("__one", lit(1L)), bucketCol, orderCols,
      Seq("__one" -> dst), groupCols = groupCols).drop("__one")

  /** The local step [[scan]] and [[maxAt]] share: each `dst` is the
    * running sum of its `src` within a (group, `__bucket`) partition under
    * `orderCols`, not yet carried in from earlier buckets.
    */
  private def localSums(bucketed: DataFrame, orderCols: Seq[Column],
      sumCols: Seq[(String, String)], groupCols: Seq[String]): DataFrame = {
    val w = Window
      .partitionBy((groupCols.map(col) :+ col("__bucket")): _*)
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sumCols.foldLeft(bucketed) { case (d, (src, dst)) =>
      d.withColumn(dst, sum(col(src)).over(w))
    }
  }

  /** The bucket id of every row: `bucketCol`'s position among
    * ~numShufflePartitions contiguous range buckets, as a when-chain over
    * boundary literals — a pure function of row values, so every
    * recomputation assigns every row the same bucket. Boundaries:
    *  - [[scan]]: Greenwald-Khanna quantiles (no RNG) — robust to any
    *    key distribution, costs one sketch aggregation pass;
    *  - uniformBounds ([[maxAt]]): min/max + even split — one cheap
    *    min/max agg, right for near-uniform keys (event timestamps);
    *    correctness never depends on balance, only the local-scan
    *    parallelism does;
    *  - knownRange: the caller already knows (or can compute more
    *    cheaply upstream) the [lo, hi] span — skips the eager pass over
    *    `df` entirely.
    */
  private def bucketOf(df: DataFrame, bucketCol: String,
      uniformBounds: Boolean, knownRange: Option[(Double, Double)]): Column = {
    val nBuckets =
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
    val bounds =
      if (probs.isEmpty) Array.empty[Double]
      else if (knownRange.isDefined || uniformBounds) {
        val (lo, hi) = knownRange.getOrElse {
          val mm = df.agg(min(col(bucketCol)).cast("double"),
            max(col(bucketCol)).cast("double")).head()
          if (mm.isNullAt(0)) (0.0, 0.0)
          else (mm.getDouble(0), mm.getDouble(1))
        }
        if (lo == hi) Array.empty[Double]
        else probs.map(p => lo + (hi - lo) * p).distinct.sorted
      } else df.stat.approxQuantile(bucketCol, probs, 0.001).distinct.sorted
    if (bounds.isEmpty) lit(0)
    else bounds.map(b => when(col(bucketCol) > lit(b), 1).otherwise(0))
      .reduce(_ + _)
  }
}
