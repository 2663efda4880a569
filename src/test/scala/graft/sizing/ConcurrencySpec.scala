package graft.sizing

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Sweep-line invariants (SURVEY §5.2) over q20's integer payload: the
  * distributed operator must equal a brute-force interval-overlap count,
  * the end-before-start tiebreak must hold, and a query without an end
  * instant must not touch the sweep.
  */
// Top-level: Spark encoders cannot instantiate a class nested in the
// suite (no outer-scope instance on executors).
case class ConcQ(id: String, start: Long, end: Long, pods: Long)

class ConcurrencySpec extends SparkTestBase {

  private type Q = ConcQ
  private def Q(id: String, start: Long, end: Long, pods: Long): Q =
    ConcQ(id, start, end, pods)

  private def intervals(qs: Seq[Q]) = {
    import spark.implicits._
    qs.toDF("query_id", "admitted_us", "end_us", "min_executor_pod")
  }

  /** The maxima row q20 computes, named as q20 names it. */
  private def maxima(df: org.apache.spark.sql.DataFrame) =
    Concurrency.maxima(df, Seq(
        "pods" -> col("min_executor_pod"),
        "cache_b" -> col("min_executor_pod") * 10,
        "mem_b" -> col("min_executor_pod") * 100,
        "cpu_mv" -> col("min_executor_pod") * 7,
        "spill_b" -> lit(1L)))
      .toDF(Concurrency.maximaCols: _*).head

  private def run(qs: Seq[Q]) = maxima(intervals(qs))

  /** Brute force with the engine's tiebreak: at instant t a query counts
    * iff start <= t < end (ends sort before starts at equal instants).
    */
  private def bruteMax(qs: Seq[Q], weight: Q => Long): Long =
    qs.map(_.start).distinct.map { t =>
      qs.filter(q => q.start <= t && t < q.end).map(weight).sum
    }.max

  test("max concurrency equals brute force on random intervals (seeded)") {
    val rnd = new scala.util.Random(11)
    val qs = (1 to 200).map { i =>
      val s = rnd.nextInt(1000).toLong
      Q(f"q$i%04d", s, s + 1 + rnd.nextInt(300), 1 + rnd.nextInt(5))
    }
    val m = run(qs)
    assert(m.getAs[Long]("max_concurrent_queries") == bruteMax(qs, _ => 1L))
    assert(m.getAs[Long]("max_concurrent_pods") == bruteMax(qs, _.pods))
  }

  test("a query with no end instant is left out of the sweep") {
    // x starts after the a/b peak: were its NULL-instant end applied
    // first, every running sum before x's start would drop by x's pods
    val qs = Seq(Q("a", 0, 100, 3), Q("b", 50, 150, 5), Q("x", 200, 0, 7))
    val noEnd = intervals(qs).withColumn("end_us",
      when(col("query_id") =!= "x", col("end_us")))
    val m = maxima(noEnd)
    assert(m == run(qs.take(2)))
    assert(m.getAs[Long]("max_concurrent_queries") == 2L)
    assert(m.getAs[Long]("max_concurrent_pods") == 8L)
    assert(m.getAs[Long]("max_pods_at_us") == 50L)
  }

  test("a query ending exactly when another starts does not overlap") {
    val qs = Seq(Q("a", 0, 100, 3), Q("b", 100, 200, 5))
    val m = run(qs)
    assert(m.getAs[Long]("max_concurrent_queries") == 1L)
    assert(m.getAs[Long]("max_concurrent_pods") == 5L)
  }

  test("max_pods tie keeps the LATEST start (py:384 >= semantics)") {
    // two disjoint single-query peaks with equal pods
    val qs = Seq(Q("a", 0, 10, 4), Q("b", 20, 30, 4))
    val m = run(qs)
    assert(m.getAs[Long]("max_pods_at_us") == 20L)
  }

  test("maxima are observed only at start events") {
    // footprint between [5,10) is 2 queries; end events at 10/12 never
    // create a new candidate — max is what a start saw.
    val qs = Seq(Q("a", 0, 10, 1), Q("b", 5, 12, 1), Q("c", 11, 13, 1))
    val m = run(qs)
    assert(m.getAs[Long]("max_concurrent_queries") == 2L)
  }
}
