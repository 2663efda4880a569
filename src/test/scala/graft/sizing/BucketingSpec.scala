package graft.sizing

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** T-shirt bucketing boundaries (SURVEY §2.4): every pod range edge from
  * impala_query_sizing.py:14–20, plus the Q2 totality stance (values the
  * reference maps to None land in CUSTOM).
  */
class BucketingSpec extends SparkTestBase {

  private def bucketOf(v: Long): String = {
    import spark.implicits._
    Seq(v).toDF("pods").select(Bucketing.tsize(col("pods"))).head.getString(0)
  }

  test("pod boundaries match the reference ranges") {
    val expected = Seq(
      0L -> "XSMALL", 2L -> "XSMALL", 3L -> "SMALL", 10L -> "SMALL",
      11L -> "MEDIUM", 20L -> "MEDIUM", 21L -> "LARGE", 40L -> "LARGE",
      41L -> "CUSTOM", 999L -> "CUSTOM")
    expected.foreach { case (v, t) => assert(bucketOf(v) == t, s"pods=$v") }
  }

  test("total above the reference's 999 ceiling (Q2 stance)") {
    assert(bucketOf(1000L) == "CUSTOM")
    assert(bucketOf(Long.MaxValue) == "CUSTOM")
  }

  test("tsizeSql text matches the Column semantics") {
    import spark.implicits._
    val df = (0L to 1200L by 7).toDF("p")
    val viaSql = df.selectExpr(Bucketing.tsizeSql("p")).collect().map(_.getString(0))
    val viaCol = df.select(Bucketing.tsize(col("p"))).collect().map(_.getString(0))
    assert(viaSql.toSeq == viaCol.toSeq)
  }
}
