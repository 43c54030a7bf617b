package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.TimeSeriesOps

class TimeSeriesSpec extends AnyFunSuite {
  import SparkTestBase._

  test("asOfJoin picks the latest right row at-or-before each left time") {
    import spark.implicits._
    val left = Seq((1, 100L, 1000L), (1, 50L, 1001L), (2, 10L, 1002L))
      .toDF("k", "t_us", "lid")
    val right = Seq((1, 100L, 1L, 9.9), (1, 90L, 2L, 8.8), (1, 101L, 3L, 7.7),
      (2, 20L, 4L, 6.6)).toDF("k", "t_us", "rid", "v")
    val out = TimeSeriesOps.asOfJoin(left, right, "k", "t_us", "lid", "rid",
        carry = Seq("v"))
      .orderBy("lid")
      .select("lid", "matched_rid", "matched_v")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2))).toSeq
    // lid 1000 @t=100: right rows at 90 and 100 qualify; inclusive
    // as-of takes t=100 (rid 1). lid 1001 @t=50: none. lid 1002 @t=10: none.
    assert(out == Seq((1000L, 1L, 9.9), (1001L, -1L, -1.0), (1002L, -1L, -1.0)))
  }

  test("sessionize splits exactly at the gap threshold") {
    import spark.implicits._
    val gapUs = 30 * 60 * 1000000L
    val df = Seq((1, 0L), (1, gapUs - 1), (1, 2 * gapUs - 1 + gapUs), (2, 0L))
      .toDF("k", "t_us")
    val sessions = TimeSeriesOps.sessionize(df, col("k"), col("t_us"), 30)
      .groupBy("k", "__session_id").count()
      .orderBy("k", "__session_id")
      .select("count").as[Long].collect().toSeq
    // key 1: rows at 0 and gap-1 merge; third row starts a new session
    assert(sessions == Seq(2L, 1L, 1L))
  }

  test("forwardFill carries the latest non-null value") {
    import spark.implicits._
    val df = Seq((1, 1L, Some(5.0)), (1, 2L, None), (1, 3L, None),
      (1, 4L, Some(7.0)), (2, 1L, None)).toDF("k", "t", "v")
    val out = TimeSeriesOps.forwardFill(df, col("v"), col("k"), Seq(col("t")), "f")
      .orderBy("k", "t").select("f")
      .collect().map(r => if (r.isNullAt(0)) -1.0 else r.getDouble(0)).toSeq
    assert(out == Seq(5.0, 5.0, 5.0, 7.0, -1.0))
  }

  test("zscore flags only outliers beyond the threshold") {
    import spark.implicits._
    val df = (Seq.fill(20)(10.0) :+ 100.0).zipWithIndex
      .map { case (v, i) => (1, i.toLong, v) }.toDF("k", "id", "value")
    val flagged = TimeSeriesOps.zscore(df, col("k"), col("value"))
      .filter(abs(col("z")) > 2.5).select("id").as[Long].collect().toSeq
    assert(flagged == Seq(20L))
  }

  test("zscore is null, not a divide-by-zero, for one-reading and constant keys") {
    import spark.implicits._
    // key 1: one reading (n - 1 = 0); key 2: constant (sd = 0);
    // key 3: spread values keep a defined z
    val df = Seq((1, 0L, 5.0), (2, 1L, 7.0), (2, 2L, 7.0), (2, 3L, 7.0),
      (3, 4L, 1.0), (3, 5L, 3.0)).toDF("k", "id", "value")
    val z = TimeSeriesOps.zscore(df, col("k"), col("value"))
      .select("id", "z").as[(Long, Option[Double])].collect().toMap
    assert((0L to 3L).forall(i => z(i).isEmpty), z)
    assert(z(4L).exists(v => math.abs(v + math.sqrt(0.5)) < 1e-9), z)
    assert(z(5L).exists(v => math.abs(v - math.sqrt(0.5)) < 1e-9), z)
  }
}
