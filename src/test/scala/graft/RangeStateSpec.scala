package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.RangeJoin

class RangeStateSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("range join: points land in correct intervals, boundaries honored") {
    val points = Seq((1L, 100L, "p1"), (1L, 200L, "p2"), (2L, 150L, "p3"),
      (1L, 301L, "p4")).toDF("k", "t", "p")
    val intervals = Seq((1L, 100L, 300L, "i1"), (2L, 0L, 149L, "i2"))
      .toDF("k", "lo", "hi", "iv")
    val got = RangeJoin.pointsInIntervals(
        points, intervals, Seq("k"), "t", "lo", "hi", binSeconds = 100L)
      .select($"p", $"iv").as[(String, String)].collect().toSet
    // p1 at lo (inclusive, non-strict), p2 inside, p3 at 150 > hi 149 out,
    // p4 at 301 > hi 300 out
    assert(got == Set(("p1", "i1"), ("p2", "i1")))
    val strict = RangeJoin.pointsInIntervals(
        points, intervals, Seq("k"), "t", "lo", "hi", 100L, strictStart = true)
      .select($"p").as[String].collect().toSet
    assert(strict == Set("p2")) // p1 excluded at strict start
  }

  test("range join plans an equi-join on (key, bin), not a nested loop") {
    val points = Seq((1L, 100L)).toDF("k", "t")
    val intervals = Seq((1L, 0L, 400L)).toDF("k", "lo", "hi")
    val plan = RangeJoin.pointsInIntervals(
        points, intervals, Seq("k"), "t", "lo", "hi", 100L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}
