package graft

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.RiskAggregation

/** Golden-output tests of the flagship aggregation, reproducing the
  * reference's micro-tests one dimension at a time
  * (reference tests/aggregation_tests.py:94-351). Threshold 0 mirrors the
  * reference's test config (tests/config.test.json:9).
  */
class RiskAggregationSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def logentry(rows: (String, String, Int, Long, String)*) =
    rows.toDF("d", "ip", "risk", "asn", "country")
      .select(to_timestamp($"d").as("date"), $"ip", $"risk", $"asn",
        $"country")

  /** rows as (date, risk, country, asn, count, amplified) tuples */
  private def result(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getTimestamp(0).toString, r.getInt(1),
      r.getString(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq

  test("group by day: same ip on different days counts per day " +
      "(reference tests/aggregation_tests.py:94-117)") {
    val le = logentry(
      ("2016-09-20 00:00:01", "71.3.0.1", 2, 12252, "US"),
      ("2016-09-20 00:00:01", "190.81.134.82", 2, 12252, "US"),
      ("2016-09-29 00:00:01", "190.81.135.11", 2, 12252, "US"))
    assert(result(RiskAggregation.aggregate(le, 0)) === Seq(
      ("2016-09-29 00:00:00.0", 2, "US", 12252L, 1L, 0.0),
      ("2016-09-20 00:00:00.0", 2, "US", 12252L, 2L, 0.0)))
  }

  test("distinct ip dedup: same (ip,day,...) collapses; different asn " +
      "does not (reference tests/aggregation_tests.py:120-143)") {
    val le = logentry(
      ("2016-09-20 00:00:01", "71.3.0.1", 2, 12252, "US"),
      ("2016-09-20 10:30:00", "71.3.0.1", 2, 12252, "US"), // dup, same day
      ("2016-09-20 00:00:01", "71.3.0.1", 2, 99999, "US")) // different asn
    assert(result(RiskAggregation.aggregate(le, 0)) === Seq(
      ("2016-09-20 00:00:00.0", 2, "US", 12252L, 1L, 0.0),
      ("2016-09-20 00:00:00.0", 2, "US", 99999L, 1L, 0.0)))
  }

  test("group by risk (reference tests/aggregation_tests.py:146-170)") {
    val le = logentry(
      ("2016-09-20 00:00:01", "71.3.0.1", 1, 12252, "US"),
      ("2016-09-20 00:00:01", "71.3.0.1", 2, 12252, "US"),
      ("2016-09-20 00:00:01", "190.81.134.82", 2, 12252, "US"))
    assert(result(RiskAggregation.aggregate(le, 0)) === Seq(
      ("2016-09-20 00:00:00.0", 1, "US", 12252L, 1L, 0.0),
      ("2016-09-20 00:00:00.0", 2, "US", 12252L, 2L, 0.0)))
  }

  test("group by country (reference tests/aggregation_tests.py:173-195)") {
    val le = logentry(
      ("2016-09-20 00:00:01", "71.3.0.1", 2, 12252, "US"),
      ("2016-09-20 00:00:01", "190.81.134.82", 2, 12252, "PE"))
    assert(result(RiskAggregation.aggregate(le, 0)) === Seq(
      ("2016-09-20 00:00:00.0", 2, "PE", 12252L, 1L, 0.0),
      ("2016-09-20 00:00:00.0", 2, "US", 12252L, 1L, 0.0)))
  }

  test("group by asn (reference tests/aggregation_tests.py:198-220)") {
    val le = logentry(
      ("2016-09-20 00:00:01", "71.3.0.1", 2, 12252, "US"),
      ("2016-09-20 00:00:01", "190.81.134.82", 2, 64512, "US"))
    assert(result(RiskAggregation.aggregate(le, 0)) === Seq(
      ("2016-09-20 00:00:00.0", 2, "US", 12252L, 1L, 0.0),
      ("2016-09-20 00:00:00.0", 2, "US", 64512L, 1L, 0.0)))
  }

  test("threshold is strictly greater-than (reference main.py:213-215)") {
    val le = logentry(
      ("2016-09-20 00:00:01", "a", 2, 1, "US"),
      ("2016-09-20 00:00:01", "b", 2, 1, "US"),
      ("2016-09-20 00:00:01", "c", 3, 1, "US"))
    // threshold 1: group with count 2 kept, count 1 dropped
    assert(result(RiskAggregation.aggregate(le, 1)) === Seq(
      ("2016-09-20 00:00:00.0", 2, "US", 1L, 2L, 0.0)))
    // threshold 2: count 2 NOT kept ("at least" comment is wrong; > is right)
    assert(RiskAggregation.aggregate(le, 2).count() === 0)
  }

  test("amplified counts: factor×count, unmatched keeps 0, NULL factor " +
      "propagates (reference tests/aggregation_tests.py:278-351)") {
    val le = logentry(
      ("2016-09-20 00:00:01", "a", 1, 1, "US"),
      ("2016-09-20 00:00:01", "b", 1, 1, "US"),
      ("2016-09-20 00:00:01", "a", 2, 1, "US"),
      ("2016-09-20 00:00:01", "a", 5, 1, "US"), // risk 5 not in dim
      ("2016-09-20 00:00:01", "a", 4, 1, "US")) // NULL factor in dim
    val dim = Seq(
      (1, Some(41.0)), (2, Some(556.9)), (4, Option.empty[Double]))
      .toDF("id", "amplification_factor")
    val out = RiskAggregation.run(le, dim, 0)
      .select($"risk", $"count", $"count_amplified")
      .orderBy($"risk").collect()
    assert(out(0) === Row(1, 2L, 82.0))     // 41 × 2
    assert(out(1) === Row(2, 1L, 556.9))    // 556.9 × 1
    assert(out(2) === Row(4, 1L, null))     // matched, NULL factor → NULL
    assert(out(3) === Row(5, 1L, 0.0))      // unmatched → placeholder 0
  }

  test("end-to-end 17-row case with duplicate ip " +
      "(reference tests/aggregation_tests.py:223-275, abbreviated)") {
    val le = logentry(
      ("2016-09-20 00:00:01", "71.3.0.1", 2, 12252, "US"),
      ("2016-09-20 04:00:01", "71.3.0.1", 2, 12252, "US"), // dup same day
      ("2016-09-20 00:00:01", "190.81.134.82", 2, 12252, "US"),
      ("2016-09-20 00:00:01", "190.81.135.11", 2, 12252, "PE"),
      ("2016-09-29 00:00:01", "190.81.135.11", 1, 64512, "PE"))
    val got = result(RiskAggregation.aggregate(le, 0))
    // order: date DESC, country ASC, asn ASC, risk ASC
    assert(got === Seq(
      ("2016-09-29 00:00:00.0", 1, "PE", 64512L, 1L, 0.0),
      ("2016-09-20 00:00:00.0", 2, "PE", 12252L, 1L, 0.0),
      ("2016-09-20 00:00:00.0", 2, "US", 12252L, 2L, 0.0)))
  }

  test("run returns rows in the reference's ORDER BY date DESC, country, " +
      "asn, risk — after the amplify join, not only before it") {
    val rows = for {
      d <- 20 to 24
      c <- Seq("US", "PE", "BR", "DE", "AR", "JP")
      a <- Seq(7L, 12252L, 64512L, 3L)
      r <- Seq(2, 1)
    } yield (f"2016-09-$d%02d 00:00:01", s"ip-$c-$a-$r", r, a, c)
    val dim = Seq((1, Some(41.0)), (2, Some(556.9)))
      .toDF("id", "amplification_factor")
    val got = RiskAggregation.run(logentry(rows: _*), dim, 0).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(2), r.getLong(3),
        r.getInt(1))).toSeq
    assert(got.size === rows.size)
    assert(got === got.sortBy { case (d, c, a, r) => (-d, c, a, r) })
  }
}
