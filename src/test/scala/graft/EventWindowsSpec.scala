package graft

import org.apache.spark.sql.functions._
import graft.operators.EventWindows

/** As-of join semantics + sketch accuracy. */
class EventWindowsSpec extends SparkSpec {
  import spark.implicits._

  private def ev(rows: (Long, String, Long)*) =
    rows.toDF("event_id", "t", "user_id")
      .select($"event_id", to_timestamp($"t").cast("timestamp").as("ts"), $"user_id")

  test("asOfJoin picks nearest prior left event, at-or-before, per user") {
    val clicks = ev(
      (10L, "2024-01-01 00:00:00", 1L),
      (11L, "2024-01-01 01:00:00", 1L),
      (12L, "2024-01-01 05:00:00", 1L),
      (20L, "2024-01-01 00:30:00", 2L))
    val purchases = ev(
      (100L, "2024-01-01 00:59:00", 1L), // → click 10
      (101L, "2024-01-01 01:00:00", 1L), // ties click 11 → at-or-before → 11
      (102L, "2024-01-01 09:00:00", 1L), // → click 12
      (200L, "2024-01-01 00:00:01", 2L), // → click 20? no: 20 is at 00:30 AFTER → null
      (300L, "2024-01-01 00:00:00", 3L)) // user with no clicks → null
    val got = EventWindows.asOfJoin(clicks, purchases)
      .select($"right_id", $"asof_left_id").as[(Long, Option[Long])]
      .collect().toMap
    assert(got(100L).contains(10L))
    assert(got(101L).contains(11L))
    assert(got(102L).contains(12L))
    assert(got(200L).isEmpty)
    assert(got(300L).isEmpty)
  }

  test("asOfJoin forward picks nearest next left event, honors tolerance") {
    val purchases = ev(
      (100L, "2024-01-01 01:00:00", 1L),
      (101L, "2024-01-01 06:00:00", 1L))
    val clicks = ev(
      (10L, "2024-01-01 00:30:00", 1L), // next purchase 100 at +30min
      (11L, "2024-01-01 01:00:00", 1L), // ties purchase 100 → at-or-after → 100
      (12L, "2024-01-01 02:00:00", 1L), // next purchase 101 at +4h → outside 2h tol
      (13L, "2024-01-01 07:00:00", 1L), // nothing after → null
      (20L, "2024-01-01 00:00:00", 2L)) // user with no purchases → null
    val got = EventWindows.asOfJoin(purchases, clicks,
        direction = "forward", toleranceMs = Some(2L * 3600 * 1000))
      .select($"right_id", $"asof_left_id").as[(Long, Option[Long])]
      .collect().toMap
    assert(got(10L).contains(100L))
    assert(got(11L).contains(100L))
    assert(got(12L).isEmpty) // match exists but outside tolerance
    assert(got(13L).isEmpty)
    assert(got(20L).isEmpty)
    // backward with tolerance also nulls distant matches
    val back = EventWindows.asOfJoin(clicks, purchases,
        toleranceMs = Some(30L * 60 * 1000))
      .select($"right_id", $"asof_left_id").as[(Long, Option[Long])]
      .collect().toMap
    assert(back(100L).contains(11L))  // tie at 0ms gap
    assert(back(101L).isEmpty)        // prior click 12 is 4h away > 30min
  }

  test("approx_count_distinct within 5% of exact on events fixture") {
    val e = graft.queries.QueryDef.eventsTable(spark, "/root/testdata/sf0.01")
    val both = e.groupBy($"event_type")
      .agg(approx_count_distinct($"user_id", 0.02).as("approx"),
        countDistinct($"user_id").as("exact"))
      .as[(String, Long, Long)].collect()
    assert(both.nonEmpty)
    both.foreach { case (t, approx, exact) =>
      val err = math.abs(approx - exact).toDouble / exact
      assert(err <= 0.05, s"$t: approx $approx vs exact $exact")
    }
  }
}
