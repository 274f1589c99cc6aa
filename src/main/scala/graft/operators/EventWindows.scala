package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Event-time windowing over the `events` table — the batch half of
  * the streaming surface (SURVEY.md §2.7/§7.5). The same expressions
  * run under Structured Streaming with `readStream` + watermark (see
  * `graft.streaming`); in batch they verify against the SQL oracle.
  *
  * Aggregation of the double `value` column goes through
  * decimal(18,2) so sums are order-independent (shuffle-partition
  * order must not change results).
  */
object EventWindows {

  /** Tumbling window aggregate per event type. */
  def tumbling(events: DataFrame, width: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(graft.functions.DecimalExprs.dec2(col("value"))).cast(DoubleType).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
      .select(unix_millis(col("w.start")).as("window_start_ms"),
        col("event_type"), col("n_events"), col("sum_value"), col("n_users"))

  /** Sliding window aggregate (width/slide) per event type. */
  def sliding(events: DataFrame, width: String = "1 hour",
              slide: String = "15 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), width, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(graft.functions.DecimalExprs.dec2(col("value"))).cast(DoubleType).as("sum_value"))
      .select(unix_millis(col("w.start")).as("window_start_ms"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** As-of enrichment: for each right-side event, the nearest
    * left-side event of the same user — at-or-before (`"backward"`,
    * the default) or at-or-after (`"forward"`), optionally only
    * within `toleranceMs` (pandas `merge_asof` semantics). Expressed
    * as union-tag + one running `last/first(ignoreNulls)` window over
    * one user-partitioned ordering — a single shuffle, no range join,
    * no per-row probe; scales as a plain window.
    *
    * At equal timestamps the left row is eligible in BOTH directions
    * ("at or ..."): the left side sorts before right for backward and
    * after right for forward. */
  def asOfJoin(left: DataFrame, right: DataFrame,
               userCol: String = "user_id", tsCol: String = "ts",
               payloadCol: String = "event_id",
               direction: String = "backward",
               toleranceMs: Option[Long] = None): DataFrame = {
    require(direction == "backward" || direction == "forward",
      s"direction must be backward|forward, got $direction")
    val backward = direction == "backward"
    val (leftSide, rightSide) = if (backward) (0, 1) else (1, 0)
    val payT = left.schema(payloadCol).dataType.catalogString
    val tagged = left.select(col(userCol), col(tsCol),
        struct(unix_millis(col(tsCol)).as("_t"),
          col(payloadCol).as("_p")).as("_pay"),
        lit(leftSide).as("_side"), lit(null).cast("long").as("_rid"))
      .unionByName(right.select(col(userCol), col(tsCol),
        lit(null).cast(s"struct<_t:bigint,_p:$payT>").as("_pay"),
        lit(rightSide).as("_side"), col(payloadCol).cast("long").as("_rid")))
    val w0 = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col("_side"))
    val (w, pick) =
      if (backward)
        (w0.rowsBetween(Window.unboundedPreceding, 0),
          last(col("_pay"), ignoreNulls = true))
      else
        (w0.rowsBetween(0, Window.unboundedFollowing),
          first(col("_pay"), ignoreNulls = true))
    val gapOk = toleranceMs.fold(lit(true)) { tol =>
      abs(col("_m._t") - unix_millis(col(tsCol))) <= tol
    }
    tagged
      .withColumn("_m", pick.over(w))
      .filter(col("_rid").isNotNull)
      .select(col(userCol), col("_rid").as("right_id"), col(tsCol),
        when(col("_m").isNotNull && gapOk, col("_m._p")).as("asof_left_id"))
  }

  /** Gap-based sessionization: a new session starts when a user is
    * idle longer than `gapMinutes`. Classic lag + running-sum
    * formulation — one shuffle on user_id, sessions assembled by two
    * stacked window functions over the same partitioning (no second
    * shuffle). */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gapMs = gapMinutes * 60L * 1000L
    val flagged = events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_ts").isNull ||
          (unix_millis(col("ts")) - unix_millis(col("prev_ts"))) > gapMs, 1L)
          .otherwise(0L))
      .withColumn("session_seq",
        sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    flagged
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        unix_millis(min(col("ts"))).as("session_start_ms"),
        unix_millis(max(col("ts"))).as("session_end_ms"),
        sum(graft.functions.DecimalExprs.dec2(col("value"))).cast(DoubleType).as("sum_value"))
  }
}
