package graft.operators

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.util.AccumulatorV2

/** Contiguous surrogate-key assignment without a single-partition
  * window (the T-SQL `INT IDENTITY` replacement — reference
  * `sql_scripts/dim_customer.sql:23`, `fact_sales.sql:24`).
  *
  * `row_number().over(Window.orderBy(...))` collapses the whole
  * DataFrame onto ONE partition — fine for a 50-row demo, a
  * bottleneck at 100 TB. Instead: range-repartition on the sort
  * expressions (asc/desc honored; global order preserved across
  * partitions), sort within partitions, and materialize ONCE with
  * per-partition positions (`monotonically_increasing_id`). The same
  * job reports each partition's row count to the driver through an
  * accumulator; the driver prefix-sums those ≤ shuffle-partitions
  * counts and the id is one projection over the materialized rows —
  * no aggregate, window, join or broadcast in the returned plan.
  * Deterministic for a unique sort ordering; scales linearly with
  * executors.
  *
  * WHY THE SINGLE MATERIALIZATION IS LOAD-BEARING (r03/r12 lesson):
  * the per-partition offsets are only sound if they describe the same
  * partitioning the ids are read from. Two independent evaluations of
  * the range exchange can place rows in DIFFERENT partitions
  * (`RangePartitioner` seeds its boundary sampling with the RDD id),
  * and a pid-keyed offset then silently mis-assigns ids (caught by
  * the q05 oracle gate). [[Checkpoints.truncate]] pins one
  * materialization, and the counts are taken from that very job, so
  * counts and rows cannot disagree by construction. The accumulator
  * merges by max per partition id: a retried or recomputed task, or
  * reliable checkpointing's second evaluation of the plan, re-sends
  * the same count instead of adding to it.
  */
object Ids {

  /** Row-index field width of `monotonically_increasing_id`
    * (partitionId·2³³ + row index). */
  private val IndexBits = 33
  private val IndexMask = (1L << IndexBits) - 1

  /** Rows per partition of one materialization, keyed by the
    * partition field of `monotonically_increasing_id`: each row adds
    * its id, a partition's count is its largest row index + 1, and
    * merging takes the max per partition (idempotent under re-sends). */
  private[graft] final class PartitionRows
      extends AccumulatorV2[Long, Map[Int, Long]] {
    private val rows = mutable.HashMap.empty[Int, Long]
    private def put(pid: Int, n: Long): Unit =
      if (rows.getOrElse(pid, 0L) < n) rows.update(pid, n)
    override def isZero: Boolean = rows.isEmpty
    override def copy(): PartitionRows = {
      val c = new PartitionRows; c.rows ++= rows; c
    }
    override def reset(): Unit = rows.clear()
    override def add(mid: Long): Unit =
      put((mid >>> IndexBits).toInt, (mid & IndexMask) + 1)
    override def merge(other: AccumulatorV2[Long, Map[Int, Long]]): Unit =
      synchronized(other.value.foreach { case (pid, n) => put(pid, n) })
    override def value: Map[Int, Long] = synchronized(rows.toMap)
  }

  /** Start offset of each of `parts` partitions (rows in the
    * partitions before it), checking the two invariants the ids rest
    * on: every partition id lies inside the range exchange, and no
    * partition overflows the 2³³ row-index field (past it, ids of
    * neighbouring partitions silently overlap). */
  private[graft] def partitionOffsets(rows: Map[Int, Long], parts: Int): Array[Long] = {
    rows.foreach { case (pid, n) =>
      if (pid >= parts) throw new IllegalStateException(
        s"contiguous ids: partition id $pid outside the $parts-partition range exchange")
      if (n >= (1L << IndexBits)) throw new IllegalStateException(
        s"contiguous ids: partition $pid holds $n rows, past the 2^$IndexBits " +
          "row-index field of monotonically_increasing_id")
    }
    (0 until parts).scanLeft(0L)((acc, pid) => acc + rows.getOrElse(pid, 0L))
      .take(parts).toArray
  }

  /** Adds `idCol` = offset+1, offset+2, … following the global order
    * of `sortCols` (which must be a unique ordering for determinism;
    * `.desc` expressions are honored).
    */
  def addContiguousIds(df: DataFrame, sortCols: Seq[Column], idCol: String,
                       offset: Long = 0L): DataFrame = {
    val spark = df.sparkSession
    // pin the partition count (no AQE coalesce): the exchange is tiny
    // in BYTES at test scale, so AQE folds it to one partition — and
    // every CPU-heavy comparator downstream of the ranks (candidate
    // verification by edit distance etc.) then runs single-task. Byte
    // size is the wrong signal for compute-bound stages; the
    // configured shuffle parallelism is the contract.
    //
    // Rank assembly stays inside codegen: materialize the range-sorted
    // frame ONCE with `monotonically_increasing_id` (within-partition
    // positions in the pinned sorted order); the checkpoint job itself
    // feeds every id to a max-merging accumulator, so when it returns
    // the driver holds each partition's row count and no second pass
    // over the rows is needed. rank = (rows in partitions before
    // mine) + (my index) + 1, with the offsets an array literal.
    // Global rank is boundary-placement-independent for a unique
    // total order, so the sampled range boundaries affect layout
    // only, never the ids.
    val parts = spark.sessionState.conf.numShufflePartitions
    val rows = new PartitionRows
    spark.sparkContext.register(rows)
    val counted = udf { (m: Long) => rows.add(m); m }.asNondeterministic().asNonNullable()
    val mid = s"__${idCol}_mid"
    val sorted = Checkpoints.truncate(df
      .repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn(mid, counted(monotonically_increasing_id())))
    val offs = typedLit(partitionOffsets(rows.value, parts))
    sorted
      .withColumn(idCol,
        (lit(offset) + offs(shiftright(col(mid), IndexBits).cast("int"))
          + col(mid).bitwiseAND(lit(IndexMask)) + lit(1L)).cast(LongType))
      .drop(mid)
  }

  /** Exact SQL `NTILE(k)` bucket computed from a 1-based contiguous
    * global rank instead of a single-partition window.
    *
    * NTILE(k) over n rows deals the first `n % k` buckets
    * `ceil(n / k)` rows and the remaining buckets `floor(n / k)` —
    * so for rank r the bucket is pure arithmetic in (r, n, k). Paired
    * with [[addContiguousIds]] (range-partitioned rank), this gives
    * bit-identical NTILE semantics with no corpus-sized frame ever
    * passing through one task: the `ntile(k).over(Window.orderBy(…))`
    * formulation collapses the whole frame onto a single partition,
    * which serializes at 100 TB; rank + arithmetic scales with
    * executors. `rank` and `n` must be BIGINT-safe (< 2⁵³ for the
    * intermediate double divisions — row counts always are).
    */
  def ntileFromRank(rank: Column, n: Column, k: Int): Column = {
    val m = pmod(n, lit(k.toLong))                 // buckets with the extra row
    val q = ((n - m) / k).cast(LongType)           // base bucket size floor(n/k)
    val t = m * (q + lit(1L))                      // rows in the fat buckets
    when(rank <= t, floor((rank - lit(1L)) / (q + lit(1L))) + lit(1L))
      // greatest(q, 1): when q = 0 every row satisfies rank <= t, so
      // the branch is never taken — the guard only keeps the division
      // total under ANSI evaluation
      .otherwise(m + floor((rank - t - lit(1L)) / greatest(q, lit(1L))) + lit(1L))
      .cast(LongType)
  }
}
