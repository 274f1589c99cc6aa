package graft.operators

import org.apache.spark.sql.DataFrame

/** Lineage-truncation policy for iterative operators
  * ([[Dedup.connectedComponents]], [[Clustering.kmeans]],
  * [[TextAnalysis.bpeTrain]], [[LinkAnalysis.pageRank]]).
  *
  * Every loop must truncate lineage each round so the logical plan
  * stays O(1) in rounds — but HOW it truncates is a deployment
  * decision:
  *
  *  - `localCheckpoint()`: blocks live on executor local
  *    disk/memory. Fastest, fine on `local[*]` and for short jobs,
  *    but NOT fault-tolerant — on a real cluster, losing an executor
  *    loses its blocks and kills the job, because the lineage needed
  *    to recompute them was deliberately cut.
  *  - reliable `checkpoint()`: blocks persist to the checkpoint
  *    directory (HDFS/object store on a cluster). An executor loss
  *    re-reads from durable storage and the 100 TB closure job keeps
  *    going. Costs a write per round — the right trade at scale.
  *
  * The deployment chooses by naming a checkpoint directory, the same
  * rule MLlib's `PeriodicCheckpointer` and ALS follow: Spark's own
  * `spark.checkpoint.dir` (read when the context starts, so a
  * `-Dspark.checkpoint.dir=...` reaches it through
  * [[graft.GraftSession]]) or `SparkContext.setCheckpointDir` selects
  * reliable checkpoints; with no directory, truncation is local.
  */
object Checkpoints {

  /** Truncate `df`'s lineage: reliably when the context has a
    * checkpoint directory, locally otherwise. */
  def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()
}
