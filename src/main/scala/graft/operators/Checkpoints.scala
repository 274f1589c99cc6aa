package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame

/** Lineage-truncation policy for iterative operators
  * ([[Dedup.connectedComponents]], [[Clustering.kmeans]],
  * [[TextAnalysis.bpeTrain]], [[LinkAnalysis.pageRank]]).
  *
  * Every loop must truncate lineage each round so the logical plan
  * stays O(1) in rounds — but HOW it truncates is a deployment
  * decision:
  *
  *  - `localCheckpoint()` (default): blocks live on executor local
  *    disk/memory. Fastest, fine on `local[*]` and for short jobs,
  *    but NOT fault-tolerant — on a real cluster, losing an executor
  *    loses its blocks and kills the job, because the lineage needed
  *    to recompute them was deliberately cut.
  *  - reliable `checkpoint()`: blocks persist to the checkpoint
  *    directory (HDFS/object store on a cluster). An executor loss
  *    re-reads from durable storage and the 100 TB closure job keeps
  *    going. Costs a write per round — the right trade at scale.
  *
  * Switch with the session conf `graft.checkpoint.reliable=true`; the
  * checkpoint directory comes from `graft.checkpoint.dir` (the
  * context's directory follows it whenever it names another one) or,
  * when that is unset, a pre-configured `SparkContext.setCheckpointDir`.
  */
object Checkpoints {
  val ReliableConf = "graft.checkpoint.reliable"
  val DirConf = "graft.checkpoint.dir"

  /** Truncate `df`'s lineage per the session's checkpoint policy. */
  def truncate(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    if (spark.conf.getOption(ReliableConf).exists(_.toBoolean)) {
      val sc = spark.sparkContext
      spark.conf.getOption(DirConf).foreach(pointAt(sc, _))
      if (sc.getCheckpointDir.isEmpty) throw new IllegalStateException(
        s"$ReliableConf=true requires $DirConf or SparkContext.setCheckpointDir")
      df.checkpoint()
    } else df.localCheckpoint()
  }

  /** Re-point the context's checkpoint dir at `dir` unless it is there
    * already. `setCheckpointDir` qualifies the path and adds a UUID
    * subdirectory, so the context's dir is compared by its parent.
    * Locked: concurrent `Pipeline.run` branches truncate at once. */
  private def pointAt(sc: SparkContext, dir: String): Unit = synchronized {
    val p = new Path(dir)
    val wanted = p.getFileSystem(sc.hadoopConfiguration).makeQualified(p)
    if (!sc.getCheckpointDir.exists(d => new Path(d).getParent == wanted))
      sc.setCheckpointDir(dir)
  }
}
