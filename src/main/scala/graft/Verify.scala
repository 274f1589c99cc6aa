package graft
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.Path
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd+ args: run only these query names (scale-tier
    // verification runs the heavy subset on big generated dirs)
    val only = args.drop(2).toSet
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    val fs = new Path(outDir).getFileSystem(spark.sessionState.newHadoopConf())
    // local artifact beside the driver's: per-query rows/seconds/status
    // → target/correctness.json, so the correctness pass leaves a
    // complete record even if the driver's stdout capture truncates
    val local = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        // a query that throws must leave no output, not the previous
        // run's: many queries run jobs while they are built (q05's
        // contiguous-id checkpoint), so clear the directory first
        fs.delete(new Path(s"$outDir/$name"), true)
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val rows = spark.read.parquet(s"$outDir/$name").count()
        val sec = (System.nanoTime() - t0) / 1e9
        local(name) = f"""{"status":"written","rows":$rows,"sec":$sec%.2f}"""
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        local(name) = s"""{"status":"error","class":"${e.getClass.getSimpleName}"}"""
      }
    }
    val localOut = java.nio.file.Paths.get("target", "correctness.json")
    java.nio.file.Files.createDirectories(localOut.getParent)
    java.nio.file.Files.writeString(localOut,
      local.map { case (k, v) => s""""$k": $v""" }.mkString("{", ",\n ", "}"))
    // a raw tab or newline in a query's SQL would make the oracle
    // compare's json.load (tools/check.py) fail
    def q(s: String): String = "\"" + Jsonl.esc(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
