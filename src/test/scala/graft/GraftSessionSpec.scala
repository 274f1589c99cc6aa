package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session factory's conf, checked without starting a session. */
class GraftSessionSpec extends AnyFunSuite {

  test("the factory conf carries every project session setting") {
    val conf = GraftSession.conf(3)
    Seq(
      "spark.master" -> "local[3]",
      "spark.sql.shuffle.partitions" -> "3",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "8000",
      "spark.shuffle.sort.bypassMergeThreshold" -> "1",
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS"
    ).foreach { case (k, v) => assert(conf.getOption(k).contains(v), k) }
  }

  test("a -Dspark.* JVM property overrides the factory's setting") {
    val key = "spark.sql.codegen.cache.maxEntries"
    System.setProperty(key, "4000")
    try assert(GraftSession.conf(3).get(key) == "4000")
    finally System.clearProperty(key)
  }
}
