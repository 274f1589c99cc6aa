package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.JdeFunctions.julianToDate

/** The benchmark's own checks at a tiny generator scale: deterministic
  * inputs, exact seeded shares, a complete traced run, and failure
  * accounting. */
class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: Path = _
  private val tiny = Main.Sizes(day1Customers = 1000, day1Orders = 4000,
    day2Customers = 2000, day2SnapshotOrders = 2000, day2Orders = 4000,
    setupRepeats = 1, warmLoads = 1, minLoads = 1)

  override def beforeAll(): Unit = {
    spark = Main.session()
    dir = Files.createTempDirectory("perfbench-spec")
  }

  override def afterAll(): Unit = {
    spark.stop()
    Fs.delete(dir)
  }

  private def csvs(seed: Long, day: JdeGen.Day, name: String): Seq[Array[Byte]] = {
    val d = dir.resolve(name)
    JdeGen.writeDay(spark, seed, day, d)
    Seq("F0101.csv", "F4211.csv").map(f => Files.readAllBytes(d.resolve(f)))
  }

  test("the same seed gives byte-identical CSVs, another seed different ones") {
    val day = JdeGen.Day(2, 2000, 4000)
    val a = csvs(7, day, "a")
    val b = csvs(7, day, "b")
    val c = csvs(8, day, "c")
    a.zip(b).foreach { case (x, y) => assert(x.sameElements(y)) }
    a.zip(c).foreach { case (x, y) => assert(!x.sameElements(y)) }
  }

  test("seeded shares come out exactly") {
    val day1 = JdeGen.Day(1, 2000, 4000)
    val day2 = JdeGen.Day(2, 2000, 4000)
    val s = JdeGen.seeded(day2)
    val o = JdeGen.orders(spark, 3, day2).agg(
      count(when(julianToDate(col("SDTRDJ")).isNull, 1)),
      count(when(col("SDAN8") >= JdeGen.OrphanBase, 1)),
      count(when(col("SDUORG") === 0, 1)),
      max(col("SDAEXP")).cast("long")).head()
    assert((o.getLong(0), o.getLong(1), o.getLong(2)) === ((20L, 40L, 4L)))
    assert((s.invalidDates, s.orphans, s.zeroQty) === ((20L, 40L, 4L)))
    assert(o.getLong(3) <= Int.MaxValue)
    val c1 = JdeGen.customers(spark, 3, day1).withColumnRenamed("ABALPH", "n1")
    val c2 = JdeGen.customers(spark, 3, day2).withColumnRenamed("ABALPH", "n2")
    val diff = c2.join(c1, Seq("ABAN8"), "left").agg(
      count(when(col("n1").isNull, 1)), count(when(col("n1") =!= col("n2"), 1))).head()
    assert((diff.getLong(0), diff.getLong(1)) === ((20L, 100L)))
    assert((s.newKeys, s.changedKeys, s.unchangedKeys) === ((20L, 100L, 1900L)))
  }

  private def args(workload: String, trace: Boolean) = Main.Args(workload, 5, 0,
    trace, dir.resolve(s"work-$workload"), dir.resolve(s"$workload.json"))

  test("a traced day-2 run reports every stage and engine metric and keeps Gold equal") {
    val r = Main.run(spark, args("day2_scd2_merge", trace = true), tiny, Registry.eighth)
    val layers = r("layers").asInstanceOf[Map[String, Double]]
    assert(Traces.LakeNames.toSet.subsetOf(layers.keySet))
    val failed = r("ops").asInstanceOf[Seq[Map[String, Any]]].filter(_("error") != None)
    assert(failed.isEmpty, failed)
    assert(layers("bronze.jobs") > 0 && layers("fact.files_written") > 0)
    assert(layers("catalyst.optimizer_s") > 0 && layers("scheduler.jobs") > 0)
  }

  test("a failing registry query is counted, not dropped") {
    val good = Registry.eighth.take(1)
    val broken: Registry.Query = (_, _) => sys.error("injected failure")
    val r = Main.run(spark, args("registry_eighth", trace = true), tiny,
      good :+ ("q_injected_failure" -> broken))
    val ops = r("ops").asInstanceOf[Seq[Map[String, Any]]]
    val failed = ops.filter(_("error") != None).map(_("name").toString)
    assert(failed.nonEmpty && failed.forall(_.contains("q_injected_failure")))
    assert(ops.exists(o => o("name").toString.startsWith(s"query:${good.head._1}#") &&
      o("error") == None))
    val layers = r("layers").asInstanceOf[Map[String, Double]]
    assert(Traces.RegistryNames.toSet.subsetOf(layers.keySet))
    assert(layers("queries.build_s") > 0 && layers("scheduler.jobs") > 0)
  }
}
