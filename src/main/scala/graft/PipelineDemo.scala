package graft

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import graft.sources.LakeZones

/** Sample entry point driving the full medallion pipeline through the
  * public API on a tiny generated landing set:
  * `runMain graft.PipelineDemo [workDir]`. Prints the fact count and
  * the star top-k — the reference's end-to-end flow (SURVEY.md §3.1)
  * in one command. */
object PipelineDemo {

  /** Deterministic JDE-shaped landing set (seed-free: arithmetic
    * series) in `dir`: 50 customers (`F0101.csv`) and 200 orders
    * (`F4211.csv`), mirroring `generate_jde_data.py` defaults per
    * `README.md:142`, plus the ingestion config. The demo's input and
    * the pipeline specs' fixture. */
  def writeLanding(dir: String): Unit = {
    val customers = (0 until 50).map { i =>
      val id = 10000 + i
      val cat = Seq("100", "200", "300")(i % 3)
      val julian = 124001 + (i % 300)
      s"$id,Company $i,C,$cat,$julian"
    }
    Files.writeString(Paths.get(s"$dir/F0101.csv"),
      "ABAN8,ABALPH,ABAT1,ABAC01,ABUPMJ\n" + customers.mkString("\n"))
    val orders = (0 until 200).map { i =>
      val doco = 1 + i
      val an8 = 10000 + (i % 50)
      val julian = 124001 + (i % 300)
      val units = (1 + i % 100) * 100
      val priceCents = 1000 + (i * 245) % 49000
      val aexp = (units / 100) * priceCents
      s"$doco,SO,$an8,400638133393$i,$julian,$units,$aexp"
    }
    Files.writeString(Paths.get(s"$dir/F4211.csv"),
      "SDDOCO,SDDCTO,SDAN8,SDLITM,SDTRDJ,SDUORG,SDAEXP\n" + orders.mkString("\n"))
    Files.writeString(Paths.get(s"$dir/source_config.json"),
      """[
        {"sourceFile": "F0101.csv", "sinkPath": "jde/F0101", "description": "Address Book"},
        {"sourceFile": "F4211.csv", "sinkPath": "jde/F4211", "description": "Sales Detail"}
      ]""")
  }

  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse(
      Files.createTempDirectory("graft_demo").toString)
    val landing = s"$work/landing"; val lake = s"$work/lake"
    Files.createDirectories(Paths.get(landing))

    writeLanding(landing)

    val spark = GraftSession.local(4)

    val zones = LakeZones(lake)
    val fact = Pipeline.run(spark, zones, landing,
      s"$landing/source_config.json", LocalDate.of(2024, 6, 1),
      java.sql.Timestamp.valueOf("2024-06-01 00:00:00"),
      onFailure = (stage, e) => println(s"[alert] stage=$stage error=${e.getMessage}"))
    println(s"[demo] fact rows: ${fact.count()}")
    println("[demo] star top-5 by revenue:")
    Pipeline.starTopK(spark, zones, 5).show(truncate = false)
    spark.stop()
  }
}
