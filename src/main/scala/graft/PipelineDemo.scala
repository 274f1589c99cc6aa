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
  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse(
      Files.createTempDirectory("graft_demo").toString)
    val landing = s"$work/landing"; val lake = s"$work/lake"
    Files.createDirectories(Paths.get(landing))

    val customers = (0 until 50).map { i =>
      s"${10000 + i},Company $i,C,${Seq("100", "200", "300")(i % 3)},${124001 + i % 300}"
    }
    Files.writeString(Paths.get(s"$landing/F0101.csv"),
      "ABAN8,ABALPH,ABAT1,ABAC01,ABUPMJ\n" + customers.mkString("\n"))
    val orders = (0 until 200).map { i =>
      val units = (1 + i % 100) * 100
      val priceCents = 1000 + (i * 245) % 49000
      s"${1 + i},SO,${10000 + i % 50},40063813339${i}," +
        s"${124001 + i % 300},$units,${units / 100 * priceCents}"
    }
    Files.writeString(Paths.get(s"$landing/F4211.csv"),
      "SDDOCO,SDDCTO,SDAN8,SDLITM,SDTRDJ,SDUORG,SDAEXP\n" + orders.mkString("\n"))
    Files.writeString(Paths.get(s"$landing/source_config.json"),
      """[{"sourceFile":"F0101.csv","sinkPath":"jde/F0101","description":"Address Book"},
         {"sourceFile":"F4211.csv","sinkPath":"jde/F4211","description":"Sales Detail"}]""")

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
