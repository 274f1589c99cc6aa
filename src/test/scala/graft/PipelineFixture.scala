package graft

import java.nio.file.{Files, Paths}

/** Deterministic JDE-shaped landing fixture (seed-free: arithmetic
  * series): 50 customers / 200 orders, mirroring `generate_jde_data.py`
  * defaults per `README.md:142`, plus the ingestion config. */
object PipelineFixture {

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
}
