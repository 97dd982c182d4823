package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.EtlJob

/** [[WhoFixture.dir]] prefers the given data dir whenever it holds the three
  * WHO CSVs, and otherwise serves one generated FIXTURES.md §A-shaped trio.
  */
class WhoFixtureSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  test("a dir holding the three CSVs is returned unchanged, and left as it is") {
    val dir = Files.createTempDirectory("who-data")
    def listing: Seq[Path] = {
      val st = Files.list(dir)
      try st.iterator().asScala.toSeq.sorted finally st.close()
    }
    try {
      WhoFixture.write(dir, Nil, Nil, Nil)
      val before = listing
      assert(before.size == 3)
      assert(WhoFixture.dir(dir.toString) == dir.toString)
      assert(listing == before)
      // two of the three is not a data dir
      Files.delete(before.head)
      assert(WhoFixture.dir(dir.toString) != dir.toString)
    } finally WhoFixture.deleteTree(dir)
  }

  test("otherwise one generated trio per JVM with the §A calendar, regions and edge cases") {
    val dir = WhoFixture.dir("/nonexistent/who-data")
    assert(WhoFixture.dir("/another/missing/dir") == dir)

    val raw = EtlJob.readWhoCovid(spark, s"$dir/WHO-COVID-19-global-data.csv").cache()
    val dates = raw.select("Date_reported").distinct().orderBy("Date_reported")
      .as[java.sql.Date].collect().map(_.toLocalDate)
    assert(dates.length == 261)
    assert(dates.head.toString == "2020-01-05" && dates.last.toString == "2024-12-29")
    assert(dates.forall(_.getDayOfWeek == java.time.DayOfWeek.SUNDAY))
    val regions = raw.groupBy("WHO_region").agg(collect_set("Country_code").as("codes"))
      .as[(String, Seq[String])].collect().toMap
    assert(regions.keySet ==
      Set("AFRO", "AMRO", "EMRO", "EURO", "SEARO", "WPRO", "OTHER", null))
    assert(regions("EURO").sorted == Seq("DE", "FR", "IT"))
    assert(raw.select("Country_code").distinct().count() == 10)
    assert(raw.filter($"New_cases".isNull).count() > 0)
    assert(raw.filter($"New_deaths".isNull).count() > 0)

    val vaccText = new String(Files.readAllBytes(
      Paths.get(dir, "vaccination-data.csv")), "UTF-8")
    assert(vaccText.contains("E7,"), "scientific-notation TOTAL_VACCINATIONS")
    assert(vaccText.contains("  GERMANY ,"), "padded upper-case country name")
    val vacc = EtlJob.readVaccinationData(spark, s"$dir/vaccination-data.csv")
    assert(vacc.count() == 10)
    assert(vacc.select(lower(trim($"COUNTRY"))).distinct().count() == 10)
    assert(vacc.filter($"VACCINES_USED".isNull).count() > 0)
    assert(vacc.filter($"VACCINES_USED".contains(",")).count() > 0)
    raw.unpersist()
  }
}
