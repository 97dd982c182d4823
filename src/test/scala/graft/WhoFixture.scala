package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The WHO source CSV trio (FIXTURES.md §A) for specs whose checks hold over
  * any WHO-shaped data: response envelopes, "route body == the DataFrame it
  * wraps", "dashboard SQL == panel function", CRUD and 400/404 rules.
  *
  * [[dir]] returns the reference data dir when it holds the three CSVs (the
  * mount, or its `graft.who.data` / `SPARK_GRAFT_WHO_DATA` override);
  * otherwise a deterministic §A-shaped trio, written once per JVM into a temp
  * dir that is deleted at JVM exit:
  *  - 261 weekly Sunday `Date_reported` values from 2020-01-05;
  *  - ten countries, one for each `WHO_region` value §A lists (AFRO, AMRO,
  *    EMRO, EURO, SEARO, WPRO, OTHER, blank), with FR, DE and IT — the
  *    countries the specs' population inputs name — all in EURO;
  *  - null `New_cases` / `New_deaths` cells, scientific-notation
  *    `TOTAL_VACCINATIONS`, empty and comma-joined `VACCINES_USED`, a padded
  *    upper-case vaccination country name, and one vaccination snapshot row
  *    per country.
  *
  * Snapshot values (240 codes, 261 France weeks, the 777,126,421 case total)
  * hold only for the real CSVs, so the golden pins keep reading the mount.
  */
object WhoFixture {

  private val covidFile = "WHO-COVID-19-global-data.csv"
  private val vaccinationFile = "vaccination-data.csv"
  private val metadataFile = "vaccination-metadata.csv"

  /** `referenceDataDir` itself when it holds the three CSVs, else the
    * generated trio's dir.
    */
  def dir(referenceDataDir: String): String =
    if (Seq(covidFile, vaccinationFile, metadataFile)
        .forall(f => Files.isRegularFile(Paths.get(referenceDataDir, f))))
      referenceDataDir
    else generated.toString

  /** Write the trio into `dir`: each file is its §A header line plus `rows`. */
  def write(dir: Path, covid: Seq[String], vaccination: Seq[String],
      metadata: Seq[String]): Unit = {
    def file(name: String, header: String, rows: Seq[String]): Unit = {
      Files.write(dir.resolve(name),
        (header +: rows).mkString("\n").getBytes(StandardCharsets.UTF_8))
      ()
    }
    file(covidFile, "Date_reported,Country_code,Country,WHO_region," +
      "New_cases,Cumulative_cases,New_deaths,Cumulative_deaths", covid)
    file(vaccinationFile, "COUNTRY,ISO3,WHO_REGION,DATA_SOURCE,DATE_UPDATED," +
      "TOTAL_VACCINATIONS,PERSONS_VACCINATED_1PLUS_DOSE,TOTAL_VACCINATIONS_PER100," +
      "PERSONS_VACCINATED_1PLUS_DOSE_PER100,PERSONS_LAST_DOSE,PERSONS_LAST_DOSE_PER100," +
      "VACCINES_USED,FIRST_VACCINE_DATE,NUMBER_VACCINES_TYPES_USED," +
      "PERSONS_BOOSTER_ADD_DOSE,PERSONS_BOOSTER_ADD_DOSE_PER100", vaccination)
    file(metadataFile, "ISO3,PRODUCT_NAME,VACCINE_NAME,COMPANY_NAME," +
      "AUTHORIZATION_DATE,START_DATE,END_DATE,COMMENT,DATA_SOURCE", metadata)
  }

  /** (code, WHO name, ISO3, WHO_region, vaccination-data COUNTRY cell,
    * VACCINES_USED cell).
    */
  private val countries = Seq(
    ("FR", "France", "FRA", "EURO", "France", ""),
    ("DE", "Germany", "DEU", "EURO", "  GERMANY ", "\"Alpha, Beta\""),
    ("IT", "Italy", "ITA", "EURO", "Italy", "Alpha,Gamma"),
    ("NG", "Nigeria", "NGA", "AFRO", "Nigeria", "Gamma"),
    ("BR", "Brazil", "BRA", "AMRO", "Brazil", ""),
    ("EG", "Egypt", "EGY", "EMRO", "Egypt", "Beta"),
    ("IN", "India", "IND", "SEARO", "India", ""),
    ("JP", "Japan", "JPN", "WPRO", "Japan", "\"Alpha, Gamma\""),
    ("XO", "Otherland", "XOT", "OTHER", "Otherland", ""),
    ("XU", "Nowhere", "XUN", "", "Nowhere", ""))
  private val weeks = 261
  private val firstSunday = java.time.LocalDate.parse("2020-01-05")

  /** Country `c`'s new cases in week `w`: a yearly triangle wave scaled per
    * country, so the lag-feature RF of the forecast routes has signal.
    */
  private def newCases(c: Int, w: Int): Int =
    (c + 1) * (200 + 40 * math.abs(w % 52 - 26)) + (w * 37 + c * 11) % 97
  private def newDeaths(c: Int, w: Int): Int = newCases(c, w) / 50 + c
  private def casesBlank(c: Int, w: Int): Boolean = (w + 3 * c) % 17 == 0
  private def deathsBlank(c: Int, w: Int): Boolean = (w + 2 * c) % 13 == 0

  private lazy val generated: Path = {
    val dir = Files.createTempDirectory("who-fixture")
    sys.addShutdownHook(deleteTree(dir))
    val covid = for {
      ((code, name, _, region, _, _), c) <- countries.zipWithIndex
      w <- 0 until weeks
    } yield {
      val cases = if (casesBlank(c, w)) "" else newCases(c, w).toString
      val deaths = if (deathsBlank(c, w)) "" else newDeaths(c, w).toString
      val cumCases = (0 to w).filterNot(casesBlank(c, _)).map(newCases(c, _).toLong).sum
      val cumDeaths = (0 to w).filterNot(deathsBlank(c, _)).map(newDeaths(c, _).toLong).sum
      s"${firstSunday.plusWeeks(w.toLong)},$code,$name,$region,$cases,$cumCases,$deaths,$cumDeaths"
    }
    val vaccination = countries.zipWithIndex.map {
      case ((_, _, iso3, region, vaccName, used), c) =>
        // Double.toString: 1.0E7 and up print in scientific notation, as in
        // the WHO feed; smaller totals print plain
        val total = 3.1e6 * (c + 1)
        val types = if (used.isEmpty) "" else (used.count(_ == ',') + 1).toString
        s"$vaccName,$iso3,$region,REPORTING,2024-12-01,$total,${total / 2}," +
          s"${50.0 + c},${25.0 + c},${total / 3},${20.0 + c},$used," +
          s"2021-01-${10 + c},$types,,"
    }
    val metadata = Seq(
      "DEU,Alpha-1,Alpha,AlphaCo,2020-12-01,2020-12-20,,,REPORTING",
      "DEU,Beta-1,Beta,BetaCo,2020-12-01,2020-12-20,,,REPORTING",
      "ITA,Alpha-1,Alpha,AlphaCo,2020-12-01,2020-12-27,,,REPORTING",
      "ITA,Gamma-1,Gamma,GammaCo,2021-01-15,2021-02-01,,,REPORTING",
      "EGY,Beta-1,Beta,BetaCo,2021-01-15,2021-02-01,,,REPORTING")
    write(dir, covid, vaccination, metadata)
    dir
  }

  /** Delete `p` and everything under it. */
  def deleteTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }
}
