package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** The six star-schema tables the ETL produces (reference data model:
  * app/sql/mcd.puml:3-55, materialized by app/etl.py:59-172).
  */
final case class StarSchema(
    whoRegion: DataFrame,
    country: DataFrame,
    disease: DataFrame,
    vaccine: DataFrame,
    weeklyStatistics: DataFrame,
    dailyVaccineStatistics: DataFrame,
) {
  def tables: Seq[(String, DataFrame)] = Seq(
    "who_region" -> whoRegion,
    "country" -> country,
    "disease" -> disease,
    "vaccine" -> vaccine,
    "weekly_statistics" -> weeklyStatistics,
    "daily_vaccine_statistics" -> dailyVaccineStatistics,
  )

  /** The same six tables computed once: each becomes an RDD-level
    * `localCheckpoint` ([[StarSchema.stored]]), so every later plan scans
    * stored blocks instead of re-reading the CSVs and redoing the star's
    * group-bys and joins (the reference's Postgres tables,
    * app/etl.py:170-172, play this role).
    */
  def materialized: StarSchema = {
    import StarSchema.stored
    StarSchema(stored(whoRegion), stored(country), stored(disease), stored(vaccine),
      stored(weeklyStatistics), stored(dailyVaccineStatistics))
  }
}

object StarSchema {

  /** `df` computed once, as an RDD-level `localCheckpoint`. Local checkpoint
    * blocks survive `catalog.clearCache()`, which drops only SQL
    * CacheManager entries.
    *
    * The checkpoint is taken through a FRESH projection, never `df` itself:
    * checkpointing a Dataset forces and keeps its `executedPlan`, which
    * would pin that plan's broadcast relations (~17 MB each for
    * `dailyVaccineStatistics`' broadcast joins), the Hadoop-conf broadcasts
    * of its scans and its shuffle files for as long as the caller holds
    * `df`.
    */
  def stored(df: DataFrame): DataFrame =
    df.select(df.columns.toIndexedSeq.map(col): _*).localCheckpoint()
}

/** Batch ETL: three WHO CSVs → 6-table star schema (SURVEY.md §2, §3.1).
  *
  * Same declared semantics as the reference pipeline (app/etl.py), rebuilt
  * Spark-first with explicit schemas. Deliberate fixes over the reference,
  * each from SURVEY.md §1.4 (delta = observable difference vs the reference):
  *
  *  1. `fillna(New_cases/New_deaths → 0)` is REAL here (typed ints; the
  *     reference's fill targeted string columns and silently did nothing).
  *     Delta: a week whose every report is null sums to 0 here vs NULL there.
  *  2. `VACCINES_USED` split applies `trim` per element, so `"A, B"` joins
  *     vaccine "B" instead of missing on `" B"`. Moot on the committed
  *     snapshot (the column is empty everywhere → sentinel 'unknown' path).
  *  3. The `lag` window orders by the typed DATE, not its string form
  *     (string ordering only worked because the dates are ISO-formatted).
  *
  * Faithfully preserved reference semantics:
  *  - blank WHO_region → "UNKNOWN" code, and BOTH "UNKNOWN" and literal
  *    "OTHER" display as "Other" (two short-codes, one name).
  *  - weekly grain = `date_trunc('week')` Monday-start date.
  *  - lag-null fallback makes `new_reported_shots = TOTAL_VACCINATIONS` on
  *    each country's first snapshot row (and the committed data is
  *    one-row-per-country, so it degenerates to exactly that).
  *  - sums cast to int; vaccine-dim ids are 1..N in name order + sentinel
  *    (0, 'unknown', 1).
  */
object EtlJob {

  /** Region code → display name (reference: app/etl.py:70-88). Kept as a
    * when-chain: 7 branches of codegen'd CASE beats a join even at scale
    * (it's a per-row scalar, no shuffle, no build side).
    */
  private val regionNames: Seq[(String, String)] = Seq(
    "EMRO" -> "Eastern Mediterranean Region",
    "EURO" -> "European Region",
    "AFRO" -> "African Region",
    "WPRO" -> "Western Pacific Region",
    "AMRO" -> "Region of the Americas",
    "SEARO" -> "South-East Asia Region",
  )

  def readWhoCovid(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(Schemas.whoCovid).csv(path)

  def readVaccinationData(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(Schemas.vaccinationData).csv(path)

  def readVaccinationMetadata(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(Schemas.vaccinationMetadata).csv(path)

  /** OWID feed for the ML path — projection at read time (reference:
    * predict_france_with_model.py:25 reads 5 of ~60 columns; with an explicit
    * schema + select, the CSV parser never materializes the rest).
    */
  def readOwid(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(Schemas.owidCovid).csv(path)
      .select("location", "date", "new_cases", "new_tests", "people_vaccinated")

  /** Run the full pipeline from a directory holding the three WHO CSVs. */
  def run(spark: SparkSession, dataDir: String): StarSchema = {
    val covid = prepareCovid(
      readWhoCovid(spark, s"$dataDir/WHO-COVID-19-global-data.csv"))
    val vacc = readVaccinationData(spark, s"$dataDir/vaccination-data.csv")
    val vaccMeta = readVaccinationMetadata(spark, s"$dataDir/vaccination-metadata.csv")
    build(spark, covid, vacc, vaccMeta)
  }

  /** Null handling on the fact input: counts → 0, blank region → UNKNOWN. */
  def prepareCovid(covid: DataFrame): DataFrame =
    covid
      .na.fill(Map("New_cases" -> 0, "New_deaths" -> 0))
      .na.fill(Map("WHO_region" -> "UNKNOWN"))

  def build(
      spark: SparkSession,
      covid: DataFrame,
      vaccinationData: DataFrame,
      vaccinationMetadata: DataFrame,
  ): StarSchema = {
    import spark.implicits._

    val whoRegion = {
      val nameExpr = regionNames.foldLeft(Option.empty[org.apache.spark.sql.Column]) {
        case (acc, (code, name)) =>
          val w = acc match {
            case None      => when($"who_region_short_code" === code, name)
            case Some(col) => col.when($"who_region_short_code" === code, name)
          }
          Some(w)
      }.get.otherwise("Other") // UNKNOWN and literal OTHER both display as "Other"
      covid.select($"WHO_region".as("who_region_short_code"))
        .distinct()
        .withColumn("who_region_name", nameExpr)
    }

    val country = covid.select(
      $"Country_code".as("country_short_code"),
      $"Country".as("country_name"),
      $"WHO_region".as("who_region_short_code"),
    ).distinct()

    val disease = Seq((1, "COVID-19")).toDF("id", "name")

    val vaccine = {
      // Sequential ids in name order. A single-partition window (the
      // reference's approach, app/etl.py:101) is fine at dimension
      // cardinality (38 rows) but is exactly the pattern that dies at scale,
      // so assign ids from a sorted single-column agg instead: collect the
      // distinct names as one array (dimension-sized), posexplode back out.
      // No single-partition sort of a distributed relation anywhere.
      val names = vaccinationMetadata
        .select($"VACCINE_NAME".as("name"))
        .filter($"name".isNotNull)
        .distinct()
        .agg(sort_array(collect_list($"name")).as("names"))
      names
        .select(posexplode($"names").as(Seq("pos", "name")))
        .select(($"pos" + 1).cast(IntegerType).as("id"), $"name", lit(1).as("treated_disease"))
        .unionByName(Seq((0, "unknown", 1)).toDF("id", "name", "treated_disease"))
    }

    val weeklyStatistics = covid
      .groupBy(
        $"Country_code".as("country_short_code"),
        to_date(date_trunc("week", $"Date_reported")).as("date_of_report"),
      )
      .agg(
        sum($"New_cases").cast(IntegerType).as("week_new_reported_cases"),
        sum($"New_deaths").cast(IntegerType).as("week_new_reported_deaths"),
      )
      .withColumn("disease_id", lit(1))

    val dailyVaccineStatistics = {
      val w = Window.partitionBy($"COUNTRY").orderBy($"DATE_UPDATED")
      // delta-from-previous-snapshot; first row per country falls back to the
      // running total (reference: app/etl.py:122-131 — and with the committed
      // one-row-per-country data, every row IS the first row).
      // Null-dated snapshots are dropped BEFORE the window (matching the
      // oracle's lagged CTE): lag ordered by a null date is ill-defined, and
      // filtering after the window would let a null-dated row shift the lag
      // inputs of its country's real rows
      val withShots = vaccinationData
        .filter($"DATE_UPDATED".isNotNull)
        .withColumn("prev_vaccines", lag($"TOTAL_VACCINATIONS", 1).over(w))
        .withColumn("new_reported_shots",
          when(($"TOTAL_VACCINATIONS" - $"prev_vaccines").isNull, $"TOTAL_VACCINATIONS")
            .otherwise($"TOTAL_VACCINATIONS" - $"prev_vaccines"))
      val withVaccines = withShots
        .withColumn("vaccine_array",
          when($"VACCINES_USED".isNull || trim($"VACCINES_USED") === "",
            array(lit("unknown")))
            // per-element trim fixes the reference's " B" join misses (§1.4)
            .otherwise(transform(split(trim($"VACCINES_USED"), ","), x => trim(x))))
        .withColumn("vaccine", explode($"vaccine_array"))
        .select(
          lower(trim($"COUNTRY")).as("country_name_clean"),
          $"DATE_UPDATED".as("day_of_report"),
          $"vaccine",
          // LONG, not the reference's INT cast (app/etl.py:143): China's
          // TOTAL_VACCINATIONS is 3.5e9 > Int.MaxValue — the reference's
          // non-ANSI cast silently clamps to 2147483647 (§1.4-class bug;
          // delta documented here)
          $"new_reported_shots".cast("long").as("new_reported_shots"),
        )
      val countryByName = country
        .select(lower(trim($"country_name")).as("country_name_clean"), $"country_short_code")
      withVaccines
        .join(broadcast(countryByName), Seq("country_name_clean"), "left")
        .join(broadcast(vaccine), $"vaccine" === vaccine("name"), "left")
        .select(
          $"country_short_code",
          $"day_of_report",
          $"id".as("vaccine_id"),
          coalesce($"new_reported_shots", lit(0L)).as("new_reported_shots"),
        )
        .filter($"country_short_code".isNotNull)
    }

    StarSchema(whoRegion, country, disease, vaccine, weeklyStatistics, dailyVaccineStatistics)
  }

  /** JDBC sink — the reference's actual warehouse interface
    * (app/etl.py:170-172 writes the six tables over JDBC). `overwrite`
    * replaces the reference's manual FK-ordered DELETE pre-clean
    * (app/etl.py:25-42): each table is dropped and recreated atomically, so
    * write order stops mattering.
    */
  def writeJdbc(star: StarSchema, url: String, props: java.util.Properties): Unit =
    star.tables.foreach { case (name, df) =>
      df.write.mode("overwrite").jdbc(url, name, props)
    }

  /** Warehouse sink: parquet overwrite per table (replaces the reference's
    * DELETE-then-JDBC-append, app/etl.py:25-42,170-172 — overwrite on parquet
    * is atomic per table and needs no FK ordering).
    *
    * Fact tables are partitioned by report year: year-ranged serving queries
    * (the Grafana yearly panels, README yearly summaries) then prune whole
    * directories at planning time (`PartitionFilters` in the scan) — at
    * 100 TB that's the difference between scanning one year and five.
    * Dimensions stay unpartitioned (hundreds of rows).
    */
  def write(star: StarSchema, outDir: String): Unit =
    star.tables.foreach { case (name, df) =>
      name match {
        case "weekly_statistics" =>
          df.withColumn("report_year", year(col("date_of_report")))
            .write.mode("overwrite")
            .partitionBy("report_year").parquet(s"$outDir/$name")
        case _ => df.write.mode("overwrite").parquet(s"$outDir/$name")
      }
    }
}
