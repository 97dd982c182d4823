package graft.serving

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, struct, to_json, unix_date}

import graft.etl.StarSchema
import graft.queries.ServingQueries.FactAggregates

/** The response bodies of [[Serve]]'s one-country routes, by country code,
  * encoded once when the server starts.
  *
  * `byCountry` holds each code's `weekly_statistics_by_country` array;
  * `graph` holds, by metric as [[graft.queries.ServingQueries.graphCountry]]
  * names it (`cases`, `deaths`, `vaccinations`), each code's
  * `{"data": […]}` body. A code holds a body only where it has rows.
  */
private[serving] final class CountryIndex private (
    byCountry: Map[String, Array[Byte]],
    graph: Map[String, Map[String, Array[Byte]]],
    /** UTF-8 body bytes plus code characters, the memo budget's units. */
    val size: Long,
) {
  /** The `weekly_statistics_by_country` body of `code`: `[]` if it has no rows. */
  def weeklyByCountry(code: String): Array[Byte] = byCountry.getOrElse(code, CountryIndex.Empty)

  /** The `graph/country` body of `code`'s `metric` series, if it has rows. */
  def series(metric: String, code: String): Option[Array[Byte]] = graph(metric).get(code)
}

private[serving] object CountryIndex {
  private val Empty = "[]".getBytes(StandardCharsets.UTF_8)

  /** Each row of `df` with a country code, as one JSON record per entry of
    * `records` (Spark's own writer, so a record is the line `toJSON` writes
    * for that projection), grouped by code, each group in `date` order, nulls
    * first, as `sortWithinPartitions` orders it. One Spark job.
    */
  private def encoded(df: DataFrame, date: String,
      records: Seq[Seq[Column]]): Map[String, Array[Seq[String]]] =
    df.filter(col("country_short_code").isNotNull)
      .select(col("country_short_code") +: unix_date(col(date)) +:
        records.map(r => to_json(struct(r: _*))): _*)
      .collect()
      .groupBy(_.getString(0))
      .map { case (code, rows) =>
        code -> rows.sortBy(r => Option(r.get(1)).map(_.asInstanceOf[Int]))
          .map(r => records.indices.map(i => r.getString(i + 2)))
      }

  private def bodies(rows: Map[String, Array[Seq[String]]], i: Int,
      envelope: String => String): Map[String, Array[Byte]] =
    rows.map { case (code, rs) =>
      code -> envelope(rs.map(_(i)).mkString("[", ",", "]")).getBytes(StandardCharsets.UTF_8)
    }

  private def cost(bodies: Map[String, Array[Byte]]): Long =
    bodies.iterator.map { case (code, b) => b.length.toLong + code.length }.sum

  /** The index over the stored weekly join and vaccination fact, in two
    * Spark jobs; None if its bodies would exceed `budget`.
    *
    * The weekly join (`agg.weeklyJoined`) left-joins the weekly fact with
    * the country dimension (one row per code) and the weekly vaccinations
    * (one row per code and week), so its `confirmed_cases` and `deaths` are
    * the fact's weekly counts row for row: one projection of it gives the
    * by-country, cases and deaths records. The second job encodes the daily
    * vaccination fact.
    */
  def build(star: StarSchema, agg: FactAggregates, budget: Long): Option[CountryIndex] = {
    def graphRecord(date: String, value: String) = Seq(col(date).as("date"), col(value).as("value"))
    val byCountryColumns = agg.weeklyJoined.drop("country_short_code").columns.toSeq.map(col)
    val weekly = encoded(agg.weeklyJoined, "date",
      Seq(byCountryColumns, graphRecord("date", "confirmed_cases"), graphRecord("date", "deaths")))
    def data(rows: String) = s"""{"data":$rows}"""
    val byCountry = bodies(weekly, 0, identity)
    val cases = bodies(weekly, 1, data)
    val deaths = bodies(weekly, 2, data)
    val weeklyCost = cost(byCountry) + cost(cases) + cost(deaths)
    if (weeklyCost > budget) None
    else {
      val shots = bodies(encoded(star.dailyVaccineStatistics, "day_of_report",
        Seq(graphRecord("day_of_report", "new_reported_shots"))), 0, data)
      val size = weeklyCost + cost(shots)
      if (size > budget) None
      else Some(new CountryIndex(byCountry,
        Map("cases" -> cases, "deaths" -> deaths, "vaccinations" -> shots), size))
    }
  }
}
