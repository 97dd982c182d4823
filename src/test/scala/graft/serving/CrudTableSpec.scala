package graft.serving

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** `CrudTable` keeps its rows on the driver and writes each record's JSON
  * itself, so it must write the bytes `toJSON` writes for the same row, and
  * its DataFrame view must still list the rows in primary-key order.
  */
class CrudTableSpec extends AnyFunSuite with SparkSpec {

  private def country = new CrudTable(spark, Serve.countryStatisticsSchema, Seq("country"))
  private def region =
    new CrudTable(spark, Serve.regionYearlySummarySchema, Seq("who_region", "year"))

  private def toJson(schema: StructType, values: Seq[Any]): String =
    spark.createDataFrame(java.util.List.of(Row.fromSeq(values)), schema).toJSON.collect().head

  private val texts = Seq(
    "plain", "", "quote \" inside", "back\\slash", "control \u0001\u001f\u007f end",
    "tab\tnewline\ncarriage\r", "non-ASCII é ü Åland 東京", "supplementary 😀 𝄞")

  test("a record's JSON is byte-equal to toJSON of its one-row DataFrame, on both schemas") {
    val countries = country
    val regions = region
    for ((text, i) <- texts.zipWithIndex) {
      for (values <- Seq(Seq[Any](text, i.toLong, null), Seq[Any](text, null, Long.MaxValue),
          Seq[Any](text, Long.MinValue, -i.toLong))) {
        countries.put(values)
        val got = countries.get(Seq(text))
        val want = toJson(Serve.countryStatisticsSchema, values)
        assert(got.map(_.getBytes(StandardCharsets.UTF_8).toSeq) ==
          Some(want.getBytes(StandardCharsets.UTF_8).toSeq), s"$values: $got vs $want")
      }
      for (values <- Seq(Seq[Any](text, 2020 + i, null, null), Seq[Any](text, Int.MinValue, 5L, null),
          Seq[Any](text, Int.MaxValue, null, Long.MaxValue))) {
        regions.put(values)
        val got = regions.get(values.take(2))
        val want = toJson(Serve.regionYearlySummarySchema, values)
        assert(got.map(_.getBytes(StandardCharsets.UTF_8).toSeq) ==
          Some(want.getBytes(StandardCharsets.UTF_8).toSeq), s"$values: $got vs $want")
      }
    }
  }

  test("all lists the rows in primary-key order, after puts, updates and deletes") {
    val regions = region
    // strings compare by UTF-8 bytes, years as integers
    val keys = Seq("EURO" -> 2021, "AFRO" -> 999, "EURO" -> 100, "Åland" -> 1, "AFRO" -> 2020,
      "Zulu" -> -5, "AFRO" -> -1, "😀" -> 0, "Ａ" -> 0)
    for (((r, y), i) <- keys.zipWithIndex) regions.put(Seq(r, y, i.toLong, null))
    assert(regions.update(Seq("EURO", 100))(row => Seq("EURO", 100, row.getLong(2), 7L)))
    assert(!regions.update(Seq("EURO", 101))(row => row.toSeq))
    assert(regions.delete(Seq("Zulu", -5)))
    assert(!regions.delete(Seq("Zulu", -5)))
    val listed = regions.all.collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(listed == Seq("AFRO" -> -1, "AFRO" -> 999, "AFRO" -> 2020, "EURO" -> 100,
      "EURO" -> 2021, "Åland" -> 1, "Ａ" -> 0, "😀" -> 0))
    assert(regions.current.count() == 8)
    assert(regions.get(Seq("EURO", 100)) ==
      Some("""{"who_region":"EURO","year":100,"total_cases":2,"total_deaths":7}"""))
  }
}
