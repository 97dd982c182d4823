package graft.perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.LocalDate

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded TPC-H-shaped tables with the schemas of the repository's parquet
  * testdata (FIXTURES.md §C), written as one parquet file per table. Sizes
  * follow the testdata's per-scale-factor row counts; documents and
  * embeddings carry injected near-duplicates so the dedup and similarity
  * queries have clusters to find.
  */
object TpchGen {
  val tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "documents", "embeddings")
  private val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val partTypes = Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
  private val adjectives = Seq("blue", "red", "hot", "cold", "old", "new", "small", "large")
  private val nouns = Seq("bolt", "gear", "rod", "ring", "plate", "anvil", "widget", "gizmo")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val vocab = ("a the key agg row scan slow fast table value part hash merge batch " +
    "spark line sort window join small customer query order filter stream group data " +
    "column big vector").split(' ').toSeq
  private val langs = Seq("en", "en", "en", "zh", "de", "fr", "es")
  private val day0 = LocalDate.of(1995, 1, 1).toEpochDay

  private def money(r: Random, lo: Double, hi: Double): Double =
    math.rint((lo + r.nextDouble() * (hi - lo)) * 100) / 100

  private def ts(epochDay: Long): java.sql.Timestamp =
    new java.sql.Timestamp(epochDay * 86400000L)

  /** Writes `only` (default: every table) under `dir` and returns the row
    * count of each table written. Rows come from one seeded stream, so a
    * table's contents do not depend on which others are written.
    */
  def write(spark: SparkSession, dir: String, sf: Double, seed: Long,
      only: Seq[String] = tables): Map[String, Long] = {
    val r = new Random(seed)
    val nCust = (150000 * sf).toInt
    val nSupp = math.max(10, (10000 * sf).toInt)
    val nPart = (200000 * sf).toInt
    val nOrd = (1500000 * sf).toInt
    val nLine = 4 * nOrd
    val nDocs = math.max(500, (50000 * sf).toInt)
    val nVecs = math.max(500, (20000 * sf).toInt)

    def save(name: String, schema: StructType, rows: Seq[Row]): (String, Long) = {
      if (only.contains(name))
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .write.mode("overwrite").parquet(s"$dir/$name.parquet")
      name -> rows.length.toLong
    }
    def st(fields: (String, DataType)*) =
      StructType(fields.map { case (n, t) => StructField(n, t) })

    Seq(
      save("region", st("r_regionkey" -> IntegerType, "r_name" -> StringType),
        regions.zipWithIndex.map { case (n, i) => Row(i, n) }),
      save("nation", st("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType),
        (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))),
      save("customer", st("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
        (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
          money(r, -999, 9999), segments(r.nextInt(5))))),
      save("supplier", st("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
        (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
          money(r, -999, 9999)))),
      save("part", st("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
        "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
        (0 until nPart).map(i => Row(i.toLong,
          s"${adjectives(r.nextInt(8))} ${nouns(r.nextInt(8))}", s"Brand#${1 + r.nextInt(25)}",
          partTypes(r.nextInt(6)), 1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0))),
      save("orders", st("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
        (0 until nOrd).map(i => Row(i.toLong, r.nextInt(nCust).toLong,
          Seq("F", "O", "P")(r.nextInt(3)), money(r, 1000, 500000),
          ts(day0 + r.nextInt(2404)), priorities(r.nextInt(5))))),
      save("lineitem", st("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
        "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampType),
        (0 until nLine).map(_ => Row(r.nextInt(nOrd).toLong, r.nextInt(nPart).toLong,
          r.nextInt(nSupp).toLong, 1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble,
          money(r, 900, 105000), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          Seq("A", "N", "R")(r.nextInt(3)), Seq("O", "F")(r.nextInt(2)),
          ts(day0 + 1 + r.nextInt(2498))))),
      save("documents", st("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
        "source" -> StringType, "n_chars" -> LongType), {
        val texts = new scala.collection.mutable.ArrayBuffer[Array[String]]()
        (0 until nDocs).map { i =>
          val words =
            if (i > 10 && r.nextInt(5) == 0) { // near-duplicate of an earlier document
              val base = texts(r.nextInt(texts.length)).clone()
              (0 until 1 + base.length / 10).foreach(_ =>
                base(r.nextInt(base.length)) = vocab(r.nextInt(vocab.length)))
              base
            } else Array.fill(8 + r.nextInt(83))(vocab(r.nextInt(vocab.length)))
          texts += words
          val text = words.mkString(" ")
          Row(i.toLong, text, langs(r.nextInt(langs.length)), s"src${i % 20}",
            text.length.toLong)
        }
      }),
      save("embeddings", st("vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
        "label" -> IntegerType), {
        val vecs = new scala.collection.mutable.ArrayBuffer[Array[Double]]()
        (0 until nVecs).map { i =>
          val raw =
            if (i > 10 && r.nextInt(10) == 0) // perturbed copy of an earlier vector
              vecs(r.nextInt(vecs.length)).map(_ + r.nextGaussian() * 0.08)
            else Array.fill(64)(r.nextGaussian())
          val norm = math.sqrt(raw.map(x => x * x).sum)
          val unit = raw.map(_ / norm)
          vecs += unit
          Row(i.toLong, unit.map(_.toFloat).toSeq, r.nextInt(10))
        }
      }),
    ).filter { case (name, _) => only.contains(name) }.toMap
  }
}

/** Totals a WHO fixture was generated with — the independent answer the
  * serving and ETL checks compare against.
  */
final case class WhoTotals(
    rows: Long,
    cases: Long,
    deaths: Long,
    vaccinations: Long,
    countryCases: Map[String, Long],
    countryDeaths: Map[String, Long],
    countryWeeks: Map[String, Int],
    countryNames: Map[String, String],
    regionCodes: Int,
    vaccineNames: Int,
    countryShots: Map[String, Long],
    vaccineRows: Int,
    firstDate: LocalDate,
) {
  def codes: Seq[String] = countryCases.keys.toSeq.sorted
  def weekRows: Long = countryWeeks.values.map(_.toLong).sum

  /** Top five (name, total) by total desc then name — the route's order. */
  def top5(byCode: Map[String, Long]): Seq[(String, Long)] =
    byCode.toSeq.map { case (c, v) => countryNames(c) -> v }
      .sortBy { case (n, v) => (-v, n) }.take(5)
}

/** Seeded WHO-shaped source CSVs (FIXTURES.md §A) for `graft.etl.EtlJob`.
  *
  * Covers the reference feed's edge cases: countries with a blank
  * `WHO_region`, null `New_cases`/`New_deaths`, vaccination totals in
  * scientific notation, an empty `VACCINES_USED` for most countries, padded
  * and upper-cased country names on the vaccination side, and exactly one
  * vaccination snapshot per country. `stepDays` = 7 gives the reference's
  * weekly cadence (Sunday reports), 1 a daily feed.
  */
object WhoGen {
  private val regionPool = Seq("AFRO", "AMRO", "EMRO", "EURO", "SEARO", "WPRO")

  def write(dir: String, seed: Long, countries: Int, periods: Int, stepDays: Int,
      vaccinated: Int = 215, metadataRows: Int = 1105, vaccineNames: Int = 38): WhoTotals = {
    val r = new Random(seed)
    new File(dir).mkdirs()
    val letters = ('A' to 'Z').map(_.toString)
    val codes = r.shuffle(for (a <- letters; b <- letters) yield a + b).take(countries).sorted
    val names = codes.map(c => c -> s"Country ${c.toLowerCase.capitalize}").toMap
    val region = codes.zipWithIndex.map { case (c, i) =>
      c -> (i % 97 match {
        case 5 | 50 => ""      // blank region → UNKNOWN code
        case 17     => "OTHER"
        case _      => regionPool(r.nextInt(regionPool.length))
      })
    }.toMap
    val first = LocalDate.of(2020, 1, 5)
    val dates = (0 until periods).map(i => first.plusDays(i.toLong * stepDays))
    val scale = codes.map(c => c -> (50 + r.nextInt(5000)) * stepDays / 7.0).toMap

    val cases = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val deaths = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val weeks = scala.collection.mutable.Map.empty[String, Set[Long]].withDefaultValue(Set.empty)
    var rows = 0L
    withWriter(s"$dir/WHO-COVID-19-global-data.csv") { w =>
      w.write("Date_reported,Country_code,Country,WHO_region,New_cases,Cumulative_cases," +
        "New_deaths,Cumulative_deaths\n")
      val cumC = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      val cumD = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      dates.zipWithIndex.foreach { case (d, t) =>
        val wave = 1.0 + math.sin(t * stepDays / 60.0)
        codes.foreach { c =>
          val nc = if (r.nextInt(4) == 0) None
            else Some((scale(c) * wave * (0.5 + r.nextDouble())).toInt)
          val nd = if (r.nextInt(4) == 0) None else Some(nc.getOrElse(0) / (40 + r.nextInt(60)))
          cumC(c) += nc.getOrElse(0); cumD(c) += nd.getOrElse(0)
          cases(c) += nc.getOrElse(0); deaths(c) += nd.getOrElse(0)
          // Monday of the report's ISO week: the ETL's date_trunc('week') grain
          weeks(c) += d.toEpochDay - (d.getDayOfWeek.getValue - 1)
          w.write(s"$d,$c,${names(c)},${region(c)},${nc.fold("")(_.toString)},${cumC(c)}," +
            s"${nd.fold("")(_.toString)},${cumD(c)}\n")
          rows += 1
        }
      }
    }

    val vaccines = (1 to vaccineNames).map(i => f"Vaccine-$i%02d")
    var shots = 0L
    var vaccineRows = 0
    val countryShots = scala.collection.mutable.Map.empty[String, Long]
    val vaccCodes = r.shuffle(codes).take(vaccinated)
    withWriter(s"$dir/vaccination-data.csv") { w =>
      w.write("COUNTRY,ISO3,WHO_REGION,DATA_SOURCE,DATE_UPDATED,TOTAL_VACCINATIONS," +
        "PERSONS_VACCINATED_1PLUS_DOSE,TOTAL_VACCINATIONS_PER100," +
        "PERSONS_VACCINATED_1PLUS_DOSE_PER100,PERSONS_LAST_DOSE,PERSONS_LAST_DOSE_PER100," +
        "VACCINES_USED,FIRST_VACCINE_DATE,NUMBER_VACCINES_TYPES_USED," +
        "PERSONS_BOOSTER_ADD_DOSE,PERSONS_BOOSTER_ADD_DOSE_PER100\n")
      vaccCodes.zipWithIndex.foreach { case (c, i) =>
        // an integral total written in scientific notation, e.g. 2.296475E7
        val mant = 1000000 + r.nextInt(9000000)
        val exp = 6 + r.nextInt(4)
        val total = mant.toLong * math.pow(10, exp - 6).toLong
        val sci = f"${mant / 1000000}.${mant % 1000000}%06dE$exp"
        val used = if (i % 20 == 3) Seq(vaccines(i % vaccineNames), vaccines((i + 7) % vaccineNames))
          else Seq.empty
        shots += total * math.max(1, used.length)
        countryShots(c) = total * math.max(1, used.length)
        vaccineRows += math.max(1, used.length)
        val name = if (i % 9 == 0) s" ${names(c).toUpperCase} " else names(c)
        val booster = if (i % 4 == 0) "" else f"${total * 0.3}%.1f"
        w.write(s"\"$name\",${c}X,${region(c)},REPORTING,2023-12-31,$sci," +
          f"${total * 0.6}%.1f,${r.nextDouble() * 200}%.3f,${r.nextDouble() * 100}%.3f," +
          f"${total * 0.5}%.1f,${r.nextDouble() * 100}%.3f," +
          s"\"${used.mkString(", ")}\",${if (i % 5 == 0) "" else "2021-01-15"}," +
          s"${if (used.isEmpty) "" else used.length.toString},$booster,\n")
      }
    }
    withWriter(s"$dir/vaccination-metadata.csv") { w =>
      w.write("ISO3,PRODUCT_NAME,VACCINE_NAME,COMPANY_NAME,AUTHORIZATION_DATE,START_DATE," +
        "END_DATE,COMMENT,DATA_SOURCE\n")
      (0 until metadataRows).foreach { i =>
        val v = vaccines(i % vaccineNames)
        w.write(s"${codes(i % codes.length)}X,$v product,$v,Company ${i % 17}," +
          s"${if (i % 3 == 0) "" else "2021-02-01"},2021-03-01,,,REPORTING\n")
      }
    }
    WhoTotals(rows, cases.values.sum, deaths.values.sum, shots, cases.toMap, deaths.toMap,
      weeks.map { case (c, s) => c -> s.size }.toMap, names,
      region.values.map(v => if (v.isEmpty) "UNKNOWN" else v).toSet.size,
      vaccineNames, countryShots.toMap, vaccineRows, dates.head)
  }

  private def withWriter(path: String)(f: BufferedWriter => Unit): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(path), StandardCharsets.UTF_8), 1 << 20)
    try f(w) finally w.close()
  }
}
