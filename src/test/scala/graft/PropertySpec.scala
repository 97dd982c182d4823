package graft

import java.sql.Date

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.EtlJob

/** Property-based invariants (SURVEY.md §5.3): mass conservation through the
  * weekly rollup, pagination partitioning, union additivity, CFR bounds.
  * Raw ScalaCheck generators driven with fixed seeds (the scalatest bridge
  * isn't in the offline cache): deterministic, 5 cases per property.
  */
class PropertySpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  /** Deterministic sample of a generator at the given seed. */
  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private val covidCols = Seq("Date_reported", "Country_code", "Country", "WHO_region",
    "New_cases", "Cumulative_cases", "New_deaths", "Cumulative_deaths")

  private val rowGen = for {
    day <- Gen.choose(0, 364)
    code <- Gen.oneOf("AA", "BB", "CC")
    cases <- Gen.option(Gen.choose(0, 10000))
    deaths <- Gen.option(Gen.choose(0, 500))
  } yield (Date.valueOf(java.time.LocalDate.of(2021, 1, 1).plusDays(day)),
    code, s"Country$code", "EURO",
    cases.map(Int.box).orNull.asInstanceOf[Integer], 0L,
    deaths.map(Int.box).orNull.asInstanceOf[Integer], 0L)

  private def emptyOf(schema: org.apache.spark.sql.types.StructType) =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  test("A1 mass conservation: sum of weekly buckets == sum of daily inputs (nulls as 0)") {
    (1 to 5).foreach { it =>
      val rows = sample(Gen.listOfN(60, rowGen), seed = it)
      val covid = EtlJob.prepareCovid(rows.toDF(covidCols: _*))
      val star = EtlJob.build(spark, covid,
        emptyOf(graft.etl.Schemas.vaccinationData),
        emptyOf(graft.etl.Schemas.vaccinationMetadata))
      val weekly = star.weeklyStatistics
        .agg(sum("week_new_reported_cases"), sum("week_new_reported_deaths"))
        .collect()(0)
      val raw = rows.map(r => Option(r._5).map(_.toLong).getOrElse(0L)).sum
      val rawDeaths = rows.map(r => Option(r._7).map(_.toLong).getOrElse(0L)).sum
      assert(weekly.getLong(0) == raw && weekly.getLong(1) == rawDeaths, s"seed $it")
    }
  }

  test("O3 pagination partitions the ordered stream exactly") {
    (1 to 5).foreach { it =>
      val (total, pageSize) =
        sample(Gen.zip(Gen.choose(1, 40), Gen.choose(1, 25)), seed = 100 + it)
      val df = (1 to total).map(i => (i.toLong, s"row$i")).toDF("id", "v")
      val pages = Iterator.from(0)
        .map(p => df.orderBy($"id").offset(p * pageSize).limit(pageSize).collect())
        .takeWhile(_.nonEmpty).toSeq
      val flat = pages.flatten.map(_.getLong(0)).toSeq
      assert(flat == (1 to total).map(_.toLong), s"seed $it") // complete, ordered, no dup
      assert(pages.init.forall(_.length == pageSize), s"seed $it")
    }
  }

  test("O6 unionByName additivity and column-order independence") {
    (1 to 5).foreach { it =>
      val (n1, n2) = sample(Gen.zip(Gen.choose(0, 30), Gen.choose(0, 30)), seed = 200 + it)
      val a = (1 to n1).map(i => (i.toLong, s"a$i")).toDF("id", "v")
      val b = (1 to n2).map(i => (s"b$i", i.toLong + 1000)).toDF("v", "id")
      assert(a.unionByName(b).count() == n1.toLong + n2, s"seed $it")
    }
  }

  /** Component label of every node by naive union-find on the driver. The
    * union order keeps the smaller root, so each root IS its component's
    * minimum, the label min-label propagation converges to.
    */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct.map(n => n -> find(n)).toMap
  }

  test("connected components match a brute-force union-find on random graphs") {
    val edgeGen = for {
      a <- Gen.choose(0L, 11L)
      b <- Gen.choose(0L, 11L)
      if a != b
    } yield (math.min(a, b), math.max(a, b))
    (1 to 4).foreach { it =>
      val edges = sample(Gen.listOfN(10, edgeGen), seed = 400 + it).distinct
      val expected = unionFind(edges)
      val got = graft.ops.Dedup.connectedComponents(edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"seed ${400 + it}: $edges")
    }
  }

  test("connected components stay exact past 20 rounds on a long path") {
    // path 2–3–…–25–1: ids rise away from the minimum, so pointer jumping
    // never skips ahead and label 1 moves one hop per round. A loop capped
    // at 20 rounds left nodes 2–5 labeled 2.
    val edges = (2L to 24L).map(i => (i, i + 1)) :+ ((25L, 1L))
    val got = graft.ops.Dedup.connectedComponents(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == unionFind(edges))
    val rounds = graft.util.Fixpoint.lastRounds("connectedComponents")
    assert(rounds > 20, s"the path needs more than 20 rounds, ran $rounds")
  }

  test("A11 CFR bounded in [0,100] when deaths <= cases") {
    val yearRow = for {
      yr <- Gen.choose(2020, 2024)
      cases <- Gen.choose(1L, 1000000L)
      frac <- Gen.choose(0.0, 1.0)
    } yield (yr, cases, (cases * frac).toLong)
    (1 to 5).foreach { it =>
      val rows = sample(Gen.listOfN(20, yearRow), seed = 300 + it)
      val df = rows.toDF("Year", "cases", "deaths")
        .groupBy("Year")
        .agg((sum($"deaths").cast("double") / sum($"cases") * 100).as("cfr"))
      assert(df.collect().forall { r =>
        val c = r.getDouble(1); c >= 0.0 && c <= 100.0
      }, s"seed $it")
    }
  }
}
