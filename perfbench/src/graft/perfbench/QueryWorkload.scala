package graft.perfbench

import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper

import graft.SparkEntry

/** A query workload: a fixed list of registered queries over seeded
  * TPC-H-shaped inputs, one materializing pass at a time.
  *
  * Inputs come in four variants (`seed` mod 4), each with the row count and
  * digest of every query's result kept in `expected.json`; the rest of the
  * seed orders the queries inside each pass. Setup writes the inputs
  * afresh several times (`setup_s` takes the median), then runs one checked
  * warm-up pass (collect + digest) over the first copy; measured passes
  * read the last copy, materialize with `queryExecution.toRdd.count()` and
  * check the row count outside the timed region.
  */
final case class QuerySet(name: String, queries: Seq[String], sf: Double, tables: Seq[String])

object QueryWorkload {
  /** Two of the five hand-rolled fixpoint loops, one per file:
    * `Graph.pageRank` and `Dedup.connectedComponents`. Each further loop
    * adds about 10 s a run, which the benchmark's time budget does not hold.
    */
  val loops = QuerySet("loops", Seq("pr01_pagerank", "d06_dup_clusters"), 0.01,
    Seq("orders", "lineitem", "documents"))
  /** Execution-bound queries that count-mode timing hid. */
  val scanHeavy = QuerySet("scan_heavy", Seq("q46_approx_quantile", "ts02_linear_interp",
    "d05_embedding_neardup", "ppl01_kn_perplexity_buckets", "t21_language_id_confusion",
    "t14_dup_substrings"), 0.01,
    Seq("region", "nation", "customer", "orders", "lineitem", "documents", "embeddings"))

  val Variants = 4
  val SetupReps = 3

  def variantOf(seed: Long): Int = java.lang.Math.floorMod(seed, Variants.toLong).toInt

  private type Expected = Map[String, (Long, String)]

  private def loadExpected(ctx: Ctx, set: QuerySet, variant: Int): Expected = {
    val f = new java.io.File(ctx.benchDir, "expected.json")
    if (!f.exists()) Map.empty
    else {
      val node = new ObjectMapper().readTree(f).path(set.name).path(s"sf=${set.sf}")
        .path(variant.toString)
      set.queries.flatMap { q =>
        val e = node.path(q)
        if (e.isMissingNode) None
        else Some(q -> (e.get("rows").asLong() -> e.get("digest").asText()))
      }.toMap
    }
  }

  def run(ctx: Ctx, set: QuerySet): Result = {
    val spark = ctx.spark
    val res = new Result
    val variant = variantOf(ctx.seed)
    val order = new Random(ctx.seed)
    val fns = SparkEntry.queries
    val expected = loadExpected(ctx, set, variant)
    if (expected.size != set.queries.size)
      res.fail(s"expected.json lacks ${set.name} sf=${set.sf} variant $variant")

    // --- setup: fresh inputs, several times; then one checked warm-up pass --
    val dirs = (1 to SetupReps).map(rep => ctx.dir(s"inputs-$rep"))
    val setupSec = dirs.map { d =>
      val t0 = Probe.now()
      TpchGen.write(spark, d, set.sf, 1000L + variant, set.tables)
      Probe.secSince(t0)
    }
    val observed = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, Any]]
    val warmupSec = {
      val t0 = Probe.now()
      order.shuffle(set.queries).foreach { q =>
        val rows = fns(q)(spark, dirs.head).collect()
        val digest = Digest.of(rows)
        observed(q) = Map("rows" -> rows.length.toLong, "digest" -> digest)
        expected.get(q).foreach { case (n, d) =>
          res.check(rows.length == n && digest == d,
            s"$q: ${rows.length} rows digest $digest, expected $n rows digest $d")
        }
        spark.catalog.clearCache()
      }
      Probe.secSince(t0)
    }
    ctx.opts.get("dump").foreach { out =>
      TpchGen.write(spark, s"$out/inputs", set.sf, 1000L + variant)
      set.queries.foreach { q =>
        fns(q)(spark, dirs.head).coalesce(1).write.mode("overwrite").parquet(s"$out/results/$q")
        SparkEntry.oracleSql.get(q).foreach(sql => java.nio.file.Files.write(
          java.nio.file.Paths.get(ctx.dir("dump-sql"), s"$q.sql"), sql.getBytes("UTF-8")))
        spark.catalog.clearCache()
      }
      new java.io.File(ctx.scratch, "dump-sql").renameTo(new java.io.File(out, "oracle"))
    }
    // measured passes read the last rep's inputs, not the warm-up's
    val dir = dirs.last
    res.record("inputs_variant") = variant
    res.record("observed") = observed
    res.record("setup_reps_s") = setupSec

    // --- one materializing pass; returns (wall, cpu, per-query latency) ---
    def pass(tracer: Option[Tracer]): (Double, Double, Seq[(String, Double)], Double) = {
      val qs = order.shuffle(set.queries)
      val gc0 = Probe.gcSec()
      val c0 = Probe.cpuSec()
      val t0 = Probe.now()
      val lat = qs.map { q =>
        val tq = Probe.now()
        val n = tracer match {
          case None => fns(q)(spark, dir).queryExecution.toRdd.count()
          case Some(tr) =>
            tr.span(s"query:$q") {
              val (df, _) = tr.span(s"build:$q")(fns(q)(spark, dir))
              tr.span(s"plan:$q")(df.queryExecution.executedPlan)
              tr.span(s"exec:$q")(df.queryExecution.toRdd.count())._1
            }._1
        }
        val sec = Probe.secSince(tq)
        spark.catalog.clearCache()
        (q, sec, n)
      }
      val wall = Probe.secSince(t0)
      val cpu = Probe.cpuSec() - c0
      val gc = Probe.gcSec() - gc0
      lat.foreach { case (q, _, n) =>
        expected.get(q).orElse(observed.get(q).map(m => m("rows").asInstanceOf[Long] -> ""))
          .foreach { case (want, _) => res.check(n == want, s"$q: $n rows, expected $want") }
      }
      (wall, cpu, lat.map { case (q, s, _) => q -> s }, gc)
    }

    def passes(seconds: Double, tracer: Option[Tracer]) = {
      val until = Probe.now() + (seconds * 1e9).toLong
      val out = scala.collection.mutable.ArrayBuffer(pass(tracer))
      while (Probe.now() + (out.last._1 * 1e9).toLong <= until) out += pass(tracer)
      out.toSeq
    }

    res.record("warmup_s") = warmupSec
    res.metric("setup_s", Stats.median(setupSec) + warmupSec, "s")

    if (!ctx.trace) {
      val ps = passes(ctx.seconds, None)
      res.metric("wall_s", Stats.median(ps.map(_._1)), "s")
      res.metric("cpu_s", Stats.median(ps.map(_._2)), "s")
      res.metric("retained_heap_mb", Probe.retainedHeapMb(), "MB")
      res.record("passes") = ps.length
      res.record("pass_wall_s") = ps.map(_._1)
      res.record("pass_cpu_s") = ps.map(_._2)
      res.record("per_query_median_s") = set.queries.map(q =>
        q -> Stats.median(ps.flatMap(_._3.filter(_._1 == q).map(_._2)))).toMap
    } else traced(ctx, set, res, passes)
    res
  }

  /** Traced run: half the time with spans around each query's build, plan
    * and execution phases, bracketed by untraced passes (the overhead
    * reference). */
  private def traced(ctx: Ctx, set: QuerySet, res: Result,
      passes: (Double, Option[Tracer]) => Seq[(Double, Double, Seq[(String, Double)], Double)]
  ): Unit = {
    val sc = ctx.spark.sparkContext
    // the untraced passes bracket the traced ones, so warm-up drift cancels
    val plainA = passes(ctx.seconds / 4, None)
    val tr = new Tracer(sc, s"${ctx.workload}-${ctx.seed}")
    sc.addSparkListener(tr)
    val tracedPasses = passes(ctx.seconds / 2, Some(tr))
    sc.removeSparkListener(tr)
    val plain = plainA ++ passes(ctx.seconds / 4, None)
    val per = Layers.fromSpans(tr, set.queries, tracedPasses.length)
    val wall = Stats.median(tracedPasses.map(_._1))
    per.foreach { case (k, (v, u)) => res.metric(k, v, u) }
    res.metric("gc_s", Stats.median(tracedPasses.map(_._4)), "s")
    val taskRun = per.get("task_run_s").map(_._1).getOrElse(0.0)
    res.metric("idle_core_share", 1 - taskRun / (wall * ctx.cpus), "ratio")
    res.metric("trace_ratio", wall / Stats.median(plain.map(_._1)), "ratio")
    res.record("traced_pass_wall_s") = tracedPasses.map(_._1)
    res.record("untraced_pass_wall_s") = plain.map(_._1)
    Layers.writeSpans(ctx, tr)
  }
}
