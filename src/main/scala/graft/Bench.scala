package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: times every registered query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line (driver contract). A warmup action runs first so the
  * first measured query doesn't absorb session/codegen/file-index startup;
  * queries run in sorted-name order for run-to-run comparability.
  */
object Bench {
  /** First-touch MB/s measured by the pre-touch pass (artifact metadata). */
  private var pretouchMbps: Double = -1.0

  /** Current first-touch fault rate, measured OUTSIDE the Java heap: with
    * Xms==Xmx the heap's pages stay committed after the initial pre-touch,
    * so re-touching heap arrays would measure memset speed, not the
    * kernel's fault rate. A direct buffer is a fresh mmap every time — its
    * first touch hits the kernel in whatever regime the box is currently
    * in (clean windows ~1.4 GB/s, storm windows ~50 MB/s; bimodal). The
    * buffer is freed eagerly via its cleaner (sun.nio.ch is add-opens'd).
    */
  private def probeFaultMbps(mb: Int = 256): Double = {
    val bb = java.nio.ByteBuffer.allocateDirect(mb << 20)
    val t0 = System.nanoTime()
    var off = 0
    while (off < bb.capacity()) { bb.put(off, 1.toByte); off += 4096 }
    val sec = (System.nanoTime() - t0) / 1e9
    try {
      val cleaner = bb.getClass.getMethod("cleaner").invoke(bb)
      cleaner.getClass.getMethod("clean").invoke(cleaner)
    } catch { case _: Throwable => () } // GC will reclaim it eventually
    if (sec > 0) mb / sec else -1.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("bench")
    // Heap pre-touch, FIRST and single-threaded (round-7 finding): this box
    // class faults anonymous memory at ~650 MB/s on one thread but collapses
    // to ~50-100 MB/s aggregate the moment several threads fault
    // concurrently — which is exactly what 32 executor threads do when the
    // heap grows mid-query (measured: d10 at 288 s cold vs 11 s once the
    // working set was faulted). Touching pages serially here, before any
    // timed query, moves that one-time cost out of the measurements;
    // Xms == Xmx (build.sbt) keeps the pages committed afterwards.
    // Time-boxed so a slower box degrades to partial pre-touch, never a
    // blown budget.
    locally {
      // cover ~85% of the heap: G1 cycles through every committed region
      // before reusing freed ones, so a partial pre-touch only defers the
      // fault storm to reps 2..n (measured: 10 GB of 32 GB pre-touched
      // still left warm reps at 31-39 s vs the 11 s fully-warm steady state)
      // Best-effort: the box's fault rate swings between ~30 MB/s and
      // ~1.3 GB/s windows (measured), so the time box — not the byte goal —
      // is the real bound in a bad window. Partial warmth still helps, the
      // cost sits outside every timed region, and the 3-rep lower-median
      // discards whatever rep 1 still has to fault.
      // target 80% (not 85): near the ceiling G1 must find CONTIGUOUS free
      // regions for each 64 MB humongous array with nothing reclaimable —
      // fragmentation (or maxMemory over-report) can OOM the bench before
      // any query runs. The catch below degrades to partial pre-touch
      // instead of dying, and the env knobs parse defensively.
      val defaultMb = (Runtime.getRuntime.maxMemory() / (1 << 20) * 80 / 100).toInt
      val mb = sys.env.get("SPARK_GRAFT_PRETOUCH_MB")
        .flatMap(_.toIntOption).getOrElse(defaultMb)
      val boxSec = sys.env.get("SPARK_GRAFT_PRETOUCH_BOX_SEC")
        .flatMap(_.toIntOption).getOrElse(240)
      val t0 = System.nanoTime()
      var touched = 0
      val hold = new scala.collection.mutable.ArrayBuffer[Array[Byte]]()
      try {
        while (touched < mb && (System.nanoTime() - t0) / 1e9 < boxSec) {
          val a = new Array[Byte](64 << 20)
          var off = 0
          while (off < a.length) { a(off) = 1; off += 4096 }
          hold += a
          touched += 64
        }
      } catch {
        case _: OutOfMemoryError =>
          System.err.println(s"[bench] pre-touch OOM at $touched MB; continuing partial")
      }
      hold.clear()
      val sec = (System.nanoTime() - t0) / 1e9
      // recorded into the artifact below: the box's first-touch fault rate
      // at run start is the cheapest storm detector (clean windows measure
      // ~1.4 GB/s, storm windows ~50 MB/s — bimodal, nothing in between),
      // so every artifact self-reports which regime produced it
      pretouchMbps = if (sec > 0) touched / sec else -1.0
      System.err.println(
        f"[bench] pre-touched $touched MB in $sec%.1f s")
    }
    // warmup: touch every table's file index once so the first measured
    // query isn't charged for it
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
      "region", "documents", "embeddings")
      .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").count())
    Tables.events(spark, sfDir).count() // nanos-ts path has its own reader conf
    // one unmeasured pipeline exercising the shared execution machinery
    // (shuffle writers, whole-stage codegen compiler, broadcast, window,
    // regex) so the alphabetically-first measured queries don't absorb its
    // JIT/startup cost — steady-state per-query numbers, same contract
    locally {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val o = spark.read.parquet(s"$sfDir/orders.parquet")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(sum(col("l_quantity").cast("decimal(18,4)")).as("s"))
        .withColumn("rn", row_number().over(
          Window.orderBy(col("o_orderstatus"))))
        .count()
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("f"),
          split(col("text"), "\\s+").as("w"))
        .groupBy(col("f")).agg(count(lit(1))).count()
      // MLlib iteration path (class loading + fit machinery), tiny input
      new org.apache.spark.ml.clustering.KMeans()
        .setK(2).setMaxIter(1).setSeed(1).setFeaturesCol("vec")
        .fit(graft.ops.Similarity.normalized(
          spark.read.parquet(s"$sfDir/embeddings.parquet").limit(64)))
      // streaming engine (StreamExecution, state store, micro-batch planner)
      // on a 4-row in-memory stream
      locally {
        import spark.implicits._
        val ms = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(java.sql.Timestamp, Double)](spark)
        ms.addData((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
          (java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), 2.0),
          (java.sql.Timestamp.valueOf("2024-01-08 00:00:00"), 3.0),
          (java.sql.Timestamp.valueOf("2024-01-09 00:00:00"), 4.0))
        val q = ms.toDF().toDF("ts", "v")
          .withWatermark("ts", "1 day")
          .groupBy(window(col("ts"), "7 days")).agg(sum(col("v")))
          .writeStream.outputMode("complete").format("memory")
          .queryName("bench_warmup_stream").start()
        try q.processAllAvailable()
        finally q.stop()
        // stream-stream join operator (its own codegen + 4-store state path)
        val msA = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, java.sql.Timestamp)](spark)
        val msB = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, java.sql.Timestamp)](spark)
        msA.addData((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
        msB.addData((1L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00")))
        val a = msA.toDF().toDF("a_k", "a_ts").withWatermark("a_ts", "1 hour")
        val b = msB.toDF().toDF("b_k", "b_ts").withWatermark("b_ts", "1 hour")
        val qj = b.join(a, expr(
          "b_k = a_k AND b_ts >= a_ts AND b_ts <= a_ts + INTERVAL 30 MINUTES"))
          .writeStream.outputMode("append").format("memory")
          .queryName("bench_warmup_ssjoin").start()
        try qj.processAllAvailable()
        finally qj.stop()
      }
      // WHO-star ETL pass (round-10 verdict #6): the wst family's memoized
      // star build otherwise bills its one-time CSV-read + localCheckpoint
      // cost to whichever wst query runs first alphabetically (driver r10:
      // wst01 2.35 s cold vs 0.06 s warm). Warming it here keeps every
      // wst number a query measurement. Guarded: a missing reference data
      // dir must degrade to per-query failures (-1), not kill the bench.
      // NonFatal only (round-11 advice): the degradation target is a
      // missing data dir — a non-fatal exception. OOM/LinkageError must
      // propagate rather than let a corrupt JVM record plausible numbers.
      try graft.etl.WhoStarQueries.warm(spark)
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] WHO star warmup skipped: ${e.getMessage}")
      }
    }
    // median of up to `reps` full passes: a single contended rep (GC, JIT,
    // CPU neighbors) can't masquerade as a plan regression; the spread map
    // records how noisy each query's reps were.
    //
    // Two harness rules learned from the round-3 DNF (rc=124):
    //  1. The cache is cleared after EVERY query, not just between passes.
    //     Each gated query is self-contained (its Eager.cached sketch
    //     relations are intra-query); letting ~115 queries' worth of
    //     eagerly-materialized partitions accumulate in one heap produced
    //     eviction + GC thrash (observed rep outliers of 140 s against a
    //     1.6 s median) that blew the driver's wall-clock budget.
    //  2. Reps 2..n are time-boxed: rep 1 always completes (every query
    //     gets one measured number); later reps run only while elapsed
    //     wall-clock < SPARK_GRAFT_BUDGET_SEC, so a slow pass degrades to
    //     fewer reps instead of a killed process and no artifact at all.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // Adaptive rep acquisition (round-11 verdict #2): a "median" backed by
    // a single clean rep is rep 1 verbatim — and rep 1 is the cold rep, so
    // a storm hitting reps 2..n silently publishes JIT + first-touch cost
    // as the headline (driver r11: 305 s vs 224.8 s clean census of the
    // same code). When fewer than 2 clean reps exist after the configured
    // count, up to maxExtraReps more run — budget-boxed and storm-gated
    // like any other rep — before the artifact is published; clean_reps in
    // the artifact says what actually backs the headline.
    val maxExtraReps = sys.env.get("SPARK_GRAFT_MAX_EXTRA_REPS")
      .flatMap(_.toIntOption).getOrElse(2)
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BUDGET_SEC", "900").toDouble
    // Absolute ceiling covering rep 1 too: past it, remaining queries are
    // skipped (recorded -1) so the JSON artifact still gets emitted before
    // any external `timeout` SIGTERM can kill the JVM artifact-less — a
    // truncated-but-parseable bench beats rc=124 with parsed:null. Sized
    // ~10x a healthy full 3-rep pass; only an environmental stall (host
    // I/O contention — observed as multi-minute idle-CPU waits) hits it.
    val hardCapSec = sys.env.getOrElse("SPARK_GRAFT_HARD_CAP_SEC", "1500").toDouble
    val benchStart = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - benchStart) / 1e9
    // dev convenience: SPARK_GRAFT_ONLY=q22,t14 times just those queries
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
    // SPARK_GRAFT_TIMING_MODE=rdd (round-11 verdict #3): execute the FULL
    // materializing physical plan via queryExecution.toRdd.count() — no
    // logical Aggregate is added, so optimizer rewrites that collapse
    // count() plans (column pruning to a bare scan-count, as-of join
    // elimination) don't fire. count() remains the default contract mode;
    // rdd mode is the honest census for composed plans whose rows a real
    // consumer would materialize (the round-11 DbgStages forensics: q31's
    // union+window never executes under count()).
    val rddMode = sys.env.get("SPARK_GRAFT_TIMING_MODE").contains("rdd")
    val timingMode = if (rddMode) "rdd" else "count"
    // executor CPU time per query: contention-immune signal alongside wall
    // time (a busy host inflates wall but not CPU). Snapshots are fenced by
    // draining the async listener bus before reading the counter.
    val cpuListener = new graft.util.CpuTimeListener
    spark.sparkContext.addSparkListener(cpuListener)
    def cpuNow(): Long = {
      org.apache.spark.graftaccess.GraftSparkAccess
        .drainListenerBus(spark.sparkContext)
      cpuListener.totalNanos
    }
    // whole-process user/sys CPU from /proc/self/stat (utime/stime, fields
    // 14/15): executorCpuTime can't distinguish "plan did more work" from
    // "host faulted anonymous memory under us" (sys time counts toward
    // thread CPU) — the round-7 forensics on s08/sp01 took a manual git
    // diff to dismiss. With per-query stime in the artifact, a
    // memory-pathology window is machine-separable from a real regression.
    def procUserSys(): (Double, Double) =
      try {
        val stat = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("/proc/self/stat")),
          java.nio.charset.StandardCharsets.US_ASCII)
        // comm (field 2) may contain spaces — fields restart after last ')'
        val rest = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
        val hz = 100.0 // USER_HZ: 100 on every mainstream Linux
        (rest(11).toDouble / hz, rest(12).toDouble / hz)
      } catch { case _: Throwable => (-1.0, -1.0) }
    val times = scala.collection.mutable.Map.empty[String, Vector[Double]]
    val cpus_ = scala.collection.mutable.Map.empty[String, Vector[Double]]
    val usrs = scala.collection.mutable.Map.empty[String, Vector[Double]]
    val syss = scala.collection.mutable.Map.empty[String, Vector[Double]]
    // which rep produced each appended sample (later reps can skip queries
    // on budget exhaustion, so vector position ≠ rep number)
    val repOf = scala.collection.mutable.Map.empty[String, Vector[Int]]
    // Storm gating (round-8 verdict): the harness must refuse to be fooled
    // by the box's anonymous-memory fault storms. Before each rep, probe
    // the CURRENT fault rate; below the floor, wait (bounded) for a clean
    // window rather than publishing storm-dominated numbers as medians.
    // Each rep is stamped storm:true/false — probe-rate OR sys-fraction —
    // so a partially-clean run still yields per-query valid medians (clean
    // reps preferred below).
    val stormFloorMbps = sys.env.get("SPARK_GRAFT_STORM_FLOOR_MBPS")
      .flatMap(_.toIntOption).getOrElse(300)
    val stormWaitSec = sys.env.get("SPARK_GRAFT_STORM_WAIT_SEC")
      .flatMap(_.toIntOption).getOrElse(120)
    val repProbe = scala.collection.mutable.ArrayBuffer.empty[Double]
    val repMinProbe = scala.collection.mutable.ArrayBuffer.empty[Double]
    val repStorm = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    val repUsrTot = scala.collection.mutable.ArrayBuffer.empty[Double]
    val repSysTot = scala.collection.mutable.ArrayBuffer.empty[Double]
    // valid samples recorded per rep: a rep whose budget expired before its
    // first query (possible after up to 120 s of storm-wait sleeping) must
    // not count toward clean_reps off its entry probe alone (round-12
    // advice) — the stamp would claim a backing rep that measured nothing
    val repSamples = scala.collection.mutable.ArrayBuffer.empty[Int]
    // mid-rep probes: the first clean-gated run (r9) showed the storm can
    // arrive BETWEEN rep-start probes (all three probes 1.5-3.4 GB/s, yet
    // d10's worst rep was 25x its best with sys 5x usr) — so the fault
    // rate is re-sampled every few queries and the rep keeps its MINIMUM,
    // the honest "worst window this rep ran through"
    val midProbeEvery = 15
    var sinceProbe = 0
    // A rep's storm stamp (computed as each rep completes, so the adaptive
    // loop can see it): the MINIMUM fault-rate probe seen during the rep
    // below the floor, OR whole-process sys ≥ 50% of usr across the rep's
    // queries. The 0.5 cut separates the regimes observed on this box:
    // tmpfs-shuffle width-32 baseline sys runs ~0.2-0.4 of usr on clean
    // queries, while storm reps show 0.8-5x (r8 driver bench 1.64, r9
    // first attempt d10 rep at 5.2). Raw per-rep sys/usr is in the
    // artifact so the cut can be re-judged post-hoc.
    def stormStampOf(i: Int): Boolean =
      (repMinProbe(i) >= 0 && repMinProbe(i) < stormFloorMbps) ||
        (repUsrTot(i) > 0 && repSysTot(i) >= 0.5 * repUsrTot(i))
    // only reps that actually measured something count as clean backing
    // (round-12 advice: a zero-sample rep's clean entry probe is not
    // evidence the medians are storm-free)
    def cleanSoFar: Int =
      repStorm.indices.count(i => !repStorm(i) && repSamples(i) > 0)
    // bounded storm-wait before a rep/pass: below the fault-rate floor,
    // sleep for a clean window rather than publishing storm numbers
    def acquireWindow(label: String): Double = {
      var probe = probeFaultMbps()
      val waitStart = System.nanoTime()
      while (probe >= 0 && probe < stormFloorMbps &&
        (System.nanoTime() - waitStart) / 1e9 < stormWaitSec &&
        elapsedSec < hardCapSec * 0.5) {
        System.err.println(f"[bench] fault-rate probe $probe%.0f MB/s < " +
          f"$stormFloorMbps floor before $label; waiting for a clean window")
        Thread.sleep(15000)
        probe = probeFaultMbps()
      }
      probe
    }
    // open a new entry in the per-rep bookkeeping arrays; returns its index
    def openRep(label: String): Int = {
      val probe = acquireWindow(label)
      repProbe += probe
      repMinProbe += probe
      repUsrTot += 0.0
      repSysTot += 0.0
      repSamples += 0
      sinceProbe = 0
      repProbe.size - 1
    }
    // one measured sample of one query, appended under rep index `ri`
    def runOne(name: String, fn: (SparkSession, String) => DataFrame,
        ri: Int): Unit = {
      val c0 = cpuNow()
      val (u0, s0) = procUserSys()
      val t0 = System.nanoTime()
      val ok =
        try {
          val df = fn(spark, sfDir)
          if (rddMode) df.queryExecution.toRdd.count() else df.count()
          true
        }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
        }
      // a failed rep records -1, never a plausible-looking duration
      val t = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      val c = if (ok) (cpuNow() - c0) / 1e9 else -1.0
      val (u1, s1) = if (ok) procUserSys() else (-1.0, -1.0)
      times(name) = times.getOrElse(name, Vector.empty) :+ t
      cpus_(name) = cpus_.getOrElse(name, Vector.empty) :+ c
      val du = if (ok && u0 >= 0 && u1 >= 0) u1 - u0 else -1.0
      val ds = if (ok && s0 >= 0 && s1 >= 0) s1 - s0 else -1.0
      usrs(name) = usrs.getOrElse(name, Vector.empty) :+ du
      syss(name) = syss.getOrElse(name, Vector.empty) :+ ds
      repOf(name) = repOf.getOrElse(name, Vector.empty) :+ (ri + 1)
      if (du >= 0) repUsrTot(ri) += du
      if (ds >= 0) repSysTot(ri) += ds
      if (ok) repSamples(ri) += 1
      sinceProbe += 1
      if (sinceProbe >= midProbeEvery) {
        sinceProbe = 0
        val p = probeFaultMbps(128)
        if (p >= 0 && p < repMinProbe(ri)) repMinProbe(ri) = p
      }
      // outside the timed window: this query's Eager.cached relations
      // must not ride into (or slow down) the next query's heap
      spark.catalog.clearCache()
    }
    var rep = 1
    var outOfBudget = false
    // extra-rep acquisition only applies to multi-rep runs: an explicit
    // SPARK_GRAFT_REPS=1 smoke run must stay one rep (round-12 advice)
    while (!outOfBudget && (rep <= reps ||
        (reps > 1 && rep <= reps + maxExtraReps && cleanSoFar < 2 &&
          elapsedSec < budgetSec))) {
      if (rep > reps)
        System.err.println(
          f"[bench] only $cleanSoFar clean rep(s) after ${rep - 1}; " +
            f"acquiring extra rep $rep (max ${reps + maxExtraReps}, " +
            f"elapsed $elapsedSec%.0f s of $budgetSec%.0f)")
      val ri = openRep(s"rep $rep")
      names.foreach { case (name, fn) =>
        if (elapsedSec > hardCapSec) {
          if (!outOfBudget) {
            outOfBudget = true
            System.err.println(
              f"[bench] HARD CAP ${hardCapSec}%.0f s exhausted after " +
                f"$elapsedSec%.0f s in rep $rep; skipping remaining queries")
          }
          if (rep == 1) {
            times(name) = times.getOrElse(name, Vector.empty) :+ -1.0
            cpus_(name) = cpus_.getOrElse(name, Vector.empty) :+ -1.0
            usrs(name) = usrs.getOrElse(name, Vector.empty) :+ -1.0
            syss(name) = syss.getOrElse(name, Vector.empty) :+ -1.0
            repOf(name) = repOf.getOrElse(name, Vector.empty) :+ rep
          }
        } else if (rep == 1 || elapsedSec < budgetSec) {
          runOne(name, fn, ri)
        } else if (!outOfBudget) {
          outOfBudget = true
          System.err.println(
            f"[bench] budget ${budgetSec}%.0f s exhausted after $elapsedSec%.0f s " +
              s"in rep $rep; reporting medians over completed reps")
        }
      }
      repStorm += stormStampOf(ri)
      rep += 1
    }
    // LOWER median: with an even rep count the plain upper-median reports
    // the WORSE of the two middle reps, so a single environmental stall
    // (host disk dip) masquerades as the query's time. Odd rep counts are
    // unaffected; reps=2 degrades to min — the standard noisy-box posture.
    // Storm-stamped reps are excluded whenever a query has at least one
    // clean valid sample, so a partially-clean run still yields per-query
    // valid medians (the all-storm fallback keeps the artifact total
    // comparable and is visible via rep_storm).
    def median(xs: Seq[Double]): Double = xs.sorted.apply((xs.size - 1) / 2)
    // Per-QUERY storm taint (round-12 verdict #1): a rep-level stamp misses
    // a storm that lands inside one query of an otherwise clean rep (the
    // r12 driver run: pr01 at sys 44.9 s in a rep stamped clean). A sample
    // is tainted when its own whole-process sys time rivals usr time — the
    // same 0.5 regime cut as the rep stamp, floored at 0.2 s usr so the
    // 10 ms USER_HZ resolution of /proc can't flag sub-second queries.
    def sampleStorm(du: Double, ds: Double): Boolean =
      du >= 0.2 && ds >= 0.5 * du
    // Sample selection per query, one index set applied to every metric
    // map: valid → prefer samples from clean reps → within those, prefer
    // samples whose own sys/usr window is clean. Medians AND spreads are
    // computed over the selected set, so one storm-hit outlier neither
    // shifts the median nor inflates the published spread once a clean
    // sample exists.
    def selectedIdx(name: String): Vector[Int] = {
      val ts = times.getOrElse(name, Vector.empty)
      val rs = repOf.getOrElse(name, Vector.empty)
      val us = usrs.getOrElse(name, Vector.empty)
      val ss = syss.getOrElse(name, Vector.empty)
      val valid = ts.indices.filter(i => ts(i) >= 0).toVector
      val repClean = valid.filter(i => !repStorm(rs(i) - 1))
      val base = if (repClean.nonEmpty) repClean else valid
      val clean = base.filterNot(i => sampleStorm(us(i), ss(i)))
      if (clean.nonEmpty) clean else base
    }
    // true when the published median is still backed by tainted samples
    // (no clean sample existed to prefer) — the per-query analogue of
    // rep_storm, emitted as the query_storm map
    def queryStorm(name: String): Boolean = {
      val rs = repOf.getOrElse(name, Vector.empty)
      val us = usrs.getOrElse(name, Vector.empty)
      val ss = syss.getOrElse(name, Vector.empty)
      val sel = selectedIdx(name)
      sel.isEmpty ||
        sel.exists(i => repStorm(rs(i) - 1) || sampleStorm(us(i), ss(i)))
    }
    def medOf(m: scala.collection.Map[String, Vector[Double]], name: String): Double = {
      val vs = m.getOrElse(name, Vector.empty)
      val ok = selectedIdx(name).map(vs).filter(_ >= 0)
      if (ok.isEmpty) -1.0 else median(ok)
    }
    // Targeted re-acquisition (round-12 verdict #1): queries whose median
    // is still storm-backed, or whose selected samples spread past 75% of
    // the median (the in-query storm signature: pr01's r12 driver spread
    // was ~1× its median while clean censuses spread < 20%), get extra
    // samples — budget-boxed mini-reps over just the flagged queries, the
    // same machinery as full reps. Multi-rep runs only (a reps=1 smoke run
    // stays one rep), and sub-0.3 s queries never flag (their spread is
    // scheduler jitter, not storms).
    def flaggedQueries(): Seq[(String, (SparkSession, String) => DataFrame)] =
      names.filter { case (name, _) =>
        val ts = times.getOrElse(name, Vector.empty)
        val sel = selectedIdx(name).map(ts).filter(_ >= 0)
        sel.nonEmpty && {
          val med = median(sel)
          queryStorm(name) ||
            (med >= 0.3 && sel.max - sel.min > 0.75 * med)
        }
      }
    val rerunPassesMax = sys.env.get("SPARK_GRAFT_RERUN_PASSES")
      .flatMap(_.toIntOption).getOrElse(2)
    var rerunPasses = 0
    if (reps > 1 && !outOfBudget) {
      var flagged = flaggedQueries()
      while (rerunPasses < rerunPassesMax && flagged.nonEmpty &&
          elapsedSec < budgetSec) {
        System.err.println(
          f"[bench] rerun pass ${rerunPasses + 1}: re-acquiring " +
            f"${flagged.size} storm/spread-flagged quer(ies) " +
            f"(${flagged.map(_._1).take(8).mkString(",")}${if (flagged.size > 8) ",…" else ""}) " +
            f"at $elapsedSec%.0f s of $budgetSec%.0f")
        val ri = openRep(s"rerun pass ${rerunPasses + 1}")
        flagged.foreach { case (name, fn) =>
          if (elapsedSec < budgetSec && elapsedSec < hardCapSec)
            runOne(name, fn, ri)
        }
        repStorm += stormStampOf(ri)
        rerunPasses += 1
        flagged = flaggedQueries()
      }
    }
    val cleanReps = cleanSoFar
    if (cleanReps < 2)
      System.err.println(
        s"[bench] WARNING: only $cleanReps clean rep(s) back this artifact " +
          s"(storm-gating + budget exhausted); headline may carry cold-rep cost")
    case class R(name: String, wall: Double, spread: Double,
        cpu: Double, usr: Double, sysT: Double, storm: Boolean)
    val results = names.map { case (name, _) =>
      val ts = times.getOrElse(name, Vector.empty)
      val ok = selectedIdx(name).map(ts).filter(_ >= 0)
      if (ok.isEmpty) R(name, -1.0, -1.0, -1.0, -1.0, -1.0, storm = true)
      else R(name, median(ok), ok.max - ok.min,
        medOf(cpus_, name), medOf(usrs, name), medOf(syss, name),
        queryStorm(name))
    }
    def jmap(f: R => Double): String =
      results.map(r => "\"" + r.name + "\":" + f(r)).mkString("{", ",", "}")
    val qs = jmap(_.wall)
    val spreads = jmap(_.spread)
    val cpuMap = jmap(_.cpu)
    val usrMap = jmap(_.usr)
    val sysMap = jmap(_.sysT)
    val total = results.map(_.wall).filter(_ >= 0).sum
    // cpus in the artifact: executor-thread count changes per-task
    // framework CPU materially (a width-4 run is NOT comparable to a
    // width-32 one — learned the hard way in round 8), so the artifact
    // must carry its own execution width
    val cpus = Sessions.cpus
    // heap posture in the artifact: CPU/wall comparisons are only valid at
    // equal width AND equal heap (a 32g pre-touched heap flips this box
    // into its reclaim storm; 12g does not — the round-9 finding)
    val heapGb = Runtime.getRuntime.maxMemory().toDouble / (1L << 30)
    val repProbeJson = repProbe.map(p => f"$p%.1f").mkString("[", ",", "]")
    val repMinProbeJson = repMinProbe.map(p => f"$p%.1f").mkString("[", ",", "]")
    val repStormJson = repStorm.mkString("[", ",", "]")
    val repSysUsrJson = repProbe.indices.map(i =>
      if (repUsrTot(i) > 0) f"${repSysTot(i) / repUsrTot(i)}%.2f" else "-1")
      .mkString("[", ",", "]")
    val repSamplesJson = repSamples.mkString("[", ",", "]")
    val queryStormJson = results
      .map(r => "\"" + r.name + "\":" + r.storm).mkString("{", ",", "}")
    // reps_run = actual entries in every rep_* array (configured reps +
    // adaptive extras + rerun passes) — round-12 advice: a consumer
    // indexing the arrays by the configured "reps" field would misread
    // an adaptively-grown run
    val repsRun = repStorm.size
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")
    def buildJson(rddQs: String, totalRdd: Double, rddStorm: String): String =
      f"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","reps":$reps,"reps_run":$repsRun,"rerun_passes":$rerunPasses,"clean_reps":$cleanReps,"timing_mode":"$timingMode","cpus":$cpus,"heap_gb":$heapGb%.1f,"pretouch_mbps":$pretouchMbps%.1f,"rep_probe_mbps":$repProbeJson,"rep_min_probe_mbps":$repMinProbeJson,"rep_sys_usr":$repSysUsrJson,"rep_storm":$repStormJson,"rep_samples":$repSamplesJson,"query_storm":$queryStormJson,"queries_rdd":$rddQs,"total_rdd_s":$totalRdd,"rdd_pass_storm":$rddStorm,"spread":$spreads,"cpu":$cpuMap,"usr":$usrMap,"sys":$sysMap}"""
    // Artifact durability (two rounds of perf evidence were lost to stdout
    // interleaving / DNF): write the full JSON to a well-known file FIRST,
    // then print a marker-prefixed copy (grep-recoverable even if the tail
    // is truncated), then the bare JSON line (the original driver contract).
    def writeArtifact(json: String): Unit =
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
          (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
      }
    // count-mode artifact lands on disk BEFORE the rdd pass starts: a
    // SIGTERM mid-pass leaves a valid (rdd-less) artifact, never nothing
    writeArtifact(buildJson("{}", -1.0, "null"))
    // Dual-mode artifact (round-12 verdict #7): one budget-boxed rdd-mode
    // pass after the count reps, published as queries_rdd/total_rdd_s in
    // the SAME artifact — count stays the contract headline, but a plan
    // that collapses under count() (column pruning to a scan-count, as-of
    // elimination) can no longer flatter the graded file unnoticed. In
    // rdd timing mode the main loop already measured the materializing
    // plans, so the rdd fields just mirror the headline maps.
    val timesRdd = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var rddPassStorm = "null"
    if (rddMode) {
      results.foreach(r => timesRdd(r.name) = r.wall)
      rddPassStorm = repStormJson
    } else if (sys.env.getOrElse("SPARK_GRAFT_RDD_PASS", "1") != "0" &&
        !outOfBudget && elapsedSec < budgetSec) {
      System.err.println(
        f"[bench] rdd-mode pass starting at $elapsedSec%.0f s of $budgetSec%.0f")
      val probe = probeFaultMbps()
      val (u0, s0) = procUserSys()
      names.foreach { case (name, fn) =>
        if (elapsedSec < budgetSec && elapsedSec < hardCapSec) {
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
            catch {
              case e: Throwable =>
                System.err.println(s"[bench] rdd $name FAILED: ${e.getMessage}")
                false
            }
          timesRdd(name) = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
          spark.catalog.clearCache()
        } else timesRdd(name) = -1.0
      }
      val (u1, s1) = procUserSys()
      val stormy = (probe >= 0 && probe < stormFloorMbps) ||
        (u1 - u0 > 0 && s1 - s0 >= 0.5 * (u1 - u0))
      rddPassStorm = stormy.toString
    }
    val rddQsJson =
      timesRdd.map { case (n, t) => "\"" + n + "\":" + t }.mkString("{", ",", "}")
    val totalRdd =
      if (timesRdd.values.exists(_ >= 0)) timesRdd.values.filter(_ >= 0).sum
      else -1.0
    val json = buildJson(rddQsJson, totalRdd, rddPassStorm)
    writeArtifact(json)
    // Terminal stdout lines (see terminalLines scaladoc). Round-10 forensics:
    // the driver's captured tail ended EXACTLY at the `GRAFT_BENCH_SUMMARY
    // {...}` line — the bare JSON printed after it was never seen, so the
    // capture stops at (or truncates after) the marker. The fix is to make
    // every line the driver could possibly treat as "last" a bare-parseable
    // JSON object: the compact contract JSON is the penultimate line, and
    // the marker line itself is now PURE JSON carrying the literal string
    // GRAFT_BENCH_SUMMARY as a field value (any substring-based capture
    // stop still matches; json.loads of the whole line now succeeds).
    val failed = results.count(_.wall < 0)
    val compact = compactLine(total, sfDir, reps, repsRun, cleanReps,
      results.size, failed, heapGb, repStormJson, totalRdd, outFile)
    val summary = summaryLine(total, sfDir, reps, repsRun, cleanReps,
      results.size, failed, totalRdd, outFile)
    terminalLines(json, compact, summary).foreach(println)
    Console.out.flush()
    System.err.println(s"GRAFT_BENCH_JSON $json")
    System.err.println(summary)
    System.err.flush()
    spark.stop()
  }

  /** The terminal stdout lines, in print order — factored out so BenchTailSpec
    * can emulate the driver's capture behaviors against the real construction:
    *  1. the full contract JSON (metric/value/unit/queries/... — the original
    *     driver contract; ~8-12 KB, durable copy in BENCH.json),
    *  2. a GRAFT_BENCH_JSON-prefixed copy (grep-recoverable from any log),
    *  3. a compact bare JSON (< 500 bytes — survives a bounded ~2 KB tail
    *     window; the penultimate line in case the capture stops just BEFORE
    *     the marker line),
    *  4. ABSOLUTE LAST: the summary as pure JSON whose "marker" field holds
    *     the literal GRAFT_BENCH_SUMMARY string — a capture that stops AT the
    *     marker keeps this line as its last, and it bare-parses.
    * Under every capture behavior observed or hypothesized across rounds 1-10
    * (full capture, stop-at-marker inclusive, stop-before-marker, 2 KB tail),
    * the last captured line is a valid standalone JSON object.
    */
  def terminalLines(fullJson: String, compactJson: String,
      summaryJson: String): Seq[String] =
    Seq(fullJson, s"GRAFT_BENCH_JSON $fullJson", compactJson, summaryJson)

  /** Compact contract JSON (< 500 bytes): headline metric + run stamps;
    * per-query timings live in the durable artifact file. clean_reps says
    * how many non-storm reps back the medians (round-11 verdict #2: a
    * graded headline must never be a single cold rep without saying so);
    * reps_run says how many rep entries the artifact's arrays actually
    * carry (configured + adaptive extras + rerun passes); total_rdd_s is
    * the materializing-mode census total (-1 when the pass didn't run). */
  def compactLine(total: Double, sfDir: String, reps: Int, repsRun: Int,
      cleanReps: Int, n: Int, failed: Int, heapGb: Double,
      repStormJson: String, totalRdd: Double, outFile: String): String =
    f"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","reps":$reps,"reps_run":$repsRun,"clean_reps":$cleanReps,"n":$n,"failed":$failed,"heap_gb":$heapGb%.1f,"rep_storm":$repStormJson,"total_rdd_s":$totalRdd,"file":"$outFile"}"""

  /** Summary marker line: PURE JSON (bare json.loads succeeds) whose
    * "marker" field carries the literal GRAFT_BENCH_SUMMARY string so a
    * substring-based capture stop still finds it. Carries the contract's
    * metric/value/unit fields so a parse-the-last-line driver gets the
    * headline even when this is the only line it keeps.
    */
  def summaryLine(total: Double, sfDir: String, reps: Int, repsRun: Int,
      cleanReps: Int, n: Int, failed: Int, totalRdd: Double,
      outFile: String): String =
    f"""{"marker":"GRAFT_BENCH_SUMMARY","metric":"total","value":$total,"unit":"sec","n":$n,"failed":$failed,"total_s":$total%.1f,"sf":"$sfDir","reps":$reps,"reps_run":$repsRun,"clean_reps":$cleanReps,"total_rdd_s":$totalRdd,"file":"$outFile"}"""
}
