package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.util.{Profile, QueryProfile}

/** Wall-clock regression tripwires for the historically slowest gated
  * queries (round-3 bench at sf0.1/local[32]: t14 9.0 s, c02 8.5 s,
  * d10 8.2 s, t10 7.1 s, d06 5.1 s — all audited as the right plan shape,
  * their cost is genuine work volume).
  *
  * Run here at sf0.01/local[4] where each completes in seconds. Ceilings
  * are ~3x a measured warm median on the dev box, so only a plan-shape
  * regression (lost broadcast, new unbounded shuffle, lineage blowup in
  * the iterative ops) trips them — not JIT or machine noise. A >2x jump
  * should fail HERE, before the driver's sf0.1 bench ever sees it.
  */
class BudgetSpec extends AnyFunSuite with SparkSpec {

  private val sfGate = "/root/testdata/sf0.01"

  /** Builds and collects `name` in one window, as Bench measures a query:
    * building runs every `Eager.cached` build and every loop round. */
  private def profile(name: String): Profile = {
    val (_, p) = QueryProfile.measure(spark) {
      graft.SparkEntry.queries(name)(spark, sfGate).collect()
    }
    spark.catalog.clearCache() // same hygiene as Bench: no cross-query piling
    p
  }

  private def budget(name: String, ceilingSec: Double): Unit =
    test(s"$name stays under ${ceilingSec}s at sf0.01 (3x warm median)") {
      val t = profile(name).wallSec
      info(f"$name: $t%.2f s (ceiling ${ceilingSec}s)")
      assert(t < ceilingSec, f"$name took $t%.2f s — plan regression? " +
        "Check .explain for a lost broadcast / new exchange before raising this.")
    }

  // one throwaway execution so the first measured query does not pay the
  // whole-stage-codegen + parquet-footer warmup for the suite
  test("warmup (unmeasured)") {
    graft.SparkEntry.queries("q01_pricing_summary")(spark, sfGate).collect()
  }

  budget("t14_dup_substrings", 30.0)
  budget("c02_neardup_consolidation", 30.0)
  budget("d10_containment_join", 30.0)
  budget("t10_winnowing_pairs", 30.0)
  budget("d06_dup_clusters", 30.0)
  // the iterative graph loops — cost is per-round scheduling, so a lost
  // lineage cut or a width regression shows up as a multiple, not noise
  budget("pr01_pagerank", 30.0)
  budget("sp01_bfs_hops", 30.0)

  // ---- executor-CPU tripwires ---------------------------------------------
  // Wall ceilings alone can't catch a real 2x work regression on a noisy
  // host (round-7 lesson: driver-bench CPU moved 3-5x on UNTOUCHED streaming
  // queries and only git-diff forensics could dismiss it — nothing would
  // have tripped had it been real). Task CPU is far more stable than wall,
  // but NOT fully fault-immune: page-fault handling is in-thread sys time
  // and lands in executorCpuTime, so a first-touch fault storm inflates the
  // first run. Hence min-of-2: the second run executes over an already
  // faulted-in heap, so a one-off storm can't trip the gate while a genuine
  // plan regression (lost filter, extra pass, unbatched state) inflates
  // BOTH runs. Ceilings are ~4x the measured warm sf0.01 medians
  // (d10 1.9 s, pr01 3.4 s, st06 1.0 s, st10 1.3 s, st11 0.8 s).

  private def cpuBudget(name: String, ceilingSec: Double): Unit =
    test(s"$name stays under ${ceilingSec}s executor CPU at sf0.01 (~4x warm median)") {
      val c = math.min(profile(name).cpuSec, profile(name).cpuSec)
      info(f"$name: $c%.2f s CPU min-of-2 (ceiling ${ceilingSec}s)")
      assert(c < ceilingSec, f"$name burned $c%.2f s executor CPU on BOTH runs — " +
        "a real work regression. Check .explain before raising this.")
    }

  // the streaming micro-batch machinery JITs on first use; keep it out of
  // the first measured streaming query (same posture as Bench's warmup)
  test("streaming warmup (unmeasured)") {
    graft.SparkEntry.queries("st06_stream_cdc_apply")(spark, sfGate).collect()
  }

  cpuBudget("d10_containment_join", 8.0)
  cpuBudget("pr01_pagerank", 14.0)
  cpuBudget("st06_stream_cdc_apply", 4.0)
  cpuBudget("st10_stream_running_totals", 5.5)
  cpuBudget("st11_stream_dedup_ttl", 3.5)
  // round-10 additions: the five heaviest clean-window queries from
  // BENCH_LOCAL_r09 now have measured warm sf0.01 medians too (3-rep
  // clean probe, heap 12g: st04 0.71 s, s04 1.65 s, c06 2.27 s,
  // sp01 2.38 s, tc01 1.26 s) — ceilings ~4x those medians
  cpuBudget("st04_stream_interval_join", 3.0)
  cpuBudget("s04_knn_ivf", 7.0)
  cpuBudget("c06_contamination_blast_radius", 9.0)
  cpuBudget("sp01_bfs_hops", 10.0)
  cpuBudget("tc01_triangle_count", 5.0)
  // round-11 additions (verdict #4): the next tier of heavies from the
  // round-10 driver bench (kc01 4.8 s, lp01 5.6 s, c02 5.95 s, st09 5.9 s,
  // t10 4.3 s at sf0.1/width 32) — measured warm sf0.01 medians at this
  // suite's width 4: kc01 1.20 s, lp01 0.99 s, c02 0.90 s, st09 0.75 s,
  // t10 0.69 s CPU; ceilings ~4x
  cpuBudget("kc01_kcore", 5.0)
  cpuBudget("lp01_label_propagation", 4.0)
  cpuBudget("c02_neardup_consolidation", 3.5)
  cpuBudget("st09_stream_outer_join", 3.0)
  cpuBudget("t10_winnowing_pairs", 3.0)
  // round-13 addition: ppl01 at 4.3 s CPU sf0.1/width 32 after the
  // concurrent-broadcast fix — the tripwire guards against the Eager
  // cache (21 s CPU) or a lost broadcast sneaking back in. Ceiling is set
  // from the FULL-SUITE context (3.18 s min-of-2 at width 4 — ~3x the
  // isolated-run 0.96 s; suite-order session state inflates the reading,
  // measured both ways while landing), so isolated and suite runs both
  // clear it while the 21 s cache regression still trips
  cpuBudget("ppl01_kn_perplexity_buckets", 8.0)
}
