package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The driver's bench-parse contract: it captures a bounded tail of Bench's
  * stdout and `json.loads`-parses the last line (BENCH_r{N}.json `parsed`).
  * Ten rounds of `parsed: null` taught us the capture can stop at the
  * GRAFT_BENCH_SUMMARY marker line (round-10 forensics: the captured tail
  * ended EXACTLY there, with the post-marker bare JSON never seen). This
  * spec emulates every capture behavior observed or hypothesized and
  * asserts the last captured line always survives a bare JSON parse —
  * against the REAL line builders Bench.main uses.
  */
class BenchTailSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  /** json.loads emulation: must be a single standalone JSON object. */
  private def parses(line: String): Boolean =
    try { mapper.readTree(line).isObject }
    catch { case _: Throwable => false }

  // a realistic full contract line: 206 queries of the shape the real
  // jmap() produces (unrounded doubles), plus the dual-mode, per-query-storm
  // and per-query profile fields, so the tail-window tests exercise
  // the real line sizes (round-12 advice: the fixture had drifted behind
  // the production fields)
  private val queries = (1 to 206)
    .map(i => "\"q%03d_name\":%.16f".format(i, i * 0.0333333333))
    .mkString("{", ",", "}")
  private val queriesRdd = (1 to 206)
    .map(i => "\"q%03d_name\":%.16f".format(i, i * 0.0411111111))
    .mkString("{", ",", "}")
  private val cpuRdd = (1 to 206)
    .map(i => "\"q%03d_name\":%.16f".format(i, i * 0.0622222222))
    .mkString("{", ",", "}")
  private val profile = (1 to 206)
    .map(i => ("\"q%03d_name\":{\"jobs\":%d,\"stages\":%d,\"tasks\":%d," +
      "\"shuffle_mb\":%.3f,\"spill_mb\":0.000,\"gc_s\":%.3f,\"top_stages\":" +
      "[{\"name\":\"count at Bench.scala:160\",\"tasks\":4,\"cpu_s\":%.3f,\"wall_s\":%.3f}]}")
      .format(i, i % 7 + 1, i % 9 + 2, i % 40 + 5, i * 0.0123, i * 0.0011, i * 0.031, i * 0.012))
    .mkString("{", ",", "}")
  private val queryStorm = (1 to 206)
    .map(i => "\"q%03d_name\":%s".format(i, (i % 37 == 0).toString))
    .mkString("{", ",", "}")
  private val fullJson =
    s"""{"metric":"total","value":202.45,"unit":"sec","queries":$queries,"sf":"testdata/sf0.1","reps":3,"reps_run":4,"rerun_passes":1,"clean_reps":2,"timing_mode":"count","cpus":32,"heap_gb":12.0,"pretouch_mbps":1674.0,"rep_probe_mbps":[1500.0,1400.0,90.0,1600.0],"rep_min_probe_mbps":[1300.0,1200.0,80.0,1500.0],"rep_sys_usr":[0.25,0.30,1.64,0.21],"rep_storm":[false,false,true,false],"rep_samples":[206,206,206,3],"query_storm":$queryStorm,"queries_rdd":$queriesRdd,"total_rdd_s":251.2,"rdd_pass_storm":false,"cpu_rdd":$cpuRdd,"total_cpu_rdd_s":461.3,"spread":{},"cpu":{},"usr":{},"sys":{},"profile":$profile}"""
  private val compact = Bench.compactLine(202.45, "/root/testdata/sf0.1", 3,
    4, 2, 206, 0, 12.04, "[false,false,true,false]", 251.2, 461.3, "BENCH.json")
  private val summary = Bench.summaryLine(202.45, "/root/testdata/sf0.1", 3,
    4, 2, 206, 0, 251.2, 461.3, "BENCH.json")
  private val lines = Bench.terminalLines(fullJson, compact, summary)
  private val stdout = lines.mkString("", "\n", "\n")

  test("every individually-parseable terminal line really parses") {
    assert(parses(fullJson), fullJson.take(200))
    assert(parses(compact), compact)
    assert(parses(summary), summary)
  }

  test("capture A: full stdout — last line parses and carries the contract") {
    val last = stdout.linesIterator.toSeq.last
    assert(parses(last), last)
    val node = mapper.readTree(last)
    assert(node.get("metric").asText() == "total")
    assert(node.get("value").asDouble() > 0)
    assert(node.get("unit").asText() == "sec")
  }

  test("capture B: stop AT the marker line (inclusive) — round-10 driver behavior") {
    // emulate: capture stops after the first line containing the marker
    val kept = stdout.linesIterator
      .span(!_.contains("GRAFT_BENCH_SUMMARY"))
    val capture = kept._1.toSeq ++ kept._2.take(1).toSeq
    // the GRAFT_BENCH_JSON-prefixed line contains the marker? no — check
    // the marker substring only appears where intended
    val last = capture.last
    assert(last.contains("GRAFT_BENCH_SUMMARY"), last)
    assert(parses(last), last)
    assert(mapper.readTree(last).get("value").asDouble() > 0)
  }

  test("capture C: stop BEFORE the marker line (exclusive) — last kept line is the compact JSON") {
    val capture = stdout.linesIterator.takeWhile(!_.contains("GRAFT_BENCH_SUMMARY")).toSeq
    val last = capture.last
    assert(parses(last), last)
    assert(mapper.readTree(last).get("metric").asText() == "total")
  }

  test("capture D: bounded 2 KB tail — last complete line parses") {
    val tail = stdout.takeRight(2048)
    // the driver would see a possibly-truncated first line; the LAST line
    // must still be complete and parseable
    val last = tail.linesIterator.toSeq.last
    assert(parses(last), last)
    assert(mapper.readTree(last).get("value").asDouble() > 0)
  }

  test("marker line is the absolute last stdout line and is pure JSON") {
    assert(lines.last == summary)
    assert(parses(lines.last))
    assert(lines.last.startsWith("{") && lines.last.endsWith("}"))
    assert(mapper.readTree(lines.last).get("marker").asText() == "GRAFT_BENCH_SUMMARY")
  }

  test("both driver-parseable lines carry the clean_reps stamp") {
    // round-11 verdict #2: the graded headline must be auditable for how
    // many non-storm reps back it, whichever line the driver keeps
    assert(mapper.readTree(summary).get("clean_reps").asInt() == 2)
    assert(mapper.readTree(compact).get("clean_reps").asInt() == 2)
  }

  test("both driver-parseable lines carry reps_run and total_rdd_s") {
    // round-12 advice: array lengths are reps_run, not the configured
    // reps; round-12 verdict #7: the materializing-mode total rides the
    // same artifact so count-collapse can't flatter the graded number,
    // and so does its summed executor CPU
    for (line <- Seq(summary, compact)) {
      val node = mapper.readTree(line)
      assert(node.get("reps").asInt() == 3)
      assert(node.get("reps_run").asInt() == 4)
      assert(node.get("total_rdd_s").asDouble() == 251.2)
      assert(node.get("total_cpu_rdd_s").asDouble() == 461.3)
    }
  }

  test("compact and summary lines stay under a 2 KB tail window combined") {
    // both must fit in the bounded tail TOGETHER so whichever the driver
    // keeps as last is complete, not truncated mid-line
    assert(compact.length + summary.length + 2 < 2048,
      s"compact=${compact.length} summary=${summary.length}")
  }
}
