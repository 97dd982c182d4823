package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything one benchmark run needs: the session, its arguments and a
  * scratch directory inside the checkout.
  */
final case class Ctx(
    spark: SparkSession,
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    scratch: String,
    benchDir: String,
    cpus: Int,
    opts: Map[String, String],
) {
  def dir(name: String): String = {
    val d = new File(scratch, name)
    d.mkdirs()
    d.getAbsolutePath
  }
}

/** Metrics and check outcomes of one run. `failed` counts failed operations
  * plus wrong outputs; every check runs outside the timed regions.
  */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val record = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = value -> unit

  /** Counts one checked operation; a false `ok` is a failure with `what`. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) fail(what)
  }

  def fail(what: String): Unit = {
    failed += 1
    if (errors.length < 20) errors += what
    System.err.println(s"[perfbench] check failed: $what")
  }
}

/** Entry point of the benchmark JVM; `perfbench/run.py` builds and launches it.
  *
  * {{{
  * graft.perfbench.Main --workload <loops|scan_heavy|serve_mix|etl_load>
  *   --seed <n> --seconds <s> --trace <0|1> --scratch <dir> --bench-dir <dir>
  *   --out <record.json> [--commit <sha>]
  * }}}
  * The record written to `--out` holds every measured metric plus the
  * posture stamp; the caller selects the metrics of the requested mode.
  */
object Main {
  /** The Tier-1 posture: `local[4]`. */
  val Cpus = 4

  val workloads: Map[String, Ctx => Result] = Map(
    "loops" -> (c => QueryWorkload.run(c, QueryWorkload.loops)),
    "scan_heavy" -> (c => QueryWorkload.run(c, QueryWorkload.scanHeavy)),
    "serve_mix" -> ServeMix.run,
    "etl_load" -> EtlLoad.run,
  )

  def main(args: Array[String]): Unit = {
    val t0 = Probe.now()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(workloads.contains(workload), s"unknown workload: $workload")
    val scratch = new File(opts("scratch")).getAbsolutePath
    val faultMbps = Probe.faultMbps()
    val spark = session(scratch, Cpus)
    val ctx = Ctx(spark, workload, opts("seed").toLong, opts("seconds").toDouble,
      opts.get("trace").contains("1"), scratch, opts("bench-dir"), Cpus, opts)
    val startupSec = Probe.secSince(t0)
    val res =
      try workloads(workload)(ctx)
      catch {
        case e: Throwable =>
          e.printStackTrace()
          val r = new Result
          r.attempted += 1
          r.fail(s"workload aborted: $e")
          r
      }
    val rt = Runtime.getRuntime
    val posture = Map(
      "workload" -> workload,
      "seed" -> ctx.seed,
      "seconds" -> ctx.seconds,
      "trace" -> ctx.trace,
      "master" -> spark.sparkContext.master,
      "cpus" -> Cpus,
      "nproc" -> rt.availableProcessors(),
      "heap_max_mb" -> rt.maxMemory() / 1048576,
      "jdk" -> System.getProperty("java.runtime.version"),
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "git_commit" -> opts.getOrElse("commit", "unknown"),
      "source_sha" -> opts.getOrElse("source-sha", "unknown"),
      "fault_mbps_start" -> faultMbps,
      "fault_mbps_end" -> Probe.faultMbps(),
      "jvm_startup_s" -> startupSec,
      "loadavg" -> java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage,
    )
    val out = Json(mutable.LinkedHashMap[String, Any](
      "posture" -> posture,
      "attempted" -> res.attempted,
      "failed" -> res.failed,
      "errors" -> res.errors,
      "metrics" -> res.metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "record" -> res.record,
    ))
    Files.write(Paths.get(opts("out")), out.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** The Tier-1 posture every gate runs at: local[cpus], one shuffle
    * partition per core, UTC, the engine's extensions; Spark's scratch stays
    * inside the run's own directory.
    */
  def session(scratch: String, cpus: Int): SparkSession = {
    val local = new File(scratch, "spark-local")
    local.mkdirs()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(scratch, "spark-warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
