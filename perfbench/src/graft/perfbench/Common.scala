package graft.perfbench

import java.lang.management.ManagementFactory
import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

/** Process-level clocks and probes shared by every workload. */
object Probe {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def now(): Long = System.nanoTime()
  def secSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Process user+sys CPU in seconds (all threads, JIT and GC included). */
  def cpuSec(): Double = os.getProcessCpuTime / 1e9

  /** Cumulative collector time of the JVM in seconds. */
  def gcSec(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Heap in use after forced collections, in MB. Spark frees checkpoint
    * and shuffle blocks from a cleaner thread once their references are
    * collected, so the collections are spaced to let it catch up.
    */
  def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** First-touch fault rate in MB/s, measured on a fresh direct buffer so it
    * sees the kernel's current page-fault regime rather than an already
    * committed heap (same probe as `graft.Bench`).
    */
  def faultMbps(mb: Int = 64): Double = {
    val bb = java.nio.ByteBuffer.allocateDirect(mb << 20)
    val t0 = now()
    var off = 0
    while (off < bb.capacity()) { bb.put(off, 1.toByte); off += 4096 }
    val sec = secSince(t0)
    if (sec > 0) mb / sec else -1.0
  }
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of `wanted` that leaves at least `tail` samples above it;
    * a sample too small for any of them falls back to the median. */
  def tailQuantile(n: Int, wanted: Seq[Double], tail: Int = 10): Double =
    wanted.sorted.reverse.find(q => n * (1 - q) >= tail).getOrElse(0.5)
}

/** Order-insensitive digest of a result: each row is rendered canonically,
  * hashed with SHA-256, and the first 8 bytes of every row hash are summed
  * modulo 2^64. Doubles and decimals are rounded to 9 significant digits so
  * two engines that differ only in the last ulp agree. `oracle_check.py`
  * implements the same rendering for the DuckDB cross-check.
  */
object Digest {
  private val mc = new MathContext(9, RoundingMode.HALF_EVEN)

  private def num(b: JBigDecimal): String =
    if (b.signum == 0) "0" else b.round(mc).stripTrailingZeros.toPlainString

  def render(v: Any): String = v match {
    case null                    => "∅"
    case d: Double               => num(new JBigDecimal(d))
    case f: Float                => num(new JBigDecimal(f.toDouble))
    case b: java.math.BigDecimal => num(b)
    case b: BigDecimal           => num(b.bigDecimal)
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case r: Row                  => r.toSeq.map(render).mkString("{", ",", "}")
    case t: java.sql.Timestamp   => t.toInstant.toString
    case other                   => other.toString
  }

  def rowHash(r: Row): Long = {
    val md = MessageDigest.getInstance("SHA-256")
    val h = md.digest(r.toSeq.map(render).mkString("\u0001").getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(h, 0, 8).getLong
  }

  def of(rows: Array[Row]): String = f"${rows.iterator.map(rowHash).sum}%016x"
}

/** Minimal JSON rendering for the result record (no external dependency). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    b += '"'
    b.toString
  }

  def apply(v: Any): String = v match {
    case null                  => "null"
    case s: String             => str(s)
    case d: Double             => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float              => apply(f.toDouble)
    case n: Int                => n.toString
    case n: Long               => n.toString
    case b: Boolean            => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_]        => s.map(apply).mkString("[", ",", "]")
    case other                 => str(other.toString)
  }
}
