package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** [[Sessions.local]] is the one session builder: it returns the Tier-1
  * posture, and no other source file builds a session by hand, so no main
  * or suite can drift from that posture.
  */
class SessionsSpec extends AnyFunSuite {

  test("local(role) runs at SPARK_GRAFT_CPUS width, in UTC, with the extensions and no UI") {
    val s = Sessions.local("test")
    val n = Sessions.cpus
    assert(s.sparkContext.master == s"local[$n]")
    assert(s.conf.get("spark.sql.shuffle.partitions") == n.toString)
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.sql("SELECT current_timezone()").head().getString(0) == "UTC")
    assert(s.sparkContext.uiWebUrl.isEmpty)
    // a fresh child session has only what the extensions register
    val sim = s.newSession().sql(
      "SELECT cosine_sim(CAST(array(3, 4) AS ARRAY<FLOAT>), CAST(array(3, 4) AS ARRAY<FLOAT>))")
    assert(math.abs(sim.head().getDouble(0) - 1.0) < 1e-6)
  }

  test("no source file but Sessions.scala builds a session by hand") {
    val own = Paths.get("src/main/scala/graft/Sessions.scala")
    assert(Files.isRegularFile(own), "run from the repository root")
    val call = """SparkSession\s*\.\s*builder""".r
    val files = Using.resource(Files.walk(Paths.get("src")))(_.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != own).toList)
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim
      if !Seq("//", "/*", "*").exists(code.startsWith) && call.findFirstIn(code).isDefined
    } yield s"$f:${i + 1}: $code"
    assert(hits.isEmpty, "build the session through graft.Sessions.local:\n" + hits.mkString("\n"))
  }
}
