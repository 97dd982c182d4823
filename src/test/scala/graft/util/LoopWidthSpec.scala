package graft.util

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Every iterative loop run through [[Fixpoint.run]] sizes its
  * child-session shuffle width with [[Fixpoint.width]], from the loop
  * relation's optimizer stats, instead of a constant that stays 8-wide at
  * any scale. The width must: keep the floor for small candidate graphs,
  * grow with relation bytes, and never exceed the parent session's
  * configured parallelism. And the width must be a pure performance knob:
  * results are bit-identical at any width (fixed-point associative
  * arithmetic).
  */
class LoopWidthSpec extends AnyFunSuite with SparkSpec {

  private def session(width: Int) = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", width.toString)
    ss
  }

  test("small relations keep the floor width") {
    val ss = session(64)
    assert(Fixpoint.width(ss.range(10).toDF()) == 8)
  }

  test("width grows with relation size and caps at the parent width") {
    val ss = session(64)
    val small = Fixpoint.width(ss.range(1000).toDF(),
      floor = 1, bytesPerPartition = 1024)
    val big = Fixpoint.width(ss.range(100000).toDF(),
      floor = 1, bytesPerPartition = 1024)
    assert(small < big, s"width must scale with stats: $small !< $big")
    assert(big == 64, "a loop never out-fans its parent session")
  }

  test("a parent narrower than the floor bounds the floor too") {
    val ss = session(2)
    assert(Fixpoint.width(ss.range(10).toDF()) == 2)
  }

  test("loop results are bit-identical regardless of derived width") {
    // the same component extraction under a 2-wide and a 64-wide parent:
    // width only moves partition boundaries, never labels
    def run(width: Int): Seq[(Long, Long)] = {
      val ss = session(width)
      import ss.implicits._
      val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 20L))
        .toDF("a", "b")
      graft.ops.Dedup.connectedComponents(edges)
        .as[(Long, Long)].collect().toSeq.sorted
    }
    assert(run(2) == run(64))
  }
}
