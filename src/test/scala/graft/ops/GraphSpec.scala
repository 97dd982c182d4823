package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.util.Fixpoint

/** PageRank math pinned by hand on tiny graphs, then the distributed
  * invariants (merge-order freedom, mass bound) and the gated query's
  * shape on real testdata.
  */
class GraphSpec extends AnyFunSuite with SparkSpec {

  private def scoresOf(edges: Seq[(Long, Long)], iters: Int,
      parts: Int = 4): Map[Long, Long] = {
    import spark.implicits._
    val df = edges.toDF("src", "dst").repartition(parts)
    Graph.pageRank(df, iters).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("two-node path is the exact fixed point at every iteration") {
    // N=2: init = 5e11; contrib = (5e11·17)/(20·1) = 4.25e11;
    // teleport = 7.5e10; 4.25e11 + 7.5e10 = 5e11 — stationary.
    for (iters <- Seq(1, 3)) {
      val s = scoresOf(Seq((1L, 2L), (2L, 1L)), iters)
      assert(s == Map(1L -> 500000000000L, 2L -> 500000000000L))
    }
  }

  test("3-leaf star matches hand-computed integer scores after 2 iterations") {
    // N=4, init=25e10, teleport=37500000000, deg(center 0)=3, deg(leaf)=1.
    // i1: leaf = 37500000000 + (25e10·17)//60          = 108333333333
    //     center = 37500000000 + 3·((25e10·17)//20)    = 675000000000
    // i2: leaf = 37500000000 + (675e9·17)//60          = 228750000000
    //     center = 37500000000 + 3·((108333333333·17)//20) = 313749999999
    val edges = (1L to 3L).flatMap(l => Seq((0L, l), (l, 0L)))
    val s = scoresOf(edges, 2)
    assert(s(0L) == 313749999999L)
    assert((1L to 3L).forall(l => s(l) == 228750000000L))
  }

  test("scores are independent of partitioning (merge-order freedom)") {
    // an asymmetric graph: triangle + pendant
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L),
      (1L, 3L), (3L, 1L), (3L, 4L), (4L, 3L))
    val ref = scoresOf(edges, Graph.Iters, parts = 1)
    for (p <- Seq(4, 13)) assert(scoresOf(edges, Graph.Iters, parts = p) == ref)
    // the hub (3: three neighbors) outranks the pendant (4: one neighbor)
    assert(ref(3L) > ref(4L))
  }

  test("fixed-point early exit: a regular graph converges, skips rounds, same scores") {
    // 4-cycle (2-regular): uniform init IS the fixed point —
    // contrib = (25e10·17)//40 = 106250000000, ×2 + teleport 37500000000
    // = 25e10 = init. The boundary probe at i=3 sees checkpoint_3 ==
    // checkpoint_0, exits, and runs (10−3) mod 3 = 1 more round → 4
    // executed rounds, output identical to the full 10 the oracle unrolls.
    val edges = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L),
      (2L, 3L), (3L, 2L), (3L, 0L), (0L, 3L))
    val s = scoresOf(edges, Graph.Iters)
    assert(s == (0L to 3L).map(_ -> 250000000000L).toMap)
    assert(Fixpoint.lastRounds("pageRank") == 4,
      s"expected early exit after 4 rounds, executed ${Fixpoint.lastRounds("pageRank")}")
  }

  test("shifting node sets match the exact unroll (probe must not misfire)") {
    // Node sets are NOT constant across rounds here: 5 is a pure sink
    // (enters at round 1 — absent from checkpoint_0), and the chain
    // 6→7→8 burns out (7 leaves at round 2, 8 at round 3), so every
    // checkpoint pair the fixed-point probe compares differs as a SET.
    // The probe must only exit on full-map periodicity (full-outer join,
    // Graph.scala) — equality on the intersection alone is not enough.
    // The oracle is the same integer recurrence unrolled in plain Scala.
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (0L, 5L),
      (6L, 7L), (7L, 8L), (8L, 5L))
    def simulate(iters: Int): Map[Long, Long] = {
      val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val init = Graph.Scale / deg.size
      val teleport = init * 3 / 20
      var scores: Map[Long, Long] = deg.keys.map(_ -> init).toMap
      for (_ <- 1 to iters) {
        scores = edges
          .flatMap { case (src, dst) =>
            scores.get(src).map(sc => dst -> (sc * 17) / (20 * deg(src)))
          }
          .groupBy(_._1).view
          .mapValues(cs => teleport + cs.map(_._2).sum).toMap
      }
      scores
    }
    assert(scoresOf(edges, Graph.Iters) == simulate(Graph.Iters))
  }

  test("total mass stays within (0.5, 1.0] of Scale") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L), (4L, 3L))
    val total = scoresOf(edges, Graph.Iters).values.sum
    assert(total <= Graph.Scale && total > Graph.Scale / 2,
      s"mass $total outside (${Graph.Scale / 2}, ${Graph.Scale}]")
  }

  private def hopsOf(edges: Seq[(Long, Long)], sources: Seq[Long],
      maxHops: Int = Graph.MaxHops): Map[Long, Int] = {
    import spark.implicits._
    val e = edges.toDF("src", "dst").repartition(3)
    val src = sources.toDF("node")
    Graph.bfsHops(e, src, maxHops).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
  }

  private val path = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L),
    (3L, 4L), (4L, 3L))

  test("BFS on a path: exact hop counts from one end") {
    assert(hopsOf(path, Seq(1L)) == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
    // early exit: rounds 1-3 reach 2, 3 and 4; round 4's frontier is
    // empty, so 4 of the 6 rounds run
    assert(Fixpoint.lastRounds("bfsHops") == 4)
  }

  test("BFS hop bound truncates the reach") {
    assert(hopsOf(path, Seq(1L), maxHops = 2) == Map(1L -> 0, 2L -> 1, 3L -> 2))
  }

  test("multi-source BFS takes the minimum over sources") {
    assert(hopsOf(path, Seq(1L, 4L)) ==
      Map(1L -> 0, 4L -> 0, 2L -> 1, 3L -> 1))
  }

  test("sp01 on sf0.001: sources at hop 0, contiguous hop levels") {
    val rows = Graph.sp01(spark, sfSmoke).collect()
    assert(rows.nonEmpty)
    val hops = rows.map(_.getInt(2))
    assert(hops.min == 0)
    val levels = hops.distinct.sorted.toSeq
    assert(levels == (0 to levels.max),
      s"hop levels not contiguous: ${levels.mkString(",")}")
    // hop-0 nodes are exactly suppliers (the EUROPE cohort)
    assert(rows.filter(_.getInt(2) == 0).forall(_.getString(0) == "supplier"))
  }

  test("pr01 on sf0.001: both node types present, ordered, positive") {
    val rows = Graph.pr01(spark, sfSmoke).collect()
    assert(rows.length > 50)
    val types = rows.map(_.getString(0)).toSet
    assert(types == Set("customer", "supplier"))
    assert(rows.forall(_.getLong(2) > 0L))
    val scores = rows.map(_.getLong(2))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("tc01 matches a local brute-force recompute on real topology (sf0.01)") {
    val sfGate = "/root/testdata/sf0.01"
    val out = Graph.tc01(spark, sfGate).collect().head
    // independent recompute: no orientation trick, no Spark — collect the
    // (order, supplier) pairs and walk adjacency sets
    val li = graft.Tables.lineitem(spark, sfGate)
      .select("l_orderkey", "l_suppkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val co = scala.collection.mutable.Map.empty[(Long, Long), Long]
    li.groupBy(_._1).values.foreach { grp =>
      val ss = grp.map(_._2).sorted
      for (i <- ss.indices; j <- (i + 1) until ss.length if ss(i) < ss(j))
        co((ss(i), ss(j))) = co.getOrElse((ss(i), ss(j)), 0L) + 1L
    }
    // decile threshold: min n with 10·cum ≥ 9·total over ascending counts
    val counts = co.values.toSeq.sorted
    val tot = counts.length
    val thr = counts.zipWithIndex.collectFirst {
      case (n, i) if (i + 1) * 10 >= tot * 9 => n
    }.get
    // NB: Map.collect over pair results would rebuild a Map keyed on s1,
    // silently collapsing edges — filter + keys keeps the full pair set
    val edges = co.filter(_._2 >= thr).keys.toSet
    assert(out.getAs[Long]("n_edges") == edges.size)
    val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
    assert(out.getAs[Long]("n_vertices") == adj.size)
    val openWedges = adj.values.map(s => s.size.toLong * (s.size - 1) / 2).sum
    assert(out.getAs[Long]("n_open_wedges") == openWedges)
    val triangles = edges.toSeq.map { case (a, b) => (adj(a) & adj(b)).size.toLong }.sum / 3
    assert(out.getAs[Long]("n_triangles") == triangles)
    assert(out.getAs[Long]("n_triangles") > 0L, "gate-scale graph should have triangles")
    assert(out.getAs[Long]("clustering_ppm") ==
      3L * triangles * 1000000L / openWedges)
  }

  // ---------------------------------------------------------------------
  // kCore / kc01
  // ---------------------------------------------------------------------

  private def coreOf(edges: Seq[(Long, Long)], k: Int,
      rounds: Int = Graph.CoreRounds, parts: Int = 4): Map[Long, Long] = {
    import spark.implicits._
    val both = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    Graph.kCore(both.toDF("src", "dst").repartition(parts), k, rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("2-core of triangle + pendant chain strips the chain, keeps the triangle") {
    // 1-2-3 triangle, chain 3-4-5: 5 peels first, then 4 — a 2-round cascade
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    assert(coreOf(e, k = 2) == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // early exit: round 3 keeps all three survivors, a fixpoint, so 3 of
    // the 8 rounds run
    assert(Fixpoint.lastRounds("kCore") == 3)
  }

  test("2-core of a path is empty (full cascade to nothing)") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(coreOf(path, k = 2) == Map.empty[Long, Long])
  }

  test("bounded-round semantics: a non-converged peel is the round-R state") {
    // path of 5 with k=2 peels endpoint-pairs inward: round 1 drops {1,5},
    // round 2 drops {2,4}; at rounds=2 node 3 is alive but partnerless, so
    // the within-core degree recount (and the oracle's identical final
    // join) emits nothing for it — the documented non-converged contract
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(coreOf(path, k = 2, rounds = 1) == Map(2L -> 1L, 3L -> 2L, 4L -> 1L))
    assert(coreOf(path, k = 2, rounds = 2) == Map.empty[Long, Long])
  }

  test("two triangles sharing a hub: all in the 2-core, hub degree 4") {
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L))
    assert(coreOf(e, k = 2) ==
      Map(1L -> 2L, 2L -> 2L, 3L -> 4L, 4L -> 2L, 5L -> 2L))
  }

  test("k-core is independent of partitioning") {
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L),
      (5L, 6L), (6L, 7L))
    val ref = coreOf(e, k = 2, parts = 1)
    for (p <- Seq(4, 13)) assert(coreOf(e, k = 2, parts = p) == ref)
  }

  test("k-core matches a brute-force fixpoint peel on random graphs (property)") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 5) {
      val n = 5 + rnd.nextInt(10)
      val nodes = (1L to n.toLong).toSeq
      val undirected = (for {
        a <- nodes; b <- nodes if a < b && rnd.nextDouble() < 0.3
      } yield (a, b)).toSeq
      if (undirected.nonEmpty) {
        val k = 2 + rnd.nextInt(2)
        // brute force: peel ALL deficient nodes per round until fixpoint
        var alive = undirected.flatMap(e => Seq(e._1, e._2)).toSet
        var changed = true
        while (changed) {
          val deg = alive.map { v =>
            v -> undirected.count(e =>
              (e._1 == v && alive(e._2)) || (e._2 == v && alive(e._1)))
          }.toMap
          val next = alive.filter(deg(_) >= k)
          changed = next != alive
          alive = next
        }
        val want = alive.map { v =>
          v -> undirected.count(e =>
            (e._1 == v && alive(e._2)) || (e._2 == v && alive(e._1))).toLong
        }.toMap
        // rounds = n always covers the cascade; early exit keeps it cheap
        assert(coreOf(undirected, k, rounds = n) == want,
          s"trial=$trial n=$n k=$k edges=$undirected")
      }
    }
  }

  test("kc01 converges within CoreRounds at gate scale (extra rounds are a no-op)") {
    import spark.implicits._
    val base = Graph.coSupplyEdges(spark, "/root/testdata/sf0.01")
    val edges = base.select($"s1".as("src"), $"s2".as("dst"))
      .unionByName(base.select($"s2".as("src"), $"s1".as("dst")))
    val atBudget = Graph.kCore(edges, Graph.CoreK, Graph.CoreRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val extra = Graph.kCore(edges, Graph.CoreK, Graph.CoreRounds + 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(atBudget == extra, "round budget must cover the fixpoint at gate scale")
    assert(atBudget.nonEmpty, "the gate-scale co-supply graph must retain a core")
    assert(atBudget.values.forall(_ >= Graph.CoreK),
      "every core member keeps >= k within-core partners at the fixpoint")
  }

  // ---------------------------------------------------------------------
  // labelPropagation / lp01
  // ---------------------------------------------------------------------

  private def lpaOf(edges: Seq[(Long, Long)], rounds: Int = Graph.LpaRounds,
      parts: Int = 4): Map[Long, Long] = {
    import spark.implicits._
    val both = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    Graph.labelPropagation(both.toDF("src", "dst").repartition(parts), rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("LPA separates two bridged triangles into their hand-computed communities") {
    // triangles {1,2,3} and {4,5,6} with bridge 3-4. Synchronous rounds with
    // the min tie rule (hand-computed): r1 = (2,1,1,3,4,4),
    // r2 = (1,1,1,4,3,3), r3 = (1,1,1,3,3,3) — converged by r4.
    val got = lpaOf(Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L))
    // early exit: r4 repeats r3, so the round-4 probe stops at 4 of 5
    assert(Fixpoint.lastRounds("labelPropagation") == 4)
  }

  test("LPA bounded-round contract: an oscillating pair reports the round-R state") {
    // single edge 1-2 flips labels every synchronous round (the classic
    // bipartite oscillation); with an odd budget the round-5 state is the
    // swapped one — deterministic by definition, not converged
    val got = lpaOf(Seq((1L, 2L)), rounds = 5)
    assert(got == Map(1L -> 2L, 2L -> 1L))
    val even = lpaOf(Seq((1L, 2L)), rounds = 4)
    assert(even == Map(1L -> 1L, 2L -> 2L))
  }

  test("LPA on asymmetric edge lists matches the fixed-round unroll") {
    // Directed edges shift the node set between rounds: round 0 labels the
    // sources, later rounds only the destinations reached. In 2→1, node 2
    // leaves after round 1 and node 1 enters, so rounds 0 and 1 share no
    // node; an intersection-only fixpoint probe would call round 1 fixed,
    // while round 2 is already empty. The second graph keeps a non-empty
    // state to the end. The oracle is the same rounds unrolled in plain Scala.
    def unrolled(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
      var labels = edges.map { case (src, _) => src -> src }.toMap
      for (_ <- 1 to rounds) {
        labels = edges
          .flatMap { case (src, dst) => labels.get(src).map(dst -> _) }
          .groupBy(_._1).view
          .mapValues(_.groupBy(_._2).view.mapValues(_.size).toSeq
            .minBy { case (lbl, cnt) => (-cnt, lbl) }._1)
          .toMap
      }
      labels
    }
    import spark.implicits._
    for (edges <- Seq(Seq((2L, 1L)),
        Seq((1L, 2L), (1L, 6L), (2L, 3L), (2L, 6L), (3L, 4L), (5L, 3L), (6L, 5L)))) {
      val got = Graph.labelPropagation(edges.toDF("src", "dst").repartition(4))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == unrolled(edges, Graph.LpaRounds), s"edges $edges")
    }
  }

  test("LPA is independent of partitioning") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L), (6L, 7L), (7L, 8L))
    assert(lpaOf(edges, parts = 1) == lpaOf(edges, parts = 7))
  }

  test("lp01 on sf0.001: labels are member suppliers, sizes consistent") {
    val rows = Graph.lp01(spark, sfSmoke).collect()
    assert(rows.nonEmpty)
    val byCommunity = rows.groupBy(_.getLong(1))
    byCommunity.foreach { case (lbl, members) =>
      members.foreach(r => assert(r.getLong(2) == members.length,
        s"community $lbl size column disagrees with the actual member count"))
    }
  }

  // ---------------------------------------------------------------------
  // shared loop edges: connected components' exit, empty inputs
  // ---------------------------------------------------------------------

  test("CC early exit: a single edge stops at round 2, the first that lowers no label") {
    import spark.implicits._
    val comps = Dedup.connectedComponents(Seq((1L, 2L)).toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L))
    assert(Fixpoint.lastRounds("connectedComponents") == 2)
  }

  test("every loop returns zero rows with its declared columns on an empty edge list") {
    import spark.implicits._
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val sources = Seq.empty[Long].toDF("node")
    for ((out, cols) <- Seq(
        Graph.pageRank(edges) -> Seq("node", "score"),
        Graph.bfsHops(edges, sources) -> Seq("node", "hops"),
        Graph.kCore(edges) -> Seq("node", "core_deg"),
        Graph.labelPropagation(edges) -> Seq("node", "lbl"),
        Dedup.connectedComponents(edges.toDF("a", "b")) -> Seq("id", "comp"))) {
      assert(out.columns.toSeq == cols)
      assert(out.count() == 0L, cols.mkString(", "))
    }
  }
}
