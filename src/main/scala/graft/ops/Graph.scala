package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.Q
import graft.util.Fixpoint

/** Iterative graph analytics over the order graph — PageRank (Page et al.
  * 1999) and multi-source BFS, in the vertex-program-as-joins topology of
  * Pregel (Malewicz et al. 2010) expressed as DataFrame operations.
  *
  * Complements the connected-components machinery (Dedup.scala d06): CC
  * answers "which nodes form one entity", PageRank answers "which nodes
  * matter". In a training-data pipeline this is the domain/source authority
  * signal (rank hosts by link mass, downweight low-authority sources at
  * mixing time — the c03 keep-rate input at corpus scale).
  *
  * ALL arithmetic is fixed-point BIGINT (the s07/s08/q56 posture): scores
  * carry micro-mass units of 1e-12, damping 0.85 is exactly 17/20, and each
  * edge's contribution is floored independently — so the per-node update is
  * a plain associative SUM of integers, merge-order free, and the DuckDB
  * oracle (the same ten iterations unrolled as chained CTEs with identical
  * `//` floor division) hash-matches bit-for-bit. No float ever appears.
  *
  * Scale shape (the Pregel topology in DataFrame form): the edge list is
  * built ONCE and cached; each iteration is one hash join (edges ⋈ scores
  * on src — scores are node-cardinality, orders of magnitude smaller than
  * edges) followed by one partial-aggregating shuffle on dst. Lineage is
  * cut with localCheckpoint every third iteration (never after the last),
  * so ten iterations stay a few shallow plans instead of one deep one.
  * Which side a round's join builds on is AQE's choice, not the loop's: an
  * edge list under the broadcast threshold is itself broadcast. In a warm
  * pr01 pass at sf 0.01, 8 of the 9 rounds in the three checkpointed plans
  * ran `BroadcastHashJoin BuildLeft` with the cached edge list (about 97,000
  * rows, a 4 MiB broadcast) as the build side, so those rounds collect every
  * edge on the driver and re-broadcast it. Only an edge list above the
  * threshold keeps its partitioning across rounds.
  */
object Graph {

  /** Total fixed-point mass: 1 unit = 1e-12 of total rank. */
  val Scale = 1000000000000L

  /** Fixed iteration count — rank vectors at web scale stabilize in tens of
    * iterations; ten keeps the oracle's unrolled CTE chain tractable.
    */
  val Iters = 10

  /** Core loop over an arbitrary directed edge list (`src`, `dst` BIGINT;
    * every node must have out-degree ≥ 1 — build edges undirected, as pr01
    * does, to guarantee it). Returns (node, score) with Σscore ≤ [[Scale]];
    * an empty edge list yields an empty result.
    *
    * Sizing contract: callers must pass an edge relation whose optimizer
    * stats are trustworthy — a projection/union over CACHED relations
    * (pr01/sp01 pass a union over the cached trade-pair relation) or a raw
    * scan. An uncached join plan reports the PRODUCT of its children's
    * sizes (Catalyst's pessimistic default), which slammed the loop into
    * the session cap in round 12 — ¾ of pr01's width-32 CPU was per-round
    * task overhead. Sizing from the caller's cached stats saves a private
    * materialization of the edge list per query (the loop builds its own
    * src-partitioned cache below anyway).
    */
  def pageRank(edgesIn: DataFrame, iters: Int = Iters): DataFrame =
    // score vectors are node-cardinality — orders of magnitude below the
    // session's batch width, so ten iterations run at the loop's own width
    // instead of sixty near-empty-partition stages
    Fixpoint.run("pageRank", edgesIn.select("src", "dst")) { in =>
      pageRankLoop(in.head, iters)
    }

  private def pageRankLoop(edgesIn: DataFrame, iters: Int): (DataFrame, Int) = {
    val s = edgesIn.sparkSession
    import s.implicits._
    // hash-partition the edge list by join key ONCE, with each source's
    // out-degree attached via a partition-local window (no extra shuffle):
    // the cached relation's outputPartitioning is reused by every
    // iteration's join, the degree never needs a second per-iteration
    // join, and only the node-cardinality score side ever moves again
    // (the Pregel invariant)
    val edges = graft.util.Eager.cached(
      edgesIn.select($"src", $"dst").repartition($"src")
        .withColumn("deg", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy($"src"))))
    // node list straight off the cached edges — the init score is a
    // CONSTANT, so the old deg-valued cache (a second Eager materialization
    // + count job) carried a column nobody read; one distinct + checkpoint
    // is the whole setup (guide §1.2 — don't compute things you throw away)
    val nodes = edges.select($"src".as("node")).distinct().localCheckpoint()
    val n = nodes.count()
    if (n == 0) return (nodes.select($"node", lit(0L).as("score")), 0)
    val init = Scale / n
    val teleport = init * 3 / 20 // (1 − d)·init with d = 17/20, floored
    def step(cur: DataFrame): DataFrame =
      edges.join(cur, edges("src") === cur("node"))
        .select($"dst", expr("(score * 17) div (20 * deg)").as("contrib"))
        .groupBy($"dst")
        .agg((lit(teleport) + sum($"contrib")).as("score"))
        .select($"dst".as("node"), $"score")
    var scores = nodes.select($"node", lit(init).as("score"))
    // checkpoint from three rounds earlier, for the fixed-point probe below
    var prevCp = scores
    var executed = 0
    var i = 1
    var done = false
    while (i <= iters && !done) {
      val next = step(scores)
      executed += 1
      // lineage cut every third round: a depth-3 plan re-optimizes fine,
      // and each localCheckpoint is a whole extra job — at ten iterations
      // the checkpoint jobs dominated the loop's wall-clock. The FINAL
      // round is exempt (round 14): its state has exactly one consumer
      // (the caller's single job through the re-home), so a checkpoint there
      // is a whole extra materialization of the score vector buying
      // nothing — the last segment is ≤ (iters mod 3) rounds of lineage
      // over the previous checkpoint.
      if (i % 3 == 0 && i != iters) {
        scores = next.localCheckpoint()
        // Fixed-point early exit (kc01's posture): scores are exact
        // BIGINTs and the round function is deterministic, so
        // checkpoint_i == checkpoint_{i-3} bit-for-bit proves the score
        // sequence is periodic (period dividing 3) from round i-3 on —
        // every later round only walks that cycle, so round `iters`
        // equals round i + ((iters − i) mod 3): run exactly those and
        // stop, output identical to the full fixed count the oracle
        // unrolls (a true fixpoint is the period-1 case). Probing only
        // materialized checkpoints costs node-cardinality joins and zero
        // edge-join recomputation.
        // Probe only when success skips ≥ one full 3-round cycle: at
        // i = iters − 1 a successful probe still runs (iters−i) % 3 = 1
        // step — the probe's joins would cost more than they can save. The
        // probe is full-outer: score SETS can shrink or grow while mass
        // rebalances, and equality on the intersection alone would not be
        // periodicity.
        if (i + 3 <= iters && Fixpoint.same(scores, prevCp, "node", "score")) {
          for (_ <- 1 to ((iters - i) % 3)) { scores = step(scores); executed += 1 }
          scores = scores.localCheckpoint()
          done = true
        }
        prevCp = scores
      } else scores = next
      i += 1
    }
    (scores, executed)
  }

  /** The undirected trade edge list shared by pr01/sp01 — distinct
    * (customer, supplier) pairs CACHED once, both union branches scanning
    * the cache: the lineitem ⋈ orders join and its distinct run one time
    * instead of once per branch, and the union-over-cached stats are
    * accurate for the loops' width sizing without a second
    * materialization.
    */
  private def tradePairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir).select($"l_orderkey", $"l_suppkey")
    val ord = Tables.orders(s, dir).select($"o_orderkey", $"o_custkey")
    // build stage kept UNSPREAD (measured, round 14 pass 3): hash-spreading
    // the join output on (c, sn) before the distinct — to move the partial
    // dedup off the single-row-group-bound scan stage — was a wash in a
    // 6-rep interleaved same-JVM A/B over pr01+sp01 (pr01 medians 8.46 →
    // 8.03 s but sp01 5.35 → 6.01 s; pairwise wins 4/6 vs 2/6, CPU mixed):
    // shuffling the pre-dedup rows costs what the relocated partial agg
    // saves. Declined.
    graft.util.Eager.cached(
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .select(($"o_custkey" * 2).as("c"), ($"l_suppkey" * 2 + 1).as("sn"))
        .distinct())
  }

  private def tradeEdges(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    pairs.select($"c".as("src"), $"sn".as("dst"))
      .unionByName(pairs.select($"sn".as("src"), $"c".as("dst")))
  }

  /** pr01 — PageRank over the undirected customer↔supplier graph: nodes
    * are customers and suppliers that traded (via orders ⋈ lineitem),
    * with an edge per distinct trading pair in both directions (so no
    * dangling mass sinks). Node encoding 2·custkey / 2·suppkey+1 keeps the
    * two key spaces disjoint through the loop; the output decodes back to
    * (node_type, node_key, score).
    */
  def pr01(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = tradeEdges(tradePairs(s, dir))
    pageRank(edges).select(
      when($"node" % 2 === 0, "customer").otherwise("supplier").as("node_type"),
      expr("node div 2").as("node_key"),
      $"score")
      .orderBy($"score".desc, $"node_type", $"node_key")
  }

  /** The identical ten iterations unrolled as chained CTEs. DuckDB's `//`
    * and Spark's `div` agree on positive BIGINTs; SUM(BIGINT) surfaces as
    * HUGEINT so the final score casts back (memory: the m02 lesson).
    */
  val pr01Oracle: String = {
    val iters = (1 to Iters).map { i =>
      s"""s$i AS (SELECT e.dst AS node,
         |  (SELECT teleport FROM consts) +
         |    CAST(SUM((p.score * 17) // (20 * d.deg)) AS BIGINT) AS score
         |  FROM edges e
         |  JOIN s${i - 1} p ON p.node = e.src
         |  JOIN deg d ON d.src = e.src
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS sn
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
       |edges AS (SELECT c AS src, sn AS dst FROM pairs
       |          UNION ALL
       |          SELECT sn AS src, c AS dst FROM pairs),
       |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
       |consts AS (
       |  SELECT CAST($Scale // COUNT(*) AS BIGINT) AS init,
       |         CAST(($Scale // COUNT(*)) * 3 // 20 AS BIGINT) AS teleport
       |  FROM deg),
       |s0 AS (SELECT src AS node, (SELECT init FROM consts) AS score FROM deg),
       |$iters
       |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
       |         AS node_type,
       |       node // 2 AS node_key,
       |       score
       |FROM s$Iters
       |ORDER BY score DESC, node_type, node_key""".stripMargin
  }

  // ---------------------------------------------------------------------
  // sp01 — multi-source BFS (shortest hop counts)
  // ---------------------------------------------------------------------

  /** Hop bound for sp01 — covers the diameter of the dense bipartite trade
    * graph at every SF while keeping the oracle's recursion bounded.
    */
  val MaxHops = 6

  /** Multi-source BFS over (`src`, `dst`) edges: minimum hop count from any
    * source node, up to `maxHops`. Frontier-expansion shape: each round
    * joins the PREVIOUS frontier (not the whole visited set) against the
    * edge list, then prunes nodes already reached — per-round shuffle work
    * is frontier-sized, and rounds are lineage-cut like the CC loop. The
    * min-aggregation makes reached sets merge-order free.
    */
  def bfsHops(edgesIn: DataFrame, sourcesIn: DataFrame,
      maxHops: Int = MaxHops): DataFrame =
    // same sizing contract as pageRank: the caller passes a stats-accurate
    // edge relation (sp01: union over cached pairs)
    Fixpoint.run("bfsHops", edgesIn.select("src", "dst"),
        sourcesIn.select("node")) { in =>
      bfsLoop(in(0), in(1), maxHops)
    }

  private def bfsLoop(edgesIn: DataFrame, sources: DataFrame,
      maxHops: Int): (DataFrame, Int) = {
    val s = edgesIn.sparkSession
    import s.implicits._
    // cached pre-partitioned by src at the loop's width: every round joins
    // on src, and the narrow layout also makes the per-round scan
    // loop-width tasks instead of inheriting the parent-width union's
    // partition count (measured 64 scan tasks per round at sf0.1 — pure
    // task-launch overhead on a loop this small)
    val edges = graft.util.Eager.cached(
      edgesIn.select($"src", $"dst").repartition($"src"))
    var visited = sources.select($"node", lit(0).as("hops")).localCheckpoint()
    var frontier = visited
    var h = 1
    var saturated = false
    while (h <= maxHops && !saturated) {
      val next = edges.join(frontier, edges("src") === frontier("node"))
        .select($"dst".as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .select($"node", lit(h).as("hops"))
        .localCheckpoint()
      // SATURATION early exit (the kc01 fixpoint argument): an empty
      // frontier makes every later round a provable no-op (the anti join
      // would re-derive the empty set), so the output is bit-identical to
      // running the full hop budget. The probe is a take(1) over the
      // just-materialized checkpoint — round cost drops to zero once the
      // graph's true eccentricity is reached, instead of paying the
      // worst-case budget (the dense trade graph saturates in 3-4 hops).
      if (next.isEmpty) saturated = true
      else {
        // no per-round checkpoint for the visited union: both inputs are
        // already materialized checkpoints, the union is pure lineage
        // (depth ≤ maxHops), and the dropped checkpoint was one whole
        // extra job per round
        visited = visited.unionByName(next)
        frontier = next
      }
      h += 1
    }
    (visited, h - 1)
  }

  /** sp01 — supply-chain proximity: hop distance from the EUROPE-nation
    * supplier cohort to every node of the trade graph (how many trading
    * steps separate each customer/supplier from the European supply base —
    * the blast-radius query of supply-chain analytics).
    */
  def sp01(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = tradePairs(s, dir)
    val edges = tradeEdges(pairs)
    val sources = Tables.supplier(s, dir)
      .join(Tables.nation(s, dir), $"s_nationkey" === $"n_nationkey")
      .join(Tables.region(s, dir), $"n_regionkey" === $"r_regionkey")
      .filter($"r_name" === "EUROPE")
      .select(($"s_suppkey" * 2 + 1).as("node"))
      // sources outside the trade graph would mint phantom nodes. Sources
      // are odd-encoded (2·suppkey + 1) and src(edges) = {c} ∪ {sn} with
      // every c even, so membership in src(edges) ≡ membership in the
      // supplier side of the cached pairs — probing that (distinct over
      // ~|suppliers| values after map-side partial agg on the 1-column
      // cache scan) replaces a second full scan + distinct of the
      // both-ways union (guide §2.3: the probe needs supplier keys, not
      // the whole node set)
      .join(pairs.select($"sn".as("node")).distinct(), Seq("node"), "left_semi")
    bfsHops(edges, sources).select(
      when($"node" % 2 === 0, "customer").otherwise("supplier").as("node_type"),
      expr("node div 2").as("node_key"),
      $"hops")
      .orderBy($"hops", $"node_type", $"node_key")
  }

  /** Bounded-depth reachability as a recursive CTE: UNION dedupes exact
    * (node, hops) pairs so the recursion terminates; MIN(hops) per node
    * afterwards is exactly BFS distance.
    */
  val sp01Oracle: String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS sn
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
       |edges AS (SELECT c AS src, sn AS dst FROM pairs
       |          UNION ALL
       |          SELECT sn AS src, c AS dst FROM pairs),
       |sources AS (
       |  SELECT DISTINCT s.s_suppkey * 2 + 1 AS node
       |  FROM supplier s
       |  JOIN nation n ON s.s_nationkey = n.n_nationkey
       |  JOIN region r ON n.n_regionkey = r.r_regionkey
       |  WHERE r.r_name = 'EUROPE'
       |    AND EXISTS (SELECT 1 FROM edges e WHERE e.src = s.s_suppkey * 2 + 1)),
       |walk(node, hops) AS (
       |  SELECT node, 0 FROM sources
       |  UNION
       |  SELECT e.dst, w.hops + 1
       |  FROM walk w JOIN edges e ON e.src = w.node
       |  WHERE w.hops < $MaxHops)
       |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
       |         AS node_type,
       |       node // 2 AS node_key,
       |       CAST(MIN(hops) AS INT) AS hops
       |FROM walk
       |GROUP BY 1, 2
       |ORDER BY hops, node_type, node_key""".stripMargin

  // ---------------------------------------------------------------------
  // tc01 — triangle counting with degree-ordered orientation
  // ---------------------------------------------------------------------

  /** tc01 — triangle count + global clustering coefficient of the
    * supplier co-supply graph (edge = two suppliers whose co-supply count
    * lands in the TOP DECILE of pair strengths — a quantile threshold, so
    * the graph has comparable density at every SF even though absolute
    * co-occurrence counts scale inversely with supplier count).
    *
    * The algorithm is the classic distributed-triangle recipe whose work
    * is bounded regardless of skew:
    *  1. orient every undirected edge from its (degree, id)-SMALLER
    *     endpoint to the larger — a total order, so the oriented graph is
    *     acyclic and each triangle has exactly ONE apex with two
    *     out-edges. Out-degrees are bounded by O(√m) however skewed the
    *     raw degrees are, which is the whole point: the wedge self-join
    *     is Σ outdeg², not Σ deg².
    *  2. wedges = oriented ⋈ oriented on the shared apex (equi-join).
    *  3. close each wedge against the CANONICAL (s1 < s2) undirected edge
    *     list — an equi-join on both endpoints, never an OR-join (the
    *     OR form degenerates to a nested loop; measured 90× slower).
    *
    * The decile threshold comes from a cume_dist-style scan over the
    * HISTOGRAM of co-occurrence counts (≤ max-count rows, a few dozen),
    * not over the raw pair relation — the one place a naive form would
    * put a global single-partition window on an edge-scale relation. The
    * 90th-percentile test is the integer compare 10·cum ≥ 9·total, exact
    * in both engines (no 0.9 double literal anywhere).
    */
  /** The canonical (s1 < s2) co-supply decile edge list shared by tc01 and
    * kc01: supplier pairs whose co-supply count lands in the top decile of
    * pair strengths. Cached — both consumers iterate/join it repeatedly.
    */
  def coSupplyEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(s, dir)
    // per-order SORTED supplier array FIRST, then a local pair explode:
    // for index pairs i < j of the sorted multiset, every (ss[i], ss[j])
    // with ss[i] < ss[j] is exactly one lineitem pair with s1 < s2, so the
    // (s1, s2) counts are bit-identical to the co-occurrence join — while
    // lineitem is scanned once, NOTHING is joined, and the whole build is
    // two exchanges (groupBy ok, groupBy (s1, s2)) with no intermediate
    // cache/count job (round 13: replaced the cached (ok, sk, c)
    // multiplicity relation + weighted self-join form — guide §2.3
    // aggregate-before-shuffle taken one step further: the quadratic
    // expansion is per-order-local and orders are bounded-size, so it
    // never touches a shuffle). posexplode + slice stay whole-stage
    // codegen; sort_array makes collect_list order-deterministic.
    val co = graft.util.Eager.cached(
      li.select($"l_orderkey".as("ok"), $"l_suppkey".as("sk"))
        .groupBy($"ok").agg(sort_array(collect_list($"sk")).as("ss"))
        .select(posexplode($"ss").as(Seq("i", "s1")), $"ss")
        .select($"s1", explode(slice($"ss", $"i" + 2, size($"ss"))).as("s2"))
        .filter($"s1" < $"s2") // sorted ⇒ drops only equal-supplier pairs
        .groupBy($"s1", $"s2").agg(count(lit(1)).as("n")))
    // decile threshold over the count HISTOGRAM (tiny), not the pairs
    val histW = Window.orderBy($"n").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val allW = Window.partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    val thr = co.groupBy($"n").agg(count(lit(1)).as("cnt"))
      .select($"n", sum($"cnt").over(histW).as("cum"), sum($"cnt").over(allW).as("tot"))
      .filter($"cum" * 10 >= $"tot" * 9)
      .agg(min($"n").as("t"))
    graft.util.Eager.cached(
      co.crossJoin(broadcast(thr)).filter($"n" >= $"t").select($"s1", $"s2"))
  }

  /** The shared CTE prefix of the co-supply decile graph (tc01/kc01 oracles). */
  private val coSupplySql: String =
    """co AS (
      |  SELECT a.l_suppkey AS s1, b.l_suppkey AS s2, COUNT(*) AS n
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      |  GROUP BY s1, s2
      |), hist AS (
      |  SELECT n, COUNT(*) AS cnt FROM co GROUP BY n
      |), thr AS (
      |  SELECT MIN(n) AS t FROM (
      |    SELECT n, SUM(cnt) OVER (ORDER BY n) AS cum, SUM(cnt) OVER () AS tot
      |    FROM hist) WHERE cum * 10 >= tot * 9
      |), edges AS (
      |  SELECT s1, s2 FROM co WHERE n >= (SELECT t FROM thr)
      |)""".stripMargin

  def tc01(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = coSupplyEdges(s, dir)
    // deg is Eager-cached (round 14): uncached it re-aggregated for d1, d2,
    // nVertices and nWedges (4 computations per execution), and its
    // agg-over-union stats kept the orientation joins off the broadcast
    // path. Supplier-cardinality cache, one count job. Interleaved same-JVM
    // A/B at sf0.1 (clean reps): wall ~5.7 → ~4.3 s, process CPU ~57 →
    // ~36 s.
    val deg = graft.util.Eager.cached(
      edges.select($"s1".as("v")).unionByName(edges.select($"s2".as("v")))
        .groupBy($"v").agg(count(lit(1)).as("d")))
    val d1 = deg.select($"v".as("v1"), $"d".as("da"))
    val d2 = deg.select($"v".as("v2"), $"d".as("db"))
    val oriented = graft.util.Eager.cached(
      edges.join(d1, $"s1" === $"v1").join(d2, $"s2" === $"v2")
        .select(
          when(struct($"da", $"s1") < struct($"db", $"s2"), $"s1").otherwise($"s2").as("u"),
          when(struct($"da", $"s1") < struct($"db", $"s2"), $"s2").otherwise($"s1").as("v")))
    val w1 = oriented.select($"u".as("ua"), $"v".as("va"))
    val w2 = oriented.select($"u".as("ub"), $"v".as("vb"))
    val wedges = w1.join(w2, $"ua" === $"ub" && $"va" < $"vb")
      .select($"va".as("wx"), $"vb".as("wy"))
    // the same (wx, wy) pair recurs once per distinct apex — each is its
    // own triangle. left_semi keeps that left multiplicity (edges are
    // unique on (s1, s2), so it cannot multiply rows either way).
    val nTriangles = wedges
      .join(edges, $"wx" === $"s1" && $"wy" === $"s2", "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val nVertices = deg.agg(count(lit(1)).as("n_vertices"))
    val nEdges = edges.agg(count(lit(1)).as("n_edges"))
    val nWedges = deg.agg(sum(expr("d * (d - 1) div 2")).as("n_open_wedges"))
    nVertices.crossJoin(nEdges).crossJoin(nWedges).crossJoin(nTriangles)
      .select($"n_vertices", $"n_edges", $"n_open_wedges", $"n_triangles",
        expr("(3 * n_triangles * 1000000) div n_open_wedges").as("clustering_ppm"))
  }

  val tc01Oracle: String =
    s"""WITH $coSupplySql, deg AS (
      |  SELECT v, COUNT(*) AS d FROM (
      |    SELECT s1 AS v FROM edges UNION ALL SELECT s2 AS v FROM edges) GROUP BY v
      |), oriented AS (
      |  SELECT CASE WHEN (d1.d, e.s1) < (d2.d, e.s2) THEN e.s1 ELSE e.s2 END AS u,
      |         CASE WHEN (d1.d, e.s1) < (d2.d, e.s2) THEN e.s2 ELSE e.s1 END AS v
      |  FROM edges e JOIN deg d1 ON d1.v = e.s1 JOIN deg d2 ON d2.v = e.s2
      |), wedge AS (
      |  SELECT a.v AS wx, b.v AS wy
      |  FROM oriented a JOIN oriented b ON a.u = b.u AND a.v < b.v
      |), tri AS (
      |  SELECT COUNT(*) AS n_triangles
      |  FROM wedge WHERE EXISTS (
      |    SELECT 1 FROM edges WHERE s1 = wx AND s2 = wy)
      |)
      |SELECT (SELECT COUNT(*) FROM deg) AS n_vertices,
      |  (SELECT COUNT(*) FROM edges) AS n_edges,
      |  (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_open_wedges,
      |  n_triangles,
      |  CAST((3 * n_triangles * 1000000) //
      |    (SELECT SUM(d * (d - 1) // 2) FROM deg) AS BIGINT) AS clustering_ppm
      |FROM tri""".stripMargin

  // ---------------------------------------------------------------------
  // kc01 — k-core decomposition by bounded-round peeling
  // ---------------------------------------------------------------------

  /** Core order for kc01 — high enough that the decile co-supply graph
    * actually sheds nodes (a cascade, not a no-op), low enough that a core
    * survives at the gate SF.
    */
  val CoreK = 4

  /** Fixed peel-round budget. Peeling removes ≥ 1 node per non-converged
    * round on the cascade path; 8 rounds converge at every tested SF
    * (KCoreSpec asserts the fixpoint), and the FIXED bound is what keeps
    * the oracle expressible as chained CTEs (the pr01 posture — recursive
    * SQL cannot re-aggregate degrees per round) and both engines
    * bit-identical by construction even on a corpus where 8 rounds is NOT
    * yet the fixpoint: the output is defined as "the round-8 peel state",
    * which is a superset of the true k-core and equals it at convergence.
    */
  val CoreRounds = 8

  /** Bounded-round k-core peel (Seidman 1983; the batch form of the
    * Matula–Beck peeling order) over a DIRECTED edge list that encodes an
    * undirected graph both ways (the pr01 convention, so out-degree =
    * partner count). Round r: restrict edges to both-endpoints-alive
    * (two left_semi equi joins — never a visited-set anti join growing with
    * the graph), recount out-degrees (one partial-agg shuffle), keep
    * nodes with deg ≥ k. Returns round-R survivors with their within-core
    * degree.
    *
    * Scale shape: the edge list is cached ONCE on the loop's child session
    * (width data-derived via [[graft.util.Fixpoint.width]], the d06/pr01
    * pattern); per-round shuffle work is |alive edges| and shrinks
    * monotonically; alive sets are node-cardinality and lineage-cut per
    * round; nothing driver-side ever sees an edge. At 100 TB the peel is
    * R× the cost of a degree count — the same "few bounded supersteps"
    * envelope as BFS/CC, and each round's semi joins reuse the cached edge
    * partitioning.
    *
    * Why it matters for a training-data pipeline: coreness is the standard
    * density/authority cut one level up from degree — "drop sources not in
    * the k-core of the citation/link graph" survives degree spam that a
    * plain degree threshold does not (a spam hub has high degree but its
    * neighborhood collapses under peeling).
    */
  def kCore(edgesIn: DataFrame, k: Int = CoreK,
      rounds: Int = CoreRounds): DataFrame =
    Fixpoint.run("kCore", edgesIn.select("src", "dst")) { in =>
      kCoreLoop(in.head, k, rounds)
    }

  private def kCoreLoop(edgesIn: DataFrame, k: Int,
      rounds: Int): (DataFrame, Int) = {
    val s = edgesIn.sparkSession
    import s.implicits._
    // src-partitioned at the loop width (the bfsLoop/lpaLoop layout): the
    // per-round degree count keys on src and both semi-join probes are
    // broadcast-shaped, so the cache's partition count IS the per-round
    // scan task count — inheriting the parent-width union's 2× layout just
    // multiplies task-launch overhead across the peel rounds
    val edges = graft.util.Eager.cached(edgesIn.repartition($"src"))
    def aliveEdges(alive: DataFrame): DataFrame = edges
      .join(alive.select($"node".as("src")), Seq("src"), "left_semi")
      .join(alive.select($"node".as("dst")), Seq("dst"), "left_semi")
    var alive = edges.select($"src".as("node")).distinct().localCheckpoint()
    var aliveN = alive.count()
    for (r <- 1 to rounds) {
      val withDeg = aliveEdges(alive)
        .groupBy($"src").agg(count(lit(1)).as("core_deg"))
        .filter($"core_deg" >= k)
        .select($"src".as("node"), $"core_deg")
        .localCheckpoint()
      val n = withDeg.count()
      if (n == aliveN) {
        // FIXPOINT early exit: the alive set only ever shrinks, so equal
        // SIZE implies equal SET — and this round's degrees were counted
        // against exactly that set, so they already ARE the within-core
        // degrees. Skips the remaining rounds and the final recount; the
        // output is bit-identical to running the full budget (extra peel
        // rounds on a fixpoint are no-ops), which is why the 8-round
        // unrolled oracle still matches. Wall-clock is now proportional
        // to the CASCADE DEPTH of the data, not the worst-case budget
        // (sf0.1: 7.5 s → ~2 s; the count() per round is a trivial job
        // on the just-checkpointed node-cardinality relation).
        return (withDeg, r)
      }
      alive = withDeg.select($"node")
      aliveN = n
    }
    // round budget exhausted before convergence: the documented
    // bounded-round contract — recount degrees within the final set
    (aliveEdges(alive)
      .groupBy($"src").agg(count(lit(1)).as("core_deg"))
      .select($"src".as("node"), $"core_deg"), rounds)
  }

  /** kc01 — the [[CoreK]]-core of the supplier co-supply decile graph
    * (tc01's edge set): which suppliers sit in a densely interlocked
    * co-supply community after iteratively shedding weakly-connected ones.
    */
  def kc01(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = coSupplyEdges(s, dir)
    val edges = base.select($"s1".as("src"), $"s2".as("dst"))
      .unionByName(base.select($"s2".as("src"), $"s1".as("dst")))
    kCore(edges)
      .select($"node".as("s_suppkey"), $"core_deg")
      .orderBy($"core_deg".desc, $"s_suppkey")
  }

  /** The identical peel unrolled: a0 = all nodes; a_r = nodes whose degree
    * within the a_{r-1}-induced subgraph is ≥ k. Every a_r is
    * AS MATERIALIZED: each round references its predecessor TWICE (src- and
    * dst-side), so DuckDB's default CTE inlining would expand 2^rounds
    * copies of the whole chain (observed: minutes at sf0.01 vs ms
    * materialized; pr01's single-reference chain never hit this).
    */
  val kc01Oracle: String = {
    val rounds = (1 to CoreRounds).map { r =>
      s"""a$r AS MATERIALIZED (
         |  SELECT e.src AS node FROM dedges e
         |  JOIN a${r - 1} x ON e.src = x.node
         |  JOIN a${r - 1} y ON e.dst = y.node
         |  GROUP BY e.src HAVING COUNT(*) >= $CoreK)""".stripMargin
    }.mkString(",\n")
    s"""WITH $coSupplySql,
       |dedges AS MATERIALIZED (
       |           SELECT s1 AS src, s2 AS dst FROM edges
       |           UNION ALL
       |           SELECT s2 AS src, s1 AS dst FROM edges),
       |a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM dedges),
       |$rounds
       |SELECT e.src AS s_suppkey, COUNT(*) AS core_deg
       |FROM dedges e
       |JOIN a$CoreRounds x ON e.src = x.node
       |JOIN a$CoreRounds y ON e.dst = y.node
       |GROUP BY e.src
       |ORDER BY core_deg DESC, s_suppkey""".stripMargin
  }

  // ---------------------------------------------------------------------
  // lp01 — label propagation communities (Raghavan et al. 2007)
  // ---------------------------------------------------------------------

  /** Fixed synchronous-round budget for [[labelPropagation]]. LPA on
    * near-clique communities converges in a handful of rounds; the FIXED
    * bound keeps the oracle chained-CTE-expressible (the kc01 argument)
    * and both engines bit-identical even on graphs where synchronous LPA
    * oscillates (bipartite flip, period 2): the output is DEFINED as the
    * round-[[LpaRounds]] state, which a deterministic tie rule makes a
    * pure function of the edge set.
    */
  val LpaRounds = 5

  /** Synchronous label propagation over a directed edge list (an
    * undirected graph is passed both ways, the pr01/kc01 convention): every
    * node starts as its own label; each round every node adopts the most
    * frequent label among its in-neighbors, ties broken toward the
    * SMALLEST label (the determinism rule — Raghavan's random tie-break
    * would never cross engines). Returns (node, lbl) after [[LpaRounds]]
    * rounds.
    *
    * Scale shape: the edge list is cached once, pre-partitioned by src on
    * the loop's child session (width data-derived via
    * [[graft.util.Fixpoint.width]]); each round is one join against the
    * node-cardinality label vector (reusing the edge partitioning), one
    * (dst, lbl) partial-agg shuffle, and one per-dst argmax collapse —
    * the (cnt, −lbl) struct-max, so the tie rule rides the aggregate
    * instead of a window sort. Label vectors are node-cardinality and
    * lineage-cut per round. Communities are the fourth answer the graph
    * quartet gives a curation pipeline: d06 membership (connectivity),
    * pr01 authority, sp01 proximity, kc01 density — lp01 adds MESOSCALE
    * grouping (which sources cluster together) without any density
    * threshold to tune.
    *
    * Any directed edge list is accepted. On an asymmetric one the node set
    * shifts between rounds (round 0 labels the sources, every later round
    * the destinations reached), and the result is still exactly the
    * round-`rounds` state.
    */
  def labelPropagation(edgesIn: DataFrame, rounds: Int = LpaRounds): DataFrame =
    Fixpoint.run("labelPropagation", edgesIn.select("src", "dst")) { in =>
      lpaLoop(in.head, rounds)
    }

  private def lpaLoop(edgesIn: DataFrame, rounds: Int): (DataFrame, Int) = {
    val s = edgesIn.sparkSession
    import s.implicits._
    val edges = graft.util.Eager.cached(edgesIn.repartition($"src"))
    var labels = edges.select($"src".as("node")).distinct()
      .select($"node", $"node".as("lbl")).localCheckpoint()
    var r = 1
    var fixed = false
    while (r <= rounds && !fixed) {
      val next = edges.join(labels, edges("src") === labels("node"))
        .groupBy($"dst", $"lbl").agg(count(lit(1)).as("cnt"))
        .groupBy($"dst")
        .agg(max(struct($"cnt".as("c"), (-$"lbl").as("nl"))).as("m"))
        .select($"dst".as("node"), (-$"m.nl").as("lbl"))
        .localCheckpoint()
      // FIXPOINT early exit (the kc01/bfs argument): the round function is
      // a deterministic pure function of the label vector, so next == labels
      // makes every later round a provable no-op and the round-`rounds`
      // state the oracle unrolls IS this vector. Full-outer, like
      // pageRank's probe, so equality covers the node SETS too: on an
      // asymmetric edge list a source-only node leaves `next` and a
      // sink-only one enters it, and either null side vetoes the exit.
      // One node-cardinality join + take(1), far below one edge-scale round.
      if (r < rounds) fixed = Fixpoint.same(next, labels, "node", "lbl")
      labels = next
      r += 1
    }
    (labels, r - 1)
  }

  /** lp01 — communities of the supplier co-supply decile graph (tc01/kc01's
    * edge set): per supplier, its converged community label and the
    * community's size. The mesoscale structure report — which supplier
    * groups co-supply as blocs.
    */
  def lp01(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = coSupplyEdges(s, dir)
    val edges = base.select($"s1".as("src"), $"s2".as("dst"))
      .unionByName(base.select($"s2".as("src"), $"s1".as("dst")))
    val lbls = labelPropagation(edges)
    val sizes = lbls.groupBy($"lbl").agg(count(lit(1)).as("community_size"))
    lbls.join(sizes, "lbl")
      .select($"node".as("s_suppkey"), $"lbl".as("community"), $"community_size")
      .orderBy($"s_suppkey")
  }

  /** The identical rounds unrolled; the per-round argmax is the
    * ROW_NUMBER-over-aggregate form (window functions evaluate after
    * GROUP BY), ordered (cnt DESC, lbl ASC) to encode the same tie rule.
    */
  val lp01Oracle: String = {
    val rounds = (1 to LpaRounds).map { r =>
      s"""l$r AS MATERIALIZED (
         |  SELECT node, lbl FROM (
         |    SELECT e.dst AS node, p.lbl,
         |      ROW_NUMBER() OVER (PARTITION BY e.dst
         |        ORDER BY COUNT(*) DESC, p.lbl ASC) AS rn
         |    FROM dedges e JOIN l${r - 1} p ON p.node = e.src
         |    GROUP BY e.dst, p.lbl) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $coSupplySql,
       |dedges AS MATERIALIZED (
       |           SELECT s1 AS src, s2 AS dst FROM edges
       |           UNION ALL
       |           SELECT s2 AS src, s1 AS dst FROM edges),
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM dedges),
       |$rounds,
       |sizes AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS community_size
       |          FROM l$LpaRounds GROUP BY lbl)
       |SELECT l.node AS s_suppkey, l.lbl AS community, s.community_size
       |FROM l$LpaRounds l JOIN sizes s USING (lbl)
       |ORDER BY s_suppkey""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("pr01_pagerank", pr01, Some(pr01Oracle)),
    Q("sp01_bfs_hops", sp01, Some(sp01Oracle)),
    Q("tc01_triangle_count", tc01, Some(tc01Oracle)),
    Q("kc01_kcore", kc01, Some(kc01Oracle)),
    Q("lp01_label_propagation", lp01, Some(lp01Oracle)),
  )
}
