package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.Q

/** Deduplication operators over `documents` (BASELINE.json north star:
  * exact, MinHash+LSH, SimHash, n-gram Jaccard).
  *
  * Scale design: every stage is a standard shuffle-bounded pipeline —
  *  - exact: one groupBy on a 128-bit content hash (no text comparison ever
  *    crosses the wire, only (hash, id) pairs).
  *  - MinHash LSH: shingle explode → one groupBy(doc) for signatures →
  *    band explode → one groupBy(band-bucket) → pair join. Candidate count
  *    is governed by band geometry (16 bands × 4 rows ≈ s-curve @ J≈0.6),
  *    never by |docs|²; the only quadratic work happens INSIDE a bucket.
  *  - SimHash: one groupBy(doc) for the 64-bit signature; pairing via
  *    16-bit chunk banding (pigeonhole: hamming ≤ 3 ⇒ some chunk equal).
  *  - All hashing is codegen'd Catalyst expressions, no UDFs: xxhash64 for
  *    engine-internal keys (LSH band buckets), md5 where a DuckDB oracle
  *    recomputes the hash (exact dedup, SimHash votes).
  */
object Dedup {

  val NumPerms = 64
  val Bands = 16
  val RowsPerBand = 4 // NumPerms / Bands
  val ShingleSize = 3

  import TextAnalysis.normalize

  /** Word n-gram shingle set (distinct) of the canonical text. */
  def shingleArray(text: Column, n: Int = ShingleSize): Column = {
    val words = split(normalize(text), " ")
    array_distinct(transform(
      sequence(lit(0), greatest(size(words) - n, lit(0))),
      i => concat_ws(" ", slice(words, i + 1, lit(n)))))
  }


  /** Exact-dedup groups: canonical-text MD5 → keep lowest doc_id per group. */
  def d01Groups(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(normalize(col("text"))).as("fingerprint"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))

  /** d01 — exact dedup over the documents table. */
  def d01(s: SparkSession, dir: String): DataFrame =
    d01Groups(Tables.documents(s, dir))

  val d01Oracle: String =
    """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
      |  MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin


  /** MinHash signatures: 64 permutations over the shingle set, computed in a
    * single NARROW pass (mapPartitions — the sanctioned last resort,
    * SURVEY.md §4, and justified by measurement: the declarative
    * explode + 64-way min-agg formulation spends ~10× the time inside
    * interpreted higher-order-function lambdas building shingle strings).
    * Per doc: word split → one md5 per distinct shingle → 64
    * Kirsch–Mitzenstein permutation mins `(h1 + p·h2) mod (2³¹−1)`, all in
    * registers; no explode blow-up, no shuffle at all.
    *
    * The permutation family is md5-seeded arithmetic — not a JVM-only mixer
    * — precisely so a SQL oracle can recompute the whole signature matrix:
    * h1/h2 are the first two big-endian 32-bit words of md5(shingle)
    * (`('0x' || substring(md5(s), 1|9, 8))::BIGINT` in DuckDB), and the
    * modular form never exceeds 63·2³² ≪ 2⁶³, so vanilla BIGINT arithmetic
    * reproduces it without overflow in any engine.
    */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    val session = docs.sparkSession
    import session.implicits._
    val n = NumPerms
    val sz = ShingleSize
    // spread before the narrow pass: mapPartitions inherits the scan's
    // split count, and a single-split corpus would run the whole signature
    // matrix in one task (scale-adaptive — identity at real split counts)
    graft.util.Spread.toWidth(
      docs.select(col("doc_id").cast("long"), col("text")), col("doc_id"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          // normalizeJvm mirrors the SQL normalize pipeline exactly (SQL
          // trim strips spaces only; String.trim would strip all chars
          // <= 0x20 and break the oracle on tab-edged docs); split keeps
          // empty tokens like string_split does
          val words = TextAnalysis.normalizeJvm(text).split(" ", -1)
          val sig = Array.fill(n)(Long.MaxValue)
          val seen = new java.util.HashSet[String]()
          val last = math.max(words.length - sz, 0)
          var i = 0
          while (i <= last) {
            val end = math.min(i + sz, words.length)
            val sb = new java.lang.StringBuilder()
            var k = i
            while (k < end) {
              if (k > i) sb.append(' ')
              sb.append(words(k))
              k += 1
            }
            val shingle = sb.toString
            if (seen.add(shingle)) { // distinct shingles only
              md.reset()
              val d = md.digest(shingle.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              val h1 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
                ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
              val h2 = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
                ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
              // (h1 + p·h2) mod M computed INCREMENTALLY: v_{p+1} = v_p +
              // (h2 mod M), single conditional subtract (both terms < M).
              // Bit-identical to the closed form — modular addition is
              // exact — at an add+compare per permutation instead of a
              // 64-bit multiply + divide (guide §1.2 step 2: this loop is
              // permutations × shingles × corpus, the hottest arithmetic
              // in the whole dedup family)
              val h2m = h2 % 2147483647L
              var v = h1 % 2147483647L
              var p = 0
              while (p < n) {
                if (v < sig(p)) sig(p) = v
                v += h2m
                if (v >= 2147483647L) v -= 2147483647L
                p += 1
              }
            }
            i += 1
          }
          (id, sig)
        }
      }
      .toDF("doc_id", "sig")
  }

  /** LSH candidate pairs: equal band-hash in ≥1 of the 16 bands; estimated
    * Jaccard = matching signature positions / 64.
    */
  def minhashCandidates(sigs: DataFrame): DataFrame = {
    val bandHashes = transform(
      sequence(lit(0), lit(Bands - 1)),
      b => xxhash64(b, slice(col("sig"), b * RowsPerBand + 1, lit(RowsPerBand))))
    val bands = sigs.select(col("doc_id"),
      posexplode(bandHashes).as(Seq("band", "bucket")))
    val pairs = bands.groupBy(col("band"), col("bucket"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a") < col("b"))
      .select("a", "b")
      .distinct()
    // unrolled 64-term comparison sum instead of zip_with + aggregate: the
    // HOF pair evaluates INTERPRETED lambdas per element (no whole-stage
    // codegen), while element_at on a fixed index codegens to an array
    // access — guide §1.2 step 2, eliminate non-codegen expressions in the
    // hot path (every candidate pair pays this once)
    val estEq = (0 until NumPerms).map { i =>
      when(element_at(col("sig_a"), i + 1) === element_at(col("sig_b"), i + 1), 1)
        .otherwise(0)
    }.reduce(_ + _)
    pairs
      .join(sigs.select(col("doc_id").as("a"), col("sig").as("sig_a")), Seq("a"))
      .join(sigs.select(col("doc_id").as("b"), col("sig").as("sig_b")), Seq("b"))
      .select(col("a"), col("b"), (estEq.cast("double") / NumPerms).as("est_jaccard"))
  }

  /** Shared oracle CTE prefix: recompute the full signature matrix in SQL —
    * distinct word-trigram shingles, md5-seeded h1/h2, 64 modular
    * permutation mins as columns s0..s63.
    */
  /** Word-shingle CTEs (w/sh0/sh) alone — reused by t10's verify oracle. */
  private[ops] def shingleCtes: String =
    s"""w AS (SELECT doc_id,
       |  string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws
       |  FROM documents),
       |sh0 AS (SELECT doc_id, ws,
       |  unnest(range(1, greatest(len(ws) - ${ShingleSize - 1}, 1) + 1)) AS i FROM w),
       |sh AS (SELECT DISTINCT doc_id,
       |  array_to_string(list_filter([ws[i], ws[i+1], ws[i+2]], x -> x IS NOT NULL), ' ') AS shingle
       |  FROM sh0)""".stripMargin

  private def sigCtes: String = {
    val mins = (0 until NumPerms)
      .map(p => s"MIN((h1 + $p*h2) % 2147483647) AS s$p").mkString(", ")
    s"""WITH $shingleCtes,
       |hv AS (SELECT doc_id,
       |  ('0x' || substring(md5(shingle), 1, 8))::BIGINT AS h1,
       |  ('0x' || substring(md5(shingle), 9, 8))::BIGINT AS h2 FROM sh),
       |sig AS (SELECT doc_id, $mins FROM hv GROUP BY doc_id)""".stripMargin
  }

  /** OR-of-bands join condition: some 4-row band fully equal. */
  private def bandCond: String =
    (0 until Bands).map { b =>
      (0 until RowsPerBand).map(r => s"x.s${RowsPerBand * b + r} = y.s${RowsPerBand * b + r}")
        .mkString("(", " AND ", ")")
    }.mkString(" OR ")

  /** d02 — MinHash LSH near-dup candidates. Hash-checked end to end: the
    * DuckDB oracle recomputes every shingle, both md5 hash words, all 64
    * permutation minima, the 16-band agreement predicate, and the estimated
    * Jaccard — the one (astronomically unlikely) divergence left is an
    * xxhash64 collision between different 4-row band slices in the Spark
    * bucketing. TextDedupSpec additionally plants near-duplicates.
    */
  def d02(s: SparkSession, dir: String): DataFrame = {
    // cached: minhashCandidates reads the signature relation three times
    // (band explode + both pair-side joins) — uncached, the mapPartitions
    // signature pass runs 3×. At sf0.1 the saving is hidden by plan
    // compilation, but at corpus scale the signature scan IS the dominant
    // cost and must run once
    val sigs = graft.util.Eager.cached(minhashSignatures(Tables.documents(s, dir)))
    minhashCandidates(sigs).orderBy(col("a"), col("b"))
  }

  /** d02's oracle with an optional extra pair predicate — so composers
    * (i01's delta-only restriction) extend the JOIN structurally instead of
    * editing the SQL text (round-5 advice: a String.replace on "ORDER BY
    * a, b" breaks silently the day this query grows another ordered clause).
    */
  def d02OracleWhere(pairPredicate: Option[String]): String = {
    val est = (0 until NumPerms)
      .map(p => s"(CASE WHEN x.s$p = y.s$p THEN 1 ELSE 0 END)").mkString(" + ")
    val extra = pairPredicate.map(p => s"\n  AND ($p)").getOrElse("")
    s"""$sigCtes
       |SELECT x.doc_id AS a, y.doc_id AS b,
       |  CAST(($est) AS DOUBLE) / $NumPerms AS est_jaccard
       |FROM sig x JOIN sig y ON x.doc_id < y.doc_id AND ($bandCond)$extra
       |ORDER BY a, b""".stripMargin
  }

  val d02Oracle: String = d02OracleWhere(None)

  /** SimHash (64-bit) per document: per-bit ±1 votes over word hashes.
    *
    * The word hash is the first 64 bits of md5 (two 32-bit halves), not
    * xxhash64: md5 is available verbatim in DuckDB, which makes the WHOLE
    * signature — not just its plumbing — cross-engine hash-checkable
    * (d03's oracle recomputes every vote in SQL). Cost is one extra
    * codegen'd hash per distinct word; the aggregation shape (one groupBy
    * per doc over exploded distinct words, 64 packed SUM votes) is
    * unchanged.
    */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    val votes = (0 until 64).map { b =>
      val half = if (b < 64 / 2) col("lo") else col("hi")
      sum(when(shiftright(half, b % 32).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"b$b")
    }
    val assembled = (0 until 64).map { b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce((a, c) => a.bitwiseOR(c))
    // spread before the word explode (guide §2.5): the md5 voting and its
    // map-side partial aggregation otherwise run one-task on the
    // single-split corpus (identity at real split counts)
    graft.util.Spread.toWidth(
      docs.select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"),
        explode(array_distinct(split(normalize(col("text")), " "))).as("word"))
      .select(col("doc_id"),
        conv(substring(md5(col("word")), 1, 8), 16, 10).cast("long").as("hi"),
        conv(substring(md5(col("word")), 9, 8), 16, 10).cast("long").as("lo"))
      .groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), assembled.as("simhash"))
  }

  /** Near-dup pairs by Hamming distance ≤ maxHamming, bucketed on the four
    * 16-bit chunks (complete for maxHamming ≤ 3; a recall/cost dial above).
    */
  def simhashPairs(sigs: DataFrame, maxHamming: Int): DataFrame = {
    val chunks = array((0 until 4).map(k =>
      shiftrightunsigned(col("simhash"), k * 16).bitwiseAND(lit(0xFFFFL))): _*)
    val byChunk = sigs.select(col("doc_id"), col("simhash"),
      posexplode(chunks).as(Seq("chunk_idx", "chunk")))
    val pairs = byChunk.groupBy(col("chunk_idx"), col("chunk"))
      .agg(collect_list(struct(col("doc_id"), col("simhash"))).as("members"))
      .filter(size(col("members")) > 1)
      .select(explode(col("members")).as("m1"), col("members"))
      .select(col("m1"), explode(col("members")).as("m2"))
      .filter(col("m1.doc_id") < col("m2.doc_id"))
      .select(col("m1.doc_id").as("a"), col("m1.simhash").as("sh_a"),
        col("m2.doc_id").as("b"), col("m2.simhash").as("sh_b"))
      .distinct()
    pairs
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("a", "b", "hamming")
  }

  /** d03 — per-document SimHash signature + chunk keys. Hash-checked end to
    * end: the DuckDB oracle recomputes every md5-derived word hash, all 64
    * bit votes, and the chunk assembly in SQL (the pair-finding path on top
    * is exercised in TextDedupSpec where near-dups are planted). The hex
    * form is assembled from the four 16-bit chunks so no signed-64-bit
    * formatting quirk can diverge between engines.
    */
  def d03(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val chunk = (k: Int) =>
      shiftrightunsigned($"simhash", 16 * k).bitwiseAND(lit(0xFFFFL))
    simhashSignatures(Tables.documents(s, dir))
      .select($"doc_id", chunk(3).as("chunk3"), chunk(2).as("chunk2"),
        chunk(1).as("chunk1"), chunk(0).as("chunk0"))
      .select($"doc_id",
        concat(Seq(3, 2, 1, 0).map(k =>
          lpad(conv(col(s"chunk$k"), 10, 16), 4, "0")): _*).as("simhash_hex"),
        $"chunk3", $"chunk2", $"chunk1", $"chunk0")
      .orderBy($"doc_id")
  }

  /** The SimHash recomputation CTEs (words → md5 halves → 64 votes →
    * 16-bit chunks), shared by d03's and d08's oracles.
    */
  private def d03Ctes: String = {
    val votes = (0 until 64).map { b =>
      val half = if (b < 32) "lo" else "hi"
      s"SUM(CASE WHEN (($half >> ${b % 32}) & 1) = 1 THEN 1 ELSE -1 END) AS b$b"
    }.mkString(", ")
    val chunk = (k: Int) =>
      (0 until 16).map(j => s"(CASE WHEN b${16 * k + j} > 0 THEN ${1 << j} ELSE 0 END)")
        .mkString(" + ")
    s"""WITH words AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w
       |  FROM documents),
       |h AS (SELECT doc_id,
       |  ('0x' || substring(md5(w), 1, 8))::BIGINT AS hi,
       |  ('0x' || substring(md5(w), 9, 8))::BIGINT AS lo FROM words),
       |v AS (SELECT doc_id, $votes FROM h GROUP BY doc_id),
       |c AS (SELECT doc_id,
       |  CAST(${chunk(3)} AS BIGINT) AS chunk3, CAST(${chunk(2)} AS BIGINT) AS chunk2,
       |  CAST(${chunk(1)} AS BIGINT) AS chunk1, CAST(${chunk(0)} AS BIGINT) AS chunk0 FROM v)""".stripMargin
  }

  /** d03's oracle, generated: the same 64-vote SimHash in pure SQL. */
  val d03Oracle: String =
    s"""$d03Ctes
       |SELECT doc_id,
       |  lpad(to_hex(chunk3), 4, '0') || lpad(to_hex(chunk2), 4, '0')
       |    || lpad(to_hex(chunk1), 4, '0') || lpad(to_hex(chunk0), 4, '0') AS simhash_hex,
       |  chunk3, chunk2, chunk1, chunk0
       |FROM c ORDER BY doc_id""".stripMargin

  /** d08 — the SimHash PAIR stage gated: chunk-banded candidate generation
    * + hamming filter at radius 3, where 4-chunk banding is LOSSLESS by
    * pigeonhole (≤ 3 differing bits cannot touch all 4 16-bit chunks, so
    * every qualifying pair shares at least one chunk bucket) — which is
    * exactly what lets the oracle be the exact all-pairs hamming scan:
    * a hash match proves the banding dropped nothing. Quadratic work
    * stays inside chunk buckets (the d02/d07 shape); radius > 3 needs
    * more/narrower bands (16 × 4-bit catches ≤ 15) — the standard
    * bits-per-band dial.
    */
  def d08(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sigs = graft.util.Eager.cached( // banding reads it 4× in one plan
      simhashSignatures(Tables.documents(s, dir)))
    simhashPairs(sigs, maxHamming = 3).orderBy($"a", $"b")
  }

  val d08Oracle: String = {
    val hamming = (0 until 4)
      .map(k => s"bit_count(xor(x.chunk$k, y.chunk$k))").mkString(" + ")
    s"""${d03Ctes}
       |SELECT x.doc_id AS a, y.doc_id AS b, CAST($hamming AS INT) AS hamming
       |FROM c x JOIN c y ON x.doc_id < y.doc_id
       |WHERE $hamming <= 3
       |ORDER BY a, b""".stripMargin
  }

  /** Exact word-n-gram Jaccard for a pair table (a, b) — set intersection /
    * union over shingle arrays. Used on LSH candidates: the expensive exact
    * measure only ever runs on the candidate set, never all pairs.
    */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame): DataFrame = {
    // shingle ONLY the docs that appear in a candidate pair (left_semi
    // prune): the expensive string-shingle set is built for |candidate docs|
    // rows, not |corpus| rows — at 100 TB the candidate set is orders of
    // magnitude smaller than the corpus
    val candidateIds = pairs.select(col("a").as("doc_id"))
      .union(pairs.select(col("b").as("doc_id")))
      .distinct()
    // cached: both pair-side joins read the shingle sets; the interpreted
    // shingle construction is the expensive part and must run once per doc
    val sets = graft.util.Eager.cached(docs
      .join(candidateIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), shingleArray(col("text")).as("sh")))
    pairs
      .join(sets.select(col("doc_id").as("a"), col("sh").as("sh_a")), Seq("a"))
      .join(sets.select(col("doc_id").as("b"), col("sh").as("sh_b")), Seq("b"))
      .select(col("a"), col("b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
  }

  /** d04 — exact n-gram Jaccard over the MinHash candidate pairs (the
    * verify stage of the near-dup pipeline). Hash-checked: the oracle
    * regenerates d02's candidate pairs and computes the same
    * |∩|/|∪| over distinct shingle sets in SQL.
    */
  def d04(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // two cache points: signatures feed three subtrees of the candidate
    // join; the candidate pairs feed three subtrees of the verify stage
    // (both id-set branches + the pair join) — uncached this multiplies
    val sigs = graft.util.Eager.cached(minhashSignatures(docs))
    val candidates = graft.util.Eager.cached(minhashCandidates(sigs).select("a", "b"))
    ngramJaccard(docs, candidates).orderBy(col("a"), col("b"))
  }

  val d04Oracle: String =
    s"""$sigCtes,
       |cand AS (SELECT x.doc_id AS a, y.doc_id AS b
       |  FROM sig x JOIN sig y ON x.doc_id < y.doc_id AND ($bandCond)),
       |sets AS (SELECT doc_id, list(shingle) AS shs FROM sh GROUP BY doc_id)
       |SELECT a, b,
       |  CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE)
       |    / len(list_distinct(list_concat(sa.shs, sb.shs))) AS jaccard
       |FROM cand
       |JOIN sets sa ON a = sa.doc_id
       |JOIN sets sb ON b = sb.doc_id
       |ORDER BY a, b""".stripMargin

  /** Connected components over an undirected edge list (a, b) by iterative
    * min-label propagation: every node starts labeled with itself; each
    * round every node takes the min of its own and its neighbors' labels,
    * then also adopts the label of its label-holder (pointer jumping). The
    * loop runs until a round lowers no label; labels only fall and come
    * from the finite set of node ids, so it terminates, and the result is
    * exact at any diameter. Pointer jumping shortens some chains but does
    * not bound the round count: on a path whose ids rise away from its
    * minimum, the minimum moves one hop per round, so rounds are
    * O(diameter) in the worst case. Each round is two joins + one groupBy
    * — fully distributed; only the converged? check touches the driver,
    * and localCheckpoint keeps every round's plan O(1) instead of accreting
    * lineage. Large-star/small-star contraction would bound the rounds
    * logarithmically.
    */
  def connectedComponents(edges: DataFrame): DataFrame =
    // the candidate graph is orders of magnitude smaller than the corpus —
    // per-round shuffles are sized to it, not to the session's batch width
    graft.util.Fixpoint.run("connectedComponents", edges.toDF("a", "b")) { in =>
      connectedComponentsLoop(in.head)
    }

  private def connectedComponentsLoop(edges: DataFrame): (DataFrame, Int) = {
    val sym = edges.select(col("a"), col("b"))
      .union(edges.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint()
    val nodes = sym.select(col("a").as("id")).distinct()
    var labels = nodes.withColumn("comp", col("id")).localCheckpoint()
    // self-loop rows (one per node, read off the already-materialized label
    // checkpoint — no extra job) make the neighborhood min below include
    // the node's own label, so the old per-round `labels ⋈ nmin` left join
    // that merged "own comp" back in disappears outright (guide §2.4 —
    // remove shuffles: one join with its exchanges per round, gone). The
    // same self row doubles as the carrier of the round's STARTING label
    // (`old`, for the convergence probe): a === b exactly on self rows, so
    // the conditional min picks out precisely the node's own comp.
    val symSelf = sym
      .unionByName(labels.select(col("id").as("a"), col("id").as("b")))
    var changed = true
    var rounds = 0
    while (changed) {
      // 1) min label over the neighborhood INCLUDING self (see symSelf)
      val afterN = symSelf.join(labels, symSelf("a") === labels("id"))
        .groupBy(symSelf("b").as("id"))
        .agg(min(col("comp")).as("comp"),
          min(when(col("a") === col("b"), col("comp"))).as("old"))
      // 2) pointer jump: also adopt the label of the current label-holder,
      //    which skips ahead along chains whose labels point onward (it does
      //    not bound the round count; see the scaladoc)
      val byId = afterN.select(col("id").as("jid"), col("comp").as("jcomp"))
      val jumped = afterN.join(byId, afterN("comp") === byId("jid"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("jcomp"), col("comp"))).as("comp"),
          col("old"))
        .localCheckpoint() // eager: truncates lineage so plans stay O(1) per round
      // labels only ever decrease, so "no label improved" is exactly the
      // old fixpoint condition; isEmpty take(1)-scans the checkpoint
      changed = !jumped.filter(col("comp") < col("old")).isEmpty
      labels = jumped.select(col("id"), col("comp"))
      rounds += 1
    }
    (labels, rounds)
  }

  /** d06 — near-duplicate CLUSTERS: strong MinHash candidates
    * (est_jaccard ≥ 0.5) treated as edges, components extracted, every
    * member labeled with its cluster id (min doc_id) and cluster size —
    * the form a dedup pipeline actually materializes (keep one per
    * cluster), not raw pairs. Oracle: the same edge set fed through a
    * recursive-SQL transitive closure.
    */
  def d06(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sigs = graft.util.Eager.cached(minhashSignatures(Tables.documents(s, dir)))
    val edges = graft.util.Eager.cached(minhashCandidates(sigs)
      .filter($"est_jaccard" >= 0.5)
      .select("a", "b"))
    val comps = connectedComponents(edges)
    val sizes = comps.groupBy($"comp").agg(count(lit(1)).as("cluster_size"))
    comps.join(sizes, Seq("comp"))
      .select($"id".as("doc_id"), $"comp".as("cluster_id"), $"cluster_size")
      .orderBy($"doc_id")
  }

  val d06Oracle: String = {
    val est = (0 until NumPerms)
      .map(p => s"(CASE WHEN x.s$p = y.s$p THEN 1 ELSE 0 END)").mkString(" + ")
    s"""${sigCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |cand AS (SELECT x.doc_id AS a, y.doc_id AS b
       |  FROM sig x JOIN sig y ON x.doc_id < y.doc_id AND ($bandCond)
       |  WHERE CAST(($est) AS DOUBLE) / $NumPerms >= 0.5),
       |nodes AS (SELECT a AS id FROM cand UNION SELECT b FROM cand),
       |sym AS (SELECT a, b FROM cand UNION SELECT b AS a, a AS b FROM cand),
       |reach AS (
       |  SELECT id, id AS comp FROM nodes
       |  UNION
       |  SELECT s.b AS id, r.comp FROM reach r JOIN sym s ON s.a = r.id),
       |comp AS (SELECT id, MIN(comp) AS cluster_id FROM reach GROUP BY id)
       |SELECT id AS doc_id, cluster_id,
       |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |FROM comp ORDER BY doc_id""".stripMargin
  }

  /** c02 — the dedup CONSOLIDATION record a training pipeline materializes
    * when it deduplicates a corpus: per near-dup cluster, the kept
    * representative (min doc_id — exactly what the min-label components
    * converge to), the cluster size, the sorted dropped ids, and the bytes
    * the drop saves. This is the decision log that makes a dedup run
    * auditable/reversible — the piece d02→d04→d06 stop short of. Only
    * cluster members reach the per-cluster aggregation; the corpus outside
    * the candidate graph is untouched (at 100 TB: the log is
    * candidate-graph-sized, the kept corpus is an anti-join against it).
    * Oracle: recursive-SQL closure → same per-cluster aggregates.
    */
  def c02(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sigs = graft.util.Eager.cached(minhashSignatures(Tables.documents(s, dir)))
    val edges = graft.util.Eager.cached(minhashCandidates(sigs)
      .filter($"est_jaccard" >= 0.5)
      .select("a", "b"))
    val comps = graft.util.Eager.cached( // sizes + drops subtrees
      connectedComponents(edges))
    val sizes = comps.groupBy($"comp").agg(count(lit(1)).as("cluster_size"))
    val drops = comps.filter($"id" =!= $"comp")
      .join(Tables.documents(s, dir).select($"doc_id".as("id"), length($"text").as("len")),
        Seq("id"))
      .groupBy($"comp")
      .agg(
        // serialized to a canonical CSV string (numeric sort, then cast):
        // the driver's comparator sorts rows by every column and cannot
        // hash/sort native ARRAY cells (q36 precedent)
        expr("array_join(transform(sort_array(collect_list(id)), x -> cast(x AS string)), ',')")
          .as("dropped_ids"),
        sum($"len").as("saved_chars"),
      )
    sizes.join(drops, Seq("comp"))
      .select($"comp".as("kept_doc_id"), $"cluster_size", $"dropped_ids",
        $"saved_chars")
      .orderBy($"kept_doc_id")
  }

  val c02Oracle: String = {
    val est = (0 until NumPerms)
      .map(p => s"(CASE WHEN x.s$p = y.s$p THEN 1 ELSE 0 END)").mkString(" + ")
    s"""${sigCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |cand AS (SELECT x.doc_id AS a, y.doc_id AS b
       |  FROM sig x JOIN sig y ON x.doc_id < y.doc_id AND ($bandCond)
       |  WHERE CAST(($est) AS DOUBLE) / $NumPerms >= 0.5),
       |nodes AS (SELECT a AS id FROM cand UNION SELECT b FROM cand),
       |sym AS (SELECT a, b FROM cand UNION SELECT b AS a, a AS b FROM cand),
       |reach AS (
       |  SELECT id, id AS comp FROM nodes
       |  UNION
       |  SELECT s.b AS id, r.comp FROM reach r JOIN sym s ON s.a = r.id),
       |comp AS (SELECT id, MIN(comp) AS cluster_id FROM reach GROUP BY id),
       |sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id),
       |drops AS (SELECT cluster_id,
       |    array_to_string(list_sort(list(id)), ',') AS dropped_ids,
       |    CAST(SUM(length(d.text)) AS BIGINT) AS saved_chars
       |  FROM comp JOIN documents d ON comp.id = d.doc_id
       |  WHERE comp.id <> comp.cluster_id GROUP BY cluster_id)
       |SELECT s.cluster_id AS kept_doc_id, s.cluster_size, dropped_ids, saved_chars
       |FROM sizes s JOIN drops USING (cluster_id)
       |ORDER BY kept_doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // c10 — leakage-safe train/val/test splits (split by near-dup cluster)
  // ---------------------------------------------------------------------

  /** 80/10/10 split thresholds on the md5-prefix space (the
    * [[Sampling.hashSampleFilter]] rule): first 8 hex chars < 0.8·2³² →
    * train, < 0.9·2³² → val, else test.
    */
  private val TrainThr = f"${(0.80 * 0xFFFFFFFFL).toLong}%08x"
  private val ValThr = f"${(0.90 * 0xFFFFFFFFL).toLong}%08x"

  /** c10 — LEAKAGE-SAFE corpus splits: every document is assigned to
    * train/val/test by a deterministic hash of its NEAR-DUP CLUSTER
    * representative (the d06 component label; singletons hash their own
    * id), so near-duplicate documents can never straddle a split boundary
    * — the eval-contamination failure mode a naive per-doc hash split has
    * (Lee 2022, "Deduplicating Training Data Makes Language Models
    * Better", §6: near-dups of eval data inflate scores). Output is the
    * per-split audit: doc count, cluster count, and how many docs a naive
    * per-doc split would have placed differently (each such doc is a
    * potential cross-split leak).
    *
    * 100 TB posture: the cluster labels are candidate-graph-sized (orders
    * of magnitude smaller than the corpus), so the corpus-scale work is
    * ONE left join corpus⋈labels — broadcast when the label relation fits,
    * hash-partitioned on doc_id otherwise — plus a per-split partial agg.
    * The split of a doc depends only on its cluster representative: adding
    * new documents later can merge clusters (changing some labels) but
    * never moves an untouched cluster, so incremental re-splits are
    * cluster-local.
    */
  def c10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val sigs = graft.util.Eager.cached(minhashSignatures(docs))
    val edges = minhashCandidates(sigs)
      .filter($"est_jaccard" >= 0.5)
      .select("a", "b")
    val comps = connectedComponents(edges)
    def splitOf(k: Column): Column = {
      val h = substring(md5(k.cast("string")), 1, 8)
      when(h < TrainThr, "train").when(h < ValThr, "val").otherwise("test")
    }
    docs.select($"doc_id")
      .join(comps.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .withColumn("cluster_key", coalesce($"comp", $"doc_id"))
      .withColumn("split", splitOf($"cluster_key"))
      .withColumn("naive_split", splitOf($"doc_id"))
      .groupBy($"split")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct($"cluster_key").as("n_clusters"),
        sum(when($"naive_split" =!= $"split", 1L).otherwise(0L))
          .as("n_leak_prevented"),
      )
      .orderBy($"split")
  }

  val c10Oracle: String = {
    val est = (0 until NumPerms)
      .map(p => s"(CASE WHEN x.s$p = y.s$p THEN 1 ELSE 0 END)").mkString(" + ")
    def splitSql(k: String) =
      s"""CASE WHEN substring(md5(CAST($k AS VARCHAR)), 1, 8) < '$TrainThr'
         |       THEN 'train'
         |       WHEN substring(md5(CAST($k AS VARCHAR)), 1, 8) < '$ValThr'
         |       THEN 'val' ELSE 'test' END""".stripMargin
    s"""${sigCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |cand AS (SELECT x.doc_id AS a, y.doc_id AS b
       |  FROM sig x JOIN sig y ON x.doc_id < y.doc_id AND ($bandCond)
       |  WHERE CAST(($est) AS DOUBLE) / $NumPerms >= 0.5),
       |nodes AS (SELECT a AS id FROM cand UNION SELECT b FROM cand),
       |sym AS (SELECT a, b FROM cand UNION SELECT b AS a, a AS b FROM cand),
       |reach AS (
       |  SELECT id, id AS comp FROM nodes
       |  UNION
       |  SELECT s.b AS id, r.comp FROM reach r JOIN sym s ON s.a = r.id),
       |comp AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id),
       |assigned AS (
       |  SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster_key
       |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
       |sp AS (SELECT doc_id, cluster_key,
       |    ${splitSql("cluster_key")} AS split,
       |    ${splitSql("doc_id")} AS naive_split
       |  FROM assigned)
       |SELECT split, COUNT(*) AS n_docs,
       |  COUNT(DISTINCT cluster_key) AS n_clusters,
       |  CAST(SUM(CASE WHEN naive_split <> split THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_leak_prevented
       |FROM sp GROUP BY split ORDER BY split""".stripMargin
  }

  // ---------------------------------------------------------------------
  // d09 — chunk-level (paragraph/line) dedup, CCNet/RefinedWeb-style
  // ---------------------------------------------------------------------

  /** Words per non-overlapping chunk for d09. The testdata has no newlines,
    * so "paragraphs" are fixed word windows; on real web text the chunker
    * would split on '\n' instead — everything downstream is identical.
    */
  val ChunkWords = 4

  /** d09 — WITHIN-corpus chunk dedup: the CCNet move of dropping repeated
    * paragraphs (boilerplate, headers, licence blocks) from otherwise
    * distinct documents. Chunk every doc into fixed word windows, count
    * each chunk's occurrences corpus-wide, drop chunks seen ≥2 times, and
    * reassemble the cleaned text in chunk order. Output per doc: chunk
    * totals + the cleaned text itself (the oracle recomputes the full
    * reassembly, so the exact surviving text is what's pinned).
    *
    * Scale shape (the standard CCNet topology): one narrow chunk explode,
    * one hash-partitioned count on the chunk key (partial agg collapses
    * repeats map-side), one shuffle join back on the same key — co-
    * partitioned with the count, so no extra exchange — then one groupBy
    * doc_id to reassemble. No driver state, no broadcast of the chunk
    * table; repeated-chunk skew (a boilerplate chunk appearing 10⁹ times)
    * lands on the count side as ONE post-agg row, and AQE splits the join
    * side if a single chunk's occurrences skew a partition. In production
    * the chunk key crossing the wire is an 8-byte hash, not the string
    * (here the string itself is grouped so the oracle can recompute).
    */
  def chunkDedup(docs: DataFrame): DataFrame = {
    val words = split(normalize(col("text")), " ")
    val nChunks = ceil(size(words).cast("double") / ChunkWords).cast("int")
    val chunks = transform(
      sequence(lit(0), nChunks - 1),
      i => concat_ws(" ", slice(words, i * ChunkWords + 1, lit(ChunkWords))))
    // cached: the chunk relation feeds BOTH the corpus-wide count and the
    // join back — uncached, the explode (and its interpreted chunk-building
    // lambda) runs twice; at corpus scale the chunk pass is the dominant
    // cost and must run once
    val chunked = graft.util.Eager.cached(docs
      .select(col("doc_id"), posexplode(chunks).as(Seq("chunk_idx", "chunk"))))
    val counts = chunked.groupBy(col("chunk")).agg(count(lit(1)).as("n_occ"))
    chunked
      .join(counts, Seq("chunk"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        count(when(col("n_occ") >= 2, lit(1))).as("n_dropped"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("n_occ") < 2, struct(col("chunk_idx"), col("chunk"))))),
          x => x.getField("chunk"))).as("kept_text"),
      )
  }

  def d09(s: SparkSession, dir: String): DataFrame =
    chunkDedup(Tables.documents(s, dir)).orderBy(col("doc_id"))

  val d09Oracle: String =
    s"""WITH w AS (SELECT doc_id,
       |  string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws
       |  FROM documents),
       |ch AS (SELECT doc_id, i AS chunk_idx,
       |  array_to_string(ws[(i*$ChunkWords+1):(i*$ChunkWords+$ChunkWords)], ' ') AS chunk
       |  FROM (SELECT doc_id, ws,
       |    unnest(range(0, CAST(ceil(len(ws)/$ChunkWords.0) AS BIGINT))) AS i FROM w)),
       |cnt AS (SELECT chunk, COUNT(*) AS n_occ FROM ch GROUP BY chunk),
       |j AS (SELECT ch.doc_id, ch.chunk_idx, ch.chunk, cnt.n_occ
       |  FROM ch JOIN cnt USING (chunk))
       |SELECT doc_id, COUNT(*) AS n_chunks,
       |  COUNT(CASE WHEN n_occ >= 2 THEN 1 END) AS n_dropped,
       |  COALESCE(string_agg(CASE WHEN n_occ < 2 THEN chunk END, ' ' ORDER BY chunk_idx), '') AS kept_text
       |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // d10 — directional containment join (prefix filtering, PPJoin-style)
  // ---------------------------------------------------------------------

  /** Offset naming a planted half-document in the d10 corpus. */
  val ExcerptOffset = 200000L

  /** d10 — set-CONTAINMENT join: pairs (a, b) where ≥ 80% of a's shingles
    * also appear in b — the asymmetric relation Jaccard misses entirely
    * (an excerpt inside a 10× larger page has Jaccard ≈ 0.1 but
    * containment 1.0; quote/excerpt detection is a containment query).
    * The corpus is augmented with deterministic excerpts (every 20th
    * doc's first half, id + [[ExcerptOffset]]) so true containment pairs
    * exist at every SF.
    *
    * Algorithm: PREFIX FILTERING (the PPJoin family, Xiao et al. 2008).
    * Order every document's shingles globally by (document frequency,
    * value) — rarest first; a can miss at most |A| − ⌈0.8·|A|⌉ of its own
    * shingles, so any valid partner must share at least one of a's FIRST
    * misses+1 ordered shingles. Only that prefix of the query side meets
    * the full inverted index: candidate work is Σ_prefix df (and the
    * rarest-first order makes those df the smallest available), not the
    * Σ df² of a full index self-join — and never n². On top of the
    * prefix, the PPJoin+ POSITIONAL filter ([[containmentCandidates]])
    * bounds each candidate's best-case overlap from its first match's
    * positions and the LENGTH filter drops sz_b·5 < sz_a·4 pairs before
    * the pair shuffle — both drop only provably-failing pairs before
    * verification. (A third, exact-m suffix bound was tried in round 7
    * and removed in round 8: measured 1.8% pruning for +40% CPU — see
    * [[containmentCandidates]].)
    * The verify stage is
    * one exact set intersection per candidate, compared as
    * 5·|A∩B| ≥ 4·|A| in integers. The oracle is the EXACT all-pairs
    * containment join over the same augmented corpus, so a hash match
    * proves the prefix filter lost nothing (the d07/d08 posture).
    * Directional note: the indexed side cannot be pruned for pure
    * containment (b may be arbitrarily large) — only the query side
    * shrinks, which is exactly how excerpt-vs-corpus lookups run at scale.
    */
  /** Candidate pairs for the 80%-containment join over `sets`
    * (doc_id, sh: array of distinct shingles) — prefix filtering PLUS the
    * PPJoin+ positional filter (Xiao et al. 2008 §3.2).
    *
    * Every document's shingles are ordered by the same global (df, value)
    * total order, so two documents' COMMON shingles appear in the same
    * relative order on both sides. For a candidate's FIRST match — at
    * 1-based positions (i, j) of the ordered lists — the overlap is
    * bounded by 1 + min(|A|−i, |B|−j): everything else common lies after i
    * in A and after j in B. Candidates whose bound already fails
    * 5·|A∩B| ≥ 4·|A| are pruned BEFORE the verify join ever materializes
    * their shingle arrays — position arithmetic on 8-byte ints replaces
    * array intersections exactly where the old plan did its heaviest work.
    * Lossless by the same argument as the prefix filter (the bound is an
    * upper bound, pruning only provably-failing pairs); the gate hash-
    * checks against the exact all-pairs oracle.
    */
  def containmentCandidates(sets: DataFrame): DataFrame = {
    // partitioned once and cached: the df aggregation and the ordered-list
    // build are both shingle-keyed consumers of the token stream — they
    // reuse one exchange instead of exploding the corpus twice
    val tokens = graft.util.Eager.cached(
      sets.select(col("doc_id"), explode(col("sh")).as("shingle"))
        .repartition(col("shingle")))
    val dfRel = tokens.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    // one doc-keyed aggregation carries BOTH consumers: the sliced prefix
    // (query side) and the fully-positioned index side explode from the
    // same cached ordered array — the df join + sort runs once
    val ordered = graft.util.Eager.cached(
      tokens.join(dfRel, Seq("shingle"))
        .groupBy(col("doc_id"))
        .agg(array_sort(collect_list(struct(col("df"), col("shingle")))).as("ordered"))
        .withColumn("sz", size(col("ordered"))))
    val idx = ordered
      .select(col("doc_id").as("b"), col("sz").as("sz_b"),
        posexplode(col("ordered")).as(Seq("j0", "p")))
      .select(col("b"), col("sz_b"), (col("j0") + 1).as("j"),
        col("p.shingle").as("shingle"))
    val prefix = ordered
      .withColumn("k", col("sz") - expr("(4 * sz + 4) DIV 5") + 1)
      .select(col("doc_id").as("a"), col("sz").as("sz_a"),
        posexplode(slice(col("ordered"), lit(1), col("k"))).as(Seq("i0", "p")))
      .select(col("a"), col("sz_a"), (col("i0") + 1).as("i"),
        col("p.shingle").as("shingle"))
    prefix.join(idx, Seq("shingle"))
      // LENGTH filter (lossless, pre-shuffle): containment needs
      // |A∩B| ≥ 0.8·|A| and |A∩B| ≤ |B|, so sz_b·5 < sz_a·4 fails
      // provably. sz_a/sz_b are constant per (a,b), so this drops WHOLE
      // pairs and cannot distort the per-pair match count m below.
      .filter(col("a") =!= col("b") && col("sz_b") * 5 >= col("sz_a") * 4)
      .groupBy(col("a"), col("b"))
      .agg(
        max(col("sz_a")).as("sza"),
        // lexicographic min = the first match (common tokens share their
        // relative order, so min i and min j coincide); sz_b rides in the
        // struct so the aggregate stays at TWO buffers — a round-8 paired
        // A/B (interleaved clean-window runs, ab_A/B_1..4) measured the
        // wider five-buffer form (extra m/j_last/szb columns feeding an
        // exact-m suffix bound) at +40% query CPU while the suffix bound
        // pruned only 1.8% of candidate pairs (D10 stage counts at sf0.1:
        // 20.26M → 19.89M after an 86.7M-row aggregation). A lossless
        // filter that cheap to fail must earn its bookkeeping; this one
        // did not, so it was removed. The LENGTH filter above stays: one
        // comparison per join row drops 18.5% of them (106.4M → 86.7M)
        // BEFORE the pair exchange.
        min(struct(col("i"), col("j"), col("sz_b"))).as("f"))
      // PPJoin+ positional bound from the first match: overlap ≤
      // 1 + min(|A|−i, |B|−j)
      .filter(
        (lit(1) + least(col("sza") - col("f.i"), col("f.sz_b") - col("f.j"))) * 5
          >= col("sza") * 4)
      .select(col("a"), col("b"))
  }

  def d10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).select($"doc_id", $"text")
    val words = split(normalize($"text"), " ")
    val halves = docs.filter($"doc_id" % 20 === 0)
      .select(($"doc_id" + ExcerptOffset).as("doc_id"),
        array_join(slice(words, lit(1), floor((size(words) + 1) / 2).cast("int")), " ")
          .as("text"))
    val aug = docs.unionByName(halves)
    // shingle SETS (distinct by construction) — read by the token explode
    // and both verify branches. Spread first: the shingling is the query's
    // single most expensive per-row segment (measured 4.6 s CPU on the
    // 2-task single-split layout ≈ 4.5 s wall; ~0.2 s at width 32), and the
    // 32-partition cached layout also carries the verify joins below at
    // full width instead of AQE's 4-task byte-coalesced guess.
    val sets = graft.util.Eager.cached(
      graft.util.Spread.toWidth(aug, $"doc_id")
        .select($"doc_id", shingleArray($"text").as("sh")))
    // user-specified width for the verify pass: the exact-intersection
    // projection fuses into the join stage that STREAMS cand, and AQE's
    // byte-based coalescing shrank that stage to 4 tasks (3.7 s CPU ≈
    // 1.2 s wall) — bytes can't see per-row array-intersect cost. The
    // explicit repartition is AQE-exempt and moves only (a, b) pairs,
    // 16 bytes/row at any scale.
    // (keyed on `a` alone: a repartition keyed (a, b) is elided as redundant
    // with the groupBy(a, b) exchange below it, whose ENSURE_REQUIREMENTS
    // read is exactly the one AQE coalesces)
    val width = s.conf.get("spark.sql.shuffle.partitions").toInt
    val cand = containmentCandidates(sets).repartition(width, $"a")
    cand
      .join(sets.select($"doc_id".as("a"), $"sh".as("sh_a")), Seq("a"))
      .join(sets.select($"doc_id".as("b"), $"sh".as("sh_b")), Seq("b"))
      .select($"a", $"b", size($"sh_a").as("n_shingles_a"),
        size(array_intersect($"sh_a", $"sh_b")).as("n_common"))
      .filter($"n_common" * 5 >= $"n_shingles_a" * 4)
      .select($"a", $"b", $"n_shingles_a", $"n_common",
        ($"n_common".cast("double") / $"n_shingles_a").as("containment"))
      .orderBy($"a", $"b")
  }

  val d10Oracle: String =
    s"""WITH w0 AS (SELECT doc_id,
       |  string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws
       |  FROM documents),
       |w AS (SELECT doc_id, ws FROM w0
       |      UNION ALL
       |      SELECT doc_id + $ExcerptOffset AS doc_id,
       |             ws[1:CAST((len(ws) + 1) // 2 AS BIGINT)] AS ws
       |      FROM w0 WHERE doc_id % 20 = 0),
       |sh0 AS (SELECT doc_id, ws,
       |  unnest(range(1, greatest(len(ws) - ${ShingleSize - 1}, 1) + 1)) AS i FROM w),
       |sh AS (SELECT DISTINCT doc_id,
       |  array_to_string(list_filter([ws[i], ws[i+1], ws[i+2]], x -> x IS NOT NULL), ' ') AS shingle
       |  FROM sh0),
       |sz AS (SELECT doc_id, COUNT(*) AS s FROM sh GROUP BY doc_id),
       |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS n_common
       |          FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id <> y.doc_id
       |          GROUP BY 1, 2)
       |SELECT a, b, sa.s AS n_shingles_a, n_common,
       |  CAST(n_common AS DOUBLE) / sa.s AS containment
       |FROM inter JOIN sz sa ON a = sa.doc_id
       |WHERE n_common * 5 >= sa.s * 4
       |ORDER BY a, b""".stripMargin

  /** c06 — CONTAMINATION BLAST RADIUS: the removal set a decontamination
    * pass actually applies. t13 flags docs sharing a verbatim 5-gram with
    * the benchmark split (DIRECT contamination); but a direct doc's
    * near-duplicates carry the same leaked content in paraphrase-distance
    * form, so production pipelines remove the WHOLE near-dup cluster.
    * This query composes the two machineries end to end: the t13 gram
    * probe → direct set; the d06 MinHash-LSH connected components →
    * cluster membership; flagged = direct ∪ (members of any cluster
    * containing a direct doc). Output per flagged corpus doc: the reason
    * flags (direct / via_cluster).
    *
    * Scale shape: both inputs are already the bounded artifacts of their
    * stages — the direct set is contamination-sized, the component list
    * candidate-graph-sized; the composition adds one semi-join to find
    * hot clusters and one broadcast-able join to expand them. Nothing
    * corpus-cardinality is created beyond what t13/d06 each already
    * compute. Oracle: the t13 gram CTEs (renamed c-prefixed — the minhash
    * CTEs own w/sh0/sh at a different shingle size) + the d06 recursive
    * closure + the same flag joins.
    */
  def c06(s: SparkSession, dir: String): DataFrame =
    blastRadius(Tables.documents(s, dir))

  /** The composition core of [[c06]], parameterized over the corpus for
    * the spec's planted cluster-expansion cases.
    */
  def blastRadius(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val isEval = col("doc_id") % 100 === 7
    // direct contamination: corpus grams probing the broadcast eval grams.
    // Eager-cached (round 14): `direct` is referenced twice in the final
    // plan (the hot-cluster semi join AND the full_outer flag join), and
    // Catalyst does NOT reuse the subtree — the r13 after-plan shows the
    // full corpus gram explode + the eval gram build TWICE (scans 1/28 and
    // 6/33, zero ReusedExchange). The cache is contamination-sized (a
    // doc_id set), so one cheap count job deletes a whole corpus-scale
    // gram pass (guide §1.2 — don't compute things twice). Interleaved
    // same-JVM A/B at sf0.1 (clean reps): wall ~6.6 → ~5.6 s, process CPU
    // 53-66 → 43-48 s — the duplicated passes DO overlap as concurrent
    // futures, but two 32-wide gram explodes contend for the same cores,
    // so killing one wins wall too (unlike the cheap ppl01/mx02 futures).
    val bench = TextAnalysis.contamGramRows(docs.filter(isEval))
      .select($"g").distinct()
    val direct = graft.util.Eager.cached(
      TextAnalysis.contamGramRows(docs.filter(!isEval))
        .join(broadcast(bench), Seq("g"), "left_semi")
        .select($"doc_id").distinct())
    // near-dup components over the full corpus (eval docs can bridge)
    val sigs = graft.util.Eager.cached(minhashSignatures(docs))
    val edges = graft.util.Eager.cached(minhashCandidates(sigs)
      .filter($"est_jaccard" >= 0.5)
      .select("a", "b"))
    val comps = graft.util.Eager.cached(connectedComponents(edges))
    val hot = comps.join(direct, comps("id") === direct("doc_id"), "left_semi")
      .select($"comp").distinct()
    val via = comps.join(broadcast(hot), Seq("comp"))
      .filter(!($"id" % 100 === 7))
      .select($"id".as("doc_id")).distinct()
    direct.select($"doc_id", lit(true).as("d"))
      .join(via.select($"doc_id", lit(true).as("v")), Seq("doc_id"), "full_outer")
      .select($"doc_id",
        coalesce($"d", lit(false)).as("direct"),
        coalesce($"v", lit(false)).as("via_cluster"))
      .orderBy($"doc_id")
  }

  // def, not val: this oracle reads TextAnalysis.ContamGramWords, and the
  // Dedup/TextAnalysis objects reference each other — a val here runs during
  // object init, inside that cycle, and can observe the constant as 0
  // (observed: the generated SQL contained `list_filter([], ...)`).
  def c06Oracle: String = {
    val n = TextAnalysis.ContamGramWords
    val elems = (0 until n).map(k => s"cws[i+$k]").mkString(", ")
    val est = (0 until NumPerms)
      .map(p => s"(CASE WHEN x.s$p = y.s$p THEN 1 ELSE 0 END)").mkString(" + ")
    s"""${sigCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |cand AS (SELECT x.doc_id AS a, y.doc_id AS b
       |  FROM sig x JOIN sig y ON x.doc_id < y.doc_id AND ($bandCond)
       |  WHERE CAST(($est) AS DOUBLE) / $NumPerms >= 0.5),
       |nodes AS (SELECT a AS id FROM cand UNION SELECT b FROM cand),
       |sym AS (SELECT a, b FROM cand UNION SELECT b AS a, a AS b FROM cand),
       |reach AS (
       |  SELECT id, id AS comp FROM nodes
       |  UNION
       |  SELECT s.b AS id, r.comp FROM reach r JOIN sym s ON s.a = r.id),
       |comp AS (SELECT id, MIN(comp) AS cluster_id FROM reach GROUP BY id),
       |cw AS (SELECT doc_id,
       |  string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS cws
       |  FROM documents),
       |csh0 AS (SELECT doc_id, cws,
       |  unnest(range(1, greatest(len(cws) - ${n - 1}, 1) + 1)) AS i FROM cw),
       |csh AS (SELECT DISTINCT doc_id,
       |  array_to_string(list_filter([$elems], x -> x IS NOT NULL), ' ') AS g
       |  FROM csh0),
       |cbench AS (SELECT DISTINCT g FROM csh WHERE doc_id % 100 = 7),
       |direct AS (SELECT DISTINCT c.doc_id
       |  FROM csh c JOIN cbench b ON c.g = b.g WHERE c.doc_id % 100 <> 7),
       |hot AS (SELECT DISTINCT cluster_id FROM comp JOIN direct ON comp.id = direct.doc_id),
       |via AS (SELECT DISTINCT comp.id AS doc_id
       |  FROM comp JOIN hot ON comp.cluster_id = hot.cluster_id
       |  WHERE comp.id % 100 <> 7)
       |SELECT COALESCE(d.doc_id, v.doc_id) AS doc_id,
       |  d.doc_id IS NOT NULL AS direct,
       |  v.doc_id IS NOT NULL AS via_cluster
       |FROM direct d FULL OUTER JOIN via v ON d.doc_id = v.doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** The d11 similarity thresholds swept. */
  val SweepTaus: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9)

  /** d11 — DEDUP THRESHOLD SENSITIVITY: the τ-tuning report a dedup
    * deployment produces BEFORE committing to a similarity floor — at each
    * candidate threshold, how many near-dup pairs fire and how many
    * documents they touch. Too low a τ merges distinct content; too high
    * leaves paraphrase duplicates in the corpus; this one relation shows
    * the knee. ONE d02 signature/banding pass feeds every threshold (the
    * candidate relation is banding-bounded and tiny relative to the
    * corpus; the 5-row τ relation broadcasts across it), so the sweep
    * costs the same as a single-threshold run — at 100 TB you never
    * re-sign the corpus per knob setting.
    *
    * Zero-count thresholds stay present (left joins + coalesce): "0.9
    * fires nothing" is exactly the fact the tuner needs to see.
    */
  def d11(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sigs = graft.util.Eager.cached(minhashSignatures(Tables.documents(s, dir)))
    val cands = graft.util.Eager.cached(minhashCandidates(sigs))
    val tdf = SweepTaus.toDF("tau")
    val p = cands.crossJoin(broadcast(tdf)).filter($"est_jaccard" >= $"tau")
    // ONE aggregation pass over the exploded endpoints (round 14, guide
    // §2.3): every surviving pair contributes exactly two rows (a < b, so
    // never equal), hence n_pairs = count div 2 — integer-exact — and the
    // old separate pair-count pass over cands × taus is gone.
    val stats = p.select($"tau", explode(array($"a", $"b")).as("d"))
      .groupBy($"tau").agg(
        expr("count(1) div 2").as("n_pairs"),
        countDistinct($"d").as("n_docs"))
    tdf.join(stats, Seq("tau"), "left")
      .select($"tau",
        coalesce($"n_pairs", lit(0L)).as("n_pairs"),
        coalesce($"n_docs", lit(0L)).as("n_docs"))
      .orderBy($"tau")
  }

  val d11Oracle: String = {
    val est = (0 until NumPerms)
      .map(p => s"(CASE WHEN x.s$p = y.s$p THEN 1 ELSE 0 END)").mkString(" + ")
    val taus = SweepTaus.mkString("[", ", ", "]")
    s"""$sigCtes,
       |cand AS (SELECT x.doc_id AS a, y.doc_id AS b,
       |    CAST(($est) AS DOUBLE) / $NumPerms AS est_jaccard
       |  FROM sig x JOIN sig y ON x.doc_id < y.doc_id AND ($bandCond)),
       |t AS (SELECT CAST(unnest($taus) AS DOUBLE) AS tau),
       |p AS (SELECT tau, a, b FROM cand, t WHERE est_jaccard >= tau),
       |pairs AS (SELECT tau, COUNT(*) AS n_pairs FROM p GROUP BY tau),
       |docs AS (SELECT tau, COUNT(DISTINCT d) AS n_docs FROM (
       |    SELECT tau, a AS d FROM p UNION ALL SELECT tau, b FROM p) GROUP BY tau)
       |SELECT t.tau, COALESCE(n_pairs, 0) AS n_pairs, COALESCE(n_docs, 0) AS n_docs
       |FROM t LEFT JOIN pairs USING (tau) LEFT JOIN docs USING (tau)
       |ORDER BY tau""".stripMargin
  }

  def all: Seq[Q] = Seq(
    Q("d01_exact_dedup", d01, Some(d01Oracle)),
    Q("d02_minhash_lsh_candidates", d02, Some(d02Oracle)),
    Q("d03_simhash_signatures", d03, Some(d03Oracle)),
    Q("d04_ngram_jaccard_verify", d04, Some(d04Oracle)),
    Q("d06_dup_clusters", d06, Some(d06Oracle)),
    Q("d08_simhash_pairs", d08, Some(d08Oracle)),
    Q("d09_chunk_dedup", d09, Some(d09Oracle)),
    Q("d10_containment_join", d10, Some(d10Oracle)),
    Q("d11_dedup_threshold_sweep", d11, Some(d11Oracle)),
    Q("c02_neardup_consolidation", c02, Some(c02Oracle)),
    Q("c10_leakage_safe_splits", c10, Some(c10Oracle)),
    Q("c06_contamination_blast_radius", c06, Some(c06Oracle)),
  )
}
