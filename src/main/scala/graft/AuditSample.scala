package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-side sf0.1 SELF-AUDIT input materializer (not part of the gated
  * surface; the driver never runs it).
  *
  * Problem (VERDICT r5 §next-round #5): the correctness gate re-runs every
  * oracle in DuckDB. A handful of oracles are DELIBERATELY quadratic — exact
  * all-pairs sweeps, per-dim unnests, recursive/unrolled closures — because
  * their whole point is to be the independent ground truth for an engine
  * path that is sub-quadratic by construction. At the sf0.01 gate they cost
  * seconds; at the 10× sf0.1 self-audit a few exceed the sandbox's memory or
  * any sane wall clock. That is oracle cost, not engine cost — the engine
  * outputs finish in seconds — but it left 28/134 queries unverified at 10×
  * scale in round 5.
  *
  * Fix, as the verdict prescribes: verify those queries on a DETERMINISTIC
  * md5-sampled key subset of the sf0.1 tables, so the oracle's quadratic
  * recompute stays in memory while the engine still runs the identical code
  * path over data drawn from the 10× corpus. This main materializes that
  * restricted derivative ONCE as parquet; `graft.Verify` and
  * `tools/check_oracle.py` then run on it completely unchanged — same
  * queries, same oracle SQL, same comparator — so a restricted-domain PASS
  * is exactly as strong as a gate PASS, just on a smaller key domain.
  *
  * Restriction map (per-table, by PRIMARY key so FK-joined tables restrict
  * consistently through their joins; `keep(col, pct)` keeps a row iff
  * `conv(substring(md5('audit:' || key), 1, 4), 16, 10) % 100 < pct` — the
  * repo-standard engine-portable hash used by q38/c05/q60):
  *   - documents  32% of doc_id   (5000 → ~1600; quadratic shingle/pair
  *                                 oracles cost ~10× the sf0.01 gate)
  *   - embeddings 50% of vec_id, query ids (< 5) always kept (2000 → ~1000;
  *                                 all-pairs per-dim unnest oracles)
  *   - events     40% of user_id  (graph/session/recursive closures restrict
  *                                 by actor, keeping per-user sequences
  *                                 INTACT — sessionization semantics survive)
  *   - orders     35% of o_custkey (the pr01/sp01 trade graph shrinks with
  *                                  its order fan-in; per-customer order
  *                                  sets stay intact)
  *   - region nation customer supplier part lineitem: copied whole (their
  *     oracles are linear/loglinear and already pass at sf0.1 unrestricted;
  *     lineitem joined through restricted orders restricts implicitly)
  *
  * Usage: `sbt "runMain graft.AuditSample /root/testdata/sf0.1 /tmp/sf01r"`
  * then `Verify /tmp/sf01r <out> <failing names...>` and
  * `check_oracle.py /tmp/sf01r <out>`.
  */
object AuditSample {

  /** Engine-portable deterministic keep-filter: md5-bucket of the key. */
  def keep(key: org.apache.spark.sql.Column, pct: Int): org.apache.spark.sql.Column =
    conv(substring(md5(concat(lit("audit:"), key.cast("string"))), 1, 4), 16, 10)
      .cast("long") % 100 < pct

  def restrict(df: DataFrame, key: String, pct: Int): DataFrame =
    df.filter(keep(col(key), pct))

  def materialize(spark: SparkSession, src: String, out: String): Unit = {
    import spark.implicits._
    def load(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    // single parquet file per table, like the driver's testdata layout —
    // check_oracle.py globs the directory form Spark writes
    def save(df: DataFrame, t: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$t.parquet")

    save(restrict(load("documents"), "doc_id", 32), "documents")
    save(load("embeddings").filter($"vec_id" < 5 || keep($"vec_id", 50)), "embeddings")
    save(restrict(load("events"), "user_id", 40), "events")
    save(restrict(load("orders"), "o_custkey", 35), "orders")
    Seq("region", "nation", "customer", "supplier", "part", "lineitem")
      .foreach(t => save(load(t), t))
  }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("audit-sample")
    materialize(spark, args(0), args(1))
    spark.stop()
  }
}
