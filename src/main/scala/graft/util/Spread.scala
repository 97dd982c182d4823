package graft.util

import org.apache.spark.sql.{Column, DataFrame}

/** Minimum-parallelism guard for heavy per-row compute over a corpus scan.
  *
  * The round-13 pathology (first seen on sa01/t21, then measured on d10 and
  * the minhash family): a small corpus arrives as ONE parquet split, so the
  * expensive pre-shuffle segment — shingling, md5 signatures, automaton
  * scans — runs in a single task while 31 cores idle (d10's shingle-set
  * build: 4.6 s CPU on 2 tasks ≈ 4.5 s wall; spread 32-wide it is ~0.2 s).
  * `spark.sql.files.minPartitionNum` cannot fix it: a one-row-group parquet
  * file yields empty byte-range splits.
  *
  * This helper is the SCALE-ADAPTIVE form of the fix: it adds the spreading
  * exchange only when the relation's planned partition count is below the
  * session's configured shuffle width. At 100 TB the corpus scan already
  * carries thousands of splits, the guard is the identity, and no extra
  * shuffle of the payload ever happens — exactly the "configuration must not
  * be tuned for local mode" rule. The hash key keeps the layout deterministic
  * (round-robin repartition would re-sort per SPARK-23207 and its assignment
  * depends on task retries).
  */
object Spread {

  /** `df` hash-spread to the session's shuffle width on `key`, or `df`
    * unchanged when its plan already has at least that many partitions.
    */
  def toWidth(df: DataFrame, key: Column): DataFrame = {
    val width = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // exact planned partition count, driver-side only (compiles the plan,
    // runs no job) — split-count estimates from stats would repeat the
    // join-estimate trap of Fixpoint.width on non-scan inputs
    if (df.rdd.getNumPartitions >= width) df
    else df.repartition(width, key)
  }
}
