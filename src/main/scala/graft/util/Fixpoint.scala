package graft.util

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftaccess.ReHome

/** The scaffold shared by the iterative operators (pageRank, bfsHops, kCore,
  * labelPropagation, connectedComponents): a child session whose shuffle
  * width is sized to the loop relation, internal-row re-homes across that
  * session boundary, a full-outer fixpoint probe, and a per-operator count
  * of the rounds the last run executed.
  *
  * Each operator keeps its own round loop and convergence test, because
  * their checkpoint placement and exits differ: pageRank checkpoints every
  * third round but not the last, labelPropagation checkpoints every round
  * (lp01 reads the labels twice), bfsHops checkpoints only the frontier, and
  * kCore's output depends on which exit fired.
  */
object Fixpoint {

  private val rounds = new ConcurrentHashMap[String, Int]()

  /** Run `loop` over `inputs` on a child session of the first input's
    * session, with `spark.sql.shuffle.partitions` set to [[width]] of the
    * first input. The child has its own SQLConf and shares the parent's
    * context and cache, so the inputs' plans compile under the parent's
    * width and the loop's under the child's, without racing any concurrent
    * planning on the parent. `loop` returns its result and the number of
    * rounds it executed, which [[lastRounds]] reports under `name`. The
    * result comes back on the parent session.
    *
    * Both crossings use [[ReHome]], which keeps rows internal: the public
    * `createDataFrame(df.rdd, df.schema)` bridge cost 5.9 s of executor CPU
    * on pr01's sf0.1 edge list, round-tripping every row through an
    * external Row.
    */
  def run(name: String, inputs: DataFrame*)(
      loop: Seq[DataFrame] => (DataFrame, Int)): DataFrame = {
    val parent = inputs.head.sparkSession
    val child = parent.newSession()
    child.conf.set("spark.sql.shuffle.partitions", width(inputs.head).toString)
    val (out, executed) = loop(inputs.map(ReHome(child, _)))
    rounds.put(name, executed)
    ReHome(parent, out)
  }

  /** Rounds executed by the last [[run]] under `name`, or -1 if none ran.
    * Diagnostic only; not part of any operator's result.
    */
  def lastRounds(name: String): Int = rounds.getOrDefault(name, -1)

  /** Shuffle width for a loop over `rel`: Catalyst's size estimate for the
    * relation divided by a per-partition budget, at least `floor` and at
    * most the parent session's `spark.sql.shuffle.partitions`.
    *
    * A constant width is right at one scale and silently 8-wide at 100×
    * the data. Deriving it from the relation's optimizer stats
    * (`sizeInBytes` propagates from parquet footers and cache sizes through
    * projections and joins) keeps a tiny candidate graph at `floor` and
    * grows linearly with the edge list's bytes, never out-fanning the
    * session that launched the loop.
    *
    * @param floor minimum width; small loops keep it
    * @param bytesPerPartition per-partition budget; 32 MB keeps iteration
    *   state comfortably in memory per task even with join amplification
    */
  def width(rel: DataFrame, floor: Int = 8,
      bytesPerPartition: Long = 32L << 20): Int = {
    val cap = rel.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val bytes = rel.queryExecution.optimizedPlan.stats.sizeInBytes
    val scaled = (bytes / bytesPerPartition).min(BigInt(Int.MaxValue)).toInt + 1
    math.min(cap, math.max(math.min(floor, cap), scaled))
  }

  /** Whether `a` and `b`, both keyed by `key` and carrying a non-null
    * `value`, hold exactly the same (key, value) set. The join is
    * full-outer, so a key present on one side only surfaces as a null and
    * vetoes equality: an intersection-only probe would misfire on loops
    * whose node set shifts between rounds (asymmetric edge lists). One
    * key-cardinality join and a `take(1)`.
    */
  def same(a: DataFrame, b: DataFrame, key: String, value: String): Boolean = {
    val prev = s"${value}_prev"
    a.join(b.select(col(key), col(value).as(prev)), Seq(key), "full_outer")
      .filter(col(value).isNull || col(prev).isNull || col(value) =!= col(prev))
      .isEmpty
  }
}
