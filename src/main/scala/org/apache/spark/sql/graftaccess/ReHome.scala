package org.apache.spark.sql.graftaccess

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}

/** Move a DataFrame onto another session of the same SparkContext WITHOUT
  * the external-Row round trip.
  *
  * The iterative loops (through `graft.util.Fixpoint.run`) and the
  * width-sized one-shot pipelines re-home their inputs/outputs across
  * `newSession` boundaries so the loop's plans compile under the child
  * session's shuffle width. The public bridge, `ss.createDataFrame(df.rdd, df.schema)`,
  * deserializes every InternalRow into a GenericRowWithSchema and re-encodes
  * it back — measured on pr01's edge-list entry at sf0.1: 5.9 s of executor
  * CPU in the single re-home stage, the loop family's largest per-query CPU
  * block. This helper keeps rows in the internal format and only pays one
  * `copy()` per row (required because scan operators reuse UnsafeRow
  * buffers — the identical copy `Dataset.checkpoint` performs on its
  * `queryExecution.toRdd` for the same reason).
  *
  * Lives in an `org.apache.spark.sql` subpackage purely to reach the
  * `private[sql]` `internalCreateDataFrame`; nothing else internal is
  * touched (the `graftaccess` listener-bus fence is the precedent).
  */
object ReHome {
  def apply(ss: SparkSession, df: DataFrame): DataFrame =
    ss.asInstanceOf[ClassicSession].internalCreateDataFrame(
      df.queryExecution.toRdd.map(_.copy()), df.schema)
}
