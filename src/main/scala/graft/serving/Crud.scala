package graft.serving

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.Warehouse

/** In-process CRUD-maintained serving table — the engine form of the
  * reference's Swagger CRUD app (api/api_crud.py:60-260: GET/POST/PUT/DELETE
  * over `country_statistics` and `region_yearly_summary`).
  *
  * The reference mutates Postgres rows in place; a Spark warehouse has no
  * row mutation, so every write is a whole-table transform through
  * [[Warehouse.upsert]]/[[Warehouse.deleteByKey]] — the same operators the
  * batch CRUD specs gate. State is one `AtomicReference[DataFrame]` guarded
  * by a coarse lock (a serving table is dim-sized; write volume is human).
  *
  * After each write the new table is `localCheckpoint`ed: without it, N CRUD
  * calls stack N window+anti-join plans and the read path re-executes the
  * whole mutation history per request. The checkpoint keeps every read O(1)
  * plan depth no matter how long the server lives. A production deployment
  * would instead publish each version with [[Warehouse.compactManifest]]
  * (object-store-safe commits); in-process serving doesn't need durability.
  */
final class CrudTable(spark: SparkSession, schema: StructType, pks: Seq[String]) {

  private val ref = new AtomicReference[DataFrame](
    spark.createDataFrame(new java.util.ArrayList[Row](), schema))

  def current: DataFrame = ref.get()

  /** All rows, PK-ordered (the reference's `query.all()`). */
  def all: DataFrame = current.orderBy(pks.map(col): _*)

  private def keyFilter(keyVals: Seq[Any]): DataFrame =
    pks.zip(keyVals).foldLeft(current) { case (df, (k, v)) => df.filter(col(k) === v) }

  /** Single record by PK — `query.get_or_404` (bounded: PK lookup). */
  def get(keyVals: Seq[Any]): Option[String] =
    keyFilter(keyVals).toJSON.collect().headOption

  def exists(keyVals: Seq[Any]): Boolean = keyFilter(keyVals).limit(1).count() > 0

  private def oneRow(values: Seq[Any]): DataFrame =
    spark.createDataFrame(
      java.util.List.of(Row.fromSeq(values)), schema)

  /** Insert-or-replace one row (POST / PUT both reduce to upsert). */
  def put(values: Seq[Any]): Unit = synchronized {
    ref.set(Warehouse.upsert(current, oneRow(values), pks).localCheckpoint())
  }

  /** Replace an existing row by `merge` of its current JSON record; false
    * if the key was absent (the route's 404). The read and the write hold
    * the table's write lock, so no concurrent write lands between them.
    */
  def update(keyVals: Seq[Any])(merge: String => Seq[Any]): Boolean = synchronized {
    get(keyVals) match {
      case None => false
      case Some(existing) => put(merge(existing)); true
    }
  }

  /** Delete by PK; false if the key was absent (the route's 404). */
  def delete(keyVals: Seq[Any]): Boolean = synchronized {
    if (!exists(keyVals)) false
    else {
      val keys = spark.createDataFrame(
        java.util.List.of(Row.fromSeq(keyVals)),
        StructType(pks.map(p => schema(p))))
      ref.set(Warehouse.deleteByKey(current, keys, pks).localCheckpoint())
      true
    }
  }
}
