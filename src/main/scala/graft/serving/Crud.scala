package graft.serving

import java.io.StringWriter

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonFactory
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}

/** In-process CRUD-maintained serving table — the engine form of the
  * reference's Swagger CRUD app (api/api_crud.py:60-260: GET/POST/PUT/DELETE
  * over `country_statistics` and `region_yearly_summary`).
  *
  * The rows live on the driver: an immutable primary key → `Row` map, which
  * each write replaces under the table's lock and each read takes without
  * one. A serving table is dim-sized and its write volume human, so POST,
  * PUT, DELETE and GET by key run no Spark job. [[graft.Warehouse.upsert]]
  * and [[graft.Warehouse.deleteByKey]] stay the batch forms of the same
  * writes, the operators the batch CRUD specs gate; `current` and `all` are
  * DataFrames over the rows for callers that want a plan. A production
  * deployment would publish each version with
  * [[graft.Warehouse.compactManifest]] (object-store-safe commits);
  * in-process serving doesn't need durability.
  *
  * A record's JSON is what `toJSON` writes for its one-row DataFrame: the
  * schema's field order, null fields left out, Jackson's string escaping.
  * Columns are strings and integers, the types of the reference's ORM models.
  */
final class CrudTable(spark: SparkSession, schema: StructType, pks: Seq[String]) {
  require(schema.fields.forall(f => Seq(StringType, IntegerType, LongType).contains(f.dataType)),
    s"CRUD columns are strings and integers: $schema")

  private val keyIdx = pks.map(schema.fieldIndex)
  @volatile private var rows = Map.empty[Seq[Any], Row]

  def current: DataFrame = spark.createDataFrame(rows.values.toSeq.asJava, schema)

  /** All rows, PK-ordered (the reference's `query.all()`). */
  def all: DataFrame = current.orderBy(pks.map(col): _*)

  /** Single record by PK — `query.get_or_404`. */
  def get(keyVals: Seq[Any]): Option[String] = rows.get(keyVals).map(json)

  /** Insert-or-replace one row (POST / PUT both reduce to upsert). */
  def put(values: Seq[Any]): Unit = synchronized {
    val row = Row.fromSeq(values)
    rows = rows.updated(keyIdx.map(row.get), row)
  }

  /** Replace an existing row by `merge` of its current values; false if the
    * key was absent (the route's 404). The read and the write hold the
    * table's write lock, so no concurrent write lands between them.
    */
  def update(keyVals: Seq[Any])(merge: Row => Seq[Any]): Boolean = synchronized {
    rows.get(keyVals) match {
      case None => false
      case Some(existing) => put(merge(existing)); true
    }
  }

  /** Delete by PK; false if the key was absent (the route's 404). */
  def delete(keyVals: Seq[Any]): Boolean = synchronized {
    val found = rows.contains(keyVals)
    rows -= keyVals
    found
  }

  private def json(row: Row): String = {
    val out = new StringWriter()
    val gen = CrudTable.Json.createGenerator(out)
    gen.writeStartObject()
    schema.fields.indices.filterNot(row.isNullAt).foreach { i =>
      gen.writeFieldName(schema.fields(i).name)
      row.get(i) match {
        case n: Number => gen.writeNumber(n.longValue)
        case v         => gen.writeString(v.toString)
      }
    }
    gen.writeEndObject()
    gen.close()
    out.toString
  }
}

private object CrudTable {
  private val Json = new JsonFactory()
}
