package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.etl.StarSchema

/** Serving-side warehouse surface (SURVEY.md §2.1 S5/S6/S9/S10):
  * catalog registration, validated generic scans, JSON record encoding.
  */
object Warehouse {

  /** Register the star schema as temp views (the engine's "database"). */
  def register(spark: SparkSession, star: StarSchema): Unit =
    star.tables.foreach { case (name, df) => df.createOrReplaceTempView(name) }

  /** Catalog introspection (reference: app/database/db.py:18-20 lists public
    * tables via information_schema).
    */
  def listTables(spark: SparkSession): Seq[String] =
    spark.catalog.listTables().collect().map(_.name).toSeq.sorted

  /** A catalog table by name (reference: app/routes/tables.py:29
    * string-interpolates the URL path into SQL — an injection hole; here the
    * name must exist in the catalog, nothing is ever interpolated).
    */
  def table(spark: SparkSession, name: String): DataFrame = {
    // an unparseable "name" (e.g. injection attempts) is just an unknown table
    val exists =
      try spark.catalog.tableExists(name)
      catch { case _: Exception => false }
    require(exists, s"unknown table: $name")
    spark.table(name)
  }

  /** Generic limited scan by table name: [[table]], capped at `limit` rows. */
  def tableScan(spark: SparkSession, name: String, limit: Int = 100): DataFrame =
    table(spark, name).limit(limit)

  /** Rows → JSON records (reference: the per-value coercion loop at
    * app/routes/data.py:14-48 — Spark's encoders already emit JSON-safe
    * values, so the whole "clean_records" layer is one call).
    */
  def jsonRecords(df: DataFrame): Dataset[String] = df.toJSON

  /** Batch upsert — the engine form of the reference's CRUD writes
    * (api/api_crud.py insert/update/delete on the serving tables): new rows
    * win over existing rows on the primary key; a parquet warehouse swaps
    * the table atomically instead of mutating rows in place.
    *
    * Duplicate pks inside `updates` are legal: the winner is chosen by a
    * deterministic content-hash tiebreaker (not partition order), so reruns
    * produce the same table bit-for-bit.
    */
  def upsert(existing: DataFrame, updates: DataFrame, pk: String): DataFrame =
    upsert(existing, updates, Seq(pk))

  /** Composite-key form of [[upsert]] (e.g. region_yearly_summary's
    * (WHO_region, Year) PK, reference api/api_crud.py:40-46).
    */
  def upsert(existing: DataFrame, updates: DataFrame, pks: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val tagged = existing.withColumn("__priority", lit(0))
      .unionByName(updates.withColumn("__priority", lit(1)))
    val contentTiebreak = xxhash64(existing.columns.toIndexedSeq.map(col): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pks.map(col): _*).orderBy(col("__priority").desc, contentTiebreak)
    tagged
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__priority", "__rn")
  }

  /** CDC latest-wins merge: fold a change batch into the current table,
    * keeping per-pk the row with the highest `ordering` tuple (e.g.
    * (ts, event_id) — the change's own version, NOT arrival order). Because
    * the winner is an argmax over a total order carried BY the rows, the
    * fold is associative and commutative across batch splits: however a
    * changelog is chopped into micro-batches (and whatever order files
    * arrive in), the converged table is identical to applying the whole
    * log at once — the property st06 gates. Unlike [[upsert]] (whose
    * updates always beat existing), re-applying an old batch here is a
    * no-op: idempotent recovery after replay.
    */
  def cdcApply(existing: DataFrame, changes: DataFrame, pk: String,
      ordering: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(pk)).orderBy(ordering.map(c => col(c).desc): _*)
    existing.unionByName(changes)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Batch delete-by-key (CRUD delete): anti join on the key set. */
  def deleteByKey(existing: DataFrame, keys: DataFrame, pk: String): DataFrame =
    deleteByKey(existing, keys, Seq(pk))

  /** Composite-key form of [[deleteByKey]]. */
  def deleteByKey(existing: DataFrame, keys: DataFrame, pks: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    existing.join(keys.select(pks.map(col): _*), pks, "left_anti")
  }

  /** SCD2 merge — versioned dimension maintenance. `history` carries
    * (pk, attrs…, valid_from, valid_to, is_current); `updates` carries
    * (pk, attrs…) effective at `effectiveTs`. Changed rows close the
    * current version (valid_to = effectiveTs) and append a new current one;
    * unchanged updates are no-ops (re-applying the same batch is
    * idempotent); unseen pks insert as current. All comparisons are
    * null-safe (<=>); one join against current versions only.
    *
    * `updates` carries no ordering column, so duplicate-pk update rows have
    * no "latest": the batch is first reduced to one row per pk by a
    * deterministic content-hash tiebreaker (identical duplicates collapse to
    * one row; conflicting duplicates pick a stable winner instead of opening
    * two concurrent `is_current` versions for the same pk).
    */
  def scd2Merge(
      history: DataFrame, updates0: DataFrame, pk: String, attrs: Seq[String],
      effectiveTs: java.sql.Timestamp,
  ): DataFrame = {
    import org.apache.spark.sql.functions._
    val updates = updates0
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(pk))
          .orderBy(xxhash64(attrs.map(col): _*))))
      .filter(col("__rn") === 1)
      .drop("__rn")
    val current = history.filter(col("is_current"))
    val cur = attrs.foldLeft(current.select((pk +: attrs).map(col): _*)) {
      (df, a) => df.withColumnRenamed(a, s"__cur_$a")
    }.withColumn("__has_cur", lit(true)) // explicit marker: attr nulls are data
    // an update "changes" its pk if there is no current row or any attr differs
    val joined = updates.join(cur, Seq(pk), "left")
    val differs = attrs
      .map(a => !(col(a) <=> col(s"__cur_$a")))
      .reduce(_ || _)
    val changed = joined
      .filter(col("__has_cur").isNull || differs)
      .select((pk +: attrs).map(col): _*)
    val changedKeys = changed.select(pk)
    val closed = current
      .join(changedKeys, Seq(pk), "left_semi")
      .withColumn("valid_to", lit(effectiveTs))
      .withColumn("is_current", lit(false))
    val opened = changed
      .withColumn("valid_from", lit(effectiveTs))
      .withColumn("valid_to", lit(null).cast("timestamp"))
      .withColumn("is_current", lit(true))
    history
      .join(changedKeys, Seq(pk), "left_anti") // untouched history rows
      .unionByName(history.join(changedKeys, Seq(pk), "left_semi")
        .filter(!col("is_current"))) // changed pks keep their closed past versions
      .unionByName(closed.select(history.columns.toIndexedSeq.map(col): _*))
      .unionByName(opened.select(history.columns.toIndexedSeq.map(col): _*))
  }

  /** Compact a parquet table directory: rewrite to ⌈size / targetBytes⌉
    * files. The small-files problem is the dominant operational cost of a
    * long-lived 100 TB warehouse (every scan pays file-open + footer-read
    * per file; listing grows unbounded) — periodic compaction to
    * scan-sized files keeps read amplification flat. Plan-stats sizing, a
    * single repartition (round-robin — no key skew), and an atomic
    * directory swap via a temp dir + rename.
    *
    * STORAGE CONTRACT: the swap's atomicity (and the delete+rename window's
    * crash safety) relies on the filesystem's atomic directory rename —
    * true on HDFS and POSIX, NOT on object stores (S3-style rename is
    * copy+delete, and the delete/rename window leaves readers with a
    * missing or partial table on crash). On object storage use
    * [[compactManifest]]: same sizing logic, manifest-committed publish.
    */
  def compact(spark: SparkSession, dir: String, targetBytes: Long = 128L << 20): Int = {
    val df = spark.read.parquet(dir)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val tmp = s"$dir.__compact_tmp"
    df.repartition(nFiles).write.mode("overwrite").parquet(tmp)
    val path = new org.apache.hadoop.fs.Path(dir)
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(path, true)
    fs.rename(tmpPath, path)
    nFiles
  }

  /** Object-store-safe table layout: data file sets are published through
    * versioned MANIFESTS instead of directory listings, so a "commit" is
    * one atomic object PUT (every object store gives atomic single-object
    * writes; none gives atomic directory rename). `_manifests/
    * manifest-%08d.json` holds the absolute data-file list for that
    * version; readers take the highest version present. Writers never
    * mutate or delete live data files — a crash mid-compaction leaves
    * either the old manifest (new orphan files, swept by a later vacuum)
    * or the new one (fully written, because the manifest is PUT last).
    * This is the Iceberg/Delta commit protocol in miniature, enough to
    * make compaction crash-safe where [[compact]]'s rename is not.
    */
  object Manifest {
    private def fs(spark: SparkSession, dir: String) =
      new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)

    private def manifestDir(dir: String) = new org.apache.hadoop.fs.Path(dir, "_manifests")

    /** (version, data files) of the newest manifest; None if the table has
      * never been manifest-committed.
      */
    def latest(spark: SparkSession, dir: String): Option[(Int, Seq[String])] = {
      val f = fs(spark, dir)
      val md = manifestDir(dir)
      if (!f.exists(md)) return None
      val versions = f.listStatus(md).map(_.getPath.getName)
        .filter(_.matches("manifest-\\d{8}\\.json")).sorted
      versions.lastOption.map { name =>
        val v = name.stripPrefix("manifest-").stripSuffix(".json").toInt
        val in = f.open(new org.apache.hadoop.fs.Path(md, name))
        val json = try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
        // minimal, dependency-free: one JSON string array of file paths
        val files = "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(json)
          .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\")).toSeq
        (v, files)
      }
    }

    /** Publish `files` as version `v` — ONE object PUT, the commit point. */
    def commit(spark: SparkSession, dir: String, v: Int, files: Seq[String]): Unit = {
      val f = fs(spark, dir)
      f.mkdirs(manifestDir(dir))
      val body = files.map(p => "\"" + p.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
        .mkString("[", ",\n ", "]")
      val out = f.create(
        new org.apache.hadoop.fs.Path(manifestDir(dir), f"manifest-$v%08d.json"), false)
      try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }

    /** Read the table at its newest committed version (falls back to a
      * plain directory read for never-committed tables).
      */
    def read(spark: SparkSession, dir: String): DataFrame =
      latest(spark, dir) match {
        case Some((_, files)) => spark.read.parquet(files: _*)
        case None             => spark.read.parquet(dir)
      }
  }

  /** [[compact]] with object-store commit semantics: new files land in a
    * fresh `data-v{N}` prefix (never touching live files), and the new
    * manifest is PUT last — the single atomic commit point. Returns the
    * committed version. Old versions' files remain until vacuumed, so
    * in-flight readers of version N−1 are undisturbed.
    */
  def compactManifest(spark: SparkSession, dir: String, targetBytes: Long = 128L << 20): Int = {
    val df = Manifest.read(spark, dir)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val v = Manifest.latest(spark, dir).map(_._1 + 1).getOrElse(1)
    val dataDir = new org.apache.hadoop.fs.Path(dir, f"data-v$v%08d")
    df.repartition(nFiles).write.mode("errorifexists").parquet(dataDir.toString)
    val f = dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = f.listStatus(dataDir).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted.toSeq
    Manifest.commit(spark, dir, v, files)
    v
  }

  /** Bucketed + sorted managed table: both sides of a recurring equi-join
    * bucketed on the join key with the SAME bucket count join with ZERO
    * exchange and zero sort (SortMergeJoin reads co-located, pre-sorted
    * buckets directly). At 100 TB this turns every fact⋈fact join on the
    * bucketing key from a full shuffle into a local merge —
    * WarehouseSpec proves the Exchange-free plan.
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    // true overwrite across JVMs: a managed table's directory can outlive
    // the (in-memory) catalog entry, and CREATE then refuses the location
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(wh)) fs.delete(wh, true)
    df.write
      .mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
  }
}
