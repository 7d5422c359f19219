package graft.operators

import graft.core.Commit
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The engine's upsert/merge operator (J1) — the reference's
  * staging-table + `MERGE INTO crime USING stg_crime ON crime_id`
  * (`airflow/dags/crimeapi/db/postgres/db_postgres.py:158-203`,
  * `db_snowflake.py:173-207`) re-expressed as a single lazy plan.
  *
  * Semantics: matched keys take ALL non-key columns from the update
  * side; unmatched inserts. With a version column, keep-latest wins and
  * the operation is idempotent and order-insensitive (property-tested).
  *
  * Scale design:
  *  - `merge` is one `unionByName` + one window over the key — a single
  *    hash-partitioned shuffle on the merge key, map-side combinable by
  *    AQE; no driver materialization, no staging table;
  *  - [[upsertIntoParquet]] is the storage-level variant: it rewrites
  *    ONLY the partitions that contain touched keys (mirroring the
  *    reference's per-`load_date` replay granularity,
  *    `crime_etl.py:426-444`) and commits them through
  *    [[graft.core.Commit]] — at 100 TB a merge touching one day's
  *    partitions rewrites one day, not the table. Like the reference's
  *    `MERGE`, it writes the table alone: the partitions a moved key
  *    left are found from the table's own key column.
  */
object Upsert {

  /** Merge updates into target, keep-latest per key by
    * (versionCol desc, tieBreak desc). Update rows win ties so a
    * re-applied batch is a no-op (idempotence). */
  def merge(target: DataFrame, updates: DataFrame, keyCols: Seq[String], versionCol: String): DataFrame = {
    val t = target.withColumn("__src", lit(0))
    val u = updates.withColumn("__src", lit(1))
    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(versionCol).desc_nulls_last, col("__src").desc)
    t.unionByName(u)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__src")
  }

  /** Spark's directory name for a null partition value. */
  val NullPartitionDir = "__HIVE_DEFAULT_PARTITION__"

  /** Directory segment for a partition value, escaped exactly the way
    * Spark's writer escapes it (spaces, ':', '%', … — a raw toString
    * would silently miss the commit for such values). */
  private[operators] def partitionDir(partitionCol: String, v: Any): String =
    s"$partitionCol=${
      if (v == null) NullPartitionDir
      else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(v.toString)
    }"

  /** Predicate matching rows whose `partitionCol` is in `values`
    * (NULL-aware: an `isin` list alone never matches NULL). */
  def partitionFilter(partitionCol: String, values: Seq[Any]): Column = {
    val nonNull = values.filter(_ != null)
    ((if (nonNull.nonEmpty) Seq(col(partitionCol).isin(nonNull: _*)) else Nil) ++
      (if (values.contains(null)) Seq(col(partitionCol).isNull) else Nil))
      .reduceOption(_ || _)
      .getOrElse(lit(false))
  }

  /** Path of the key→partition sidecar (the "keymap") that older
    * releases wrote next to a table. It is no longer read or written;
    * a reset still deletes it with every other `<path>.*` sibling. */
  def keymapPath(tablePath: String): String = tablePath + ".keymap"

  /** Partitions OUTSIDE `updatedParts` that still hold an old version
    * of one of this batch's keys: the batch keys semi-joined against
    * `table`'s key and partition columns over the complement
    * partitions. Parquet prunes the scan to the key column chunks, and
    * the partition value comes from the directory, so the query reads
    * key-count bytes, not the rows. Exposed so the spec can assert
    * that pruning on its physical plan. */
  private[graft] def stalePartitionsFrame(
      table: DataFrame,
      updates: DataFrame,
      keyCols: Seq[String],
      partitionCol: String,
      updatedParts: Seq[Any]
  ): DataFrame = {
    // no broadcast hint: batches are usually small and AQE broadcasts
    // them; a huge backfill's key set must be free to sort-merge
    val updKeys = updates.select(keyCols.map(col): _*).distinct()
    // coalesce: for a null-partition row the isin half of the filter is
    // NULL, and !NULL is NULL — which would silently drop the row and
    // leave a duplicate behind when a key moves OUT of the null
    // partition; NULL must read as "not an updated partition" instead
    table.select((keyCols :+ partitionCol).map(col): _*)
      .filter(!coalesce(partitionFilter(partitionCol, updatedParts), lit(false)))
      .join(updKeys, keyCols, "left_semi")
      .select(partitionCol).distinct()
  }

  /** Partition-scoped parquet upsert: rewrite only the partitions this
    * batch touches; leave the rest untouched. Returns the touched
    * partition values (callers scope their post-load checks to them).
    *
    * "Touched" covers two sets: partitions of the update rows AND
    * partitions still holding an OLD version of an updated key (a key
    * whose partition value changed — e.g. a corrected occurrence date —
    * must vanish from its old partition or the table would carry
    * duplicates). The second set comes from [[stalePartitionsFrame]]:
    * the batch keys semi-joined against the complement partitions'
    * key column. Parquet reads only that column's chunks and takes the
    * partition value from the directory, so the query costs key-count
    * bytes, not a scan of the rows.
    *
    * The touched partitions are staged and committed through
    * [[graft.core.Commit]], so a crash at any step leaves the pre-load
    * or (after the next entry) the post-load table. An absent or empty
    * table dir (catalog DDL pre-creates external table locations) is an
    * empty target: the first batch runs the same keep-latest merge, so
    * duplicate keys in it (e.g. a retried load that re-landed pages)
    * collapse too, and its commit replaces the dir whole.
    *
    * Null partition values are first-class: the target filter matches
    * them with `isNull` and the commit uses Spark's
    * `__HIVE_DEFAULT_PARTITION__` name — Transform deliberately maps
    * malformed timestamps to NULL, so null-partition rows must merge,
    * not silently vanish. */
  def upsertIntoParquet(
      spark: SparkSession,
      tablePath: String,
      updates: DataFrame,
      keyCols: Seq[String],
      versionCol: String,
      partitionCol: String
  ): Seq[Any] = {
    Commit.recover(spark, tablePath)
    val updatedParts = updates.select(partitionCol).distinct().collect().map(_.get(0)).toSeq
    if (updatedParts.isEmpty) return Seq.empty // empty update batch
    val live = IncrementalAgg.stateHasData(Commit.fs(spark, tablePath), tablePath)
    // one read serves both queries: the stored schema (inferred on
    // purpose) is what makes a batch lacking a column fail in unionByName
    val table = if (live) Some(spark.read.parquet(tablePath)) else None
    val staleParts = table.toSeq.flatMap(t =>
      stalePartitionsFrame(t, updates, keyCols, partitionCol, updatedParts).collect().map(_.get(0)))
    val touched = (updatedParts ++ staleParts).distinct
    val target = table.fold(updates.filter(lit(false)))(_.filter(partitionFilter(partitionCol, touched)))
    merge(target, updates, keyCols, versionCol)
      .write.mode(SaveMode.Overwrite).partitionBy(partitionCol)
      .parquet(Commit.staged(tablePath, tablePath))
    val parts = if (live) Some(touched.map(partitionDir(partitionCol, _))) else None
    Commit.commit(spark, tablePath, Seq(Commit.Target(tablePath, parts)))
    touched
  }
}
