package graft.sources

import graft.core.Schemas
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The hive-partitioned landing zone (S2–S5).
  *
  * Reference layout: `raw/year=YYYY/month=MM/load_date=YYYY-MM-DD/
  * part-NNNN.json.gz` (`airflow/dags/crimeapi/load.py:17-18`,
  * `utils/helper.py:67-86`), read back via a regex over partition keys
  * (`helper.py:21-39`, `load.py:25-47`).
  *
  * Spark-native: one `partitionBy` write (gzip JSON — S3+S4 collapse
  * into a single partitioned sink) and schema'd reads where the
  * `load_date` filter prunes partitions in the scan — the regex filter
  * becomes `PartitionFilters` in the physical plan, so a replay of one
  * day reads one directory, not the bucket listing.
  */
object LandingZone {

  /** S3+S4: land a batch of rows — one or many pages — hive-partitioned,
    * appending to what earlier writes landed. */
  def write(df: DataFrame, root: String, loadDate: String): Unit =
    df.withColumn("year", substring(col("date"), 1, 4))
      .withColumn("month", substring(col("date"), 6, 2))
      .withColumn("load_date", lit(loadDate))
      .write
      .mode("append")
      .partitionBy("year", "month", "load_date")
      .option("compression", "gzip")
      .json(root)

  /** S2+S5: read pages back, pruned to the given load_dates. Partition
    * columns come back as columns; raw fields keep the declared
    * all-string schema. */
  def read(spark: SparkSession, root: String, loadDates: Seq[String]): DataFrame = {
    val raw = spark.read
      .schema(Schemas.rawCrime
        .add("year", org.apache.spark.sql.types.StringType)
        .add("month", org.apache.spark.sql.types.StringType)
        .add("load_date", org.apache.spark.sql.types.StringType))
      .json(root)
    val pruned =
      if (loadDates.isEmpty) raw
      else raw.filter(col("load_date").isin(loadDates: _*))
    pruned.drop("year", "month", "load_date")
  }
}
