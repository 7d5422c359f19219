package graft.core

import org.apache.spark.sql.types._

/** Fixed schema constants for the crime-ETL data model.
  *
  * Derived from the reference DDL:
  * `airflow/include/sql/postgres/create_crime.sql:1-22`,
  * `create_stg_crime.sql:1-23`, `create_logs.sql:1-11`, and the raw
  * Socrata field set in `airflow/dags/crimeapi/transform.py:9-34`
  * (see FIXTURES.md).
  */
object Schemas {

  val computedRegionCols: Seq[String] = Seq(
    ":@computed_region_awaf_s7ux", ":@computed_region_6mkv_f3dw",
    ":@computed_region_vrxf_vc4k", ":@computed_region_bdys_3d7i",
    ":@computed_region_43wa_7qmu", ":@computed_region_rpca_8um6",
    ":@computed_region_d9mm_jgwp", ":@computed_region_d3ds_rm58",
    ":@computed_region_8hcu_yrd4"
  )

  /** Raw landing-zone record: every field arrives as a JSON string
    * (typing happens at the warehouse boundary in the reference). The
    * nine `:@computed_region_*` fields, nested `location`, and the
    * metadata fields are carried so the transform can drop them.
    * (computedRegionCols is declared first — object vals initialize in
    * source order.) */
  val rawCrime: StructType = StructType(
    (Seq(
      "id", "case_number", "date", "block", "iucr", "primary_type",
      "description", "location_description", "arrest", "domestic",
      "beat", "district", "ward", "community_area", "fbi_code",
      "x_coordinate", "y_coordinate", "latitude", "longitude",
      ":updated_at", ":id", ":version", ":created_at", "year", "updated_on"
    ) ++ computedRegionCols).map(StructField(_, StringType, nullable = true))
  )

  /** Columns dropped by the transform (`transform.py:9-25`). */
  val droppedCols: Seq[String] =
    computedRegionCols ++ Seq("location", ":id", ":version", ":created_at", "year", "updated_on")

  /** Renames applied by the transform (`transform.py:27-34`). */
  val renames: Map[String, String] = Map(
    "id" -> "crime_id",
    "case_number" -> "case_num",
    "date" -> "date_of_occurrence",
    "primary_type" -> "primary_description",
    "description" -> "secondary_description",
    ":updated_at" -> "source_updated_on"
  )

  /** Warehouse `crime` table (`create_crime.sql:1-22`); arrest/domestic
    * upgraded VARCHAR→BOOLEAN (deliberate cleanup, SURVEY.md §1.2). */
  val crime: StructType = StructType(Seq(
    StructField("crime_id", StringType, nullable = false),
    StructField("case_num", StringType),
    StructField("date_of_occurrence", TimestampType),
    StructField("block", StringType),
    StructField("iucr", StringType),
    StructField("primary_description", StringType),
    StructField("secondary_description", StringType),
    StructField("location_description", StringType),
    StructField("arrest", BooleanType),
    StructField("domestic", BooleanType),
    StructField("beat", IntegerType),
    StructField("district", IntegerType),
    StructField("ward", IntegerType),
    StructField("community_area", IntegerType),
    StructField("fbi_code", StringType),
    StructField("x_coordinate", IntegerType),
    StructField("y_coordinate", IntegerType),
    StructField("latitude", DoubleType),
    StructField("longitude", DoubleType),
    StructField("source_updated_on", TimestampType)
  ))

  /** Run-metadata `logs` table (`create_logs.sql:1-11`). */
  val logs: StructType = StructType(Seq(
    StructField("run_id", StringType, nullable = false),
    StructField("load_date", DateType, nullable = false),
    StructField("type", StringType),   // SCHEDULED | RECOVERY
    StructField("mode", StringType),   // FULL | INCREMENT
    StructField("status", StringType), // RUNNING | SUCCESS | FAILED
    StructField("start_time", StringType), // HH:mm:ss (helper.py:18-19)
    StructField("end_time", StringType),
    StructField("config", StringType)
  ))
}
