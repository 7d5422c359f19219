package graft.operators

import graft.core.Schemas
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The landing-zone → warehouse record transform (P1–P4).
  *
  * Reference semantics: `airflow/dags/crimeapi/transform.py:6-48` —
  * drop 15 raw columns, rename 6, NaN→NULL — plus the implicit typing
  * the reference delegates to the warehouse DDL
  * (`create_crime.sql:1-22`). Here the whole chain is one narrow
  * projection: no shuffle, fully codegen'd, malformed values become
  * NULL (PERMISSIVE), and Catalyst prunes the dropped columns out of
  * the scan entirely.
  */
object Transform {

  /** Raw Socrata frame (all-string) → typed `crime` frame. */
  def crimeRecords(raw: DataFrame): DataFrame = {
    val kept = raw.drop(Schemas.droppedCols.filter(raw.columns.contains): _*)
    val renamed = kept.withColumnsRenamed(Schemas.renames)
    // typed cast per target schema; timestamps arrive as
    // yyyy-MM-dd'T'HH:mm:ss.SSS (helper.py:12-16)
    // try_* variants keep the malformed→NULL contract even under Spark 4
    // ANSI mode (plain to_timestamp/cast would throw on bad input)
    val casts = Schemas.crime.fields.map { f =>
      val c = col(f.name)
      val cast = f.dataType match {
        case TimestampType => try_to_timestamp(c, lit("yyyy-MM-dd'T'HH:mm:ss.SSS"))
        case BooleanType   => when(lower(c) === "true", true).when(lower(c) === "false", false)
        case dt            => c.try_cast(dt)
      }
      cast.as(f.name)
    }
    renamed.select(casts.toIndexedSeq: _*)
  }

}
