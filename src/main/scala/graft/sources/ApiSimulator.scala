package graft.sources

import graft.core.Schemas
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Offline simulator of the paginated Socrata source (S1).
  *
  * Reference: `airflow/dags/crimeapi/extract.py:9-42` — SoQL
  * `updated_on BETWEEN a AND b`, POST per page, a generator of
  * (pagenum, rows) that resumes from page N and raises a typed error
  * carrying (pagenum, date) on failure
  * (`utils/custom_exceptions.py:1-6`).
  *
  * The simulator serves deterministic synthetic pages with identical
  * pagination/resume semantics so the full pipeline (extract → land →
  * transform → upsert → log) runs with zero egress. Rows are generated
  * per page on demand (the reference's "Avoids OOM" generator design,
  * `crime_etl.py:116`); the paged run (`Runner.run`) buffers them for
  * its landing write up to a row cap of 50 000 rows, so driver memory
  * stays bounded however many pages a backfill fetches.
  */
final case class ApiPageFetchError(pagenum: Int, date: String)
    extends RuntimeException(s"page fetch failed at page=$pagenum date=$date")

class ApiSimulator(
    totalRows: Int,
    pageSize: Int,
    failAtPage: Option[Int] = None
) {

  /** Iterator of (pagenum, rows) from `resumePage`, rows filtered to the
    * updated_on window [startDate, endDate] — the S1 contract. */
  def fetchPages(startDate: String, endDate: String, resumePage: Int = 0): Iterator[(Int, Seq[Row])] = {
    val nPages = (totalRows + pageSize - 1) / pageSize
    Iterator.range(resumePage, nPages).map { pg =>
      failAtPage.filter(_ == pg).foreach(p => throw ApiPageFetchError(p, startDate))
      val rows = (pg * pageSize until math.min((pg + 1) * pageSize, totalRows)).map(genRow(_, startDate))
      (pg, rows.filter { r =>
        val upd = r.getString(Schemas.rawCrime.fieldIndex(":updated_at")).take(10)
        upd >= startDate && upd <= endDate
      })
    }
  }

  /** Deterministic synthetic raw record i (all-string, Socrata shape). */
  private def genRow(i: Int, baseDate: String): Row =
    Row.fromSeq(ApiSimulator.genValues(i, baseDate).toIndexedSeq)

  /** The rows as one slice: a write of the frame is one task, with one
    * file per partition directory it touches. */
  def toDataFrame(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toIndexedSeq, numSlices = 1), Schemas.rawCrime)
}

object ApiSimulator {

  /** Deterministic synthetic raw record i, values aligned with
    * `Schemas.rawCrime.fieldNames` — shared by the driver-side page
    * iterator above and the executor-side DSv2 readers
    * ([[ApiTableProvider]]), which must generate identical "server"
    * data without shipping the simulator instance. */
  def genValues(i: Int, baseDate: String): Array[String] = {
    val day = 1 + (i % 28)
    val primary = Seq("THEFT", "BATTERY", "ASSAULT", "BURGLARY", "ROBBERY")(i % 5)
    Schemas.rawCrime.fieldNames.map {
      case "id"                   => s"C${1000000 + i}"
      case "case_number"          => s"HX${400000 + i}"
      case "date"                 => f"${baseDate.take(8)}$day%02dT${i % 24}%02d:00:00.000"
      case "block"                => s"0${i % 100}XX N STATE ST"
      case "iucr"                 => f"${i % 500}%04d"
      case "primary_type"         => primary
      case "description"          => s"$primary DESC ${i % 7}"
      case "location_description" => Seq("STREET", "RESIDENCE", "APARTMENT")(i % 3)
      case "arrest"               => if (i % 3 == 0) "true" else "false"
      case "domestic"             => if (i % 5 == 0) "true" else "false"
      case "beat"                 => (100 + i % 900).toString
      case "district"             => (1 + i % 25).toString
      case "ward"                 => (1 + i % 50).toString
      case "community_area"       => (1 + i % 77).toString
      case "fbi_code"             => f"${i % 26}%02d"
      case "x_coordinate"         => (1100000 + i % 100000).toString
      case "y_coordinate"         => (1800000 + i % 100000).toString
      case "latitude"             => (41.6 + (i % 1000) / 2500.0).toString
      case "longitude"            => (-87.9 + (i % 1000) / 3000.0).toString
      case ":updated_at"          => s"${baseDate}T12:00:00.000"
      case _                      => null // metadata + computed-region cols
    }
  }
}
