package graft.meta

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.SparkSession

/** (date, page)-granular checkpoint/resume state (ST2).
  *
  * Reference: Airflow XCom `last_checkpoint {last_page, last_date}`
  * written on `APIPageFetchError` and read back on retry
  * (`airflow/dags/crime_etl.py:132-168, 190-228`;
  * `utils/custom_exceptions.py:1-6`).
  *
  * Persisted as a tiny JSON file, written atomically (temp file, then a
  * rename that replaces the old file) so a crash mid-write can never
  * corrupt resume state. The filesystem comes from the path, so a
  * `file:` URI or a remote store resolves. Driver-side only —
  * checkpoint state is scalar, never a distributed dataset.
  *
  * Reads, the temp file's create and `clear` go through the Hadoop
  * `FileSystem` bound to the scheme (`fs.<scheme>.impl`). The replacing
  * rename goes through `FileContext`, because `FileSystem.rename` does
  * not replace an existing file on every store; so a scheme also needs
  * an `AbstractFileSystem` binding (`fs.AbstractFileSystem.<scheme>.impl`,
  * set in Hadoop's defaults for `file:` and `hdfs:` among others), and
  * a wrapper that overrides only the `FileSystem` (a test fault
  * filesystem, say) does not see that rename.
  */
final case class CheckpointState(lastDate: String, lastPage: Int)

class Checkpoint(spark: SparkSession, path: String) {

  private val file = new Path(path)
  private def fs = file.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def read(): Option[CheckpointState] = {
    val f = fs
    if (!f.exists(file)) None
    else {
      val in = f.open(file)
      val s = try new String(in.readAllBytes(), UTF_8) finally in.close()
      val date = "\"last_date\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(s).map(_.group(1))
      val page = "\"last_page\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(s).map(_.group(1).toInt)
      for (d <- date; g <- page) yield CheckpointState(d, g)
    }
  }

  def write(state: CheckpointState): Unit = {
    val f = fs
    val tmp = new Path(path + ".tmp")
    val out = f.create(tmp, true)
    try out.write(s"""{"last_date": "${state.lastDate}", "last_page": ${state.lastPage}}""".getBytes(UTF_8))
    finally out.close()
    // FileSystem.rename will not replace an existing file on every store
    val qualified = f.makeQualified(file)
    FileContext.getFileContext(qualified.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(f.makeQualified(tmp), qualified, Options.Rename.OVERWRITE)
  }

  /** Clear state when retries are exhausted (`crime_etl.py:160-168`). */
  def clear(): Unit = { fs.delete(file, false); () }
}
