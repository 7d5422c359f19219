package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one on-disk commit of every stored-state rewrite — the upsert
  * into a partitioned table and its keymap, the flat and partitioned
  * folds, the IVF reassign. The reference's upsert is a staging table
  * plus one atomic `MERGE`; this is the same contract on a filesystem:
  *
  *  1. The caller's own Spark job writes the new partitions, or the
  *     whole new state, under [[staged]] — a `<path>.staging` sibling
  *     readers never look at.
  *  2. [[commit]] writes the sibling file `<path>.commit` (tmp file +
  *     rename). It names the entries to replace, the ones to drop, and
  *     the new applied-batch id. That rename is the commit point.
  *  3. The record is applied idempotently: an entry is replaced only
  *     while its staged copy still exists. The applied-batch marker is
  *     written last, then the record and the staging dir are deleted.
  *  4. Every entry point calls [[recover]] first. A record left by a
  *     crash is applied again; without one, the staging dir is deleted,
  *     because the old state is still intact.
  *
  * A crash at any filesystem step therefore leaves either the old state
  * or, after the next entry, the new one. A reset deletes `<path>` and
  * every `<path>.*` sibling, record and staging dir included, so it
  * always starts fresh. The stored dirs keep their plain hive-partitioned
  * layout; readers that list them mid-apply can still see a half-applied
  * commit (reader isolation is not part of this protocol). */
object Commit {

  /** Applied-batch marker inside a state dir (leading '_': parquet
    * readers skip it). */
  private val MarkerFile = "_applied_batch"

  /** A stored dir to rewrite: `live` is `path` itself or a sibling of
    * it, `parts` the partition dirs of it to replace or drop (`None`:
    * the whole dir). */
  final case class Target(live: String, parts: Option[Seq[String]])

  def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def staging(path: String) = new Path(path + ".staging")
  private def record(path: String) = new Path(path + ".commit")
  private def recordTmp(path: String) = new Path(path + ".commit.tmp")

  /** Where the caller's Spark job writes the new version of `live`. */
  def staged(path: String, live: String): String =
    new Path(staging(path), new Path(live).getName).toString

  /** The applied-batch id recorded in the state dir at `path`, or -1. */
  def appliedBatch(spark: SparkSession, path: String): Long = {
    val marker = new Path(path, MarkerFile)
    val f = fs(spark, path)
    if (!f.exists(marker)) -1L
    else {
      val in = f.open(marker)
      try scala.io.Source.fromInputStream(in).mkString.trim.toLong finally in.close()
    }
  }

  /** Commit what the caller staged for `targets`, and record `batchId`
    * as the applied batch of `path`. Runs no Spark job. */
  def commit(spark: SparkSession, path: String, targets: Seq[Target], batchId: Option[Long] = None): Unit = {
    val f = fs(spark, path)
    val entries = targets.flatMap {
      case Target(live, None) =>
        val name = new Path(live).getName
        require(f.exists(new Path(staging(path), name)), s"commit: nothing staged for $live")
        Seq(s"replace $name")
      case Target(live, Some(parts)) =>
        val name = new Path(live).getName
        parts.map { p =>
          if (f.exists(new Path(staging(path), s"$name/$p"))) s"replace $name/$p" else s"drop $name/$p"
        }
    }
    val lines = entries ++ batchId.map(id => s"batch $id")
    val out = f.create(recordTmp(path), true)
    try out.write(lines.map(_ + "\n").mkString.getBytes("UTF-8")) finally out.close()
    if (!f.rename(recordTmp(path), record(path)))
      throw new java.io.IOException(s"commit: failed to rename ${recordTmp(path)} -> ${record(path)}")
    applyRecord(f, path)
  }

  /** Finish or roll back whatever a crash left of the last commit of
    * `path`: re-apply a written record, else drop the staged data. */
  def recover(spark: SparkSession, path: String): Unit = {
    val f = fs(spark, path)
    if (f.exists(record(path))) applyRecord(f, path) else discard(f, path)
  }

  /** Drop staged data that will never be committed. */
  def discard(spark: SparkSession, path: String): Unit = discard(fs(spark, path), path)

  private def discard(f: FileSystem, path: String): Unit = {
    delete(f, staging(path))
    delete(f, recordTmp(path))
  }

  private def delete(f: FileSystem, p: Path): Unit =
    if (f.exists(p) && !f.delete(p, true)) throw new java.io.IOException(s"commit: failed to delete $p")

  private def applyRecord(f: FileSystem, path: String): Unit = {
    val in = f.open(record(path))
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList finally in.close()
    val parent = new Path(path).getParent
    lines.foreach { line =>
      val op = line.takeWhile(_ != ' ')
      val name = line.drop(op.length + 1) // partition values may end in spaces
      val live = new Path(parent, name)
      op match {
        case "replace" =>
          val src = new Path(staging(path), name)
          if (f.exists(src)) {
            delete(f, live)
            if (!f.exists(live.getParent)) f.mkdirs(live.getParent)
            if (!f.rename(src, live)) throw new java.io.IOException(s"commit: failed to rename $src -> $live")
          }
        case "drop" => delete(f, live)
        case _      => () // "batch": the marker goes last
      }
    }
    lines.find(_.startsWith("batch ")).foreach { l =>
      val out = f.create(new Path(path, MarkerFile), true)
      try out.write(l.stripPrefix("batch ").getBytes("UTF-8")) finally out.close()
    }
    delete(f, record(path))
    discard(f, path)
  }
}
