package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one on-disk commit of every stored-state rewrite — the upsert
  * into a partitioned table, the flat and partitioned folds, the IVF
  * reassign, the landing-zone compaction — and the only writer of a
  * state's identity. The reference's upsert is a staging table plus
  * one atomic `MERGE`; this is the same contract on a filesystem:
  *
  *  1. The caller's own Spark job writes the new partitions, or the
  *     whole new state, under [[staged]] — a `<path>.staging` sibling
  *     readers never look at.
  *  2. [[commit]] writes the sibling file `<path>.commit` (tmp file +
  *     rename). It names the entries to replace, the ones to drop, the
  *     new applied-batch id and the state's identity. That rename is
  *     the commit point.
  *  3. The record is applied idempotently: an entry is replaced only
  *     while its staged copy still exists. The identity file is
  *     rewritten next, the applied-batch marker last, then the record
  *     and the staging dir are deleted.
  *  4. Every entry point calls [[recover]] first. A record left by a
  *     crash is applied again; without one, the staging dir is deleted,
  *     because the old state is still intact.
  *
  * Identity: a state records how it was built as named entries (a
  * fold's `params`, a stream sink's `stream`), each a one-line string,
  * in the sibling file `<path>.identity`. A commit may carry entries;
  * the record then holds the whole new identity (the current entries
  * overlaid with the committed ones), so a re-applied record rewrites
  * the file whole and a crash rolls forward like the rows do. A commit
  * with no targets changes the identity alone. [[identity]] is the one
  * read, and it recovers first.
  *
  * A crash at any filesystem step therefore leaves either the old state
  * or, after the next entry, the new one. A reset deletes `<path>` and
  * every `<path>.*` sibling, record, staging dir and identity included,
  * so it always starts fresh. The stored dirs keep their plain
  * hive-partitioned layout; readers that list them mid-apply can still
  * see a half-applied commit (reader isolation is not part of this
  * protocol). */
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
  private def identityFile(path: String) = new Path(path + ".identity")

  /** Where the caller's Spark job writes the new version of `live`. */
  def staged(path: String, live: String): String =
    new Path(staging(path), new Path(live).getName).toString

  private def readLines(f: FileSystem, p: Path): List[String] = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList finally in.close()
  }

  private def write(f: FileSystem, p: Path, text: String): Unit = {
    val out = f.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** The applied-batch id recorded in the state dir at `path`, or -1. */
  def appliedBatch(spark: SparkSession, path: String): Long = {
    val marker = new Path(path, MarkerFile)
    val f = fs(spark, path)
    if (!f.exists(marker)) -1L else readLines(f, marker).mkString.trim.toLong
  }

  /** The identity entries of the state at `path`, after [[recover]].
    * Refuses a state whose identity is still in the per-entry sidecar
    * files of older releases, which this one no longer reads. */
  def identity(spark: SparkSession, path: String): Map[String, String] = {
    recover(spark, path)
    val f = fs(spark, path)
    val oldFormat = Seq(".qs-params", ".kmv-params", ".mg-params", ".cms-params",
      ".ivf-params", ".pq-params", ".stream-identity").map(path + _).filter(p => f.exists(new Path(p)))
    require(oldFormat.isEmpty,
      s"the state at $path records its identity in the old sidecar format " +
        s"(${oldFormat.mkString(", ")}), which this version does not read. Delete $path and " +
        s"every $path.* sibling to start fresh.")
    readIdentity(f, path)
  }

  private def readIdentity(f: FileSystem, path: String): Map[String, String] =
    if (!f.exists(identityFile(path))) Map.empty
    else readLines(f, identityFile(path)).map(l => l.takeWhile(_ != ' ') -> l.dropWhile(_ != ' ').drop(1)).toMap

  /** Commit what the caller staged for `targets`, record `batchId` as
    * the applied batch of `path`, and set the `identity` entries given.
    * Runs no Spark job. */
  def commit(
      spark: SparkSession,
      path: String,
      targets: Seq[Target],
      batchId: Option[Long] = None,
      identity: Map[String, String] = Map.empty): Unit = {
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
    require(identity.forall { case (k, v) => k.nonEmpty && !k.contains(' ') && !(k + v).contains('\n') },
      s"commit: identity entries are one-line values under space-free names: $identity")
    val ids =
      if (identity.isEmpty) Nil
      else (readIdentity(f, path) ++ identity).toSeq.sorted.map { case (k, v) => s"identity $k $v" }
    val lines = entries ++ ids ++ batchId.map(id => s"batch $id")
    write(f, recordTmp(path), lines.map(_ + "\n").mkString)
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
    val lines = readLines(f, record(path))
    val parent = new Path(path).getParent
    lines.foreach { line =>
      val op = line.takeWhile(_ != ' ')
      val name = line.drop(op.length + 1) // partition values may end in spaces
      op match {
        case "replace" =>
          val (src, live) = (new Path(staging(path), name), new Path(parent, name))
          if (f.exists(src)) {
            delete(f, live)
            if (!f.exists(live.getParent)) f.mkdirs(live.getParent)
            if (!f.rename(src, live)) throw new java.io.IOException(s"commit: failed to rename $src -> $live")
          }
        case "drop" => delete(f, new Path(parent, name))
        case _      => () // "identity" and "batch" go after the data
      }
    }
    val ids = lines.filter(_.startsWith("identity ")).map(_.stripPrefix("identity "))
    if (ids.nonEmpty) write(f, identityFile(path), ids.map(_ + "\n").mkString)
    lines.find(_.startsWith("batch ")).foreach(l => write(f, new Path(path, MarkerFile), l.stripPrefix("batch ")))
    delete(f, record(path))
    discard(f, path)
  }
}
