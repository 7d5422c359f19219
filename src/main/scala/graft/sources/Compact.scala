package graft.sources

import graft.core.Commit
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Small-file compaction for the hive-partitioned landing zone.
  *
  * The reference lands one gz-JSON object per API page per day
  * (`airflow/dags/crimeapi/load.py:17-18`) — at production rates that
  * is thousands of KB-sized files per partition, and every downstream
  * scan pays the per-file open/schema/seek cost (the classic
  * small-files problem; a 100 TB landing zone can drown a NameNode /
  * object-store listing in it). [[landingZone]] rewrites the
  * offending partitions into ~`targetBytes` files.
  *
  * Scale shape: candidates are picked from the file listing (driver
  * metadata pass, same as any table-format OPTIMIZE); the rewrite is
  * ONE Spark job that reads ONLY candidate directories
  * (partition-pruned via `basePath`), salts rows so each partition
  * lands in ~ceil(bytes/target) shuffle groups, writes to the staging
  * dir, and replaces the candidate directories in one
  * [[graft.core.Commit]], so a crash at any step rolls forward on the
  * next call and never loses a partition. Non-candidate partitions are
  * never read or touched. Readers that raced the apply re-list on
  * retry; landing-zone consumers are replay-driven (load_date-scoped),
  * so that window is benign there.
  */
object Compact {

  /** Per-partition compaction outcome. */
  final case class PartStats(dir: String, filesBefore: Int, filesAfter: Int, bytes: Long)

  private def isDataFile(p: Path): Boolean = {
    val n = p.getName
    !n.startsWith("_") && !n.startsWith(".")
  }

  private def leafDirs(fs: FileSystem, dir: Path): Seq[Path] = {
    val (dirs, files) = fs.listStatus(dir).toSeq.partition(_.isDirectory)
    val here = if (files.exists(f => isDataFile(f.getPath))) Seq(dir) else Nil
    here ++ dirs.flatMap(d => leafDirs(fs, d.getPath))
  }

  /** Compact every leaf partition of `root` holding at least `minFiles`
    * data files into ~`targetBytes` gz-JSON files. Returns per-partition
    * stats (empty when nothing qualifies). */
  def landingZone(
      spark: SparkSession,
      root: String,
      targetBytes: Long,
      minFiles: Int = 2): Seq[PartStats] = {
    require(targetBytes > 0 && minFiles >= 2, "targetBytes > 0, minFiles >= 2")
    Commit.recover(spark, root)
    val fs = Commit.fs(spark, root)
    val rootPath = fs.makeQualified(new Path(root))
    val candidates = leafDirs(fs, rootPath)
      .map { d =>
        val files = fs.listStatus(d).filter(s => s.isFile && isDataFile(s.getPath))
        (d, files.length, files.map(_.getLen).sum)
      }
      .filter(_._2 >= minFiles)
    if (candidates.isEmpty) return Nil

    // relative partition path (year=Y/month=M/load_date=D) and group count
    def rel(d: Path): String =
      d.toString.stripPrefix(rootPath.toString).stripPrefix("/")
    val groups = candidates.map { case (d, _, bytes) =>
      rel(d) -> math.max(1L, (bytes + targetBytes - 1) / targetBytes)
    }
    import spark.implicits._
    val groupsDf = groups.toDF("__part", "__k")

    // one job over candidate dirs only; basePath keeps partition columns.
    // The schema is declared (raw crime fields + STRING partition cols)
    // so partition-type inference can't rewrite dir names on the way
    // back out (month=07 inferred as int would re-land as month=7 and
    // strand the commit).
    val partCols = Seq("year", "month", "load_date")
    val data = spark.read
      .schema(partCols.foldLeft(graft.core.Schemas.rawCrime)(
        (s, c) => s.add(c, org.apache.spark.sql.types.StringType)))
      .option("basePath", rootPath.toString)
      .json(candidates.map(_._1.toString): _*)
    val withPart = data.withColumn(
      "__part",
      concat_ws("/", partCols.map(c => concat(lit(c + "="), col(c).cast("string"))): _*))
    withPart
      .join(broadcast(groupsDf), Seq("__part"))
      .withColumn("__salt", pmod(xxhash64(data.columns.map(col): _*), col("__k")))
      .repartition(partCols.map(col) :+ col("__salt"): _*)
      .drop("__part", "__k", "__salt")
      .write.mode("overwrite")
      .partitionBy(partCols: _*)
      .option("compression", "gzip")
      .json(Commit.staged(root, root))

    // a candidate without staged output would commit as a drop
    candidates.find(c => !fs.exists(new Path(Commit.staged(root, root), rel(c._1)))).foreach { c =>
      throw new java.io.IOException(s"compaction produced no output for ${rel(c._1)}")
    }
    Commit.commit(spark, root, Seq(Commit.Target(root, Some(candidates.map(c => rel(c._1))))))
    candidates.map { case (d, nBefore, bytes) =>
      PartStats(rel(d), nBefore, fs.listStatus(d).count(s => s.isFile && isDataFile(s.getPath)), bytes)
    }
  }
}
