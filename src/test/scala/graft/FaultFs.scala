package graft

import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.file.Files

import java.util.concurrent.atomic.AtomicInteger

/** Test-only local filesystem that simulates a crash. While armed, it
  * counts the mutating calls (create, delete, rename, mkdirs) on paths
  * under one prefix; from the k-th such call on, each one throws, as a
  * process that died there would make no further change. Spark's own
  * writes resolve the filesystem from their paths too, so their calls
  * count alongside the engine's. */
class FaultFs extends LocalFileSystem {
  private def step(f: Path): Unit = FaultFs.step(makeQualified(f).toUri.getPath)

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    step(f); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    step(f); super.createNonRecursive(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = { step(f); super.delete(f, recursive) }
  override def rename(src: Path, dst: Path): Boolean = { step(src); super.rename(src, dst) }
  override def mkdirs(f: Path): Boolean = { step(f); super.mkdirs(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { step(f); super.mkdirs(f, permission) }
}

object FaultFs {
  @volatile private var prefix: Option[String] = None
  @volatile private var crashAt = Int.MaxValue
  private val calls = new AtomicInteger()

  private def step(path: String): Unit =
    if (prefix.exists(path.startsWith)) {
      val n = calls.incrementAndGet()
      if (n >= crashAt) throw new java.io.IOException(s"injected crash at mutating call $n on $path")
    }

  /** Run `body` with this filesystem serving `file:` paths, counting
    * the mutating calls on absolute paths starting with `pathPrefix`;
    * from call `k` on they throw. Returns whether `body` threw, and the
    * number of calls it made. */
  def run(spark: SparkSession, pathPrefix: String, k: Int = Int.MaxValue)(body: => Any): (Boolean, Int) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache") // the cached instance is a plain one
    val saved = keys.map(key => key -> Option(conf.get(key)))
    conf.set(keys(0), classOf[FaultFs].getName)
    conf.setBoolean(keys(1), true)
    calls.set(0); crashAt = k; prefix = Some(pathPrefix)
    spark.sparkContext.setLogLevel("OFF") // the failing tasks' stack traces
    try {
      val threw = try { body; false } catch { case _: Exception => true }
      (threw, calls.get)
    } finally {
      // a crashed process makes no further change: let the failed job's
      // cancelled tasks finish while their mutating calls still throw
      val tracker = spark.sparkContext.statusTracker
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while ((tracker.getActiveJobIds.nonEmpty || tracker.getExecutorInfos.exists(_.numRunningTasks > 0)) &&
          System.nanoTime() < deadline) Thread.sleep(5)
      prefix = None; crashAt = Int.MaxValue
      saved.foreach { case (key, v) => v.fold(conf.unset(key))(conf.set(key, _)) }
      spark.sparkContext.setLogLevel("ERROR")
    }
  }
}

/** The crash-point harness over [[FaultFs]]; the state under test lives
  * at `<dir>/state`. */
trait CrashPoints { this: SparkSpec =>

  def rows(path: String): Seq[String] =
    if (!new File(path).exists()) Nil
    else spark.read.parquet(path).collect().map(_.toString).sorted.toSeq

  def reset(dir: String): Unit =
    new File(dir).listFiles().filter(f => f.getName == "state" || f.getName.startsWith("state."))
      .foreach(FileUtils.forceDelete)

  /** Crash `call(dir)` at each of its mutating steps on a copy of
    * `seed`, then re-run it and compare `snapshot` with what an
    * uninterrupted call leaves. With `resetStartsFresh`, a copy of each
    * crashed dir is also reset, and the call on it must leave what it
    * leaves on an empty dir. Returns the step count. */
  def everyCrashPoint(seed: String, resetStartsFresh: Boolean = false)(
      call: String => Any)(snapshot: String => Any): Int = {
    val base = Files.createTempDirectory("crash").toString
    def copy(from: String, name: String): String = {
      val d = s"$base/$name"; FileUtils.copyDirectory(new File(from), new File(d)); d
    }
    val clean = copy(seed, "clean")
    val (threw, n) = FaultFs.run(spark, clean + "/")(call(clean))
    assert(!threw && n > 0)
    val expect = snapshot(clean)
    val fresh =
      if (!resetStartsFresh) None
      else { val d = s"$base/fresh"; new File(d).mkdirs(); call(d); Some(snapshot(d)) }
    (1 to n).foreach { k =>
      val dir = copy(seed, s"k$k")
      assert(FaultFs.run(spark, dir + "/", k)(call(dir))._1, s"step $k of $n did not crash")
      fresh.foreach { f =>
        val r = copy(dir, s"r$k")
        reset(r)
        call(r)
        assert(snapshot(r) == f, s"reset after a crash at step $k of $n")
      }
      call(dir)
      assert(snapshot(dir) == expect, s"re-run after a crash at step $k of $n")
      assert(new File(dir).list().forall(f => !f.endsWith(".staging") && !f.endsWith(".commit")))
    }
    FileUtils.deleteDirectory(new File(base))
    n
  }
}
