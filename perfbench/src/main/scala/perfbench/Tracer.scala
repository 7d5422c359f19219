package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed operation (a pipeline run, a repair, one query). Times are
  * epoch milliseconds, the clock Spark stamps its job events with. */
final case class OpSpan(id: String, kind: String, startMs: Long, endMs: Long, buildMs: Long = 0L) {
  def wallS: Double = (endMs - startMs) / 1e3
  def json: String =
    s"""{"op":"$id","kind":"$kind","start_ms":$startMs,"end_ms":$endMs,"build_ms":$buildMs}"""
}

/** One Spark job, credited to the operation whose job group it ran in
  * and to the engine module named by its call site. */
final case class JobSpan(
    id: Int, op: String, startMs: Long, endMs: Long, module: String, frame: String,
    taskMs: Long, shuffleBytes: Long, var selfMs: Double = 0.0) {
  def json: String =
    f"""{"job":$id,"parent":"$op","start_ms":$startMs,"end_ms":$endMs,"module":"$module","frame":"$frame","task_ms":$taskMs,"shuffle_bytes":$shuffleBytes,"self_ms":$selfMs%.1f}"""
}

/** Per-job attribution for the traced run.
  *
  * Each operation runs in its own job group. A job is credited to the
  * first `graft.` frame of its SQL execution's long call site, looked up
  * through the job's `spark.sql.execution.root.id`; a job without an
  * execution falls back to its first stage's call site (AQE stage jobs
  * otherwise show only `CompletableFuture.java`). A job with no `graft.`
  * frame but a frame of this harness is the operation's own action
  * (`action`); a job with neither is unattributed. */
final class Tracer extends SparkListener {
  private val execSites = new ConcurrentHashMap[Long, String]()
  private val starts = new ConcurrentHashMap[Int, (Long, String, Option[Long], String)]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val taskMs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val shuffle = new ConcurrentHashMap[Int, java.lang.Long]()
  private val ends = new ConcurrentHashMap[Int, Long]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execSites.put(s.executionId, s.details); ()
    case _                                 => ()
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val p = Option(j.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val group = prop("spark.jobGroup.id").getOrElse("")
    val exec = prop("spark.sql.execution.root.id").orElse(prop("spark.sql.execution.id")).map(_.toLong)
    val stageSite = j.stageInfos.sortBy(_.stageId).headOption.map(_.details).getOrElse("")
    j.stageIds.foreach(s => stageJob.put(s, j.jobId))
    starts.put(j.jobId, (j.time, group, exec, stageSite))
    ()
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    Option(stageJob.get(t.stageId)).filter(_ => m != null).foreach { job =>
      taskMs.merge(job, m.executorRunTime, (a, b) => a + b)
      shuffle.merge(job, m.shuffleWriteMetrics.bytesWritten, (a, b) => a + b)
    }
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = { ends.put(j.jobId, j.time); () }

  /** All finished jobs, attributed. Call after draining the bus. */
  def jobs(ops: Seq[OpSpan]): Seq[JobSpan] =
    starts.asScala.toSeq.flatMap { case (id, (t0, group, exec, stageSite)) =>
      Option(ends.get(id)).map { t1 =>
        val site = exec.flatMap(e => Option(execSites.get(e))).filter(Tracer.hasFrame).getOrElse(stageSite)
        val frame = Tracer.firstGraftFrame(site)
        val module = frame.map(Tracer.moduleOf)
          .getOrElse(if (site.contains("perfbench.")) "action" else Tracer.Unattributed)
        // the job group names the op; a job submitted from a thread that
        // did not inherit the group falls back to the op it started in
        val op = if (group.nonEmpty) group
          else ops.find(o => t0 >= o.startMs && t0 <= o.endMs).map(_.id).getOrElse("")
        JobSpan(id, op, t0, t1, module, frame.getOrElse(""),
          Option(taskMs.get(id)).map(_.longValue).getOrElse(0L),
          Option(shuffle.get(id)).map(_.longValue).getOrElse(0L))
      }
    }.sortBy(_.id)
}

object Tracer {
  val Unattributed = "unattributed"

  /** Call-site lines without the `loader/module/` prefix a JDK frame
    * may carry (`app//graft.X.f(X.scala:1)` → `graft.X.f(X.scala:1)`). */
  private def frames(site: String): Seq[String] = site.split("\n").toSeq.map { l =>
    val f = l.trim
    val paren = f.indexOf('(')
    f.substring(f.lastIndexOf('/', if (paren < 0) f.length else paren) + 1)
  }
  private def hasFrame(site: String): Boolean =
    frames(site).exists(f => f.startsWith("graft.") || f.startsWith("perfbench."))

  /** `graft.operators.Upsert$.upsertIntoParquet(Upsert.scala:201)` →
    * `graft.operators.Upsert`. */
  def firstGraftFrame(site: String): Option[String] =
    frames(site).find(_.startsWith("graft.")).map { f =>
      val cls = f.takeWhile(_ != '(')
      cls.substring(0, cls.lastIndexOf('.')).takeWhile(_ != '$')
    }

  /** Engine class → module label (`graft.operators.DataChecks` →
    * `operators.datachecks`, `graft.sources.LandingZone` →
    * `sources.landing`). */
  def moduleOf(cls: String): String = cls match {
    case "graft.sources.LandingZone" => "sources.landing"
    case "graft.core.Reliability"    => "core.cut"
    case c =>
      val parts = c.stripPrefix("graft.").split('.')
      (parts.init :+ parts.last.toLowerCase(java.util.Locale.ROOT)).mkString(".")
  }

  /** Self time: the op's timeline is cut at every job boundary, and each
    * piece is shared equally by the jobs running in it. The self times
    * of an op's jobs therefore sum to the union of their intervals, and
    * that union plus the driver gap is the op's wall time. */
  def assignSelfTime(op: OpSpan, jobs: Seq[JobSpan]): Double = {
    val clipped = jobs.map(j => (j, math.max(j.startMs, op.startMs), math.min(j.endMs, op.endMs)))
      .filter { case (_, a, b) => b > a }
    val cuts = clipped.flatMap { case (_, a, b) => Seq(a, b) }.distinct.sorted
    var union = 0.0
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val active = clipped.filter { case (_, s, e) => s <= a && e >= b }
      if (active.nonEmpty) {
        union += b - a
        active.foreach { case (j, _, _) => j.selfMs += (b - a).toDouble / active.size }
      }
    }
    union
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.GraftSparkBridge.flushListeners(sc)

  /** The spans file: one line per op, then one per job. */
  def spansJson(ops: Seq[OpSpan], jobs: Seq[JobSpan]): String =
    (ops.map(_.json) ++ jobs.map(_.json)).mkString("[\n", ",\n", "\n]\n")
}
