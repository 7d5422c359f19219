package graft.pipeline

import org.apache.spark.sql.SparkSession

/** Standalone config-file entry point — the twin of the reference's
  * `etl/main.py:98-147`, which drives the whole pipeline from a YAML
  * file so a deployment is a config edit, not a code change:
  *
  * {{{ spark-submit --class graft.pipeline.ConfigMain graft.jar pipeline.properties }}}
  *
  * `java.util.Properties` is the zero-dependency config format. Keys:
  *
  *   - `workDir` (required) — warehouse root (landing, replicas, logs)
  *   - `runId` (required), `loadDate` (required, yyyy-MM-dd)
  *   - `epochStart` (default 2001-01-01), `tablePrefix` (default graft)
  *   - `master` — only for standalone runs; omit under spark-submit
  *   - `shufflePartitions` (default 32)
  *   - `api.*` — passed through as connector reader options
  *     (`api.totalRows`, `api.pageSize`, …, and `api.transport` — the
  *     live-HTTP seam class, see [[graft.sources.ApiTransport]])
  */
object ConfigMain {

  /** Run the pipeline described by `props` on an existing session;
    * returns the run status. Separated from [[main]] so tests drive it
    * with their own session. */
  def run(spark: SparkSession, props: java.util.Properties): String = {
    def req(k: String) = Option(props.getProperty(k))
      .getOrElse(sys.error(s"missing required config key: $k"))
    import scala.jdk.CollectionConverters._
    val apiOptions = props.stringPropertyNames().asScala.toSeq.sorted
      .filter(_.startsWith("api."))
      .map(k => k.stripPrefix("api.") -> props.getProperty(k)).toMap
    val runner = new Runner(spark, req("workDir"),
      epochStart = props.getProperty("epochStart", "2001-01-01"),
      tablePrefix = props.getProperty("tablePrefix", "graft"))
    runner.runWithConnector(req("runId"), req("loadDate"), apiOptions)
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: ConfigMain <pipeline.properties>")
    val props = new java.util.Properties()
    val in = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(args(0)))
    try props.load(in)
    finally in.close()
    // the engine's session defaults (UTC timezone, AQE + skew-join,
    // parquet pushdown, graft's extensions). The specs drive `run` on
    // SparkSpec's shared session, which sets only the timezone and a
    // small shuffle width, so this builder itself is not under test.
    val builder = graft.core.GraftSession.configure(SparkSession.builder())
      .appName("graft-pipeline")
      .config("spark.sql.shuffle.partitions", props.getProperty("shufflePartitions", "32"))
    Option(props.getProperty("master")).foreach(builder.master)
    val spark = builder.getOrCreate()
    val status =
      try run(spark, props)
      finally spark.stop()
    println(s"""{"runId":"${props.getProperty("runId")}","status":"$status"}""")
    if (status != "SUCCESS") sys.exit(1)
  }
}
