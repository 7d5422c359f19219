package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.internal.SQLConf

/** Bridge to the `private[sql]` Column ↔ catalyst Expression converters
  * (`classic.ExpressionUtils`), needed to expose graft's custom codegen
  * expressions ([[graft.functions.VectorExpressions]]) as `Column`s
  * without forcing every SparkSession to be built with an extensions
  * config. Standard extension-library technique; no Spark internals are
  * modified.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a function builder in THIS session's registry so
    * `spark.sql("... name(...)")` resolves it — the imperative twin of
    * `SparkSessionExtensions.injectFunction` for sessions built without
    * the extensions config. */
  def registerFunction(spark: SparkSession, name: String, builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "internal")

  /** `f(df)` planned on a private clone of `df`'s session with adaptive
    * execution off, the result re-homed on `df`'s own session. A
    * statically planned physical plan reports its real output
    * partitioning, where an adaptive root reports `UnknownPartitioning`,
    * so a cut taken inside `f` records it on its `LogicalRDD`. Only the
    * clone's conf is written, once, before the clone is shared: queries
    * that other threads plan on the shared session meanwhile stay
    * adaptive. */
  def withAqeOff(df: DataFrame)(f: DataFrame => DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val conf = spark.conf.getAll
    val clone = aqeOffClones.get(spark) match {
      case (from, c) if from == conf => c
      case _ =>
        val c = spark.cloneSession()
        c.sessionState.conf.setConf(SQLConf.ADAPTIVE_EXECUTION_ENABLED, false)
        aqeOffClones.put(spark, (conf, c))
        c
    }
    val out = f(classic.Dataset.ofRows(clone, df.asInstanceOf[classic.Dataset[Row]].logicalPlan))
    classic.Dataset.ofRows(spark, out.asInstanceOf[classic.Dataset[Row]].logicalPlan)
  }

  /** Each session's AQE-off clone and the session conf it was cloned
    * from, reused until that conf changes: the first plan run on a new
    * session compiles its own generated classes, so a clone per call
    * recompiled 18 classes of each d06 keyed cut (about 0.5 s at sf0.1). */
  private val aqeOffClones = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[classic.SparkSession, (Map[String, String], classic.SparkSession)]())
}
