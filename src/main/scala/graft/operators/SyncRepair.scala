package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Replica-sync reconciliation (J2/ST5) — the reference's
  * `validate_sync` set-difference of successful load_dates between the
  * two warehouses (`airflow/dags/crime_etl.py:377-408`), as one
  * aggregation.
  *
  * Each side's SUCCESS load_dates are tagged with their side, the two
  * tagged sets are unioned, and one `groupBy(load_date)` keeps the dates
  * whose smallest and largest tag agree: those are SUCCESS on one side
  * only. Both directions come out of that one shuffle, so the diff costs
  * a fixed handful of jobs over the tiny `logs` tables.
  */
object SyncRepair {

  /** Symmetric diff with a direction tag: one row per load_date that is
    * SUCCESS in one log only, with `missing_in` naming the other side —
    * drives which replica replays which partitions
    * (`crime_etl.py:388-396`). */
  def diff(logsA: DataFrame, logsB: DataFrame): DataFrame = {
    def succeeded(logs: DataFrame, side: String): DataFrame =
      logs.filter(col("status") === "SUCCESS").select(col("load_date"), lit(side).as("side"))
    succeeded(logsA, "a")
      .unionByName(succeeded(logsB, "b"))
      .groupBy("load_date")
      .agg(min("side").as("lo"), max("side").as("hi"))
      .filter(col("lo") === col("hi"))
      .select(col("load_date"), when(col("lo") === "a", "b").otherwise("a").as("missing_in"))
  }
}
