package graft.operators

import graft.SparkSpec
import graft.core.Schemas
import graft.sources.ApiSimulator

class TransformSpec extends SparkSpec {

  test("transform drops raw metadata, renames, and types the crime record") {
    val api = new ApiSimulator(totalRows = 50, pageSize = 50)
    val raw = api.toDataFrame(spark, api.fetchPages("2025-07-01", "2025-07-01").next()._2)
    val out = Transform.crimeRecords(raw)
    assert(out.columns.toSeq == Schemas.crime.fieldNames.toSeq)
    assert(out.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Schemas.crime.fields.map(f => (f.name, f.dataType)).toSeq)
    val r = out.orderBy("crime_id").first()
    assert(r.getString(0) == "C1000000")
    assert(!r.isNullAt(2))                      // timestamp parsed
    assert(r.getAs[Boolean]("arrest"))          // "true" → true  (i=0: 0%3==0)
    assert(r.getAs[Int]("beat") == 100)
    assert(r.getAs[Double]("latitude") > 41.0)
  }

  test("malformed values become null, not errors") {
    import spark.implicits._
    val bad = Seq(("X1", "not-a-timestamp", "maybe", "NaN")).toDF("id", "date", "arrest", "beat")
    // pad to the full raw schema
    val full = Schemas.rawCrime.fieldNames.foldLeft(bad) { (df, c) =>
      if (df.columns.contains(c)) df
      else df.withColumn(c, org.apache.spark.sql.functions.lit(null).cast("string"))
    }
    val out = Transform.crimeRecords(full)
    val r = out.first()
    assert(r.isNullAt(out.columns.indexOf("date_of_occurrence")))
    assert(r.isNullAt(out.columns.indexOf("arrest")))
    assert(r.isNullAt(out.columns.indexOf("beat")))
  }
}
