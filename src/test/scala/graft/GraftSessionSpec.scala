package graft

/** NOTES invariant 7 as a check: the session every spec shares comes
  * from `GraftSession.builder`, the factory every main uses, so what it
  * reports here is what Verify, Bench and the pipelines run under.
  */
class GraftSessionSpec extends SparkSpec {

  test("a GraftSession session is UTC, ANSI off and resolves dot_f32") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.ansi.enabled") == "false")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val dot = spark.sql("SELECT dot_f32(CAST(array(1, 2) AS array<float>), " +
      "CAST(array(3, 4) AS array<float>))").head().getDouble(0)
    assert(dot == 11.0)
  }
}
