package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The events `ts` layout has varied across data generations
  * (TIMESTAMP(NANOS)-as-long, timestamp[us], timestamp[us] NTZ); the
  * loader must normalize all of them to the SAME TimestampType values
  * so every downstream event-time operator is layout-agnostic.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val micros = Seq(1700000000000000L, 1700000123456789L)

  test("normalizeTs passes TimestampType through unchanged") {
    val df = micros.toDF("us")
      .select(timestamp_micros(col("us")).as("ts"))
    val out = Tables.normalizeTs(df)
    assert(out.schema("ts").dataType === TimestampType)
    assert(out.select(unix_micros(col("ts"))).as[Long].collect().sorted
      === micros.toArray)
  }

  test("normalizeTs converts nanos-long with integer division") {
    val df = micros.map(_ * 1000L).toDF("ts")
    val out = Tables.normalizeTs(df)
    assert(out.schema("ts").dataType === TimestampType)
    assert(out.select(unix_micros(col("ts"))).as[Long].collect().sorted
      === micros.toArray)
  }

  test("normalizeTs casts TIMESTAMP_NTZ identically under UTC session tz") {
    val df = micros.toDF("us")
      .select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
    assert(df.schema("ts").dataType === TimestampNTZType)
    val out = Tables.normalizeTs(df)
    assert(out.schema("ts").dataType === TimestampType)
    assert(out.select(unix_micros(col("ts"))).as[Long].collect().sorted
      === micros.toArray)
  }

  test("normalizeTs rejects layouts it cannot interpret") {
    val df = Seq("a").toDF("ts")
    intercept[IllegalStateException](Tables.normalizeTs(df))
  }

  test("events loader reads the current testdata generation") {
    val df = Tables.events(spark, "/root/testdata/sf0.001")
    assert(df.schema("ts").dataType === TimestampType)
    assert(df.count() > 0)
    // min/max land in a plausible event-time range, not 1970 or 52970 —
    // the symptom of dividing µs by 1000 or multiplying nanos through.
    val Array(row) = df.agg(min(year(col("ts"))), max(year(col("ts")))).collect()
    assert(row.getInt(0) >= 2000 && row.getInt(1) <= 2100)
  }

  test("events loader adapts to a nanos-as-long file written on the fly") {
    // write a µs file, then rewrite the column as raw nanos longs — the
    // loader sees LongType and must divide back to the same instants
    SparkSpec.withTempDir("graft-events-nanos") { tmp =>
      val dir = tmp.toString
      micros.map(_ * 1000L).toDF("ts")
        .withColumn("event_id", monotonically_increasing_id())
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val out = Tables.events(spark, dir)
      assert(out.schema("ts").dataType === TimestampType)
      assert(out.select(unix_micros(col("ts"))).as[Long].collect().sorted
        === micros.toArray)
    }
  }
}
