package graft

import org.apache.spark.sql.functions._
import graft.functions.Cols._

class ColsSpec extends SparkSpec {
  import spark.implicits._

  test("microsFromNanos floors negative nanos exactly like the old decimal form") {
    // pre-epoch event times: floor division must round toward -inf
    // (floor(-1ns/1000) = -1us), matching floor(decimal/1000) bit-for-bit
    val r = Seq(-1L, -1000L, -1001L, 0L, 999L, 1001L, Long.MaxValue)
      .toDF("ts").select(microsFromNanos(col("ts")).as("us")).as[Long].collect()
    assert(r.toSeq == Seq(-1L, -1L, -2L, 0L, 0L, 1L, Long.MaxValue / 1000))
  }

  test("microsFromNanos and ntzFromNanos pass timestamps through at exact us") {
    val us = 1704067200123456L
    val df = Seq(us).toDF("u").select(
      timestamp_micros(col("u")).cast("timestamp_ntz").as("ts"))
    val got = df.select(microsFromNanos(col("ts")).as("us")).as[Long].head()
    assert(got == us)
    val ntz = df.select(ntzFromNanos(col("ts")).as("t"))
      .head().getAs[java.time.LocalDateTime]("t")
    assert(ntz == java.time.LocalDateTime.parse("2024-01-01T00:00:00.123456"))
  }

  test("clamp bounds") {
    val r = Seq(2.0, 15.0, 45.0).toDF("x")
      .select(clamp(col("x"), 3.0, 30.0).as("c")).as[Double].collect()
    assert(r.toSeq == Seq(3.0, 15.0, 30.0))
  }

  test("gtfsTimeToSeconds parses, keeps >24:00:00, nulls blanks") {
    val r = Seq("08:30:15", "25:10:00", " ", "bad").toDF("t")
      .select(gtfsTimeToSeconds(col("t")).as("s")).collect().map(_.get(0))
    assert(r(0) == 8 * 3600 + 30 * 60 + 15)
    assert(r(1) == 25 * 3600 + 10 * 60) // GTFS allows past-midnight clocks
    assert(r(2) == null)
    assert(r(3) == null)
  }

  test("pgDow matches Postgres DOW (Sunday=0)") {
    // 2024-01-07 is a Sunday
    val r = Seq("2024-01-07", "2024-01-08").toDF("d")
      .select(pgDow(col("d").cast("timestamp")).as("dow")).as[Int].collect()
    assert(r.toSeq == Seq(0, 1))
  }

  test("microsBetween accepts TIMESTAMP_NTZ (the round-1 NTZ regression)") {
    // unix_micros rejects NTZ input outright; the explicit cast inside
    // microsBetween is what lets the headway lag run over NTZ columns
    val r = Seq(("2024-01-01 10:30:00.000001", "2024-01-01 10:00:00")).toDF("a", "b")
      .select(microsBetween(col("a").cast("timestamp_ntz"), col("b").cast("timestamp_ntz")).as("us"))
      .as[Long].collect()
    assert(r.head == 30L * 60 * 1000000 + 1)
  }

  test("detAvg ignores nulls like AVG") {
    val r = Seq(Some(1.0), None, Some(3.0)).toDF("x")
      .select(detAvg(col("x")).as("a")).as[Double].collect()
    assert(r.head == 2.0)
  }

  test("isPeakHour flags 7-9 and 16-18") {
    val r = Seq("2024-01-01 08:00:00", "2024-01-01 12:00:00", "2024-01-01 17:30:00")
      .toDF("t").select(isPeakHour(col("t").cast("timestamp")).as("p")).as[Int].collect()
    assert(r.toSeq == Seq(1, 0, 1))
  }
}
