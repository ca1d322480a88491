package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.suggest.Suggestions

class SuggestionsSpec extends SparkSpec {
  import spark.implicits._

  private val ts = Timestamp.valueOf("2024-01-01 12:00:00") // off-peak noon

  // kpi_hourly-shaped fixture row
  private def kpiRow(
      route: String, pred: java.lang.Double, veh: java.lang.Long,
      headway: java.lang.Double, delay: java.lang.Double, peak: Int) =
    (route, ts, pred, pred, veh, headway,
      Option(headway).map(h => (h * 6e7).toLong).map(Long.box).orNull,
      Long.box(10L), delay, 12, peak)

  private def kpi(rows: Seq[(String, Timestamp, java.lang.Double, java.lang.Double,
      java.lang.Long, java.lang.Double, java.lang.Long, java.lang.Long,
      java.lang.Double, Int, Int)]) =
    rows.toDF("route_id", "hour_ts", "predicted_passengers", "observed_passengers",
      "active_vehicles", "avg_headway_min", "avg_headway_us",
      "trip_update_events", "avg_delay_seconds", "hour_of_day", "is_peak_hour")

  test("D4 increase: high per-trip load recommends a shorter headway") {
    // headway 10 → 6 trips/h; pred 600 → 100 passengers/trip > 45
    val out = Suggestions.suggest(kpi(Seq(kpiRow("r1", 600.0, 5L, 10.0, 0.0, 0))))
      .select("action", "rule", "recommended_headway_min", "current_headway_min")
      .collect().head
    assert(out.getString(0) == "increase_frequency")
    assert(out.getString(1) == "ppt > cap_target")
    assert(out.getDouble(2) < out.getDouble(3))
    assert(out.getDouble(2) >= Suggestions.MinHeadway)
  }

  test("D4 decrease off-peak only: low load lengthens headway unless peak") {
    // headway 10 → 6 trips/h; pred 60 → 10 passengers/trip < 24
    val offPeak = Suggestions.suggest(kpi(Seq(kpiRow("r1", 60.0, 5L, 10.0, 0.0, 0))))
      .select("action").as[String].collect().head
    val peak = Suggestions.suggest(kpi(Seq(kpiRow("r1", 60.0, 5L, 10.0, 0.0, 1))),
      onlyChanges = false).select("action").as[String].collect().head
    assert(offPeak == "decrease_frequency")
    assert(peak == "keep")
  }

  test("D1 fallback chain: observed headway, else 60/vehicles clamped, else 12") {
    val rows = kpi(Seq(
      kpiRow("obs", 100.0, 5L, 8.0, 0.0, 0),    // observed in [0.5,60]
      kpiRow("veh", 100.0, 4L, null, 0.0, 0),   // 60/4 = 15
      kpiRow("vehclamp", 100.0, 1L, 80.0, 0.0, 0), // 80 out of range → 60/1 clamp → 30
      kpiRow("none", 100.0, 0L, null, 0.0, 0))) // default 12
    val r = Suggestions.suggest(rows, onlyChanges = false)
      .select("route_id", "current_headway_min").as[(String, Double)].collect().toMap
    assert(r("obs") == 8.0)
    assert(r("veh") == 15.0)
    assert(r("vehclamp") == 30.0)
    assert(r("none") == 12.0)
  }

  test("D3/D5 bounds: confidence in [0.55,1], priority in [0,1], headway in [3,30]") {
    val rows = kpi((1 to 50).map(i =>
      kpiRow(s"r$i", double2Double(i * 37.0 % 900), long2Long(i % 7L),
        if (i % 3 == 0) null else double2Double(i % 60 + 0.5),
        double2Double((i * 91) % 1200), i % 2)))
    val out = Suggestions.suggest(rows, onlyChanges = false)
      .select("confidence", "priority_score", "recommended_headway_min", "action",
        "current_headway_min")
      .as[(Double, Double, Double, String, Double)].collect()
    out.foreach { case (c, p, h, action, cur) =>
      assert(c >= 0.55 && c <= 1.0)
      assert(p >= 0.0 && p <= 1.0)
      // clamp applies to CHANGED recommendations; keep passes the observed
      // headway through unchanged (reference behavior)
      if (action == "keep") assert(h == cur)
      else assert(h >= 3.0 && h <= 30.0)
    }
  }

  test("P9 onlyChanges drops keep rows") {
    val rows = kpi(Seq(kpiRow("keepme", 100.0, 5L, 10.0, 0.0, 0))) // ppt=16.7 off-peak → decrease...
    val all = Suggestions.suggest(kpi(Seq(kpiRow("k", 300.0, 5L, 10.0, 0.0, 0))), onlyChanges = false)
    val changed = Suggestions.suggest(kpi(Seq(kpiRow("k", 300.0, 5L, 10.0, 0.0, 0))))
    // pred 300 → 50 ppt > 45 → increase, so both retain the row; a keep row disappears:
    val keepAll = Suggestions.suggest(kpi(Seq(kpiRow("k", 200.0, 5L, 10.0, 0.0, 1))), onlyChanges = false)
    val keepChanged = Suggestions.suggest(kpi(Seq(kpiRow("k", 200.0, 5L, 10.0, 0.0, 1))))
    assert(all.count() == 1 && changed.count() == 1)
    assert(keepAll.count() == 1 && keepChanged.count() == 0)
  }

  test("D7 export rows: status, message, deltas; nested payload shape") {
    import graft.export.Export
    // r_inc: vehicles+headway → ok + increase; r_nd: no vehicles, no
    // headway → missing_both + needs_data (no suggestion row survives
    // onlyChanges because ppt is within range)
    val k = kpi(Seq(
      kpiRow("r_inc", 600.0, 5L, 10.0, 0.0, 0),
      // default headway 12 → 5 trips/h; pred 150 → ppt 30 ∈ [24,45] → keep
      // → dropped by onlyChanges → needs_data in the export
      kpiRow("r_nd", 150.0, 0L, null, 0.0, 0)))
    val sugg = Suggestions.suggest(k)
    val rows = Export.exportRows(k, sugg)
    val byRoute = rows.collect().map(r => r.getAs[String]("route_id") -> r).toMap

    val inc = byRoute("r_inc")
    assert(inc.getAs[String]("status") == "ok")
    assert(inc.getAs[String]("action") == "increase_frequency")
    assert(inc.getAs[String]("message") == "Increase frequency (over capacity target)")
    // delta = recommended - current, and pct consistent with it
    val delta = inc.getAs[Double]("delta_headway_min")
    assert(delta == inc.getAs[Double]("recommended_headway_min") - inc.getAs[Double]("current_headway_min"))
    assert(delta < 0) // increase → shorter headway
    assert(inc.getAs[Double]("delta_headway_pct") < 0)
    assert(inc.getAs[Double]("confidence") >= 0.55)

    val nd = byRoute("r_nd")
    assert(nd.getAs[String]("status") == "missing_both")
    assert(nd.getAs[String]("action") == "needs_data")
    assert(nd.getAs[String]("message") == "Needs data (no vehicles/headway for this route-hour)")
    assert(nd.isNullAt(nd.fieldIndex("delta_headway_min")))
    assert(nd.getAs[Double]("priority_score") == 0.0)
    assert(nd.getAs[Double]("confidence") == 0.0)

    // nested payload: same leaves under {kpi{}, suggestion{}}
    val payload = Export.routeRowsJson(rows, sugg)
      .filter(col("route_id") === "r_inc").select("payload_json")
    val keys = payload.select(expr("json_object_keys(payload_json)")).as[Seq[String]].head()
    assert(keys == Seq("route_id", "hour_ts", "kpi", "suggestion"))
    def leaf(path: String) =
      payload.select(get_json_object(col("payload_json"), path)).as[String].head()
    assert(leaf("$.suggestion.status") == "ok")
    assert(leaf("$.suggestion.recommended_headway_min").toDouble ==
      inc.getAs[Double]("recommended_headway_min"))
    assert(leaf("$.kpi.active_vehicles") == "5")
  }

  test("D8 summary top: needs_data excluded, priority-desc order, capped at n") {
    import graft.export.Export
    val k = kpi((1 to 15).map(i =>
      kpiRow(s"r$i", double2Double(600.0 + i), 5L, 10.0, double2Double(i * 60.0), 0))
      ++ Seq(kpiRow("r_nd", 100.0, 0L, null, 0.0, 0)))
    val rows = Export.exportRows(k, Suggestions.suggest(k))
    val top = Export.summaryTop(rows).collect()
    assert(top.length == 10)
    assert(top.forall(_.getAs[String]("action") != "needs_data"))
    val scores = top.map(_.getAs[Double]("priority_score")).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("D6 reasons JSON carries the rule and null fields explicitly") {
    val json = Suggestions.suggest(kpi(Seq(kpiRow("r", 600.0, 5L, 10.0, 0.0, 0))))
      .select("reasons").as[String].collect().head
    assert(json.contains("\"rule\":\"ppt > cap_target\""))
    assert(json.contains("\"cap_target_per_trip\":45.0"))
    assert(json.contains("trips_per_hour_target")) // branch key present on increase
  }
}
