package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._
import graft.export.Export
import graft.suggest.Suggestions

/** Golden export contract (SURVEY §5): the reference repo COMMITS its
  * export artifacts — exports/{route_suggestions,summary,peak_hours,
  * needs_data,routes_geo,top_priority}_latest.json — which makes them
  * the de-facto golden outputs for the export surface. This spec diffs
  * the JSON KEY-PATHS (field names + nesting, values excluded — values
  * are covered by the flat DuckDB oracles export_rows / export_summary /
  * peak_hours_rollup / geo_grouped) of what our builders serialize
  * against each golden file. A renamed, re-nested, or dropped field
  * anywhere in the export surface fails here.
  */
class GoldenExportSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val goldenDir = "/root/reference/exports"
  private val mapper = new ObjectMapper()

  /** Every root-to-leaf key path in a JSON document; arrays collapse to
    * `[]` and contribute the union of their elements' shapes.
    */
  private def paths(n: JsonNode, p: String = ""): Set[String] =
    if (n.isObject) n.fields().asScala.flatMap(e => paths(e.getValue, s"$p/${e.getKey}")).toSet
    else if (n.isArray) {
      if (n.size() == 0) Set(p + "[]")
      else n.elements().asScala.flatMap(e => paths(e, p + "[]")).toSet
    } else Set(p)

  /** The reference checkout's artifact wins wherever it exists; else the
    * committed fixture under `golden-exports/` (see its README for where
    * each one comes from); else the test is canceled, naming the absent
    * file.
    */
  private def goldenPaths(file: String): Set[String] = {
    val ref = java.nio.file.Paths.get(goldenDir, file)
    if (java.nio.file.Files.exists(ref)) paths(mapper.readTree(ref.toFile))
    else {
      val fixture = s"/golden-exports/$file"
      val in = getClass.getResourceAsStream(fixture)
      assume(in != null, s"golden $ref is absent and no fixture $fixture is committed")
      try paths(mapper.readTree(in)) finally in.close()
    }
  }

  /** Key paths of a frame serialized row-wise with nulls kept (the
    * json.dump behavior the reference writes with).
    */
  private def rowPaths(df: DataFrame): Set[String] =
    df.select(to_json(struct(col("*")), Map("ignoreNullFields" -> "false").asJava))
      .collect().map(_.getString(0))
      .flatMap(s => paths(mapper.readTree(s))).toSet

  private def jsonColPaths(df: DataFrame, c: String): Set[String] =
    df.select(c).collect().map(_.getString(0))
      .flatMap(s => paths(mapper.readTree(s))).toSet

  // the action histogram's keys are dynamic by design (dict built from
  // observed actions, export_suggestions_json.py:274-277) — collapse
  // them so the contract pins "actions is an object" without pinning
  // which actions happened to fire at capture time
  private def dynActions(ps: Set[String]): Set[String] =
    ps.map(p => if (p.startsWith("/actions/")) "/actions/<action>" else p)

  private lazy val kpi = Pipelines.kpiHourly(spark, dir).persist()
  private lazy val sugg = Suggestions.suggest(kpi)
  private lazy val rows = Export.exportRows(kpi, sugg)
  private lazy val routeRows = Export.routeRowsJson(rows, sugg).persist()

  test("route_suggestions_latest: per-route payload key-paths match the golden artifact") {
    val golden = goldenPaths("route_suggestions_latest.json")
    val ours = jsonColPaths(routeRows.filter(col("action") =!= "needs_data"), "payload_json")
      .map("[]" + _)
    assert(ours == golden,
      s"drift — missing=${(golden -- ours).toSeq.sorted} extra=${(ours -- golden).toSeq.sorted}")
    // and THROUGH the file writer: the verbatim payload_json splice must
    // produce one valid JSON array whose shape still matches
    val out = java.nio.file.Files.createTempFile("route_suggestions", ".json").toString
    Export.writeJsonArray(
      routeRows.filter(col("action") =!= "needs_data").select("payload_json"), out)
    val written = paths(mapper.readTree(java.nio.file.Paths.get(out).toFile))
    assert(written == golden,
      s"writer drift — missing=${(golden -- written).toSeq.sorted} extra=${(written -- golden).toSeq.sorted}")
  }

  test("top_priority_latest: OUR per-route payload covers the golden artifact's shape") {
    // the reference's top-priority file is the real-suggestion payloads
    // re-sorted and truncated (export_suggestions_json.py:269-272), so
    // the shape contract is against our serialized rows — the sort/limit
    // values are pinned by the flat export_top_priority oracle
    val golden = goldenPaths("top_priority_latest.json")
    val ours = jsonColPaths(routeRows.filter(col("action") =!= "needs_data"), "payload_json")
      .map("[]" + _)
    assert(ours == golden,
      s"drift — missing=${(golden -- ours).toSeq.sorted} extra=${(ours -- golden).toSeq.sorted}")
  }

  test("needs_data rows carry build_route_rows' fallback reasons shape; empty export is []") {
    val nd = jsonColPaths(routeRows.filter(col("action") === "needs_data"), "payload_json")
    if (nd.nonEmpty) {
      // same payload as a real row except reasons = {"reason": "no data"}
      // (export_suggestions_json.py:214)
      val real = jsonColPaths(routeRows.filter(col("action") =!= "needs_data"), "payload_json")
      val expected = real.filterNot(_.startsWith("/suggestion/reasons/")) +
        "/suggestion/reasons/reason"
      assert(nd == expected,
        s"drift — missing=${(expected -- nd).toSeq.sorted} extra=${(nd -- expected).toSeq.sorted}")
    }
    // the golden needs_data_latest.json is an EMPTY array — the writer
    // must emit valid `[]`, not a bracketed empty line
    val out = java.nio.file.Files.createTempFile("needs_data", ".json").toString
    Export.writeJsonArray(routeRows.filter(lit(false)).select("payload_json"), out)
    assert(paths(mapper.readTree(java.nio.file.Paths.get(out).toFile)) ==
      goldenPaths("needs_data_latest.json"))
  }

  test("summary_latest: nested summary key-paths match the golden artifact") {
    val golden = dynActions(goldenPaths("summary_latest.json"))
    val ours = dynActions(rowPaths(Export.summaryArtifact(rows)))
    assert(ours == golden,
      s"drift — missing=${(golden -- ours).toSeq.sorted} extra=${(ours -- golden).toSeq.sorted}")
  }

  test("peak_hours_latest: rollup column names match the golden artifact") {
    val golden = goldenPaths("peak_hours_latest.json")
    val ours = rowPaths(Export.peakHoursRollup(kpi)).map("[]" + _)
    assert(ours == golden,
      s"drift — missing=${(golden -- ours).toSeq.sorted} extra=${(ours -- golden).toSeq.sorted}")
  }

  test("routes_geo_latest: grouped geo key-paths match the golden artifact") {
    // same stop fixture as the geo_grouped oracle, plus the route-level
    // names the reference carries (export-routes-geo-job.py:83-87)
    val stops = TestdataAdapter.table(spark, dir, "customer").select(
      col("c_mktsegment").as("route_id"),
      col("c_mktsegment").as("route_short_name"),
      concat(lit("Route "), col("c_mktsegment")).as("route_long_name"),
      col("c_custkey").cast("string").as("stop_id"),
      col("c_name").as("stop_name"),
      (col("c_acctbal") / 100.0).as("lat"),
      col("c_nationkey").cast("double").as("lon"))
    val golden = goldenPaths("routes_geo_latest.json")
    val ours = rowPaths(Export.geoGroupingFull(stops)).map("[]" + _)
    assert(ours == golden,
      s"drift — missing=${(golden -- ours).toSeq.sorted} extra=${(ours -- golden).toSeq.sorted}")
  }
}
