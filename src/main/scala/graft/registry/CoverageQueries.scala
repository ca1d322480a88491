package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

private[graft] trait CoverageQueries extends RegistryBase {
  import Pipelines._
  import graft.rel.{Analytics, Relational, Sessionize, Sketches}
  import graft.export.Export

  /** Remaining SURVEY §2 inventory items: event-envelope validation
    * (P6/P7), JSON field access (F12), trailing-window context lookups
    * (J7), export shaping (O3/D8/D9), per-hour validation breakdown (A11).
    */
  val coverage: Seq[Q] = {
    import graft.streaming.Envelope
    Seq(
      Q("envelope_vehicle",
        (s, d) => Envelope.vehicleEnvelope(TestdataAdapter.table(s, d, "events")),
        Some(Envelope.vehicleEnvelopeSql)),

      // S5 producer wire record: the reference's Kafka envelope JSON,
      // byte-verified against a string-built DuckDB twin (key order,
      // null carriage, decimal scale and ISO timestamps all checked)
      Q("kafka_envelope",
        (s, d) => Envelope.producerEnvelope(TestdataAdapter.table(s, d, "events")),
        Some(Envelope.producerEnvelopeSql)),

      // S5 topic 2: trip-update envelope with a NESTED ARRAY of
      // per-stop structs in the payload — byte-verified
      Q("kafka_envelope_trip",
        (s, d) => Envelope.tripUpdateEnvelope(TestdataAdapter.table(s, d, "events")),
        Some(Envelope.tripUpdateEnvelopeSql)),

      // S5 topic 3: service-alert envelope (entity.id fallback,
      // missing-translation description → null) — byte-verified
      Q("kafka_envelope_alert",
        (s, d) => Envelope.alertEnvelope(TestdataAdapter.table(s, d, "events")),
        Some(Envelope.alertEnvelopeSql)),

      // S6 consumer leg: the ingestor's schema-on-read of the trip
      // wire record — from_json with the full nested schema, the
      // stop_updates array exploded to per-stop rows. Goes THROUGH the
      // serialized JSON text; the oracle derives the same rows straight
      // from the source, so any drift in either codec surfaces here.
      Q("kafka_ingest_trip",
        (s, d) => {
          val wire = Envelope.tripUpdateEnvelope(TestdataAdapter.table(s, d, "events"))
          wire
            .withColumn("r", from_json(col("kafka_value"), TRIP_WIRE_SCHEMA))
            .select(col("event_id"),
              col("r.payload.trip_id").as("trip_id"),
              col("r.payload.route_id").as("route_id"),
              col("r.payload.delay_seconds").as("delay_seconds"),
              posexplode(col("r.payload.stop_updates")).as(Seq("stop_idx", "stu")))
            .select(col("event_id"), col("trip_id"), col("route_id"),
              col("delay_seconds"), col("stop_idx").cast("int").as("stop_idx"),
              col("stu.stop_id").as("stop_id"),
              col("stu.arrival_delay").as("arrival_delay"),
              col("stu.departure_delay").as("departure_delay"))
            // r18 (guide §1.2): map-only envelope→from_json→posexplode
            // chain — materialize once so the sort's range sampler reads
            // a leaf instead of re-running the parse
            .localCheckpoint()
            .orderBy("event_id", "stop_idx")
        },
        Some(
          """WITH t AS (SELECT event_id, user_id FROM events WHERE event_id % 13 <> 0),
            |s AS (
            |  SELECT event_id,
            |    'trip_' || CAST(user_id % 100 AS VARCHAR) AS trip_id,
            |    'route_' || CAST(user_id % 5 AS VARCHAR) AS route_id,
            |    CAST((event_id % 1200) - 120 AS INTEGER) AS delay_seconds,
            |    0 AS stop_idx,
            |    'stop_' || CAST(user_id % 50 AS VARCHAR) AS stop_id,
            |    CASE WHEN event_id % 3 <> 0 THEN CAST(event_id % 300 AS INTEGER) END AS arrival_delay,
            |    CASE WHEN event_id % 4 <> 0 THEN CAST(event_id % 240 AS INTEGER) END AS departure_delay
            |  FROM t
            |  UNION ALL
            |  SELECT event_id,
            |    'trip_' || CAST(user_id % 100 AS VARCHAR),
            |    'route_' || CAST(user_id % 5 AS VARCHAR),
            |    CAST((event_id % 1200) - 120 AS INTEGER),
            |    1,
            |    'stop_' || CAST((user_id + 1) % 50 AS VARCHAR),
            |    CASE WHEN event_id % 5 <> 0 THEN CAST(event_id % 180 AS INTEGER) END,
            |    CASE WHEN event_id % 6 <> 0 THEN CAST(event_id % 120 AS INTEGER) END
            |  FROM t)
            |SELECT event_id, trip_id, route_id, delay_seconds,
            |  CAST(stop_idx AS INTEGER) AS stop_idx, stop_id, arrival_delay, departure_delay
            |FROM s ORDER BY event_id, stop_idx""".stripMargin)),

      // S5→S6 THROUGH the broker seam: producer envelope bytes go into
      // the graftqueue topic emulation via its V2 sink and come back
      // through format("graftqueue") with Kafka's reader schema; the
      // consumer aggregates what survived the wire. The oracle derives
      // the same rollup straight from the source table, so a byte lost
      // or mangled anywhere in the sink→segment→scan path breaks the
      // hash. (The queue carries only key/value — per-event identity
      // rides inside the payload, hence the per-route aggregate shape.)
      Q("queue_roundtrip_trip",
        (s, d) => {
          val path = java.nio.file.Files.createTempDirectory("graftqueue").toString
          Envelope.tripUpdateEnvelope(TestdataAdapter.table(s, d, "events"))
            .select(col("kafka_key").cast("binary").as("key"),
              col("kafka_value").cast("binary").as("value"))
            .write.format("graftqueue").option("path", path)
            .option("topic", "gtfs.rt.trip_updates").mode("append").save()
          s.read.format("graftqueue").option("path", path)
            .option("topic", "gtfs.rt.trip_updates").load()
            .select(from_json(col("value").cast("string"), TRIP_WIRE_SCHEMA).as("r"))
            .groupBy(col("r.payload.route_id").as("route_id"))
            .agg(
              count(lit(1)).as("n_updates"),
              sum(size(col("r.payload.stop_updates"))).as("n_stop_updates"),
              sum(col("r.payload.delay_seconds")).as("total_delay"))
            .orderBy("route_id")
        },
        Some(
          """SELECT 'route_' || CAST(user_id % 5 AS VARCHAR) AS route_id,
            |  COUNT(*) AS n_updates,
            |  CAST(COUNT(*) * 2 AS BIGINT) AS n_stop_updates,
            |  CAST(SUM((event_id % 1200) - 120) AS BIGINT) AS total_delay
            |FROM events WHERE event_id % 13 <> 0
            |GROUP BY 1 ORDER BY 1""".stripMargin)),

      // Consumer SEEK / replay-from-offset (r15, VERDICT item 4 — the
      // remaining Kafka consumer lever): rebuild a downstream table by
      // re-consuming from offset X. Three segments of latest-wins-keyed
      // event records; the first two are COMPACTED into one sparse
      // csegment; replay A starts INSIDE the compacted span (served by
      // the offset-clamped sub-range reader), replay B starts INSIDE
      // the live dense tail (served by the r15 skip-count partial
      // read). The oracle recomputes both replays from the produce
      // order + latest-per-key survivor arithmetic, so a record lost,
      // duplicated, or mis-offset anywhere in seek path breaks the hash.
      Q("queue_replay_from_offset",
        (s, d) => {
          val path = java.nio.file.Files
            .createTempDirectory("graftqueue_seek").toString
          val ev = TestdataAdapter.table(s, d, "events")
            .select(col("event_id"), col("user_id"))
          (0 to 2).foreach { k =>
            ev.filter(col("event_id") % 3 === k)
              .repartition(1).sortWithinPartitions("event_id")
              .select(
                concat(lit("u"), (col("user_id") % 7).cast("string"))
                  .cast("binary").as("key"),
                to_json(struct(col("event_id"), col("user_id")))
                  .cast("binary").as("value"))
              .write.format("graftqueue").option("path", path)
              .option("topic", "ev.replay").mode("append").save()
          }
          val n0 = ev.filter(col("event_id") % 3 === 0).count()
          val n1 = ev.filter(col("event_id") % 3 === 1).count()
          val n2 = ev.filter(col("event_id") % 3 === 2).count()
          graft.sources.GraftQueue.compact(path, "ev.replay", n0 + n1)
          val wire = org.apache.spark.sql.types.StructType.fromDDL(
            "event_id BIGINT, user_id BIGINT")
          def replay(tag: String, from: Long) =
            s.read.format("graftqueue").option("path", path)
              .option("topic", "ev.replay")
              .option("startingOffset", from.toString).load()
              .select(lit(tag).as("replay"), col("offset"),
                col("key").cast("string").as("key"),
                from_json(col("value").cast("string"), wire).as("r"))
              .select(col("replay"), col("offset"), col("key"),
                col("r.event_id").as("event_id"), col("r.user_id").as("user_id"))
          replay("A", n0)
            .unionByName(replay("B", n0 + n1 + n2 / 2))
            // r18 (guide §1.2): map-only queue-read chain under the sort
            .localCheckpoint()
            .orderBy("replay", "offset")
        },
        Some(
          """WITH ord AS (
            |  SELECT event_id, user_id, event_id % 3 AS seg,
            |    ROW_NUMBER() OVER (ORDER BY event_id % 3, event_id) - 1 AS off
            |  FROM events),
            |ns AS (
            |  SELECT
            |    (SELECT COUNT(*) FROM ord WHERE seg = 0) AS n0,
            |    (SELECT COUNT(*) FROM ord WHERE seg <= 1) AS n01,
            |    (SELECT COUNT(*) FROM ord) AS n),
            |pre AS (
            |  SELECT o.event_id, o.user_id, o.off,
            |    ROW_NUMBER() OVER (PARTITION BY o.user_id % 7
            |                       ORDER BY o.off DESC) AS rk
            |  FROM ord o, ns WHERE o.off < ns.n01),
            |surv AS (SELECT event_id, user_id, off FROM pre WHERE rk = 1),
            |tail AS (SELECT o.event_id, o.user_id, o.off
            |         FROM ord o, ns WHERE o.off >= ns.n01),
            |ra AS (
            |  SELECT 'A' AS replay, event_id, user_id, off
            |  FROM (SELECT s2.* FROM surv s2, ns WHERE s2.off >= ns.n0
            |        UNION ALL SELECT * FROM tail)),
            |rb AS (
            |  SELECT 'B' AS replay, t.event_id, t.user_id, t.off
            |  FROM tail t, ns WHERE t.off >= ns.n01 + (ns.n - ns.n01) // 2)
            |SELECT replay, off AS "offset",
            |  'u' || CAST(user_id % 7 AS VARCHAR) AS key, event_id, user_id
            |FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb)
            |ORDER BY replay, "offset"""".stripMargin)),

      // Timestamp-indexed seek — Kafka's offsetsForTimes (r16, VERDICT
      // item 3): the same three-segment latest-wins log, each envelope
      // carrying a producer-stamped event ts (nondecreasing in offset
      // order); the first two segments COMPACT into one sparse
      // csegment. Target A's ts resolves INSIDE the compacted span (to
      // the first SURVIVOR at or past it — sparse-offset resolution),
      // target B's inside the live dense tail (skip-count replay); both
      // replays ride the r15 startingOffset machinery from the resolved
      // offsets, one hash over both. The oracle recomputes resolution +
      // replay from the produce-order and survivor arithmetic, so a
      // mis-resolved ts, a lost record, or a shifted offset anywhere in
      // the probe→scan→seek path breaks the hash.
      // (ts-below-retention raising the OffsetOutOfRange analogue is
      // GraftQueueTimeSeekSpec's leg — it needs a truncation.)
      Q("queue_replay_from_timestamp",
        (s, d) => {
          val path = java.nio.file.Files
            .createTempDirectory("graftqueue_tseek").toString
          val ev = TestdataAdapter.table(s, d, "events")
            .select(col("event_id"), col("user_id"))
            .withColumn("ts",
              (col("event_id") % 3) * 10000000L + col("event_id"))
          (0 to 2).foreach { k =>
            ev.filter(col("event_id") % 3 === k)
              .repartition(1).sortWithinPartitions("event_id")
              .select(
                concat(lit("u"), (col("user_id") % 7).cast("string"))
                  .cast("binary").as("key"),
                to_json(struct(col("event_id"), col("user_id"), col("ts")))
                  .cast("binary").as("value"))
              .write.format("graftqueue").option("path", path)
              .option("topic", "ev.tseek").mode("append").save()
          }
          val bounds = ev.agg(
            sum(when(col("event_id") % 3 === 0, 1L).otherwise(0L)),
            sum(when(col("event_id") % 3 <= 1, 1L).otherwise(0L)),
            max(when(col("event_id") % 3 === 1, col("event_id"))),
            max(when(col("event_id") % 3 === 2, col("event_id")))).head()
          val (n01, maxE1, maxE2) =
            (bounds.getLong(1), bounds.getLong(2), bounds.getLong(3))
          graft.sources.GraftQueue.compact(path, "ev.tseek", n01)
          val tsA = 10000000L + maxE1 / 2
          val tsB = 20000000L + (maxE2 * 3) / 4
          val tsRe = """"ts":(\d+)""".r
          def tsOf(k: Array[Byte], v: Array[Byte]): Long =
            tsRe.findFirstMatchIn(new String(v, "UTF-8"))
              .map(_.group(1).toLong)
              .getOrElse(sys.error("envelope without ts"))
          val wire = org.apache.spark.sql.types.StructType.fromDDL(
            "event_id BIGINT, user_id BIGINT, ts BIGINT")
          def replay(tag: String, target: Long) =
            s.read.format("graftqueue").option("path", path)
              .option("topic", "ev.tseek")
              .option("startingOffset", graft.sources.GraftQueue
                .offsetForTime(path, "ev.tseek", target, tsOf).toString)
              .load()
              .select(lit(tag).as("replay"), col("offset"),
                col("key").cast("string").as("key"),
                from_json(col("value").cast("string"), wire).as("r"))
              .select(col("replay"), col("offset"), col("key"),
                col("r.event_id").as("event_id"),
                col("r.user_id").as("user_id"), col("r.ts").as("ts"))
          replay("A", tsA)
            .unionByName(replay("B", tsB))
            // r18 (guide §1.2): map-only queue-read chain under the sort
            .localCheckpoint()
            .orderBy("replay", "offset")
        },
        Some(
          """WITH ord AS (
            |  SELECT event_id, user_id, event_id % 3 AS seg,
            |    (event_id % 3) * 10000000 + event_id AS ts,
            |    ROW_NUMBER() OVER (ORDER BY event_id % 3, event_id) - 1 AS off
            |  FROM events),
            |ns AS (
            |  SELECT
            |    (SELECT COUNT(*) FROM ord WHERE seg <= 1) AS n01,
            |    (SELECT 10000000 + MAX(event_id) // 2 FROM ord WHERE seg = 1) AS tsa,
            |    (SELECT 20000000 + (MAX(event_id) * 3) // 4 FROM ord WHERE seg = 2) AS tsb),
            |pre AS (
            |  SELECT o.event_id, o.user_id, o.ts, o.off,
            |    ROW_NUMBER() OVER (PARTITION BY o.user_id % 7
            |                       ORDER BY o.off DESC) AS rk
            |  FROM ord o, ns WHERE o.off < ns.n01),
            |lg AS (
            |  SELECT event_id, user_id, ts, off FROM pre WHERE rk = 1
            |  UNION ALL
            |  SELECT o.event_id, o.user_id, o.ts, o.off
            |  FROM ord o, ns WHERE o.off >= ns.n01),
            |fa AS (SELECT MIN(off) AS o FROM lg, ns WHERE lg.ts >= ns.tsa),
            |fb AS (SELECT MIN(off) AS o FROM lg, ns WHERE lg.ts >= ns.tsb),
            |ra AS (SELECT 'A' AS replay, l.* FROM lg l, fa WHERE l.off >= fa.o),
            |rb AS (SELECT 'B' AS replay, l.* FROM lg l, fb WHERE l.off >= fb.o)
            |SELECT replay, off AS "offset",
            |  'u' || CAST(user_id % 7 AS VARCHAR) AS key, event_id, user_id, ts
            |FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb)
            |ORDER BY replay, "offset"""".stripMargin)),

      // S7 consumer leg: Open-Meteo response bodies → normalize_weather's
      // exact field mapping (request-constant lat/lon strings, km/h
      // stored unconverted as mps — both reference quirks kept). Goes
      // THROUGH rendered JSON text; the oracle derives the same rows
      // straight from the source table.
      Q("weather_ingest",
        (s, d) => graft.ingest.OpenMeteo.weatherIngest(
          TestdataAdapter.table(s, d, "events")),
        Some(graft.ingest.OpenMeteo.weatherIngestSql)),

      // S3 version stamp: sha256(feed bytes) as version_id, stamped on
      // every ingested row — digest and stamp both in-plan, hex-equal
      // across engines (sha2 vs sha256)
      Q("gtfs_version_stamp",
        (s, d) => graft.ingest.GtfsStatic.versionStamp(
          TestdataAdapter.table(s, d, "region"),
          TestdataAdapter.table(s, d, "nation")),
        Some(graft.ingest.GtfsStatic.versionStampSql)),

      // S2 THROUGH disk: events rendered to a fixture CSV (header,
      // unquoted empties, whitespace kept), read back by the all-string
      // scan — pinning the pandas contract dtype=str + na_values ["", " "]
      // (gtfs-static-job.py:66-71): "" and " " cells → NULL, interior/
      // edge whitespace of non-blank cells preserved verbatim, digits
      // stay strings. The oracle derives the post-scan rows straight
      // from the source table, so any drift in writer quoting, reader
      // null handling, or implicit trimming breaks the hash.
      Q("gtfs_csv_scan",
        (s, d) => {
          val path = java.nio.file.Files.createTempDirectory("graft_csv_s2").toString
          val cols = Seq("service_id", "flag_cell", "note", "start_date")
          graft.ingest.GtfsStatic.writeCsvFixture(
            TestdataAdapter.table(s, d, "events").select(
              concat(lit("svc_"), col("event_id")).as("service_id"),
              when(col("event_id") % 3 === 0, concat(lit("v"), col("event_id")))
                .when(col("event_id") % 3 === 1, lit(""))
                .otherwise(lit(" ")).as("flag_cell"),
              concat(lit("  note_"), col("user_id"), lit(" ")).as("note"),
              concat(lit("2024010"), col("event_id") % 10).as("start_date")),
            path)
          graft.ingest.GtfsStatic.readCsv(s, path, cols).orderBy("service_id")
        },
        Some(
          """SELECT 'svc_' || CAST(event_id AS VARCHAR) AS service_id,
            |  CASE WHEN event_id % 3 = 0 THEN 'v' || CAST(event_id AS VARCHAR) END AS flag_cell,
            |  '  note_' || CAST(user_id AS VARCHAR) || ' ' AS note,
            |  '2024010' || CAST(event_id % 10 AS VARCHAR) AS start_date
            |FROM events ORDER BY service_id""".stripMargin)),

      // F20 THROUGH disk: calendar day flags over the same fixture-CSV
      // round trip — TRUE iff the cell is exactly "1"; "0", "2", "true",
      // "", " " (the last two null at the scan) are all FALSE, the
      // reference's `c.get(day) == "1"` Python comparison
      // (gtfs-static-job.py:276-282)
      Q("gtfs_calendar_booleans",
        (s, d) => {
          val path = java.nio.file.Files.createTempDirectory("graft_csv_f20").toString
          val days = Seq("monday", "tuesday", "wednesday", "thursday",
            "friday", "saturday", "sunday")
          graft.ingest.GtfsStatic.writeCsvFixture(
            TestdataAdapter.table(s, d, "events").select(
              concat(lit("svc_"), col("event_id")).as("service_id"),
              when(col("event_id") % 3 === 0, lit("1"))
                .when(col("event_id") % 3 === 1, lit("0"))
                .otherwise(lit("")).as("monday"),
              when(col("event_id") % 4 === 0, lit(" ")).otherwise(lit("1")).as("tuesday"),
              when(col("event_id") % 5 === 0, lit("2")).otherwise(lit("1")).as("wednesday"),
              when(col("event_id") % 2 === 0, lit("true")).otherwise(lit("1")).as("thursday"),
              lit("1").as("friday"),
              lit("0").as("saturday"),
              when(col("event_id") % 7 === 0, lit("")).otherwise(lit("0")).as("sunday")),
            path)
          graft.ingest.GtfsStatic.typedCalendar(
            graft.ingest.GtfsStatic.readCsv(s, path, "service_id" +: days))
            .orderBy("service_id")
        },
        Some(
          """SELECT 'svc_' || CAST(event_id AS VARCHAR) AS service_id,
            |  event_id % 3 = 0 AS monday,
            |  event_id % 4 <> 0 AS tuesday,
            |  event_id % 5 <> 0 AS wednesday,
            |  event_id % 2 <> 0 AS thursday,
            |  TRUE AS friday,
            |  FALSE AS saturday,
            |  FALSE AS sunday
            |FROM events ORDER BY service_id""".stripMargin)),

      // P1 + F19 THROUGH disk (promoted from spec-only, VERDICT r9): ID
      // normalization (trim + string cast) over the fixture-CSV round
      // trip — id cells arrive with leading/trailing/NBSP-free padding
      // and normalizeIds strips exactly them, while the NON-id column's
      // whitespace survives verbatim (the reference trims only its id
      // columns, gtfs-static-job.py:111-121); ""-cell ids null at the
      // scan and stay null through the trim
      Q("gtfs_id_normalize",
        (s, d) => {
          val path = java.nio.file.Files.createTempDirectory("graft_csv_p1").toString
          val cols = Seq("route_id", "agency_id", "route_name")
          graft.ingest.GtfsStatic.writeCsvFixture(
            TestdataAdapter.table(s, d, "events").select(
              concat(lit("  r_"), col("event_id"), lit(" ")).as("route_id"),
              when(col("event_id") % 5 === 0, lit(""))
                .otherwise(concat(lit(" "), col("user_id"), lit("  "))).as("agency_id"),
              concat(lit("  name_"), col("user_id"), lit(" ")).as("route_name")),
            path)
          graft.ingest.GtfsStatic.normalizeIds(
            graft.ingest.GtfsStatic.readCsv(s, path, cols),
            Seq("route_id", "agency_id"))
            .orderBy("route_id")
        },
        Some(
          """SELECT 'r_' || CAST(event_id AS VARCHAR) AS route_id,
            |  CASE WHEN event_id % 5 = 0 THEN NULL
            |       ELSE CAST(user_id AS VARCHAR) END AS agency_id,
            |  '  name_' || CAST(user_id AS VARCHAR) || ' ' AS route_name
            |FROM events ORDER BY route_id""".stripMargin)),

      // P3 + F8 THROUGH disk (promoted from spec-only, VERDICT r9): the
      // typed-cast step over the fixture-CSV round trip — lat/lon decimal
      // strings → DOUBLE (IEEE round-to-nearest parse, bit-equal across
      // engines), stop_sequence → INT with ""→NULL, and GTFS clocks
      // (including >24:00:00 service-day hours) → seconds-since-midnight
      // via the shipped typedStops/typedStopTimes functions
      // (gtfs-static-job.py:128-131,182-186)
      Q("gtfs_typed_casts",
        (s, d) => {
          val path = java.nio.file.Files.createTempDirectory("graft_csv_p3").toString
          val cols = Seq("stop_id", "stop_sequence", "arrival_time",
            "departure_time", "stop_lat", "stop_lon")
          graft.ingest.GtfsStatic.writeCsvFixture(
            TestdataAdapter.table(s, d, "events").select(
              concat(lit("s_"), col("event_id")).as("stop_id"),
              when(col("event_id") % 11 === 0, lit(""))
                .otherwise((col("event_id") % 50).cast("string")).as("stop_sequence"),
              format_string("%02d:%02d:%02d", col("event_id") % 30,
                col("user_id") % 60, col("event_id") % 60).as("arrival_time"),
              when(col("event_id") % 13 === 0, lit(""))
                .otherwise(format_string("%02d:%02d:%02d", col("event_id") % 30 + 1,
                  col("user_id") % 60, col("event_id") % 60)).as("departure_time"),
              when(col("event_id") % 7 === 0, lit(""))
                .otherwise(concat((col("event_id") % 10 + 40).cast("string"), lit("."),
                  lpad((col("user_id") % 10000).cast("string"), 4, "0"))).as("stop_lat"),
              concat(lit("-"), (col("event_id") % 20 + 70).cast("string"), lit("."),
                lpad((col("user_id") % 100).cast("string"), 2, "0")).as("stop_lon")),
            path)
          graft.ingest.GtfsStatic.typedStopTimes(
            graft.ingest.GtfsStatic.typedStops(
              graft.ingest.GtfsStatic.readCsv(s, path, cols)))
            .orderBy("stop_id")
        },
        Some(
          """SELECT 's_' || CAST(event_id AS VARCHAR) AS stop_id,
            |  CASE WHEN event_id % 11 = 0 THEN NULL
            |       ELSE CAST(event_id % 50 AS INTEGER) END AS stop_sequence,
            |  printf('%02d:%02d:%02d', event_id % 30, user_id % 60, event_id % 60)
            |    AS arrival_time,
            |  CASE WHEN event_id % 13 = 0 THEN NULL
            |       ELSE printf('%02d:%02d:%02d', event_id % 30 + 1, user_id % 60, event_id % 60)
            |       END AS departure_time,
            |  CASE WHEN event_id % 7 = 0 THEN NULL
            |       ELSE CAST(CAST(event_id % 10 + 40 AS VARCHAR) || '.' ||
            |              lpad(CAST(user_id % 10000 AS VARCHAR), 4, '0') AS DOUBLE)
            |       END AS stop_lat,
            |  CAST('-' || CAST(event_id % 20 + 70 AS VARCHAR) || '.' ||
            |    lpad(CAST(user_id % 100 AS VARCHAR), 2, '0') AS DOUBLE) AS stop_lon,
            |  CAST((event_id % 30) * 3600 + (user_id % 60) * 60 + event_id % 60
            |    AS INTEGER) AS arrival_seconds,
            |  CASE WHEN event_id % 13 = 0 THEN NULL
            |       ELSE CAST((event_id % 30 + 1) * 3600 + (user_id % 60) * 60 + event_id % 60
            |              AS INTEGER) END AS departure_seconds
            |FROM events ORDER BY stop_id""".stripMargin)),

      // S6 payload format: the reference's ingestor consumes JSON event
      // envelopes off Kafka — serialize events to JSON text, parse back
      // with schema-on-read from_json, aggregate; oracle = the same
      // aggregation straight off the table (the JSON hop loses nothing)
      Q("json_roundtrip_events",
        (s, d) => {
          val ev = TestdataAdapter.table(s, d, "events")
            .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
          val packed = ev.select(to_json(struct(
            col("event_id"), col("user_id"), col("event_type"), col("value"))).as("payload"))
          val parsed = packed.select(from_json(col("payload"),
            org.apache.spark.sql.types.StructType.fromDDL(
              "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")).as("e"))
            .select("e.*")
          parsed.groupBy("event_type")
            .agg(count(lit(1)).as("n"),
              countDistinct(col("user_id")).as("n_users"),
              graft.functions.Cols.detSum(col("value")).as("total_value"))
            .orderBy("event_type")
        },
        Some(
          s"""SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
             |  ${dsum("value")} AS total_value
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

      Q("json_extract_props",
        (s, d) => TestdataAdapter.table(s, d, "events")
          .select(col("event_id"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
          .orderBy("event_id"),
        Some(
          """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            |FROM events ORDER BY event_id""".stripMargin)),

      // As-of temporal enrichment: every event matched to the latest
      // weather reading at-or-before it, with the weather feed thinned to
      // every 3rd hour so the as-of genuinely spans hours. The staleness
      // bound is derived from the quote feed itself (asofJoinHourlyAuto)
      // so sparse feeds with multi-hour holes still match DuckDB's
      // unbounded native ASOF JOIN, the oracle.
      Q("asof_weather_enrich",
        (s, d) => {
          val probes = TestdataAdapter.timedEvents(s, d)
          val quotes = weatherHourly(s, d)
            .filter(hour(col("hour_ts")) % 3 === 0)
            .select(col("hour_ts").cast("timestamp_ntz").as("hour_ts"),
              col("temperature_c"))
          Relational.asofJoinHourlyAuto(probes, "observed_at", "event_id",
            quotes, "hour_ts")
            .select(col("event_id"), col("route_id"), col("observed_at"),
              col("hour_ts").as("weather_hour_ts"), col("temperature_c"))
            .orderBy("event_id")
        },
        Some(
          s"""WITH wx AS ($WEA),
             |wh0 AS ($WEATHER_BODY),
             |wh AS (SELECT hour_ts, temperature_c FROM wh0 WHERE EXTRACT(HOUR FROM hour_ts) % 3 = 0),
             |e AS (SELECT event_id, event_type AS route_id, CAST(ts AS TIMESTAMP) AS observed_at FROM events)
             |SELECT e.event_id, e.route_id, e.observed_at,
             |  w.hour_ts AS weather_hour_ts, w.temperature_c
             |FROM e ASOF JOIN wh w ON e.observed_at >= w.hour_ts
             |ORDER BY e.event_id""".stripMargin)),

      // Interval-overlap (range) join: deterministic 90-minute windows
      // anchored 15 min past every 6th hour, each trip update matched to
      // the window containing it, rolled up per window. Spark side is the
      // bucketed equi-join shape (Relational.rangeJoinHourly — never a
      // broadcast-nested-loop inequality join); DuckDB's native
      // inequality join is the oracle twin.
      Q("range_join_windows",
        (s, d) => {
          val t = TestdataAdapter.tripUpdates(s, d)
          val w = t.filter(hour(col("observed_at")) % 6 === 0)
            .select(date_trunc("hour", col("observed_at")).as("h")).distinct()
            .select(
              (col("h") + expr("INTERVAL 15 MINUTES")).as("window_start"),
              (col("h") + expr("INTERVAL 105 MINUTES")).as("window_end"))
          Relational.rangeJoinHourly(t, "observed_at", w, "window_start", "window_end")
            .groupBy("window_start")
            .agg(count(lit(1)).as("n_events"),
              graft.functions.Cols.detSum(col("delay_seconds")).as("total_delay"))
            .select(ntzCol("window_start"), col("n_events"), col("total_delay"))
            .orderBy("window_start")
        },
        Some(
          s"""WITH t AS ($TRIP),
             |w AS (SELECT DISTINCT
             |        date_trunc('hour', observed_at) + INTERVAL 15 MINUTE AS window_start,
             |        date_trunc('hour', observed_at) + INTERVAL 105 MINUTE AS window_end
             |      FROM t WHERE EXTRACT(HOUR FROM observed_at) % 6 = 0)
             |SELECT w.window_start, COUNT(*) AS n_events,
             |  ${dsum("t.delay_seconds")} AS total_delay
             |FROM w JOIN t ON t.observed_at >= w.window_start AND t.observed_at < w.window_end
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

      // Skew-salted equi-join surfaced at the correctness gate: salting
      // only changes partitioning (hot fact keys spread across 8
      // reducers), so the result — and therefore the oracle — is exactly
      // the plain join. Plan shape asserted separately in ScaleSpec.
      Q("salted_join_user_stats",
        (s, d) => {
          val ev = TestdataAdapter.table(s, d, "events")
            .select(col("event_id"), col("user_id"))
          val dim = ev.groupBy("user_id").agg(count(lit(1)).as("user_events"))
          graft.rel.Scale.saltedJoin(ev, dim, "user_id", salts = 8)
            .select(col("event_id"), col("user_id"), col("user_events"))
            .orderBy("event_id")
        },
        Some(
          """WITH dim AS (SELECT user_id, COUNT(*) AS user_events FROM events GROUP BY 1)
            |SELECT e.event_id, e.user_id, d.user_events
            |FROM events e JOIN dim d USING (user_id)
            |ORDER BY e.event_id""".stripMargin)),

      // Feature-matrix reshaping: hourly demand pivoted to one row per
      // route with a column per day-of-week (Postgres DOW numbering,
      // Sunday=0). pivot() with explicit values keeps the plan a single
      // groupBy (no distinct-values pre-job); empty cells default to 0.0
      // like every other view. Oracle = conditional aggregation.
      Q("demand_pivot_dow",
        (s, d) => {
          val base = demandHourly(s, d)
            .withColumn("dow", graft.functions.Cols.pgDow(col("hour_ts")))
          val p = base.groupBy("route_id")
            .pivot("dow", 0 to 6)
            .agg(graft.functions.Cols.detSum(col("passengers")))
          p.select(col("route_id") +:
              (0 to 6).map(i => coalesce(col(i.toString), lit(0.0)).as(s"dow_$i")): _*)
            .orderBy("route_id")
        },
        Some {
          val cells = (0 to 6).map(i =>
            s"COALESCE(CAST(SUM(CASE WHEN dow = $i THEN CAST(passengers AS DECIMAL(28,6)) END) AS DOUBLE), 0.0) AS dow_$i")
            .mkString(",\n             |  ")
          s"""WITH s2r AS ($S2R), f AS ($FLOW), d AS ($DEMAND_BODY)
             |SELECT route_id,
             |  $cells
             |FROM (SELECT route_id, dayofweek(hour_ts) AS dow, passengers FROM d)
             |GROUP BY route_id ORDER BY route_id""".stripMargin
        }),

      Q("trailing_context",
        (s, d) => {
          val trips = TestdataAdapter.tripUpdates(s, d)
          val wx = TestdataAdapter.weather(s, d)
          val mx = trips.agg(max("observed_at").as("max_ts"))
          val avgDelay = trips.crossJoin(broadcast(mx))
            .filter(col("observed_at") >= col("max_ts") - expr("INTERVAL 1 HOUR"))
            .agg(graft.functions.Cols.detAvg(col("delay_seconds")).as("avg_delay_trailing_1h"))
          val latest = wx
            .agg(max(struct(col("observed_at"), col("temperature_c"))).as("w"))
            .select(col("w.observed_at").cast("timestamp_ntz").as("latest_observed_at"),
              col("w.temperature_c").as("latest_temperature_c"))
          avgDelay.crossJoin(latest)
        },
        Some(
          s"""WITH t AS ($TRIP), wx AS ($WEA),
             |mx AS (SELECT MAX(observed_at) AS max_ts FROM t)
             |SELECT
             |  (SELECT ${davg("delay_seconds")} FROM t, mx
             |   WHERE observed_at >= max_ts - INTERVAL 1 HOUR) AS avg_delay_trailing_1h,
             |  (SELECT observed_at FROM wx ORDER BY observed_at DESC, temperature_c DESC LIMIT 1) AS latest_observed_at,
             |  (SELECT temperature_c FROM wx ORDER BY observed_at DESC, temperature_c DESC LIMIT 1) AS latest_temperature_c""".stripMargin)),

      Q("export_top_priority",
        (s, dir) => {
          val k = kpiHourly(s, dir).persist()
          Export.topPriority(graft.suggest.Suggestions.suggest(k))
            .withColumn("hour_ts", col("hour_ts").cast("timestamp_ntz"))
        },
        Some(
          s"""$SUGG_CTES
             |SELECT route_id, hour_ts, action, priority_score, recommended_headway_min, confidence
             |FROM s9 WHERE action <> 'keep'
             |ORDER BY priority_score DESC, route_id, hour_ts LIMIT 20""".stripMargin)),

      Q("export_summary",
        (s, dir) => {
          val k = kpiHourly(s, dir).persist()
          Export.summary(Export.latestHourSnapshot(k, graft.suggest.Suggestions.suggest(k)))
            .withColumn("hour_ts", col("hour_ts").cast("timestamp_ntz"))
        },
        Some(
          s"""$SUGG_CTES,
             |mx AS (SELECT MAX(hour_ts) AS hour_ts FROM k),
             |sg AS (SELECT route_id, hour_ts, action, priority_score FROM s9 WHERE action <> 'keep'),
             |snap AS (
             |  SELECT k.hour_ts, COALESCE(sg.action, 'needs_data') AS action,
             |    COALESCE(sg.priority_score, 0.0) AS priority_score
             |  FROM k JOIN mx ON k.hour_ts = mx.hour_ts
             |  LEFT JOIN sg ON sg.route_id = k.route_id AND sg.hour_ts = k.hour_ts)
             |SELECT MAX(hour_ts) AS hour_ts, COUNT(*) AS n_routes,
             |  CAST(SUM(CASE WHEN action = 'increase_frequency' THEN 1 ELSE 0 END) AS BIGINT) AS n_increase,
             |  CAST(SUM(CASE WHEN action = 'decrease_frequency' THEN 1 ELSE 0 END) AS BIGINT) AS n_decrease,
             |  CAST(SUM(CASE WHEN action = 'needs_data' THEN 1 ELSE 0 END) AS BIGINT) AS n_needs_data,
             |  CAST(SUM(CASE WHEN action <> 'needs_data' THEN 1 ELSE 0 END) AS BIGINT) AS n_suggestions,
             |  ${davg("priority_score")} AS avg_priority
             |FROM snap""".stripMargin)),

      // D7 — full frontend export rows (status/message/deltas), flat for
      // the hash compare; the nested {kpi,suggestion} payload is
      // Export.routeRowsJson, which the export_all job node writes
      Q("export_rows",
        (s, dir) => {
          val k = kpiHourly(s, dir).persist()
          Export.exportRows(k, graft.suggest.Suggestions.suggest(k))
            .withColumn("hour_ts", col("hour_ts").cast("timestamp_ntz"))
        },
        Some(EXPORT_ROWS_SQL)),

      // D8 — the summary's top-10 priority embed
      Q("export_summary_top",
        (s, dir) => {
          val k = kpiHourly(s, dir).persist()
          Export.summaryTop(Export.exportRows(k, graft.suggest.Suggestions.suggest(k)))
        },
        Some(SUMMARY_TOP_SQL)),

      // A11 — peak vs off-peak validation breakdown
      Q("validation_by_peak",
        (s, dir) => Export.validationByPeak(predictions(s, dir)),
        Some(
          s"""WITH s2r AS ($S2R), f AS ($FLOW), d AS ($DEMAND_BODY), p AS ($PRED_BODY)
             |SELECT CAST(CASE WHEN EXTRACT(HOUR FROM hour_ts) BETWEEN 7 AND 9
             |    OR EXTRACT(HOUR FROM hour_ts) BETWEEN 16 AND 18 THEN 1 ELSE 0 END AS INTEGER) AS is_peak_hour,
             |  COUNT(*) AS n,
             |  ${davg("abs(y_pred - y_true)")} AS mae,
             |  ${davg("y_pred - y_true")} AS bias
             |FROM p WHERE y_true IS NOT NULL AND y_pred IS NOT NULL
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

      Q("validation_by_hour",
        (s, dir) => Export.validationByHour(predictions(s, dir)),
        Some(
          s"""WITH s2r AS ($S2R), f AS ($FLOW), d AS ($DEMAND_BODY), p AS ($PRED_BODY)
             |SELECT CAST(EXTRACT(HOUR FROM hour_ts) AS INTEGER) AS hour_of_day, COUNT(*) AS n,
             |  ${davg("abs(y_pred - y_true)")} AS mae,
             |  ${davg("y_pred - y_true")} AS bias
             |FROM p WHERE y_true IS NOT NULL AND y_pred IS NOT NULL
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

      // S4/S5 round trip: vehicle events → per-hour protobuf FeedMessage
      // frames (producer-side encoder) → wire-format decode → aggregate;
      // oracle = the same aggregation straight off the events table, so
      // the binary encode/decode provably loses nothing
      Q("protobuf_roundtrip_vehicle",
        (s, d) => {
          import s.implicits._
          import graft.streaming.GtfsRt
          val veh = TestdataAdapter.vehiclePositions(s, d)
            .select(col("route_id"), col("vehicle_id"),
              unix_micros(col("observed_at").cast("timestamp")).as("ts_us"))
            .as[(String, String, Long)]
          val feeds = veh.groupByKey(_._3 / 3600000000L)
            .mapGroups { (_, it) =>
              GtfsRt.encodeVehicleFeed(it.toSeq.map { case (r, v, t) =>
                GtfsRt.VehicleRecord(v, Some(v), None, Some(r),
                  Some(44.43f), Some(26.10f), None, None, Some(t / 1000000L))
              })
            }.toDF("payload")
          GtfsRt.decodeVehicleFeed(feeds)
            .groupBy("route_id")
            .agg(count(lit(1)).as("n_events"),
              countDistinct(col("vehicle_id")).as("n_vehicles"))
            .orderBy("route_id")
        },
        Some(
          s"""WITH v AS ($VEH)
             |SELECT route_id, COUNT(*) AS n_events, COUNT(DISTINCT vehicle_id) AS n_vehicles
             |FROM v GROUP BY 1 ORDER BY 1""".stripMargin)),

      // S4 round trip, trip-update topic: events → per-hour protobuf
      // FeedMessage frames (nested TripDescriptor + repeated
      // StopTimeUpdate, NEGATIVE int32 delays as 10-byte sign-extended
      // varints) → wire decode → aggregate; oracle = the same integer
      // aggregation straight off the events table
      Q("protobuf_roundtrip_trip",
        (s, d) => {
          import s.implicits._
          import graft.streaming.GtfsRt
          val ev = TestdataAdapter.table(s, d, "events")
            .select(col("event_id"), col("user_id"),
              graft.functions.Cols.microsFromNanos(col("ts")).as("ts_us"))
            .as[(Long, Long, Long)]
          val feeds = ev.groupByKey(_._3 / 3600000000L)
            .mapGroups { (_, it) =>
              GtfsRt.encodeTripFeed(it.toSeq.map { case (eid, uid, _) =>
                val delay = (eid % 1200 - 120).toInt
                GtfsRt.TripUpdateRecord(
                  s"trip_${uid % 100}", Some(s"trip_${uid % 100}"),
                  Some(s"route_${uid % 5}"), Some(delay),
                  Seq(
                    GtfsRt.StopTimeUpdateRecord(Some(s"stop_${uid % 50}"),
                      if (eid % 3 != 0) Some(delay + 30) else None,
                      if (eid % 4 != 0) Some(delay - 15) else None),
                    GtfsRt.StopTimeUpdateRecord(Some(s"stop_${(uid + 1) % 50}"),
                      if (eid % 5 != 0) Some((eid % 180).toInt) else None,
                      if (eid % 6 != 0) Some((eid % 120).toInt) else None)))
              })
            }.toDF("payload")
          GtfsRt.decodeTripFeed(feeds)
            .groupBy("route_id")
            .agg(
              count(lit(1)).as("n_updates"),
              sum(col("delay_seconds").cast("long")).as("sum_delay"),
              sum(size(col("stop_updates")).cast("long")).as("n_stop_updates"),
              sum(expr("aggregate(stop_updates, 0L, (a, x) -> a + coalesce(x.arrival_delay, 0))")).as("sum_arrival_delay"),
              sum(expr("aggregate(stop_updates, 0L, (a, x) -> a + coalesce(x.departure_delay, 0))")).as("sum_departure_delay"))
            .orderBy("route_id")
        },
        Some(
          """WITH t AS (
            |  SELECT 'route_' || CAST(user_id % 5 AS VARCHAR) AS route_id,
            |    (event_id % 1200) - 120 AS delay,
            |    CASE WHEN event_id % 3 <> 0 THEN (event_id % 1200) - 120 + 30 ELSE 0 END
            |      + CASE WHEN event_id % 5 <> 0 THEN event_id % 180 ELSE 0 END AS arr,
            |    CASE WHEN event_id % 4 <> 0 THEN (event_id % 1200) - 120 - 15 ELSE 0 END
            |      + CASE WHEN event_id % 6 <> 0 THEN event_id % 120 ELSE 0 END AS dep
            |  FROM events)
            |SELECT route_id, COUNT(*) AS n_updates,
            |  CAST(SUM(delay) AS BIGINT) AS sum_delay,
            |  CAST(2 * COUNT(*) AS BIGINT) AS n_stop_updates,
            |  CAST(SUM(arr) AS BIGINT) AS sum_arrival_delay,
            |  CAST(SUM(dep) AS BIGINT) AS sum_departure_delay
            |FROM t GROUP BY 1 ORDER BY 1""".stripMargin)),

      // S4 round trip, alerts topic: enum causes/effects + the
      // TranslatedString header (translation[0].text) through the wire
      // format; missing description ≡ absent field, decoded as null
      Q("protobuf_roundtrip_alert",
        (s, d) => {
          import s.implicits._
          import graft.streaming.GtfsRt
          val ev = TestdataAdapter.table(s, d, "events")
            .select(col("event_id"), col("user_id"),
              graft.functions.Cols.microsFromNanos(col("ts")).as("ts_us"))
            .as[(Long, Long, Long)]
          val feeds = ev.groupByKey(_._3 / 3600000000L)
            .mapGroups { (_, it) =>
              GtfsRt.encodeAlertFeed(it.toSeq.map { case (eid, uid, _) =>
                GtfsRt.AlertRecord(
                  if (eid % 17 == 0) "unknown" else s"alert_${eid % 1000}",
                  Some((uid % 12).toInt), Some((uid % 9).toInt),
                  if (eid % 7 != 0) Some(s"Service alert ${eid % 1000}") else None)
              })
            }.toDF("payload")
          GtfsRt.decodeAlertFeed(feeds)
            .groupBy("cause")
            .agg(
              count(lit(1)).as("n_alerts"),
              count(col("description")).as("n_with_description"),
              sum(col("effect").cast("long")).as("sum_effect"))
            .orderBy("cause")
        },
        Some(
          """SELECT CAST(user_id % 12 AS INTEGER) AS cause, COUNT(*) AS n_alerts,
            |  CAST(SUM(CASE WHEN event_id % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_description,
            |  CAST(SUM(user_id % 9) AS BIGINT) AS sum_effect
            |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

      // D9 geo grouping, verified flat: the nested sort_array(collect_list
      // (struct)) runs first, then posexplode flattens it back so the
      // array CONTENTS AND ORDER are hash-compared against a DuckDB
      // row_number oracle (the nested frame itself is not pandas-sortable
      // in the driver harness — r02/r03 'unhashable numpy.ndarray').
      Q("geo_grouped",
        (s, d) => {
          val stops = TestdataAdapter.table(s, d, "customer").select(
            col("c_mktsegment").as("route_id"),
            col("c_custkey").cast("string").as("stop_id"),
            col("c_name").as("stop_name"),
            (col("c_acctbal") / 100.0).as("lat"),
            col("c_nationkey").cast("double").as("lon"))
          Export.geoGrouping(stops)
            .select(col("route_id"), posexplode(col("stops")).as(Seq("pos", "st")))
            .select(col("route_id"), col("pos").cast("int").as("pos"),
              col("st.stop_id").as("stop_id"), col("st.stop_name").as("stop_name"),
              col("st.lat").as("lat"), col("st.lon").as("lon"))
            .orderBy("route_id", "pos")
        },
        Some(
          """WITH stops AS (
            |  SELECT c_mktsegment AS route_id, CAST(c_custkey AS VARCHAR) AS stop_id,
            |    c_name AS stop_name, c_acctbal / 100.0 AS lat,
            |    CAST(c_nationkey AS DOUBLE) AS lon
            |  FROM customer)
            |SELECT route_id,
            |  CAST(ROW_NUMBER() OVER (PARTITION BY route_id
            |    ORDER BY stop_id, stop_name, lat, lon) - 1 AS INTEGER) AS pos,
            |  stop_id, stop_name, lat, lon
            |FROM stops ORDER BY route_id, pos""".stripMargin)),

      // ---- orchestration (jobs.JobGraph): the reference's Airflow
      // deployment as a declarative job graph. Both queries are pure
      // metadata derivations (no scale-dir read): edge inference is the
      // produces⋈consumes equi-join, the schedule is the longest-path
      // wave recursion — each hash-checked against a DuckDB twin over
      // the same task literals, so the scheduler's SEMANTICS sit inside
      // the oracle gate (the executable side is JobRunner + JobGraphSpec)
      Q("job_graph_edges",
        (s, _) => graft.jobs.JobGraph.edges(s),
        Some(graft.jobs.JobGraph.edgesSql)),

      Q("job_graph_schedule",
        (s, _) => graft.jobs.JobGraph.schedule(s),
        Some(graft.jobs.JobGraph.scheduleSql)),

      // Wall-clock trigger semantics (r13 — the one Airflow contribution
      // previously left as metadata): every DAG run whose data interval
      // starts inside a simulated 30-hour clock window, with Airflow's
      // interval model exact (@daily's [D, D+1d) run fires AT the
      // interval END — the run_after column); continuous services are
      // always-on rows at the window start. Pure sequence() algebra,
      // so firing itself is now inside the hash gate; only the literal
      // sleep-until-run_after stays deployment-side.
      Q("job_fire_schedule",
        (s, _) => graft.jobs.JobGraph.fireSchedule(
          s, "2024-03-01 00:00:00", "2024-03-02 06:00:00"),
        Some(graft.jobs.JobGraph.fireScheduleSql(
          "2024-03-01 00:00:00", "2024-03-02 06:00:00"))),

      // ...and the full task-level RUN BOOK for the same window: fires ×
      // wave schedule, run_after-then-wave order — the exact sequence a
      // single-worker deployment executes, one hash-checked frame.
      Q("job_runbook",
        (s, _) => graft.jobs.JobGraph.runBook(
          s, "2024-03-01 00:00:00", "2024-03-02 06:00:00"),
        Some(graft.jobs.JobGraph.runBookSql(
          "2024-03-01 00:00:00", "2024-03-02 06:00:00"))),
    )
  }

}
