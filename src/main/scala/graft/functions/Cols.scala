package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-expression helpers mirroring the reference's scalar surface
  * (SURVEY.md §2.8). Everything is a pure Catalyst expression — codegen'd,
  * no UDFs — so filters/projections stay inside whole-stage codegen and
  * push down to the parquet scan at any scale.
  */
object Cols {

  /** F14 — clamp(x, lo, hi) = LEAST(hi, GREATEST(lo, x)).
    * Ref: src/optimization/generate_suggestions.py:35-36.
    */
  def clamp(x: Column, lo: Double, hi: Double): Column =
    least(greatest(x, lit(lo)), lit(hi))

  /** F1 — date_trunc('hour', ts). Ref: initdb/init-postgis.sql:190. */
  def hourTs(ts: Column): Column = date_trunc("hour", ts)

  /** F3 — Postgres EXTRACT(DOW): Sunday=0..Saturday=6. Spark's dayofweek
    * is Sunday=1..Saturday=7, hence the -1. Ref: initdb/init-postgis.sql:237.
    */
  def pgDow(ts: Column): Column = dayofweek(ts) - 1

  /** F5 — peak-hour flag (7-9h or 16-18h) as int.
    * Ref: initdb/init-postgis.sql:238-239, kpi_views.sql:85-88.
    */
  def isPeakHour(ts: Column): Column =
    (hour(ts).between(7, 9) || hour(ts).between(16, 18)).cast("int")

  /** F4/W1 — exact microseconds between two timestamps as a long
    * (EXTRACT(EPOCH FROM a-b) at µs precision). Time math should stay in
    * this integer domain as long as possible: integer sums are
    * associative (partition-order independent) and cross-engine exact,
    * whereas any double→decimal rounding of a derived minutes value is
    * engine-specific at half-boundaries (Δµs ≡ 30 mod 60 puts Δµs/6e7
    * exactly on a 6-decimal half — 1 in 60 gaps!). Accepts TIMESTAMP and
    * TIMESTAMP_NTZ: unix_micros rejects NTZ input (DATATYPE_MISMATCH on
    * Spark 4.1), so cast explicitly first — safe under the UTC session
    * timezone pinned in build.sbt/Verify. Ref: kpi_views.sql:45.
    */
  def microsBetween(a: Column, b: Column): Column =
    unix_micros(a.cast("timestamp")) - unix_micros(b.cast("timestamp"))

  /** Deterministic SUM of a double expression: round each row to `scale`
    * decimals (exact decimal cast), sum exactly, return double. Plain
    * double sums are order-dependent (partial aggregation vs. a sequential
    * engine differ in final bits), which would break cross-engine
    * hash-verification; the decimal path is associative and therefore
    * byte-identical on any partitioning — at 100 TB the result no longer
    * depends on the cluster layout. Still codegen'd (no UDF).
    */
  def detSum(c: Column, scale: Int = 6): Column =
    sum(c.cast(s"decimal(28,$scale)")).cast("double")

  /** Deterministic AVG: exact decimal sum / non-null count (one double
    * division at the end). Matches AVG semantics (nulls excluded from both
    * numerator and denominator). See [[detSum]] for why.
    */
  def detAvg(c: Column, scale: Int = 6): Column =
    sum(c.cast(s"decimal(28,$scale)")).cast("double") / count(c)

  /** F8 — GTFS clock "HH:MM:SS" → integer seconds-since-midnight.
    * Hours may exceed 23 (e.g. "25:10:00"); empty/blank → null.
    * Ref: src/dag/gtfs-static-job.py:182-186 (na_values :66-71).
    */
  def gtfsTimeToSeconds(t: Column): Column = {
    val cleaned = trim(t)
    val parts = split(cleaned, ":")
    when(cleaned.isNull || cleaned === "" || size(parts) =!= 3, lit(null).cast("int"))
      .otherwise(
        parts.getItem(0).cast("int") * 3600 +
          parts.getItem(1).cast("int") * 60 +
          parts.getItem(2).cast("int"))
  }

  /** The canonical event-time → µs-since-epoch conversion, SCHEMA-ADAPTIVE
    * (see [[EventTimeExpr]]): a long child is treated as nanos and
    * floor-divided by 1000 (integer-exact for any 64-bit count); a
    * timestamp / timestamp_ntz child passes through at its native µs
    * precision, bit-for-bit, with no timezone interpretation. The
    * driver's testdata has shipped `events.ts` in both physical forms;
    * every module that needs event time derives through here (or
    * [[ntzFromNanos]]) — the idiom is precision-critical and must not
    * fork (an inline fixed-type cast is an analysis error in the world
    * it wasn't written for).
    */
  def microsFromNanos(c: Column): Column =
    org.apache.spark.sql.GraftSqlShims.column(
      EventTimeExpr(org.apache.spark.sql.GraftSqlShims.expression(c), ntz = false))

  /** [[microsFromNanos]] materialized directly as TIMESTAMP_NTZ (same
    * adaptive dispatch; the NTZ value is the µs count reinterpreted, no
    * session-timezone round-trip).
    */
  def ntzFromNanos(c: Column): Column =
    org.apache.spark.sql.GraftSqlShims.column(
      EventTimeExpr(org.apache.spark.sql.GraftSqlShims.expression(c), ntz = true))

  /** F21/P8 — NaN/Inf scrub to null (export hygiene).
    * Ref: src/optimization/export_suggestions_json.py:31-49.
    */
  def scrubDouble(c: Column): Column =
    when(isnan(c) || c === Double.PositiveInfinity || c === Double.NegativeInfinity, lit(null).cast("double"))
      .otherwise(c)

  /** A8 — base-demand seeding LEAST(50, GREATEST(5, n*3)).
    * Ref: initdb/init-postgis.sql:170-176.
    */
  def baseDemandWeight(n: Column): Column =
    least(lit(50L), greatest(lit(5L), n * 3))
}
