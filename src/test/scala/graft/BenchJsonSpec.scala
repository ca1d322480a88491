package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.{B, Counts, R}

/** Bench's two JSON lines are parsed by whoever runs the sweep, so their
  * bytes are a contract: these goldens are the lines the earlier
  * string-concatenation code printed for the same inputs. Only the
  * per-query counters inside `spread` are new.
  */
class BenchJsonSpec extends AnyFunSuite {
  // a failed query, a partial one, a first_rep and a scatter flag, and
  // against the baseline one band regression, one dismissed >2× ratio,
  // one in-band query, plus baseline rows that cannot be compared
  private val results = Seq(
    R("bad_q", -1.0, -1.0, -1.0, 0, 5, Nil),
    R("first_q", 1.075, 1.0, 3.2, 5, 5,
      Seq(0 -> 3.2, 1 -> 1.0, 2 -> 1.1, 3 -> 1.05, 4 -> 1.2)),
    R("flaky_q", 0.45, 0.4, 0.5, 3, 5, Seq(1 -> 0.4, 3 -> 0.5, 4 -> 0.45)),
    R("reg_q", 2.075, 2.0, 2.3, 5, 5,
      Seq(0 -> 2.1, 1 -> 2.0, 2 -> 2.2, 3 -> 2.05, 4 -> 2.3)),
    R("scatter_q", 0.235, 0.2, 0.9, 5, 5,
      Seq(0 -> 0.2, 1 -> 0.9, 2 -> 0.25, 3 -> 0.3, 4 -> 0.22)),
    R("steady_q", 0.12525, 0.12, 0.14, 5, 5,
      Seq(0 -> 0.12, 1 -> 0.13, 2 -> 0.125, 3 -> 0.1255, 4 -> 0.14)))
  private val baseline = Map(
    "bad_q" -> B(1.0, 1.0, 1.0),
    "reg_q" -> B(0.5, 0.6, 0.7),
    "scatter_q" -> B(0.05, 0.1, 0.15),
    "steady_q" -> B(0.1, 0.12, 0.13),
    "gone_q" -> B(0.3, 0.3, 0.3))
  private val sweepNote = "commit rule: ship the median sweep"

  private def lines(rs: Seq[R], base: Map[String, B]): (String, String) =
    Bench.jsonLines(rs, base, "bench_r18_baseline.json", "sf0.1", 5, sweepNote)

  private val fullGolden =
    """{"metric":"total","value":3.960,"unit":"sec","queries":{"bad_q":-1.0,"first_q":1.075,"flaky_q":0.450,"reg_q":2.075,"scatter_q":0.235,"steady_q":0.125},"spread":{"bad_q":{"min":-1.0,"median":-1.0,"max":-1.0,"runs":0},"first_q":{"min":1.000,"median":1.075,"max":3.200,"runs":5},"flaky_q":{"min":0.400,"median":0.450,"max":0.500,"runs":3},"reg_q":{"min":2.000,"median":2.075,"max":2.300,"runs":5},"scatter_q":{"min":0.200,"median":0.235,"max":0.900,"runs":5},"steady_q":{"min":0.120,"median":0.125,"max":0.140,"runs":5}},"variance_flags":["first_q","scatter_q"],"variance_causes":{"first_q":"first_rep","scatter_q":"scatter"},"sf":"sf0.1","runs":5,"stat":"trimmed_median","baseline":"bench_r18_baseline.json","n_compared":3,"ratio_median":2.350,"regressions":{"reg_q":{"ratio":3.458,"band_ok":false,"this_min":2.000,"baseline_max":0.700}},"band_dismissed":{"scatter_q":{"ratio":2.350,"band_ok":true}},"sweep_note":"commit rule: ship the median sweep","ratio_vs_baseline":{"reg_q":3.458,"scatter_q":2.350,"steady_q":1.044},"band_ok":{"reg_q":false,"scatter_q":true,"steady_q":true},"partial_ok":{"flaky_q":3}}"""
  private val compactGolden =
    """{"metric":"total","value":3.960,"unit":"sec","queries":{"reg_q":2.075,"first_q":1.075,"flaky_q":0.450,"scatter_q":0.235,"steady_q":0.125},"n_queries":6,"queries_shown":"slowest40","variance_flags":["first_q","scatter_q"],"variance_causes":{"first_q":"first_rep","scatter_q":"scatter"},"full_results":"bench_results.json","sf":"sf0.1","runs":5,"stat":"trimmed_median","baseline":"bench_r18_baseline.json","n_compared":3,"ratio_median":2.350,"regressions":{"reg_q":{"ratio":3.458,"band_ok":false,"this_min":2.000,"baseline_max":0.700}},"band_dismissed":{"scatter_q":{"ratio":2.350,"band_ok":true}},"sweep_note":"commit rule: ship the median sweep","partial_ok":{"flaky_q":3}}"""
  private val fullNoBaselineGolden =
    """{"metric":"total","value":3.960,"unit":"sec","queries":{"bad_q":-1.0,"first_q":1.075,"flaky_q":0.450,"reg_q":2.075,"scatter_q":0.235,"steady_q":0.125},"spread":{"bad_q":{"min":-1.0,"median":-1.0,"max":-1.0,"runs":0},"first_q":{"min":1.000,"median":1.075,"max":3.200,"runs":5},"flaky_q":{"min":0.400,"median":0.450,"max":0.500,"runs":3},"reg_q":{"min":2.000,"median":2.075,"max":2.300,"runs":5},"scatter_q":{"min":0.200,"median":0.235,"max":0.900,"runs":5},"steady_q":{"min":0.120,"median":0.125,"max":0.140,"runs":5}},"variance_flags":["first_q","scatter_q"],"variance_causes":{"first_q":"first_rep","scatter_q":"scatter"},"sf":"sf0.1","runs":5,"stat":"trimmed_median","ratio_vs_baseline":{},"band_ok":{},"partial_ok":{"flaky_q":3}}"""
  private val compactNoBaselineGolden =
    """{"metric":"total","value":3.960,"unit":"sec","queries":{"reg_q":2.075,"first_q":1.075,"flaky_q":0.450,"scatter_q":0.235,"steady_q":0.125},"n_queries":6,"queries_shown":"slowest40","variance_flags":["first_q","scatter_q"],"variance_causes":{"first_q":"first_rep","scatter_q":"scatter"},"full_results":"bench_results.json","sf":"sf0.1","runs":5,"stat":"trimmed_median","partial_ok":{"flaky_q":3}}"""

  test("without counters both lines match the goldens byte for byte") {
    assert(lines(results, baseline) === ((fullGolden, compactGolden)))
    assert(lines(results, Map.empty) === ((fullNoBaselineGolden, compactNoBaselineGolden)))
  }

  test("counters append jobs, stages and tasks to spread entries only") {
    val counted = results.map(r =>
      if (r.ok > 0) r.copy(counts = Some(Counts(r.ok * 10L, r.ok * 11L, r.ok * 12L))) else r)
    val full = counted.filter(_.ok > 0).foldLeft(fullGolden) { (s, r) =>
      val runs = s""""${r.name}":{"min":${Bench.fmt(r.min)},"median":${Bench.fmt(r.median)},""" +
        s""""max":${Bench.fmt(r.max)},"runs":${r.ok}"""
      assert(s.contains(runs + "}"))
      s.replace(runs + "}", runs + s""","jobs":${r.ok * 10},"stages":${r.ok * 11},"tasks":${r.ok * 12}}""")
    }
    assert(lines(counted, baseline) === ((full, compactGolden)))
  }
}
