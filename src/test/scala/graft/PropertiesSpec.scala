package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.functions.Cols._
import graft.suggest.Suggestions

/** Property tests (SURVEY §5 plan): invariants over generated inputs,
  * evaluated as single Spark jobs over the whole sample batch (one job per
  * property, not per case).
  */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int = 200): Seq[A] =
    Iterator.continually(g.sample).flatten.take(n).toSeq

  test("property: clamp always lands in [lo, hi]") {
    val xs = sample(Gen.chooseNum(-1e9, 1e9))
    val out = xs.toDF("x")
      .select(clamp(col("x"), 3.0, 30.0).as("c")).as[Double].collect()
    assert(out.forall(c => c >= 3.0 && c <= 30.0))
  }

  test("property: GTFS clock formatting round-trips through the parser") {
    val gen = for {
      h <- Gen.chooseNum(0, 47) // past-midnight clocks included
      m <- Gen.chooseNum(0, 59)
      s <- Gen.chooseNum(0, 59)
    } yield (h, m, s)
    val cases = sample(gen)
    val out = cases.toDF("h", "m", "s")
      .select((col("h") * 3600 + col("m") * 60 + col("s")).as("expected"),
        gtfsTimeToSeconds(format_string("%02d:%02d:%02d", col("h"), col("m"), col("s")))
          .as("parsed"))
      .as[(Int, Int)].collect()
    assert(out.forall { case (e, p) => e == p })
  }

  test("property: quality score in [0,1], predicted language in the closed set, bpe ≥ ws tokens") {
    import graft.text.TextOps
    // printable-ish text with words, digits, punctuation, whitespace runs
    val word = Gen.oneOf(
      Gen.alphaStr.suchThat(_.nonEmpty), Gen.numStr.suchThat(_.nonEmpty),
      Gen.oneOf(",", ".", "!", "der", "the", "le", "el", "und", "and", "42"))
    val text = Gen.nonEmptyListOf(word).map(_.mkString(" ")).suchThat(_.trim.nonEmpty)
    val docs = sample(text).zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = docs.select(
      TextOps.qualityScore(col("text")).as("q"),
      TextOps.predictedLang(col("text")).as("pl")).collect()
    val langs = Set("en", "de", "fr", "es", "zh", "und")
    out.foreach { r =>
      val q = r.getDouble(0)
      assert(q >= 0.0 && q <= 1.0, s"quality $q out of range")
      assert(langs.contains(r.getString(1)))
    }
    // every whitespace token contains ≥1 matchable char → n_bpe ≥ n_ws
    val counts = TextOps.tokenCounts(docs)
      .select("n_ws_tokens", "n_bpe_tokens").as[(Long, Long)].collect()
    assert(counts.forall { case (ws, bpe) => bpe >= ws })
  }

  test("property: base-demand seeding stays in [5, 50]") {
    val ns = sample(Gen.chooseNum(0L, 100000L))
    val out = ns.toDF("n")
      .select(baseDemandWeight(col("n")).as("w")).as[Long].collect()
    assert(out.forall(w => w >= 5L && w <= 50L))
  }

  test("property: suggestion bounds hold for arbitrary KPI rows") {
    val ts = java.sql.Timestamp.valueOf("2024-01-01 12:00:00")
    val gen = for {
      pred <- Gen.option(Gen.chooseNum(0.0, 5000.0))
      veh <- Gen.chooseNum(0L, 40L)
      hw <- Gen.option(Gen.chooseNum(0.0, 120.0))
      delay <- Gen.chooseNum(0.0, 3000.0)
      peak <- Gen.oneOf(0, 1)
    } yield (pred.map(Double.box).orNull, veh, hw.map(Double.box).orNull, delay, peak)
    val rows = sample(gen, 300).zipWithIndex.map { case ((p, v, h, d, pk), i) =>
      (s"r$i", ts, p, p, Long.box(v), h,
        Option(h).map(x => (x.doubleValue * 6e7).toLong).map(Long.box).orNull,
        Long.box(1L), Double.box(d), 12, pk)
    }
    val kpi = rows.toDF("route_id", "hour_ts", "predicted_passengers",
      "observed_passengers", "active_vehicles", "avg_headway_min",
      "avg_headway_us", "trip_update_events", "avg_delay_seconds",
      "hour_of_day", "is_peak_hour")
    val out = Suggestions.suggest(kpi, onlyChanges = false)
      .select("confidence", "priority_score", "recommended_headway_min",
        "action", "current_headway_min")
      .as[(Double, Double, Double, String, Double)].collect()
    assert(out.nonEmpty)
    out.foreach { case (c, p, rec, action, cur) =>
      assert(c >= 0.55 && c <= 1.0, s"confidence $c")
      assert(p >= 0.0 && p <= 1.0, s"priority $p")
      if (action == "keep") assert(rec == cur)
      else assert(rec >= Suggestions.MinHeadway && rec <= Suggestions.MaxHeadway)
      assert(cur >= 0.5 && cur <= 60.0, s"current headway $cur")
    }
  }

  test("property: boilerplate scrub conserves tokens; cleaned text ⊆ original tokens") {
    val word = Gen.oneOf("spark", "join", "scan", "agg", "sort", "merge", "key")
    val gen = Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, word))
    val docs = sample(gen, 120).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      .toDF("doc_id", "text")
    val orig = docs.select(col("doc_id"), graft.text.TextOps.toks(col("text")).as("w"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getSeq[String](1)).toMap
    val out = graft.dedup.Dedup.boilerplateScrub(docs).collect()
    assert(out.length == 120)
    out.foreach { r =>
      val (nToks, nRemoved, nKept) = (r.getAs[Long]("n_toks"),
        r.getAs[Long]("n_removed"), r.getAs[Long]("n_kept"))
      assert(nKept + nRemoved == nToks)
      val cleaned = r.getAs[String]("cleaned_text")
      // split(-1) keeps the empty token an empty document tokenizes to
      // (the suite-wide toks convention: split("", "\s+") = [""])
      val kept = if (nKept == 0) Nil else cleaned.split(" ", -1).toSeq
      assert(kept.size == nKept)
      // cleaned tokens are a subsequence of the original token list
      val w = orig(r.getAs[Long]("doc_id"))
      var i = 0
      kept.foreach { t =>
        i = w.indexOf(t, i)
        assert(i >= 0, s"token $t not in order in $w"); i += 1
      }
    }
  }

  test("property: packed sequences tile the token stream contiguously") {
    val gen = Gen.chooseNum(1, 40)
    val docs = sample(gen, 150).zipWithIndex
      .map { case (n, i) => (i.toLong, (1 to n).map("t" + _).mkString(" ")) }
      .toDF("doc_id", "text")
    val r = graft.text.TextOps.packedSequences(docs, seqLen = 32)
      .orderBy("doc_id").collect()
    var expectedStart = 0L
    r.foreach { row =>
      assert(row.getAs[Long]("start_tok") == expectedStart) // contiguous, gap-free
      expectedStart += row.getAs[Long]("n_toks")
      val first = row.getAs[Int]("first_seq"); val last = row.getAs[Int]("last_seq")
      assert(first <= last)
      assert(row.getAs[Boolean]("crosses_boundary") == (last > first))
      // the doc really does span exactly [first, last] in 32-token cuts
      assert(first == row.getAs[Long]("start_tok") / 32)
      assert(last == (row.getAs[Long]("start_tok") + row.getAs[Long]("n_toks") - 1) / 32)
    }
  }

  test("property: grouped exact ntile equals the partitioned window form") {
    import org.apache.spark.sql.expressions.Window
    import graft.rel.Scale
    val gen = for {
      g <- Gen.oneOf("a", "b", "c", "d", "e")
      s <- Gen.chooseNum(0, 9) // coarse scores force heavy ties
    } yield (g, s.toDouble)
    val rows = sample(gen, 300).zipWithIndex
      .map { case ((g, s), i) => (g, i.toLong, s) }
    for (n <- Seq(2, 3, 7)) {
      val df = rows.toDF("g", "id", "score")
      val dist = Scale.ntileExactBy(df, n, Seq("g"), Seq("score", "id"), partitions = 5)
        .select(col("g"), col("id"), col("tier").cast("int").as("tier"))
      val window = df.select(col("g"), col("id"),
        ntile(n).over(Window.partitionBy("g").orderBy(col("score"), col("id"))).as("tier"))
      assert(dist.exceptAll(window).isEmpty && window.exceptAll(dist).isEmpty,
        s"n=$n diverged from the window form")
    }
  }

  test("property: incremental merge equals full recompute on random splits") {
    import graft.rel.Incremental
    val gen = for {
      u <- Gen.chooseNum(1L, 20L)
      t <- Gen.chooseNum(0L, 96L) // hours
      v <- Gen.chooseNum(-1000000L, 1000000L)
    } yield (u, "e" + (u % 3), new java.sql.Timestamp(t * 3600 * 1000), v / 1000.0)
    val ev = sample(gen, 300).toDF("user_id", "event_type", "observed_at", "value")
    val full = Incremental.finalizeHourly(Incremental.hourlyPartial(ev)).collect().toSeq
    for (k <- 2 to 4) {
      val parts = (0 until k).map(i =>
        Incremental.hourlyPartial(ev.filter(pmod(col("user_id"), lit(k)) === i)))
      assert(Incremental.finalizeHourly(Incremental.mergePartials(parts)).collect().toSeq
        == full, s"$k-way split diverged")
    }
  }
}
