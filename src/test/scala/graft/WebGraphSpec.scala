package graft

import org.apache.spark.sql.functions._

import graft.text.{TextOps, WebGraph, WebGraphMaintenance}

/** Web-graph extraction + authority (r15, VERDICT r14 item 2). The
  * oracles prove the generator round trips at sf0.01; these specs pin
  * the semantic edges the round trip can't: structural link recovery on
  * crafted pages, authority mass conservation and ordering on an
  * engineered graph, and the warm-start refresh contracting toward the
  * full recompute.
  */
class WebGraphSpec extends SparkSpec {
  import spark.implicits._

  test("htmlLinks recovers title, canonical host, and anchors in document order") {
    val docs = Seq((5L, "some words here")).toDF("doc_id", "text")
    val rows = WebGraph.htmlLinks(TextOps.htmlCorpus(docs)).collect()
    assert(rows.length == 2 + TextOps.HtmlLinksPerDoc)
    assert(rows.forall(_.getAs[String]("title") == "Doc 5"))
    assert(rows.forall(_.getAs[String]("src_host") ==
      s"h${5 % TextOps.HtmlHosts}.example"))
    // nav boilerplate first, then the related links at the generator's
    // target arithmetic (hrefs in their RAW variant spellings)
    val byRank = rows.sortBy(_.getAs[Int]("link_rank"))
      .map(r => (r.getAs[String]("href"), r.getAs[String]("anchor")))
    assert(byRank(0) == (("/", "home")) && byRank(1) == (("/about", "about")))
    TextOps.htmlLinkTargets(5L).zipWithIndex.foreach { case (t, j) =>
      assert(byRank(2 + j) == ((TextOps.htmlLinkHref(5L, j), s"doc $t")))
    }
  }

  test("normalizeUrl collapses every variant spelling; total on edge shapes") {
    val cases = Seq(
      // the four generator spellings of one resource
      "https://h3.example/doc/96" -> "https://h3.example/doc/96",
      "HTTPS://H3.EXAMPLE:443/doc/96" -> "https://h3.example/doc/96",
      "https://h3.example/a/../doc/96#sec" -> "https://h3.example/doc/96",
      "https://h3.example/doc/96?b=2&a=1&utm_source=feed" ->
        "https://h3.example/doc/96?a=1&b=2",
      // beyond the generator: http default port, nested dot segments,
      // all-tracking query (the '?' must go), relative URLs untouched
      "HTTP://Host.X:80/p" -> "http://host.x/p",
      "https://h.x/a/b/../../doc/1" -> "https://h.x/doc/1",
      "https://h.x/doc/1?utm_a=1&utm_b=2" -> "https://h.x/doc/1",
      "https://h.x:8080/p" -> "https://h.x:8080/p", // non-default port kept
      "/about" -> "/about",
      "/" -> "/")
    val out = cases.map(_._1).toDF("href")
      .select(col("href"), WebGraph.normalizeUrl(col("href")).as("u"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) =>
      assert(out(in) == want, s"normalizeUrl($in) = ${out(in)}, want $want")
    }
  }

  test("authority on an engineered graph: mass conserved, the popular host wins") {
    // a→c, b→c, c→a: fixed point c ≈ .486S > a ≈ .463S > b = .05S
    // (c collects both votes, a gets c's whole vote back, b gets none)
    val links = Seq(
      ("a.x", "https://c.x/1"),
      ("b.x", "https://c.x/3"),
      ("c.x", "https://a.x/4"))
      .toDF("src_host", "href")
    val out = WebGraph.linkAuthorityFromLinks(links).collect()
      .map(r => r.getAs[String]("host") -> r.getAs[Long]("rank_scaled")).toMap
    assert(out.keySet == Set("a.x", "b.x", "c.x"))
    // total mass stays ~S (floor divisions only lose integer dust)
    val total = out.values.sum
    assert(math.abs(total - WebGraph.AuthorityScale) < 1000L,
      s"rank mass not conserved: $total")
    assert(out("c.x") > out("a.x") && out("a.x") > out("b.x"),
      s"expected c > a > b (votes: c collects two, a gets c's back, b none): $out")
  }

  test("warm-start refresh contracts toward the full recompute on real docs") {
    val docs = TestdataAdapter.table(spark, "/root/testdata/sf0.001", "documents")
    val rep = WebGraph.linkAuthorityIncremental(docs).collect()
    assert(rep.nonEmpty)
    val gp = rep.map(_.getAs[Long]("gap_prior")).sum
    val gw = rep.map(_.getAs[Long]("gap_warm")).sum
    assert(gp > 0L, "the delta batch should move the ranks")
    assert(gw * 10 < gp,
      s"2 warm steps must contract the gap by far more than 10x: prior=$gp warm=$gw")
  }

  test("in-plan incremental ≡ the maintained seeds: prior = carve's ranks_v0, full = corpus seed") {
    // the in-plan query extracts its edges once with a carve flag; the
    // maintained state seeds each slice through edgesOf — per host, both
    // must give the same converged ranks
    val docs = TestdataAdapter.table(spark, "/root/testdata/sf0.001", "documents")
    val rep = WebGraph.linkAuthorityIncremental(docs).collect()
    assert(rep.nonEmpty)
    val root = java.nio.file.Files.createTempDirectory("graft_wg_seed").toString
    def seeded(tag: String, d: org.apache.spark.sql.DataFrame): Map[String, Long] = {
      WebGraphMaintenance.seedIfAbsent(WebGraphMaintenance.edgesOf(d),
        s"$root/$tag", iters = 5)
      spark.read.parquet(WebGraphMaintenance.ranksPath(s"$root/$tag", 0))
        .collect().map(r => r.getAs[String]("host") -> r.getAs[Long]("r")).toMap
    }
    def ranks(name: String): Map[String, Long] =
      rep.map(r => r.getAs[String]("host") -> r.getAs[Long](name)).toMap
    val (corpus, _, _) = WebGraphMaintenance.carve(docs)
    assert(ranks("rank_prior_scaled") == seeded("carve", corpus),
      "rank_prior_scaled differs from the %3 carve's seeded ranks_v0")
    assert(ranks("rank_full_scaled") ==
      seeded("full", docs.filter(col("doc_id").isNotNull)),
      "rank_full_scaled differs from the uncarved corpus seed")
  }

  test("authority weighting preserves the quality ordering within a host") {
    val docs = Seq(
      (0L, "a solid length paragraph of plain readable words " * 3),
      (16L, "x")) // same host (16 % 16 = 0), degenerate text
      .toDF("doc_id", "text")
    val out = WebGraph.authorityWeightedQuality(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("quality_score"), r.getAs[Double]("weighted_quality"),
          r.getAs[String]("host"))).toMap
    assert(out(0L)._3 == "h0.example" && out(16L)._3 == "h0.example")
    assert(out(0L)._1 > out(16L)._1)
    assert(out(0L)._2 > out(16L)._2,
      "same host => weighting must preserve the quality order")
  }
}
