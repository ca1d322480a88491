package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.text.TextOps

class DedupTextSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog", "en", "s0", 43L),
    (1L, "the quick brown fox jumps over the lazy dog", "en", "s1", 43L), // exact dup of 0
    (2L, "the quick brown fox jumps over a sleepy dog", "en", "s2", 43L), // near dup
    (3L, "completely different words appear in this one here", "en", "s3", 50L),
    (4L, "ab", "en", "s4", 2L)) // too short for shingles
    .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("exact dedup groups identical content, keeps min doc_id") {
    val r = Dedup.exact(docs).filter(col("n_copies") > 1).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("keep_doc_id") == 0L)
    assert(r.head.getAs[Long]("n_copies") == 2L)
    assert(Dedup.dedupKeep(docs).count() == 4) // one of the twins dropped
  }

  test("minhash: identical docs share all bands; near-dups become candidates") {
    val sigs = Dedup.minhashSignatures(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> (0 until 4).map(j => r.getAs[String](s"band$j")))
      .toMap
    assert(sigs(0L) == sigs(1L)) // identical text → identical signature
    assert(!sigs.contains(4L))   // <3 tokens → no signature
    val pairs = Dedup.minhashPairs(docs).as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L }) // unrelated doc not a candidate
  }

  test("minhash signatures pay exactly one md5 per shingle (plan-verified)") {
    // the 8 permutation hashes must be derived (hex rotations), not 8
    // separate md5 calls — count md5 invocations in the physical plan
    val plan = Dedup.minhashSignatures(docs).queryExecution.executedPlan.toString
    val md5Calls = "md5\\(".r.findAllIn(plan).length
    assert(md5Calls <= 2, s"expected ≤2 md5 call sites in plan, found $md5Calls")
  }

  test("ngram jaccard: identical docs score 1.0, near-dups in (0,1)") {
    val j = Dedup.ngramJaccard(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("jaccard"))
      .toMap
    assert(j((0L, 1L)) == 1.0)
    j.get((0L, 2L)).foreach(v => assert(v > 0.0 && v < 1.0))
  }

  test("containment flags the asymmetric quote case jaccard misses") {
    // doc 11 is a strict prefix of doc 10: every shingle of 11 is in 10,
    // so overlap = 1.0 while jaccard stays well below it
    val quote = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "s0", 60L),
      (11L, "alpha beta gamma delta epsilon", "en", "s1", 30L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Dedup.containmentPairs(quote).collect()
    assert(r.length == 1)
    val p = r.head
    assert(p.getAs[Long]("doc_a") == 10L && p.getAs[Long]("doc_b") == 11L)
    assert(p.getAs[Double]("overlap") == 1.0)
    assert(p.getAs[Double]("jaccard") < 0.5 && p.getAs[Boolean]("asymmetric"))
  }

  test("simhash: identical docs have hamming 0; pairs surface via byte bands") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 32).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Int]("hamming"))
      .toMap
    assert(pairs((0L, 1L)) == 0)
    pairs.get((0L, 2L)).foreach(h => assert(h > 0))
  }

  test("corpus filter: dedups content, drops low-quality and off-language docs") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog and runs on", "en", "s0", 55L),
      (1L, "the quick brown fox jumps over the lazy dog and runs on", "en", "s1", 55L), // dup of 0
      (2L, "1 2 3 4 5 6 7 8 9 0 1 2 3 4 5", "en", "s2", 29L),                // digit-heavy → quality 0
      (3L, "der hund und die katze und der vogel laufen", "de", "s3", 44L))  // German → filtered
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // quality ≈ n_tokens/100 on clean text → 12 tokens ≈ 0.12
    val kept = Dedup.corpusFilter(corpus, minQuality = 0.1).collect()
    assert(kept.map(_.getAs[Long]("doc_id")).toSeq == Seq(0L)) // min-id rep, en, decent quality
    val r = kept.head
    assert(r.getAs[String]("predicted_lang") == "en")
    assert(r.getAs[Double]("quality_score") >= 0.1)
    assert(r.getAs[Long]("n_tokens") == 12L)
  }

  test("text stats: counts on a crafted doc") {
    val one = Seq((9L, "Hello, world! 42 is the answer.", "en", "s", 31L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextOps.textStats(one).collect().head
    assert(r.getAs[Long]("n_tokens") == 6L)
    assert(r.getAs[Long]("punct_count") == 3L) // comma, bang, final period
    assert(r.getAs[Long]("digit_count") == 2L)
    assert(r.getAs[Double]("quality_score") >= 0.0 && r.getAs[Double]("quality_score") <= 1.0)
  }

  test("language id is deterministic and favors marker density") {
    val sample = Seq(
      (1L, "der hund und die katze und der vogel", "de", "s", 36L),
      (2L, "the cat and the dog is here", "en", "s", 27L),
      (3L, "你好世界", "zh", "s", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextOps.languageId(sample)
      .select("doc_id", "predicted_lang").as[(Long, String)].collect().toMap
    assert(r(1L) == "de")
    assert(r(2L) == "en")
    assert(r(3L) == "zh")
  }

  test("fingerprint is whitespace/case insensitive") {
    val pair = Seq(
      (1L, "Hello   World", "en", "s", 13L),
      (2L, "hello world", "en", "s", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val fps = TextOps.fingerprint(pair).select("fingerprint").as[String].collect()
    assert(fps(0) == fps(1))
  }

  test("contamination report counts shared shingles; clean docs stay absent") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog", "en", "b", 43L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Dedup.contaminationReport(docs, bench)
      .as[(Long, Long)].collect().toMap
    // docs 0/1 are the benchmark text verbatim: all 7 of its 3-shingles
    assert(r(0L) == 7L && r(1L) == 7L)
    assert(r.contains(2L)) // near-dup shares a prefix of shingles
    assert(r(2L) < 7L)
    assert(!r.contains(3L)) // unrelated doc: no overlap, no row
  }

  test("domain mixture: shares sum to 1, uniform weight inverts token share") {
    val mix = Seq(
      (1L, "one two three four five six seven eight", "en", "web", 39L),
      (2L, "one two", "en", "web", 7L),
      (3L, "alpha beta", "en", "books", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextOps.domainMixture(mix).collect()
      .map(x => x.getAs[String]("source") -> x).toMap
    assert(r("web").getAs[Long]("n_docs") == 2L)
    assert(r("web").getAs[Long]("n_tokens") == 10L)
    assert(r("books").getAs[Long]("n_tokens") == 2L)
    assert(math.abs(r.values.map(_.getAs[Double]("token_share")).sum - 1.0) < 1e-12)
    // 12 tokens over 2 sources → uniform target 6: books upsamples ×3
    assert(r("books").getAs[Double]("resample_weight") == 3.0)
    assert(r("web").getAs[Double]("resample_weight") == 0.6)
  }

  test("split leakage: cross-split near-dups flag, same-split ones stay benign") {
    import graft.ml.HashSplit
    // find doc_ids on both sides of the train/test boundary from the
    // same hash the operator uses, so the fixture can't rot if the
    // split hash ever changes
    val probe = spark.range(1, 200).select(col("id").as("doc_id"),
      lit("x").as("text"), lit("en").as("lang"), lit("s").as("source"), lit(1L).as("n_chars"))
    val bySplit = HashSplit.splitAssign(probe).collect()
      .groupBy(_.getAs[String]("split")).map { case (k, v) => k -> v.map(_.getAs[Long]("doc_id")).toSeq }
    val Seq(tr1, tr2, tr3) = bySplit("train").take(3)
    val te1 = bySplit("test").head
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (tr1, dup, "en", "a", 60L),                     // near-dup of te1 → LEAK
      (te1, dup + " tail", "en", "a", 65L),
      (tr2, "completely different words here one two three four five", "en", "b", 56L),
      (tr3, "completely different words here one two three four six", "en", "b", 55L), // train∩train dup
      (bySplit("val").head, "unrelated singleton content nothing shared with any other doc", "en", "c", 62L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Dedup.splitLeakage(docs, minJaccard = 0.5).collect()
      .map(x => (x.getAs[String]("split_x"), x.getAs[String]("split_y")) -> x).toMap
    assert(r(("test", "train")).getAs[Long]("n_pairs") == 1L)
    assert(r(("test", "train")).getAs[Boolean]("leaks"))
    assert(r(("train", "train")).getAs[Long]("n_pairs") == 1L)
    assert(!r(("train", "train")).getAs[Boolean]("leaks"))
    assert(!r.contains(("val", "val"))) // the singleton never pairs
  }

  test("temperature mixture: α=1 is the natural mix, α→0 flattens toward uniform") {
    val mix = Seq(
      (1L, "one two three four five six seven eight", "en", "web", 39L),
      (2L, "one two", "en", "web", 7L),
      (3L, "alpha beta", "en", "books", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def byS(alpha: Double) = TextOps.temperatureMixture(mix, alpha).collect()
      .map(x => x.getAs[String]("source") -> x).toMap
    val nat = byS(1.0)
    // α=1: sampling probability IS the token share (web 10/12, books 2/12)
    nat.values.foreach(r =>
      assert(r.getAs[Double]("sample_prob") == r.getAs[Double]("token_share")))
    val flat = byS(1e-9)
    // α→0: both sources approach 1/2 regardless of size
    flat.values.foreach(r =>
      assert(math.abs(r.getAs[Double]("sample_prob") - 0.5) < 1e-6))
    val mid = byS(0.3)
    assert(math.abs(mid.values.map(_.getAs[Double]("sample_prob")).sum - 1.0) < 1e-8)
    // the low-resource source is boosted but stays the minority
    val books = mid("books").getAs[Double]("sample_prob")
    assert(books > 2.0 / 12 && books < 0.5)
    assert(mid("books").getAs[Double]("resample_factor") > 1.0)
    assert(mid("web").getAs[Double]("resample_factor") < 1.0)
  }

  test("temperature mixture: a tokenless source gets NULL factors, not NaN") {
    // split() maps even "" to one token, so p=0 only arises when a
    // source's texts are all NULL — the case the division guard covers.
    val mix = Seq(
      (1L, Option("one two three four"), "en", "web", 18L),
      (2L, Option.empty[String], "en", "ghost", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val byS = TextOps.temperatureMixture(mix, 0.3).collect()
      .map(x => x.getAs[String]("source") -> x).toMap
    val ghost = byS("ghost")
    assert(ghost.isNullAt(ghost.fieldIndex("resample_factor")))
    assert(ghost.isNullAt(ghost.fieldIndex("token_share")))
    val web = byS("web")
    assert(!web.isNullAt(web.fieldIndex("resample_factor")))
    assert(!web.getAs[Double]("resample_factor").isNaN)
  }

  test("chunking tiles tokens with the configured overlap; short docs get one chunk") {
    val d = Seq(
      (1L, (1 to 95).map(i => s"t$i").mkString(" "), "en", "s", 0L), // 95 tokens
      (2L, "tiny doc", "en", "s", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextOps.chunkDocuments(d, chunkTokens = 50, overlap = 10).collect()
    val c1 = r.filter(_.getAs[Long]("doc_id") == 1L)
    // stride 40 over 95 tokens → starts 1, 41, 81 → 3 chunks of 50/50/15
    assert(c1.map(_.getAs[Int]("chunk_idx")).toSeq == Seq(0, 1, 2))
    assert(c1.map(_.getAs[Long]("n_chunk_tokens")).toSeq == Seq(50L, 50L, 15L))
    val chunk1 = c1(1).getAs[String]("chunk_text").split(" ")
    assert(chunk1.head == "t41" && chunk1.last == "t90") // 10-token overlap with chunk 0
    val c2 = r.filter(_.getAs[Long]("doc_id") == 2L)
    assert(c2.length == 1 && c2.head.getAs[String]("chunk_text") == "tiny doc")
  }

  test("mixture resample: whole part replicates every doc, fraction is hash-gated") {
    val mix = Seq(
      (1L, "one two three four five six seven eight", "en", "web", 39L),
      (2L, "one two", "en", "web", 7L),
      (3L, "alpha beta", "en", "books", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // weights from domainMixture: web 0.6 (drop ~40%), books 3.0 (×3 exactly)
    val r = graft.ml.HashSplit.mixtureResample(mix).collect()
    val byDoc = r.groupBy(_.getAs[Long]("doc_id")).view.mapValues(_.length).toMap
    assert(byDoc.getOrElse(3L, 0) == 3) // integral weight → exact copy count
    for (d <- Seq(1L, 2L)) assert(byDoc.getOrElse(d, 0) <= 1) // w<1 → keep or drop
    // copy indices are 1..n and n_copies is consistent
    r.groupBy(_.getAs[Long]("doc_id")).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Int]("copy_idx")).sorted.toSeq == (1 to rows.length))
      assert(rows.forall(_.getAs[Long]("n_copies") == rows.length.toLong))
    }
    // determinism: a second evaluation returns the identical multiset
    val again = graft.ml.HashSplit.mixtureResample(mix).collect()
    assert(r.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
  }

  test("connected components collapse pair chains transitively; singletons survive") {
    // chain 1-2, 2-3, plus island 4-5 and singleton 6: components
    // {1,2,3}→1, {4,5}→4, {6}→6 — (1,3) never appears as an edge
    val verts = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val r = Dedup.connectedComponents(verts, edges)
      .as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L))
  }

  test("dedup clusters: exact twins share a cluster, unrelated doc is a singleton") {
    val r = Dedup.dedupClusters(docs).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("cluster_id"), x.getAs[Long]("cluster_size"))).toMap
    assert(r(0L)._1 == 0L && r(1L)._1 == 0L) // identical docs cluster under min id
    assert(r(1L)._2 >= 2L)
    assert(r(3L) == (3L, 1L)) // unrelated doc stays its own cluster
    assert(r.size == 5) // every doc gets a row, pairless ones included
  }

  test("repetition stats: spam doc scores high on every signal, varied doc low") {
    val reps = Seq(
      (1L, "buy now buy now buy now buy now", "en", "s", 31L), // pure repetition
      (2L, "each word here appears exactly once only", "en", "s", 40L), // no repeats
      (3L, "x", "en", "s", 1L)) // single token → no bigrams
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextOps.repetitionStats(reps).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    // doc 1: 8 tokens, 2 distinct → dup_token_frac 0.75; 7 bigrams, top
    // ("buy now" ×4) → 4/7; every bigram occurrence repeats → 7/7
    assert(r(1L).getAs[Double]("dup_token_frac") == 0.75)
    assert(r(1L).getAs[Long]("top_bigram_n") == 4L)
    assert(r(1L).getAs[Double]("dup_bigram_frac") == 1.0)
    // doc 2: all 7 tokens distinct, all 6 bigrams unique
    assert(r(2L).getAs[Double]("dup_token_frac") == 0.0)
    assert(r(2L).getAs[Double]("top_bigram_frac") == 1.0 / 6.0)
    assert(r(2L).getAs[Double]("dup_bigram_frac") == 0.0)
    // doc 3: no bigrams → NULL bigram columns, token stats intact
    assert(r(3L).getAs[Long]("n_tokens") == 1L)
    assert(r(3L).isNullAt(r(3L).fieldIndex("n_bigrams")))
  }

  test("source KL: uniform source diverges less than degenerate one; entropy ln2 / 0") {
    // corpus = {x:6, y:2} → pc(x)=0.75, pc(y)=0.25
    // a = {x:.5, y:.5}: KL = .5·ln(.5/.75) + .5·ln(.5/.25) ≈ 0.143841, H = ln 2
    // b = {x:1}:        KL = ln(1/.75) ≈ 0.287682,                      H = 0
    val d = Seq(
      (0L, "x x y y", "en", "a", 7L),
      (1L, "x x x x", "en", "b", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextOps.sourceKlDivergence(d).collect()
      .map(x => x.getAs[String]("source") -> x).toMap
    assert(r("a").getAs[Long]("n_tokens") == 4L && r("b").getAs[Long]("n_tokens") == 4L)
    assert(r("a").getAs[Long]("vocab_used") == 2L && r("b").getAs[Long]("vocab_used") == 1L)
    assert(math.abs(r("a").getAs[Double]("kl_divergence") - 0.143841) < 1e-5)
    assert(math.abs(r("b").getAs[Double]("kl_divergence") - 0.287682) < 1e-5)
    assert(math.abs(r("a").getAs[Double]("entropy") - math.log(2)) < 1e-5)
    assert(math.abs(r("b").getAs[Double]("entropy")) < 1e-9)
  }

  test("ngram diversity: hand counts for n=1..3; short docs emit nothing past their length") {
    val d = Seq(
      (0L, "p q p q", "en", "a", 7L),
      (1L, "z", "en", "b", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextOps.ngramDiversity(d).collect()
      .map(x => (x.getAs[String]("source"), x.getAs[Int]("n")) ->
        ((x.getAs[Long]("total_ngrams"), x.getAs[Long]("distinct_ngrams")))).toMap
    assert(r(("a", 1)) == ((4L, 2L))) // p q p q
    assert(r(("a", 2)) == ((3L, 2L))) // "p q" ×2, "q p"
    assert(r(("a", 3)) == ((2L, 2L))) // "p q p", "q p q"
    assert(r(("b", 1)) == ((1L, 1L)))
    assert(!r.contains(("b", 2)) && !r.contains(("b", 3))) // slice clamp: no descending sequence
  }

  test("dup-span scrub keeps exactly the corpus-first occurrence of a duplicated span") {
    val d = Seq(
      (1L, "a b c d e f g h x y z", "en", "s", 21L),
      (2L, "p q a b c d e f g h r", "en", "s", 21L),
      (3L, "completely unrelated words with no shared span at all ok", "en", "s", 56L),
      (4L, "m n o p1 q r s t m n o p1 q r s t", "en", "s", 33L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val s = graft.dedup.Dedup.dupSpanScrub(d, n = 8).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_removed"), r.getAs[String]("cleaned_text"))).toMap
    // doc 1 holds the first occurrence — untouched
    assert(s(1L) == ((0L, "a b c d e f g h x y z")))
    // doc 2 repeats the 8-token span at position 3 — positions 3..10 go
    assert(s(2L) == ((8L, "p q r")))
    assert(s(3L)._1 == 0L)
    // within-doc repetition: the second copy (positions 9..16) goes
    assert(s(4L) == ((8L, "m n o p1 q r s t")))
    val rep = graft.dedup.Dedup.dupSpanReport(d, n = 8).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("span_start"),
        r.getAs[Int]("span_end"), r.getAs[Long]("n_starts")))
    assert(rep.toSet == Set((2L, 3, 10, 1L), (4L, 9, 16, 1L)))
  }

  test("dup-span report: per doc, the merged spans' lengths sum to the scrub's n_removed (sf0.001)") {
    // the island merge must yield disjoint maximal spans whose union is
    // exactly the position set the scrub removes. n = 8 is the registered
    // width; at n = 4 the corpus also has removable starts 2..n apart (a
    // kept first occurrence between repeats), which only the overlap rule
    // merges into one span
    val d = TestdataAdapter.table(spark, "/root/testdata/sf0.001", "documents")
    for (n <- Seq(4, 8)) {
      val spans = Dedup.dupSpanReport(d, n)
        .groupBy("doc_id")
        .agg(sum(col("span_end") - col("span_start") + 1).as("covered"),
          max(col("n_starts")).as("max_starts"))
      val rows = Dedup.dupSpanScrub(d, n).select("doc_id", "n_removed")
        .join(spans, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_removed"), coalesce(col("covered"), lit(0L)).as("covered"),
          coalesce(col("max_starts"), lit(0L)).as("max_starts"))
        .collect()
      val bad = rows.filter(r => r.getAs[Long]("n_removed") != r.getAs[Long]("covered"))
      if (bad.nonEmpty) fail(s"n=$n: ${bad.length} docs differ, e.g. ${bad.take(5).mkString(", ")}")
      assert(rows.exists(_.getAs[Long]("n_removed") > 0), s"n=$n")
      assert(rows.exists(_.getAs[Long]("max_starts") > 1), s"n=$n") // some island merged starts
    }
  }

  test("min-span scrub (l50): a 49-token repeat survives, a 50-token one scrubs keep-first") {
    // doc 1: the source passages; doc 2 repeats 49 tokens of passage A
    // then fresh words; doc 3 repeats 50 tokens of passage B
    val passA = (1 to 49).map(i => s"a$i").mkString(" ")
    val passB = (1 to 50).map(i => s"b$i").mkString(" ")
    val d = Seq(
      (1L, s"$passA $passB", "en", "s", 0L),
      (2L, s"$passA fresh tail words here", "en", "s", 0L),
      (3L, s"intro words then $passB", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.dedup.Dedup.dupSpanScrubMinLen(d, n = 8, minLen = 50)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_removed"), r.getAs[String]("cleaned_text"))).toMap
    // corpus-first doc never scrubs
    assert(out(1L)._1 == 0L)
    // 49-token maximal span < 50 → SURVIVES in full
    assert(out(2L) == ((0L, s"$passA fresh tail words here")))
    // 50-token maximal span ≥ 50 → scrubbed, keep-first (doc 1 keeps it)
    assert(out(3L) == ((50L, "intro words then")))
    // ...and at the base 8-gram scrub both would have been removed —
    // the length floor is what changed the verdict
    val base = graft.dedup.Dedup.dupSpanScrub(d, n = 8).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_removed")).toMap
    assert(base(2L) == 49L && base(3L) == 50L)
  }
}
