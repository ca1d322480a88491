package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.ml.QualityClassifier

/** New curation operators: bloom incremental dedup, duplicate-shingle
  * hotspots, near-dedup keep list, learned quality classifier.
  */
class CurationOpsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog", "en", "s0", 43L),
    (1L, "the quick brown fox jumps over the lazy dog", "en", "s1", 43L),
    (2L, "the quick brown fox jumps over a sleepy dog", "en", "s2", 43L),
    (3L, "completely different words appear in this one here", "en", "s3", 50L),
    (4L, "ab", "en", "s4", 2L))
    .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("duplicate shingles: shared 3-grams ranked by doc reach") {
    val r = Dedup.duplicateShingles(docs).collect()
    // docs 0,1,2 share the prefix "the quick brown ..." — those shingles
    // reach 3 docs; nothing from doc 3 is shared
    assert(r.nonEmpty)
    val top = r.head
    assert(top.getAs[Long]("n_docs") == 3L)
    assert(r.forall(_.getAs[Long]("n_docs") >= 2L))
    val shingles = r.map(_.getAs[String]("shingle")).toSet
    assert(shingles.contains("the quick brown"))
    assert(!shingles.exists(_.contains("completely")))
  }

  test("boilerplate scrub: duplicated spans removed, unique text intact") {
    val r = Dedup.boilerplateScrub(docs).collect()
      .map(row => row.getAs[Long]("doc_id") -> row).toMap
    // identical docs 0/1: every shingle is duplicated → fully scrubbed
    assert(r(0L).getAs[String]("cleaned_text") == "")
    assert(r(0L).getAs[Long]("n_kept") == 0L)
    // doc 2 shares its 4 leading shingles with 0/1 (covering tokens 1-6);
    // the unique tail "a sleepy dog" survives
    assert(r(2L).getAs[String]("cleaned_text") == "a sleepy dog")
    assert(r(2L).getAs[Long]("n_removed") == 6L)
    // unique doc 3 and shingle-less doc 4 are untouched
    assert(r(3L).getAs[String]("cleaned_text") ==
      "completely different words appear in this one here")
    assert(r(4L).getAs[String]("cleaned_text") == "ab")
    assert(r.values.forall(row =>
      row.getAs[Long]("n_kept") + row.getAs[Long]("n_removed") ==
        row.getAs[Long]("n_toks")))
  }

  test("curate pipeline: boilerplate dies at scrub, dups dedup post-scrub, short docs floor out") {
    val boiler = "the quick brown fox jumps over the lazy dog"
    val cur = Seq(
      (10L, s"$boiler alpha beta gamma", "s0"),
      (11L, s"$boiler alpha beta gamma", "s1"),
      (12L, s"$boiler alpha beta gamma", "s2"))
      .toDF("doc_id", "text", "source")
    // with minDocs=3: every shingle of these identical docs is in 3 docs
    // → all three scrub to nothing → dropped by the length floor
    val allBoiler = graft.dedup.Dedup.curateCorpus(
      cur, minQuality = 0.01, langs = Seq("en", "und"), minTokens = 3, minDocs = 3)
    assert(allBoiler.collect().isEmpty)
    // distinct tails below the dup threshold survive the scrub and then
    // exact-dedup: 20/21 share a cleaned text → min id 20 kept; 22 unique
    val mixed = Seq(
      (20L, s"$boiler one two three four five six seven", "s0"),
      (21L, s"$boiler one two three four five six seven", "s1"),
      (22L, s"$boiler something else entirely here now ok", "s2"))
      .toDF("doc_id", "text", "source")
    val r = graft.dedup.Dedup.curateCorpus(
      mixed, minQuality = 0.01, langs = Seq("en", "und"), minTokens = 3, minDocs = 3)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(r == Set(20L, 22L)) // 21 deduped against 20's identical cleaned text
  }

  test("near-dedup keep: transitive cluster keeps one representative") {
    val keep = Dedup.nearDedupKeepFrom(Dedup.dedupClusters(docs)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_size")).toMap
    // 0-1 exact dups and 2 near-dup chain into one cluster, rep = 0
    assert(keep(0L) == 3L)
    assert(!keep.contains(1L) && !keep.contains(2L))
    assert(keep(3L) == 1L) // singleton keeps itself
    assert(keep(4L) == 1L) // shingle-less doc is its own cluster
  }

  test("source overlap: near-dup pairs counted per unordered source pair") {
    // docs 0,1,2 (s0,s1,s2) form one near-dup cluster → 3 cross pairs;
    // singletons contribute nothing
    val r = Dedup.sourceOverlapFrom(Dedup.dedupClusters(docs), docs).collect()
      .map(x => (x.getAs[String]("source_x"), x.getAs[String]("source_y")) ->
        x.getAs[Long]("n_pairs")).toMap
    assert(r == Map(("s0", "s1") -> 1L, ("s0", "s2") -> 1L, ("s1", "s2") -> 1L))
  }

  test("source overlap: count combinatorics equal the naive pair join on random corpora") {
    // the production path never materializes doc pairs; this pits it
    // against a literal pair-join reference on seeded random corpora
    // (shared phrase pools force multi-source, multi-member clusters,
    // including within-source duplicates exercising n*(n-1)/2)
    import org.apache.spark.sql.functions.{col, least, greatest, count, lit}
    for (seed <- Seq(7, 21, 99)) {
      val rnd = new scala.util.Random(seed)
      val phrases = Vector.tabulate(6)(i => s"shared phrase pool number $i with plenty of overlapping tokens")
      val corpus = (0 until 60).map { i =>
        val base = phrases(rnd.nextInt(phrases.length))
        val tail = if (rnd.nextBoolean()) "" else s" variant ${rnd.nextInt(3)}"
        (i.toLong, s"$base$tail", s"s${rnd.nextInt(4)}")
      }.toDF("doc_id", "text", "source")
      val labels = Dedup.dedupClusters(corpus)
      val fast = Dedup.sourceOverlapFrom(labels, corpus).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n_pairs")).toMap
      val lab = labels
        .filter(col("cluster_size") > 1)
        .join(corpus.select("doc_id", "source"), Seq("doc_id"))
      val naive = lab.select(col("cluster_id"), col("doc_id").as("a"), col("source").as("sa"))
        .join(lab.select(col("cluster_id"), col("doc_id").as("b"), col("source").as("sb")),
          Seq("cluster_id"))
        .filter(col("a") < col("b"))
        .groupBy(least(col("sa"), col("sb")).as("x"), greatest(col("sa"), col("sb")).as("y"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n")).toMap
      assert(fast == naive, s"seed=$seed: combinatorics ${fast} != pair join ${naive}")
    }
  }

  test("bloom incremental dedup: no false negatives, bounded false positives") {
    // corpus = 300 docs; batch = 150 overlapping + 150 genuinely new
    val corpus = (0 until 300)
      .map(i => (i.toLong, s"corpus document number $i with shared words", "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dupBatch = (0 until 150)
      .map(i => (1000L + i, s"corpus document number $i with shared words", "en", "s", 10L))
    val newBatch = (0 until 150)
      .map(i => (2000L + i, s"novel batch content item $i never seen", "en", "s", 10L))
    val batch = (dupBatch ++ newBatch)
      .toDF("doc_id", "text", "lang", "source", "n_chars")

    val rows = Dedup.bloomNewDocs(corpus, batch, expectedItems = 1000L, fpp = 0.01)
      .select("doc_id", "is_new_bloom", "is_new_exact")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Boolean]("is_new_bloom"), r.getAs[Boolean]("is_new_exact")))
    assert(rows.length == 300, "verdict must cover every batch row")
    // exact verdict is ground truth: new iff doc_id >= 2000
    assert(rows.forall { case (id, _, ex) => ex == (id >= 2000L) })
    // safety direction is absolute: bloom-new implies truly-new
    // (equivalently: every true duplicate is bloom-seen)
    assert(rows.forall { case (_, bl, ex) => !bl || ex },
      "bloom claimed novelty for a doc that exists in the corpus")
    // false positives (truly new but bloom-seen) stay a small fraction
    val fp = rows.count { case (_, bl, ex) => ex && !bl }
    assert(fp <= 10, s"$fp of 150 new docs lost to bloom false positives (fpp=0.01)")
  }

  test("bloom against an EMPTY corpus marks every batch doc new") {
    val corpus = Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val batch = Seq((1L, "anything", "en", "s", 8L), (2L, "else", "en", "s", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.bloomNewDocs(corpus, batch).collect()
    assert(out.length == 2, "empty corpus must not drop batch rows")
    assert(out.forall(r => r.getAs[Boolean]("is_new_bloom") &&
      r.getAs[Boolean]("is_new_exact")))
  }

  test("bloom result is independent of partition layout") {
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val batch = docs.filter(col("doc_id") % 3 === 0)
    val a = Dedup.bloomNewDocs(corpus.repartition(1), batch.repartition(1))
      .collect().map(_.toSeq).toSeq
    val b = Dedup.bloomNewDocs(corpus.repartition(7), batch.repartition(3))
      .collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  /** sf0.001 documents scored by the committed quality model. */
  private def pinnedScores(): org.apache.spark.sql.DataFrame = {
    import graft.ml.QualityFixture
    val d = TestdataAdapter.table(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
    QualityClassifier.scorePinned(d, QualityFixture.labelThreshold,
      QualityFixture.interceptE9, QualityFixture.weightsE9)
  }

  test("quality classifier learns the heuristic signal (AUC band) on testdata") {
    import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
    val bucket = graft.ml.HashSplit.hashBucket(col("doc_id"), 100)
    val s = pinnedScores().withColumn("label", col("label").cast("double")).persist()
    try {
      // the committed model trained on the bucket < 80 half only
      val (train, test) = (s.filter(bucket < 80), s.filter(bucket >= 80))
      assert(train.count() + test.count() == 500L)
      val auc = new BinaryClassificationEvaluator()
        .setLabelCol("label").setRawPredictionCol("p_quality")
        .setMetricName("areaUnderROC").evaluate(test)
      val pos = train.agg(avg("label")).head.getDouble(0)
      // weak labels come from token-level heuristics; hashed BoW + LR must
      // recover most of that signal on held-out docs
      assert(auc > 0.7, s"held-out AUC $auc too low")
      assert(pos > 0.3 && pos < 0.7, s"weak-label classes unbalanced: $pos")
    } finally s.unpersist(blocking = false)
  }

  test("threshold sweep: recall falls as threshold rises; counts reconcile") {
    import graft.ml.QualityFixture
    val d = TestdataAdapter.table(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
    val r = QualityClassifier.thresholdSweepPinned(d, QualityFixture.labelThreshold,
      QualityFixture.interceptE9, QualityFixture.weightsE9,
      thresholds = Seq(0.2, 0.5, 0.8)).collect()
    assert(r.length == 3)
    val recalls = r.map(_.getAs[Double]("recall"))
    assert(recalls.sameElements(recalls.sorted.reverse), "recall must be non-increasing")
    for (row <- r) {
      val (tp, fn) = (row.getAs[Long]("tp"), row.getAs[Long]("fn"))
      assert(tp + fn > 0 && tp + fn == r.head.getAs[Long]("tp") + r.head.getAs[Long]("fn"),
        "tp+fn is the positive-class size at every threshold")
      val p = row.getAs[Double]("precision")
      assert(p >= 0.0 && p <= 1.0)
    }
  }

  test("pinned quality model: serving scores recover the frozen weak label") {
    import graft.ml.QualityFixture
    val d = TestdataAdapter.table(spark, "/root/testdata/sf0.01", "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
    val s = QualityClassifier.scorePinned(d, QualityFixture.labelThreshold,
      QualityFixture.interceptE9, QualityFixture.weightsE9).collect()
    assert(s.length == 500)
    val acc = s.count(r => r.getAs[Long]("label") ==
      r.getAs[Int]("predicted_label").toLong).toDouble / s.length
    assert(acc > 0.9, s"pinned serving accuracy $acc on the fixture corpus")
    assert(s.forall { r =>
      val p = r.getAs[Double]("p_quality"); p >= 0.0 && p <= 1.0
    })
  }

  test("pinned threshold sweep: counts reconcile and recall is non-increasing") {
    import graft.ml.QualityFixture
    val d = TestdataAdapter.table(spark, "/root/testdata/sf0.01", "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
    val r = QualityClassifier.thresholdSweepPinned(d, QualityFixture.labelThreshold,
      QualityFixture.interceptE9, QualityFixture.weightsE9).collect()
    assert(r.length == 9)
    val recalls = r.map(_.getAs[Double]("recall"))
    assert(recalls.sameElements(recalls.sorted.reverse))
    val posSize = r.head.getAs[Long]("tp") + r.head.getAs[Long]("fn")
    assert(r.forall(row =>
      row.getAs[Long]("tp") + row.getAs[Long]("fn") == posSize) && posSize > 0)
  }

  test("quality scores cover the corpus and stay in [0,1]") {
    val s = pinnedScores()
    assert(s.count() == 500L)
    assert(s.filter(col("p_quality") < 0 || col("p_quality") > 1).isEmpty)
  }

  test("quality rule flags: each Gopher rule trips on exactly its violator") {
    import graft.text.TextOps
    val d = Seq(
      // passes every rule: 5 words in [3,8], mean len 15/5 = 3.0
      // (inclusive bound), stopwords {the, and}, all alphabetic
      (0L, "the cat and dog sat", "en", "s0", 19L),
      // word count 2 < 3; every other rule passes (mean 6/2=3.0,
      // stopwords {the, and}, alphabetic)
      (1L, "the and", "en", "s1", 7L),
      (2L, "the xx a yy zz qq", "en", "s2", 17L),        // mean len 12/6 = 2.0 < 3
      (3L, "cat dog fox run fast", "en", "s3", 20L),     // 0 stopwords; mean 16/5 = 3.2
      // alpha 3/5 = 0.6 < 0.8; mean 18/5 = 3.6, stopwords {the, and}
      (4L, "the and 1111 2222 word", "en", "s4", 22L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextOps.qualityRuleFlags(d, minWords = 3, maxWords = 8).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    def flags(id: Long) = (
      r(id).getAs[Boolean]("word_count_ok"), r(id).getAs[Boolean]("mean_len_ok"),
      r(id).getAs[Boolean]("stopwords_ok"), r(id).getAs[Boolean]("alpha_ok"))
    assert(flags(0L) == ((true, true, true, true)) && r(0L).getAs[Boolean]("keep"))
    assert(flags(1L) == ((false, true, true, true)))
    assert(flags(2L) == ((true, false, true, true)))
    assert(flags(3L) == ((true, true, false, true)))
    assert(flags(4L) == ((true, true, true, false)))
    assert(math.abs(r(0L).getAs[Double]("mean_word_len") - 3.0) < 1e-12)
    assert((1L to 4L).forall(id => r(id).getAs[Int]("n_failed") == 1 &&
      !r(id).getAs[Boolean]("keep")))
  }

  test("quality rule report: per-source failure counts roll up the flags") {
    import graft.text.TextOps
    val d = Seq(
      (0L, "the cat and dog sat", "en", "s0", 19L),  // keeps
      (1L, "the and", "en", "s0", 7L),               // word-count fail only
      (2L, "cat dog fox run fast", "en", "s1", 20L)) // stopword fail only
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextOps.qualityRuleReport(d, minWords = 3, maxWords = 8).collect()
      .map(x => x.getAs[String]("source") -> x).toMap
    assert(r("s0").getAs[Long]("n_docs") == 2L)
    assert(r("s0").getAs[Long]("n_word_count_fail") == 1L)
    assert(r("s0").getAs[Long]("n_kept") == 1L)
    assert(r("s1").getAs[Long]("n_stopword_fail") == 1L)
    assert(r("s1").getAs[Long]("n_kept") == 0L)
  }

  test("governed cap: per-source quota respected, greedy-maximal, dups buy no budget") {
    // two sources; s0 carries an exact near-dup pair (docs 10/11) whose
    // loser must neither be kept nor count toward s0's clean volume
    val d = Seq(
      (10L, "alpha beta gamma delta epsilon zeta", "en", "s0", 35L),
      (11L, "alpha beta gamma delta epsilon zeta", "en", "s0", 35L),
      (12L, "one two three four five six seven eight", "en", "s0", 39L),
      (13L, "nine ten eleven twelve thirteen", "en", "s0", 31L),
      (20L, "red orange yellow green blue indigo violet", "en", "s1", 42L),
      (21L, "spring summer autumn winter solstice equinox", "en", "s1", 44L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val labels = Dedup.dedupClusters(d)
    // budget 20 of the 32 clean tokens → quotas floor-split by share
    val r = Dedup.governedCap(d, labels, budgetTokens = 20L).collect()
    val bySrc = r.groupBy(_.getAs[String]("source"))
    // the near-dup loser (higher id, equal quality) is never kept
    assert(!r.exists(_.getAs[Long]("doc_id") == 11L))
    for ((_, rows) <- bySrc) {
      val quota = rows.head.getAs[Long]("quota_toks")
      assert(rows.forall(_.getAs[Long]("quota_toks") == quota))
      val spent = rows.map(_.getAs[Long]("n_toks")).sum
      assert(spent <= quota, s"quota exceeded: $spent > $quota")
      assert(rows.map(_.getAs[Long]("cum_toks")).max == spent)
    }
    // greedy-maximal: re-running with a budget of total clean volume
    // keeps EVERY representative
    val all = Dedup.governedCap(d, labels, budgetTokens = 1000L).collect()
    assert(all.length == 5 && !all.exists(_.getAs[Long]("doc_id") == 11L))
  }
}
