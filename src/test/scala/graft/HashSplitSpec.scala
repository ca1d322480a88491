package graft

import org.apache.spark.sql.functions._
import graft.ml.HashSplit

class HashSplitSpec extends SparkSpec {
  import spark.implicits._

  private def ids(n: Int) = (0L until n.toLong).toDF("doc_id")
    .withColumn("lang", when(col("doc_id") % 3 === 0, "en").otherwise("de"))
    .withColumn("source", lit("s"))
    .withColumn("n_chars", lit(1L))

  test("split fractions land near 80/10/10 and partition the keys") {
    val a = HashSplit.splitAssign(ids(5000)).cache()
    val counts = a.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(a.count() == 5000)                        // total preserved: a partition
    assert(math.abs(counts("train") - 4000L) < 200)  // ±5% of expected
    assert(math.abs(counts("val") - 500L) < 100)
    assert(math.abs(counts("test") - 500L) < 100)
    a.unpersist()
  }

  test("assignment is stable under repartitioning and re-evaluation") {
    val base = ids(1000)
    val once = HashSplit.splitAssign(base).collect().toSeq
    val again = HashSplit.splitAssign(base.repartition(17)).collect().toSeq
    assert(once == again)
  }

  test("appending rows never moves an existing row's split") {
    val before = HashSplit.splitAssign(ids(500)).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val after = HashSplit.splitAssign(ids(800)).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(before.forall { case (k, v) => after(k) == v })
  }

  test("stratified sample rate holds per stratum and is monotone in pct") {
    val d = ids(6000)
    val s30 = HashSplit.stratifiedSample(d, 30)
    val s50 = HashSplit.stratifiedSample(d, 50)
    val perLang = s30.groupBy("lang").count().as[(String, Long)].collect().toMap
    val totals = d.groupBy("lang").count().as[(String, Long)].collect().toMap
    for ((lang, total) <- totals) {
      val rate = perLang(lang).toDouble / total
      assert(math.abs(rate - 0.30) < 0.05, s"$lang rate $rate")
    }
    // monotone: everything kept at 30% is kept at 50%
    val kept30 = s30.select("doc_id").as[Long].collect().toSet
    val kept50 = s50.select("doc_id").as[Long].collect().toSet
    assert(kept30.subsetOf(kept50))
  }

  test("weighted sample: inclusion tracks weight, is deterministic and append-stable") {
    // 2000 light docs (w=10) vs 2000 heavy docs (w=1000): A-ES keys
    // ln(u)/w concentrate the top-k overwhelmingly on the heavy class
    val docs = (0L until 4000L).toDF("doc_id")
      .withColumn("source", when(col("doc_id") % 2 === 0, "light").otherwise("heavy"))
      .withColumn("n_chars", when(col("doc_id") % 2 === 0, 10L).otherwise(1000L))
      .withColumn("lang", lit("en"))
    val sample = HashSplit.weightedSample(docs, k = 200).collect()
    assert(sample.length == 200)
    val heavy = sample.count(_.getAs[String]("source") == "heavy")
    assert(heavy >= 180, s"only $heavy/200 heavy-weight docs sampled — weights ignored?")
    // deterministic: identical rerun on a different layout
    val again = HashSplit.weightedSample(docs.repartition(7), k = 200).collect()
    assert(sample.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // append-stable: new rows can displace but never reshuffle — the
    // surviving originals keep their relative order (keys are pure
    // per-row functions; top-k membership is the only thing that moves)
    val appended = docs.unionByName(
      (4000L until 4400L).toDF("doc_id")
        .withColumn("source", lit("new")).withColumn("n_chars", lit(1000L))
        .withColumn("lang", lit("en")))
    val after = HashSplit.weightedSample(appended, k = 200).collect()
      .map(_.getAs[Long]("doc_id")).filter(_ < 4000L)
    val before = sample.map(_.getAs[Long]("doc_id"))
    assert(after.toSeq == before.filter(after.toSet).toSeq)
  }

  test("corpus shuffle is a complete deterministic permutation; a new seed reorders") {
    val d = ids(200)
    val r1 = HashSplit.corpusShuffle(d).select("doc_id", "shuffle_pos")
      .as[(Long, Long)].collect().toSeq
    // dense 0..n-1 positions, every doc exactly once
    assert(r1.map(_._2).sorted == (0L until 200L))
    assert(r1.map(_._1).sorted == (0L until 200L))
    // reruns are byte-stable; hash order is not ingestion order
    val r2 = HashSplit.corpusShuffle(d).select("doc_id", "shuffle_pos")
      .as[(Long, Long)].collect().toSeq
    assert(r1 == r2)
    assert(r1.map(_._1) != (0L until 200L).toSeq)
    // a different seed is a different permutation
    val r3 = HashSplit.corpusShuffle(d, seed = 7).select("doc_id", "shuffle_pos")
      .as[(Long, Long)].collect().toSeq
    assert(r3.map(_._1) != r1.map(_._1))
  }

  test("splitAssign plan is shuffle-free apart from the presentation sort") {
    val plan = HashSplit.splitAssign(ids(100)).queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"expected at most the final-sort exchange:\n$plan")
  }

  test("cluster split has structurally ZERO cross-split near-dup leakage; doc split does not prove it") {
    import graft.dedup.Dedup
    val docs = TestdataAdapter.table(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
    val assign = Dedup.clusterSplitAssignFrom(Dedup.dedupClusters(docs))
      .select("doc_id", "split").persist()
    // every LSH candidate pair — the exact frame splitLeakage audits —
    // must land with both sides in the SAME split
    val pairs = Dedup.minhashPairs(docs)
    val leaks = pairs
      .join(assign.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("split", "split_a"), Seq("doc_a"))
      .join(assign.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("split", "split_b"), Seq("doc_b"))
      .filter(col("split_a") =!= col("split_b"))
      .count()
    assert(leaks == 0L, s"cluster split leaked $leaks near-dup pairs across splits")
    // the assignment is a partition of the corpus with sane fractions
    val counts = assign.groupBy("split").count().as[(String, Long)].collect().toMap
    val total = counts.values.sum
    assert(total == docs.count())
    assert(counts("train") > total * 6 / 10, s"train fraction collapsed: $counts")
    assign.unpersist()
  }

  test("cluster best-keep keeps exactly one member per cluster, the quality argmax") {
    import graft.dedup.Dedup
    val docs = TestdataAdapter.table(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
    val kept = Dedup.clusterBestKeepFrom(Dedup.dedupClusters(docs), docs).persist()
    val perCluster = kept.groupBy("cluster_id")
      .agg(sum(when(col("keep"), 1).otherwise(0)).as("n_keep"),
        max(when(col("keep"), col("quality_score"))).as("kept_q"),
        max(col("quality_score")).as("max_q"))
    assert(perCluster.filter(col("n_keep") =!= 1).count() == 0L,
      "every cluster must keep exactly one member")
    assert(perCluster.filter(col("kept_q") =!= col("max_q")).count() == 0L,
      "the kept member must carry the cluster-max quality score")
    kept.unpersist()
  }
}
