package graft.ml

import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Learned document-quality model — the fastText-style linear classifier
  * a curation pipeline trains to replace hand-tuned heuristics once it
  * has labels: hashed bag-of-words features (md5 feature hashing into
  * 2^12 buckets, the hashing trick — vocabulary-free, so the feature
  * space is fixed however large the corpus) into a logistic regression.
  *
  * Labels here are weak labels bootstrapped from the heuristic
  * [[TextOps.qualityScore]] (top-half of the corpus by the exact median
  * = positive), which is exactly how such classifiers start in practice:
  * heuristic seed labels, then human/LLM labels later. The training half
  * reuses [[HashSplit.splitAssign]]'s bucket arithmetic — the
  * deterministic, append-stable, shuffle-free assignment (train < 80).
  *
  * Scale shape: featurization is a narrow per-row map; LBFGS does
  * `treeAggregate` passes over the (persisted) training frame — the
  * same all-reduce pattern as the RF model, linear in corpus size with
  * no shuffles beyond the fixed-count layout pin. The layout pin
  * (fixed-count hash repartition + in-partition sort, as in
  * [[DemandModel]]) makes gradient-sum float addition order — and so
  * the coefficients and every per-doc score — a pure function of the
  * data, byte-identical across cluster sizes.
  */
object QualityClassifier {

  private val NumFeatures = 1 << 12
  private val TrainPartitions = 8

  private def pinLayout(df: DataFrame): DataFrame =
    df.repartition(TrainPartitions, col("doc_id"))
      .sortWithinPartitions("doc_id")

  /** Precision/recall/F1 of the learned filter at a threshold grid —
    * how an operating point for `p_quality ≥ τ` gets picked before the
    * filter ships. All thresholds are evaluated in ONE aggregation pass
    * over the scored (label, p_quality) frame (3 conditional counters per
    * threshold in the same agg), then unpivoted.
    */
  private def sweepFrom(scored: DataFrame, thresholds: Seq[Double]): DataFrame = {
    val aggs = thresholds.zipWithIndex.flatMap { case (t, i) =>
      Seq(
        count(when(col("p_quality") >= t && col("label") === 1.0, 1))
          .cast("long").as(s"tp$i"),
        count(when(col("p_quality") >= t && col("label") === 0.0, 1))
          .cast("long").as(s"fp$i"),
        count(when(col("p_quality") < t && col("label") === 1.0, 1))
          .cast("long").as(s"fn$i"))
    }
    val one = scored.agg(aggs.head, aggs.tail: _*)
    val rows = thresholds.zipWithIndex.map { case (t, i) =>
      val (tp, fp, fn) = (col(s"tp$i"), col(s"fp$i"), col(s"fn$i"))
      val prec = when(tp + fp === 0, 0.0).otherwise(tp.cast("double") / (tp + fp))
      val rec = when(tp + fn === 0, 0.0).otherwise(tp.cast("double") / (tp + fn))
      struct(lit(t).as("threshold"), tp.as("tp"), fp.as("fp"), fn.as("fn"),
        prec.as("precision"), rec.as("recall"),
        when(prec + rec === 0, 0.0)
          .otherwise(lit(2.0) * prec * rec / (prec + rec)).as("f1"))
    }
    one.select(explode(array(rows: _*)).as("r")).select("r.*")
      .orderBy("threshold")
  }

  // ---- pinned-model serving (oracle-exact operating point) ----------
  //
  // MLlib's own Tokenizer + HashingTF (murmur3) is not reproducible
  // outside the JVM, so its scores could never be oracle-checked. The
  // model instead uses the engine's md5 feature hashing
  // (HashSplit.hashBucket over TextOps.toks — the same cross-engine-safe
  // primitives every other oracle uses), trains ONCE at fixture time,
  // and commits the model as 1e9-quantized integer weights: serving is
  // then an exact integer dot product + one sigmoid, reproducible
  // bit-for-bit in DuckDB. This is the production shape anyway — a
  // curation filter ships a frozen model artifact; it does not retrain
  // per corpus batch.

  /** md5-hashed bag-of-words counts per (doc_id, bucket) — the shared
    * featurizer of the pinned trainer and the pinned scorer.
    */
  private def md5Counts(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), explode(TextOps.toks(col("text"))).as("tok"))
      .withColumn("bucket", HashSplit.hashBucket(col("tok"), NumFeatures).cast("int"))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("cnt"))

  /** Fixture-time trainer: exact corpus median of the heuristic score
    * (the frozen weak-label threshold), then LR on md5-BoW features over
    * the hash-split train half. Returns (labelThreshold, interceptE9,
    * weightsE9) with weights 1e9-quantized so the serving dot product is
    * order-free integer arithmetic. Deterministic: the feature frame is
    * layout-pinned (LBFGS gradient sums are then a pure function of the
    * data) and the label threshold is an exact sort-based percentile.
    */
  def trainPinnedQuality(documents: DataFrame): (Double, Long, Array[Long]) = {
    import org.apache.spark.ml.functions.array_to_vector
    val scored = documents.select(col("doc_id"), col("text"),
      TextOps.qualityScore(col("text")).as("qs"))
    val thr = scored.agg(expr("percentile(qs, 0.5)").as("m")).head.getDouble(0)
    val feats = md5Counts(documents)
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("bucket"),
        col("cnt").cast("double")))).as("m"))
      .withColumn("arr", expr(
        s"transform(sequence(0, ${NumFeatures - 1}), i -> coalesce(element_at(m, i), CAST(0.0 AS DOUBLE)))"))
      .select(col("doc_id"), array_to_vector(col("arr")).as("features"))
    val train = pinLayout(
      scored.join(feats, Seq("doc_id"))
        .withColumn("label", when(col("qs") >= thr, 1.0).otherwise(0.0))
        .filter(HashSplit.hashBucket(col("doc_id"), 100) < 80))
      .persist()
    try {
      val lr = new LogisticRegression()
        .setLabelCol("label").setFeaturesCol("features")
        .setMaxIter(30).setRegParam(0.01)
        .fit(train)
      val wE9 = lr.coefficients.toArray.map(w => math.round(w * 1e9))
      (thr, math.round(lr.intercept * 1e9), wE9)
    } finally train.unpersist(blocking = false)
  }

  /** Per-document quality probability under the COMMITTED model
    * ([[QualityFixture]]): z = (intercept_e9 + Σ count_b·w_e9[b]) / 1e9
    * — an exact BIGINT dot product (order-free, layout-free), one
    * sigmoid behind round(·,9), and the frozen weak-label threshold for
    * the audit label. Narrow + one doc-keyed aggregation; the weights
    * ride the plan as a 4096-element literal array.
    */
  def scorePinned(
      documents: DataFrame, labelThreshold: Double, interceptE9: Long,
      weightsE9: Array[Long]): DataFrame = {
    val wl = typedLit(weightsE9)
    val dots = md5Counts(documents)
      .select(col("doc_id"),
        (col("cnt") * element_at(wl, col("bucket") + 1)).as("contrib"))
      .groupBy("doc_id").agg(sum("contrib").as("dot"))
    val z = (col("dot") + lit(interceptE9)).cast("double") / lit(1e9)
    val p = round(lit(1.0) / (lit(1.0) + exp(-z)), 9)
    documents
      .select(col("doc_id"),
        when(TextOps.qualityScore(col("text")) >= lit(labelThreshold), 1L)
          .otherwise(0L).as("label"))
      .join(dots, Seq("doc_id"))
      .select(col("doc_id"), col("label"), p.as("p_quality"),
        (p >= lit(0.5)).cast("int").as("predicted_label"))
      .orderBy("doc_id")
  }

  /** Shared DuckDB CTE bodies for the pinned scorer: `sc` (doc_id, p)
    * and `lab` (doc_id, label).
    */
  private def pinnedSqlCtes(
      labelThreshold: Double, interceptE9: Long, weightsE9: Array[Long]): String = {
    val bucket = HashSplit.hashBucketSql("tok", NumFeatures)
    val thrLit = s"CAST('$labelThreshold' AS DOUBLE)"
    raw"""w AS (SELECT [${weightsE9.mkString(", ")}] AS wl),
       |tok AS (SELECT doc_id, unnest(${TextOps.toksSql()}) AS tok
       |        FROM documents),
       |cnts AS (SELECT doc_id, $bucket AS bucket, COUNT(*) AS cnt
       |         FROM tok GROUP BY 1, 2),
       |dots AS (SELECT doc_id, SUM(cnt * wl[bucket + 1]) AS dot
       |         FROM cnts CROSS JOIN w GROUP BY 1),
       |sc AS (SELECT doc_id,
       |         round(CAST(1 AS DOUBLE) /
       |           (CAST(1 AS DOUBLE) + exp(-(CAST(dot + $interceptE9 AS DOUBLE) / 1e9))), 9) AS p
       |       FROM dots),
       |lab AS (SELECT doc_id,
       |          CASE WHEN ${TextOps.qualityScoreSqlExpr.replace("\n", " ")} >= $thrLit
       |               THEN 1 ELSE 0 END AS label
       |        FROM documents)""".stripMargin
  }

  def scorePinnedSql(
      labelThreshold: Double, interceptE9: Long, weightsE9: Array[Long]): String =
    s"""WITH ${pinnedSqlCtes(labelThreshold, interceptE9, weightsE9)}
       |SELECT l.doc_id, CAST(l.label AS BIGINT) AS label, s.p AS p_quality,
       |  CAST(s.p >= 0.5 AS INTEGER) AS predicted_label
       |FROM lab l JOIN sc s USING (doc_id)
       |ORDER BY l.doc_id""".stripMargin

  /** [[sweepFrom]] under the committed model — the sweep a pipeline
    * actually runs to pick `p_quality ≥ τ` for a FROZEN artifact before
    * it ships. Same one-pass conditional-counter shape; oracle-exact
    * because the pinned scores are.
    */
  def thresholdSweepPinned(
      documents: DataFrame, labelThreshold: Double, interceptE9: Long,
      weightsE9: Array[Long],
      thresholds: Seq[Double] = (1 to 9).map(_ / 10.0)): DataFrame =
    sweepFrom(
      scorePinned(documents, labelThreshold, interceptE9, weightsE9),
      thresholds)

  def thresholdSweepPinnedSql(
      labelThreshold: Double, interceptE9: Long, weightsE9: Array[Long],
      thresholds: Seq[Double] = (1 to 9).map(_ / 10.0)): String = {
    val grid = thresholds.map(t => s"CAST('$t' AS DOUBLE)").mkString(", ")
    s"""WITH ${pinnedSqlCtes(labelThreshold, interceptE9, weightsE9)},
       |th AS (SELECT unnest([$grid]) AS threshold),
       |j AS (SELECT t.threshold, s.p, l.label
       |      FROM sc s JOIN lab l USING (doc_id) CROSS JOIN th t),
       |c AS (SELECT threshold,
       |        CAST(SUM(CASE WHEN p >= threshold AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |        CAST(SUM(CASE WHEN p >= threshold AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |        CAST(SUM(CASE WHEN p < threshold AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
       |      FROM j GROUP BY 1)
       |SELECT threshold, tp, fp, fn,
       |  CASE WHEN tp + fp = 0 THEN CAST(0 AS DOUBLE)
       |       ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS precision,
       |  CASE WHEN tp + fn = 0 THEN CAST(0 AS DOUBLE)
       |       ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS recall,
       |  CASE WHEN (CASE WHEN tp + fp = 0 THEN CAST(0 AS DOUBLE) ELSE CAST(tp AS DOUBLE) / (tp + fp) END)
       |          + (CASE WHEN tp + fn = 0 THEN CAST(0 AS DOUBLE) ELSE CAST(tp AS DOUBLE) / (tp + fn) END) = 0
       |       THEN CAST(0 AS DOUBLE)
       |       ELSE CAST(2 AS DOUBLE)
       |            * (CASE WHEN tp + fp = 0 THEN CAST(0 AS DOUBLE) ELSE CAST(tp AS DOUBLE) / (tp + fp) END)
       |            * (CASE WHEN tp + fn = 0 THEN CAST(0 AS DOUBLE) ELSE CAST(tp AS DOUBLE) / (tp + fn) END)
       |            / ((CASE WHEN tp + fp = 0 THEN CAST(0 AS DOUBLE) ELSE CAST(tp AS DOUBLE) / (tp + fp) END)
       |             + (CASE WHEN tp + fn = 0 THEN CAST(0 AS DOUBLE) ELSE CAST(tp AS DOUBLE) / (tp + fn) END))
       |  END AS f1
       |FROM c
       |ORDER BY threshold""".stripMargin
  }
}
