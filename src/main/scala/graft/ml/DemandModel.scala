package graft.ml

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.regression.RandomForestRegressor
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Next-hour demand model (SURVEY.md §2.12): the reference's sklearn
  * RandomForest re-expressed with spark.ml — same 9 features, same
  * next-hour lead label (W3/A12), same temporal 80/20 split, seed 42.
  * The reference retrains on every run; here one trainer
  * ([[trainPinnedForest]]) fits the forest at fixture time and the
  * refresh serves the committed trees ([[RfFixture]]) as SQL, so every
  * prediction, the MAE and the run record are oracle-exact.
  *
  * Ref: src/ml/train_predict.py:30-40,145-195.
  */
object DemandModel {

  val FeatureCols: Seq[String] = Seq(
    "trip_update_events", "avg_delay_seconds", "vehicle_events",
    "temperature_c", "precipitation_mm", "wind_speed_mps",
    "hour", "day_of_week", "is_peak")

  /** W3 — next-hour label per route; rows without a next hour drop
    * (pandas shift(-1) + dropna). Ref: train_predict.py:149-153.
    */
  def withLabel(mlDataset: DataFrame): DataFrame = {
    val w = Window.partitionBy("route_id").orderBy("hour_ts")
    mlDataset
      .withColumn("label", lead(col("passengers"), 1).over(w))
      .filter(col("label").isNotNull)
  }

  /** Temporal 80/20 split at an hour boundary. The cutoff hour comes from
    * the per-hour row histogram — one shuffle keyed on hour_ts producing
    * a time-bounded frame (even years of data is <100k distinct hours),
    * scanned on the driver; the split itself is then two pushdown-able
    * filters. No global single-partition sort, no full count, and the
    * result is partition-layout independent (exact integer counts, keyed
    * order). Semantics vs the reference's row-index slice: splitting at
    * the hour containing the 0.8 point means the train fraction lands
    * within one hour's row share of the target — and never splits a
    * single hour across train and test (the reference's slice can, which
    * leaks same-hour context across the temporal boundary).
    */
  def temporalSplit(labeled: DataFrame, trainFraction: Double = 0.8): (DataFrame, DataFrame) = {
    val hist = labeled.groupBy("hour_ts").agg(count(lit(1)).as("n"))
      .orderBy("hour_ts").collect()
    require(hist.nonEmpty, "temporalSplit: empty input")
    val target = trainFraction * hist.map(_.getAs[Long]("n")).sum
    var acc = 0L
    var cut = hist.head.get(0)
    for (r <- hist if acc < target) { acc += r.getAs[Long]("n"); cut = r.get(0) }
    (labeled.filter(col("hour_ts") <= lit(cut)),
      labeled.filter(col("hour_ts") > lit(cut)))
  }

  /** Partition-layout pin for RF inputs: MLlib's bootstrap sampling is
    * seeded per (seed, partitionId) over the rows in partition order, so
    * the model — and its MAE — is only reproducible if the training
    * frame's layout is. A fixed-count hash repartition on the (unique)
    * key plus an in-partition sort makes the layout a pure function of
    * the data, independent of cluster size or upstream lineage. 8 here
    * is a determinism constant, not a parallelism tunable — the training
    * frame is route×hour-sized (thousands of rows however big the raw
    * feed), and tree training schedules many small jobs per iteration,
    * so fewer/fatter partitions beat scheduler overhead; at a genuinely
    * large training set raise it (any fixed value keeps reproducibility).
    */
  private val TrainPartitions = 8
  private def pinLayout(df: DataFrame): DataFrame =
    df.repartition(TrainPartitions, col("route_id"), col("hour_ts"))
      .sortWithinPartitions("route_id", "hour_ts")

  // ---- pinned-forest serving (oracle-exact operating point) ---------
  //
  // A tree ensemble trained in-query has engine-specific VALUES, so it
  // could never be oracle-checked directly. The PINNED path trains a
  // compact serving forest ONCE at fixture time and commits the trees
  // themselves
  // (preorder (featureIndex, threshold, prediction) triples —
  // [[RfFixture]]): every split threshold and leaf value is then a
  // literal, so the whole predict-and-score pass is ONE shared SQL
  // expression evaluated identically by Spark (expr) and DuckDB — the
  // model artifact promoted to data, exactly like the PQ codebooks and
  // BPE merge table. This is also the production serving shape: models
  // ship frozen; scoring is pure arithmetic on the feature columns.

  /** Preorder-flattened regression trees: featureIndex = -1 marks a
    * leaf carrying its prediction; internal nodes send
    * `feature <= threshold` left (MLlib's continuous-split contract).
    */
  def trainPinnedForest(
      mlDataset: DataFrame, numTrees: Int = 20,
      seed: Long = 42L): Array[Array[(Int, Double, Double)]] = {
    val l = withLabel(mlDataset).persist()
    val (train0, _) = temporalSplit(l)
    val train = pinLayout(train0).persist()
    try {
      val pipeline = new Pipeline().setStages(Array(
        new VectorAssembler()
          .setInputCols(FeatureCols.toArray).setOutputCol("features"),
        new RandomForestRegressor()
          .setLabelCol("label").setFeaturesCol("features")
          .setNumTrees(numTrees).setSeed(seed)))
      val model = pipeline.fit(train).stages(1)
        .asInstanceOf[org.apache.spark.ml.regression.RandomForestRegressionModel]
      flattenForest(model)
    } finally {
      train.unpersist(blocking = false)
      l.unpersist(blocking = false)
    }
  }

  /** Preorder flatten of a fitted MLlib forest — shared by the fixture
    * trainer and the MLlib-vs-SQL equivalence spec.
    */
  private[graft] def flattenForest(
      model: org.apache.spark.ml.regression.RandomForestRegressionModel)
      : Array[Array[(Int, Double, Double)]] = {
    import org.apache.spark.ml.tree.{ContinuousSplit, InternalNode, LeafNode, Node}
    def flatten(n: Node): List[(Int, Double, Double)] = n match {
      case leaf: LeafNode => List((-1, 0.0, leaf.prediction))
      case in: InternalNode =>
        val s = in.split.asInstanceOf[ContinuousSplit]
        (s.featureIndex, s.threshold, 0.0) ::
          (flatten(in.leftChild) ++ flatten(in.rightChild))
    }
    model.trees.map(t => flatten(t.rootNode).toArray)
  }

  /** The committed forest as ONE SQL expression over the feature
    * columns — nested CASE per tree (preorder reconstruction), summed
    * in tree order and divided by the tree count. Every literal is
    * emitted as CAST('<Double.toString>' AS DOUBLE) (single strtod
    * rounding in both engines), and the text is shared verbatim by the
    * Spark side (expr) and the DuckDB twin, so left-assoc IEEE
    * evaluation order — and hence every prediction bit — is identical.
    */
  def forestSql(trees: Array[Array[(Int, Double, Double)]]): String = {
    def one(nodes: Array[(Int, Double, Double)], pos: Int): (String, Int) = {
      val (f, thr, pred) = nodes(pos)
      if (f < 0) (s"CAST('$pred' AS DOUBLE)", pos + 1)
      else {
        val (l, afterL) = one(nodes, pos + 1)
        val (r, afterR) = one(nodes, afterL)
        (s"(CASE WHEN ${FeatureCols(f)} <= CAST('$thr' AS DOUBLE) THEN $l ELSE $r END)",
          afterR)
      }
    }
    val ts = trees.map(t => one(t, 0)._1)
    s"((${ts.mkString(" + ")}) / CAST(${trees.length} AS DOUBLE))"
  }

  /** Shared prep for the pinned-forest serving surface: labeled rows with
    * the 80% temporal-cut hour broadcast alongside (`cut` column) — the
    * in-plan twin of [[temporalSplit]]'s histogram walk (hour histogram →
    * running total → first hour past 0.8·total, all on an hours-sized
    * frame, broadcast back as one row; cut comparison in DOUBLE on both
    * engines), kept fully declarative so [[pinnedMae]] /
    * [[pinnedPredictions]] stay oracle-expressible.
    */
  private def labeledWithCut(mlDataset: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val labeled = withLabel(mlDataset)
    val hist = labeled.groupBy("hour_ts").agg(count(lit(1)).as("n"))
    val cum = hist.withColumn("cum",
      sum("n").over(Window.orderBy("hour_ts")))
    val tot = hist.agg(sum("n").as("tot"))
    val cut = cum.crossJoin(broadcast(tot))
      .filter(col("cum").cast("double") >= col("tot").cast("double") * lit(0.8))
      .agg(min("hour_ts").as("cut"))
    labeled.crossJoin(broadcast(cut))
  }

  /** The pinned forest's per-row test-split predictions — the
    * demand_predictions row shape the reference's save_results persists
    * (route_id, hour_ts, y_true, y_pred; ml-job.py:216-266) at the
    * committed [[RfFixture]] forest, so the serving rows are exactly
    * reproducible (same CASE-expression forest both engines can run).
    */
  def pinnedPredictions(
      mlDataset: DataFrame, trees: Array[Array[(Int, Double, Double)]]): DataFrame =
    labeledWithCut(mlDataset)
      .filter(col("hour_ts") > col("cut"))
      .select(col("route_id"), col("hour_ts"),
        col("label").cast("double").as("y_true"),
        expr(forestSql(trees)).as("y_pred"))

  /** MAE of the COMMITTED forest over the temporal test split, ONE
    * plan, no collect ([[labeledWithCut]] supplies the split); per-row
    * errors go through round(·,6) before the exact decimal sum (the
    * documented cross-engine pattern for sums of arbitrary doubles).
    * Output shape matches `rf_demand_mae`.
    */
  def pinnedMae(
      mlDataset: DataFrame, trees: Array[Array[(Int, Double, Double)]]): DataFrame = {
    val pred = expr(forestSql(trees))
    val isTest = col("hour_ts") > col("cut")
    val err6 = round(abs(pred - col("label")), 6)
    labeledWithCut(mlDataset)
      .agg(
        sum(when(!isTest, 1L).otherwise(0L)).as("n_train"),
        sum(when(isTest, 1L).otherwise(0L)).as("n_test"),
        (sum(when(isTest, err6.cast("decimal(28,6)"))).cast("double") /
          sum(when(isTest, 1L).otherwise(0L))).as("mae"),
        max(lit(trees.length)).as("num_trees"))
      .select("n_train", "n_test", "mae", "num_trees")
  }

  /** DuckDB twin of [[pinnedMae]] given the ml_dataset SQL (a complete
    * SELECT, nested as a CTE) and the committed forest.
    */
  def pinnedMaeSql(
      mlDatasetSql: String, trees: Array[Array[(Int, Double, Double)]]): String = {
    val forest = forestSql(trees)
    s"""WITH ml AS ($mlDatasetSql),
       |lab AS (SELECT *,
       |          LEAD(passengers) OVER (PARTITION BY route_id ORDER BY hour_ts) AS label
       |        FROM ml),
       |l AS (SELECT * FROM lab WHERE label IS NOT NULL),
       |hist AS (SELECT hour_ts, COUNT(*) AS n FROM l GROUP BY 1),
       |cm AS (SELECT hour_ts, SUM(n) OVER (ORDER BY hour_ts) AS cum FROM hist),
       |tot AS (SELECT SUM(n) AS tot FROM hist),
       |ct AS (SELECT MIN(hour_ts) AS cut FROM cm CROSS JOIN tot
       |       WHERE CAST(cum AS DOUBLE) >= CAST(tot AS DOUBLE) * CAST('0.8' AS DOUBLE)),
       |j AS (SELECT l.*, ct.cut AS cut FROM l CROSS JOIN ct)
       |SELECT CAST(SUM(CASE WHEN hour_ts <= cut THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
       |  CAST(SUM(CASE WHEN hour_ts > cut THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
       |  CAST(SUM(CASE WHEN hour_ts > cut
       |                THEN CAST(round(abs($forest - label), 6) AS DECIMAL(28,6)) END) AS DOUBLE)
       |    / SUM(CASE WHEN hour_ts > cut THEN 1 ELSE 0 END) AS mae,
       |  CAST(${trees.length} AS INTEGER) AS num_trees
       |FROM j""".stripMargin
  }

  /** The reference's ml_runs lineage record at the PINNED forest —
    * oracle-exact down to the run_id: `UUID.nameUUIDFromBytes` is a
    * version-3 (md5-based) UUID, so both engines rebuild it from
    * md5(name) by hex surgery — digit 13 forced to '3' (version) and
    * digit 17 to (v AND 3) OR 8 (variant), the exact bit ops the JDK
    * applies to md5 bytes 6 and 8. The name string carries the split
    * sizes, so the id is computed IN-PLAN from the aggregated row.
    * The reference uses uuid4; a content-derived id is the idempotency
    * key its ON CONFLICT (run_id) DO NOTHING insert actually wants.
    * Ref: src/ml/train_predict.py:84-95,173-195.
    */
  def pinnedRunRecord(
      mlDataset: DataFrame, trees: Array[Array[(Int, Double, Double)]],
      seed: Long = 42L): DataFrame = {
    import graft.text.TextOps.hexVal
    val featuresJson = FeatureCols.mkString("[\"", "\",\"", "\"]")
    val name = concat_ws("|", lit("rf_demand"), lit("1"),
      lit(trees.length.toString), lit(seed.toString),
      col("n_train").cast("string"), col("n_test").cast("string"),
      lit(featuresJson))
    val h = md5(name)
    val vdigit = substring(lit("89ab"),
      (hexVal(substring(h, 17, 1)).cast("int") % 4) + lit(1), lit(1))
    val runId = concat(
      substring(h, 1, 8), lit("-"), substring(h, 9, 4), lit("-3"),
      substring(h, 14, 3), lit("-"), vdigit, substring(h, 18, 3),
      lit("-"), substring(h, 21, 12))
    pinnedMae(mlDataset, trees)
      .select(runId.as("run_id"), lit("rf_demand").as("model_name"),
        lit("1").as("model_version"),
        (col("n_train") + col("n_test")).as("rows_used"),
        lit(0.8).as("split_ratio"), col("mae"),
        lit(featuresJson).as("features"), col("num_trees"))
  }

  def pinnedRunRecordSql(
      mlDatasetSql: String, trees: Array[Array[(Int, Double, Double)]],
      seed: Long = 42L): String = {
    import graft.text.TextOps.hexValSql
    val featuresJson = FeatureCols.mkString("[\"", "\",\"", "\"]")
    val name = s"concat('rf_demand|1|${trees.length}|$seed|', " +
      "CAST(n_train AS VARCHAR), '|', CAST(n_test AS VARCHAR), " +
      s"'|', '$featuresJson')"
    val vdigit =
      s"substr('89ab', (CAST(${hexValSql("substr(h, 17, 1)")} AS INTEGER) % 4) + 1, 1)"
    s"""WITH m AS (${pinnedMaeSql(mlDatasetSql, trees)}),
       |hm AS (SELECT *, md5($name) AS h FROM m)
       |SELECT concat(substr(h, 1, 8), '-', substr(h, 9, 4), '-3',
       |    substr(h, 14, 3), '-', $vdigit, substr(h, 18, 3),
       |    '-', substr(h, 21, 12)) AS run_id,
       |  'rf_demand' AS model_name, '1' AS model_version,
       |  n_train + n_test AS rows_used,
       |  CAST('0.8' AS DOUBLE) AS split_ratio, mae,
       |  '$featuresJson' AS features, num_trees
       |FROM hm""".stripMargin
  }

  /** Predictions history → latest table: the reference keeps an
    * append-only demand_predictions_history plus a latest-wins
    * demand_predictions upserted ON CONFLICT (route_id, hour_ts); this
    * is that upsert as one deterministic window (S10 shape, newest
    * run_seq wins per key). Ref: train_predict.py:197-217.
    */
  def predictionsLatest(history: DataFrame): DataFrame = {
    val w = Window.partitionBy("route_id", "hour_ts").orderBy(col("run_seq").desc)
    history
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
      .orderBy("route_id", "hour_ts")
  }
}
