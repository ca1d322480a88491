package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.streaming.Streams
import graft.ml.DemandModel

class StreamsMlSpec extends SparkSpec {
  import spark.implicits._

  test("streaming vehicle_hourly equals the batch view on sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val stream = Streams.vehicleHourlyStream(spark, dir)
      .select("route_id", "hour_ts", "vehicle_events")
    val batch = Pipelines.vehicleHourly(spark, dir)
      .select(col("route_id"), col("hour_ts").cast("timestamp_ntz").as("hour_ts"),
        col("vehicle_events"))
    assert(stream.exceptAll(batch).isEmpty && batch.exceptAll(stream).isEmpty)
  }

  test("watermark-bounded dedup suppresses redelivery (counts equal single-copy batch)") {
    val dir = "/root/testdata/sf0.001"
    val stream = Streams.dedupWatermarkStream(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = TestdataAdapter.table(spark, dir, "events")
      .groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stream == batch) // doubled input, single-copy output
  }

  test("watermarked windowed stream and mapGroupsWithState equal their batch twins") {
    val dir = "/root/testdata/sf0.001"
    val win = Streams.vehicleHourlyWindowedStream(spark, dir)
    val batchWin = Pipelines.vehicleHourly(spark, dir)
      .select(col("route_id"), col("hour_ts").cast("timestamp_ntz").as("hour_ts"),
        col("vehicle_events"))
    assert(win.exceptAll(batchWin).isEmpty && batchWin.exceptAll(win).isEmpty)

    val st = Streams.userStateStream(spark, dir)
    val batchSt = TestdataAdapter.table(spark, dir, "events")
      .groupBy(col("user_id").cast("long").as("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(graft.functions.Cols.ntzFromNanos(col("ts"))).as("last_ts"))
    assert(st.exceptAll(batchSt).isEmpty && batchSt.exceptAll(st).isEmpty)
  }

  test("windowed aggregation with watermark (SURVEY §2.11 extension)") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val staged = java.nio.file.Files.createTempDirectory("graft_wm_stream")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      staged.resolve("events.parquet"))
    val veh = spark.readStream.schema(schema).parquet(staged.toString)
      .select(col("event_type").as("route_id"),
        graft.functions.Cols.ntzFromNanos(col("ts")).cast("timestamp")
          .as("observed_at"))
      .withWatermark("observed_at", "1 hour")
      .groupBy(window(col("observed_at"), "1 hour"), col("route_id"))
      .count()
    val q = veh.writeStream.format("memory").queryName("graft_wm")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("graft_wm")
      .select(col("window.start").as("hour_ts"), col("route_id"), col("count"))
    val want = Pipelines.vehicleHourly(spark, dir)
      .select(col("hour_ts").cast("timestamp").as("hour_ts"), col("route_id"),
        col("vehicle_events").as("count"))
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("W3 label is the next hour's passengers per route") {
    val d = Seq(
      ("r1", Timestamp.valueOf("2024-01-01 10:00:00"), 5.0),
      ("r1", Timestamp.valueOf("2024-01-01 11:00:00"), 7.0),
      ("r2", Timestamp.valueOf("2024-01-01 10:00:00"), 9.0))
      .toDF("route_id", "hour_ts", "passengers")
    val l = DemandModel.withLabel(d).select("route_id", "label").as[(String, Double)].collect()
    assert(l.toSeq == Seq(("r1", 7.0))) // last-per-route rows drop (no next hour)
  }

  test("temporal split is 80/20 by time order and disjoint") {
    val d = (0 until 100).map(i =>
      ("r1", new Timestamp(1700000000000L + i * 3600000L), i.toDouble))
      .toDF("route_id", "hour_ts", "passengers")
    val (train, test) = DemandModel.temporalSplit(d)
    assert(train.count() == 80 && test.count() == 20)
    assert(train.agg(max("hour_ts")).head.getTimestamp(0)
      .before(test.agg(min("hour_ts")).head.getTimestamp(0)))
  }

  test("temporal split never divides an hour and stays near the target fraction") {
    // 5 routes × 50 hours — multiple rows per hour
    val d = (for (r <- 0 until 5; i <- 0 until 50) yield
      (s"r$r", new Timestamp(1700000000000L + i * 3600000L), i.toDouble))
      .toDF("route_id", "hour_ts", "passengers")
    val (train, test) = DemandModel.temporalSplit(d)
    val (nTrain, nTest) = (train.count(), test.count())
    assert(nTrain + nTest == 250)
    val frac = nTrain.toDouble / 250
    // within one hour's row share (5/250) of 0.8
    assert(frac >= 0.8 && frac <= 0.8 + 5.0 / 250)
    // no hour on both sides
    val trainHours = train.select("hour_ts").distinct().as[Timestamp].collect().toSet
    val testHours = test.select("hour_ts").distinct().as[Timestamp].collect().toSet
    assert(trainHours.intersect(testHours).isEmpty)
  }

  test("forestSql replays MLlib tree traversal exactly (flatten + CASE codegen)") {
    import org.apache.spark.ml.Pipeline
    import org.apache.spark.ml.feature.VectorAssembler
    import org.apache.spark.ml.regression.{RandomForestRegressionModel, RandomForestRegressor}
    val ds = Pipelines.mlDataset(spark, "/root/testdata/sf0.001")
    val labeled = DemandModel.withLabel(ds).persist()
    try {
      val fitted = new Pipeline().setStages(Array(
        new VectorAssembler()
          .setInputCols(DemandModel.FeatureCols.toArray).setOutputCol("features"),
        new RandomForestRegressor()
          .setLabelCol("label").setFeaturesCol("features")
          .setNumTrees(5).setSeed(7))).fit(labeled)
      val model = fitted.stages(1).asInstanceOf[RandomForestRegressionModel]
      val flat = DemandModel.flattenForest(model)
      val both = fitted.transform(labeled)
        .withColumn("sql_pred", expr(DemandModel.forestSql(flat)))
        .select(abs(col("prediction") - col("sql_pred")).as("d"))
        .agg(max("d")).head.getDouble(0)
      assert(both == 0.0, s"SQL replay diverges from MLlib by up to $both")
    } finally labeled.unpersist(blocking = false)
  }

  test("pinned-forest MAE query: split counts match temporalSplit; MAE sane") {
    val ds = Pipelines.mlDataset(spark, "/root/testdata/sf0.001")
    val labeled = DemandModel.withLabel(ds)
    val (train, test) = DemandModel.temporalSplit(labeled)
    // a tiny hand forest: mean of two stumps
    val trees = Array(
      Array((0, 2.5, 0.0), (-1, 0.0, 10.0), (-1, 0.0, 30.0)),
      Array((-1, 0.0, 20.0)))
    val r = DemandModel.pinnedMae(ds, trees).collect().head
    assert(r.getAs[Long]("n_train") == train.count())
    assert(r.getAs[Long]("n_test") == test.count())
    assert(r.getAs[Int]("num_trees") == 2)
    val mae = r.getAs[Double]("mae")
    assert(!mae.isNaN && mae > 0.0)
    // hand check: tree1 = 10 if trip_update_events <= 2.5 else 30; tree2 = 20
    val expected = test
      .withColumn("p", (when(col("trip_update_events") <= 2.5, 10.0).otherwise(30.0) + 20.0) / 2.0)
      .agg(avg(round(abs(col("p") - col("label")), 6))).head.getDouble(0)
    assert(math.abs(mae - expected) < 1e-6, s"mae $mae vs hand-computed $expected")
  }

  test("streaming pinned-quality inference equals the batch scorer row-for-row") {
    import graft.ml.{QualityClassifier, QualityFixture}
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.Streams.qualityScoreQueueStream(spark, dir)
      .collect().map(_.toSeq).toSeq
    val batch = QualityClassifier.scorePinned(
      TestdataAdapter.table(spark, dir, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars"),
      QualityFixture.labelThreshold, QualityFixture.interceptE9,
      QualityFixture.weightsE9).collect().map(_.toSeq).toSeq
    assert(streamed == batch)
  }

  test("streaming quality scores: a batch redelivered after its write committed adds no rows") {
    val docs = spark.range(0, 500, 1, 4).select(
      col("id").as("doc_id"),
      concat(lit("an ingested document, number "), col("id").cast("string")).as("text"),
      lit("en").as("lang"), lit("web").as("source"), lit(40L).as("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_qscore_replay").toString
    val (out, ckpt) = (s"$root/out", s"$root/ckpt")
    val stream = Streams.queueRoundTrip("doc_id",
      Seq(docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 =!= 0)))
    Streams.runQualityScoreStreamFrom(stream, out, ckpt)
    // a crash after the last batch's write but before its commit-log
    // entry: the restart redelivers that batch under the same batchId
    val last = new java.io.File(s"$ckpt/commits").list()
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).max
    Seq(s"$last", s".$last.crc").foreach(n =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$ckpt/commits/$n")))
    Streams.runQualityScoreStreamFrom(stream, out, ckpt)
    assert(new java.io.File(s"$ckpt/commits/$last").exists, "the restart did not replay the batch")
    val scored = spark.read.option("recursiveFileLookup", "true").parquet(out)
    assert(scored.count() == docs.count(), "replayed batch changed the scored row count")
    assert(scored.select("doc_id").distinct().count() == docs.count(),
      "replayed batch duplicated doc_ids")
  }

  test("pinned run record: run_id is exactly Java's nameUUIDFromBytes of the name string") {
    val ds = Pipelines.mlDataset(spark, "/root/testdata/sf0.001")
    val trees = Array(Array((-1, 0.0, 20.0)))
    val r = DemandModel.pinnedRunRecord(ds, trees).collect().head
    val featuresJson = DemandModel.FeatureCols.mkString("[\"", "\",\"", "\"]")
    val nTrain = r.getAs[Long]("rows_used") -
      DemandModel.temporalSplit(DemandModel.withLabel(ds))._2.count()
    val nTest = r.getAs[Long]("rows_used") - nTrain
    val expected = java.util.UUID.nameUUIDFromBytes(
      s"rf_demand|1|1|42|$nTrain|$nTest|$featuresJson".getBytes("UTF-8")).toString
    assert(r.getAs[String]("run_id") == expected,
      s"run_id ${r.getAs[String]("run_id")} != JDK $expected")
    assert(r.getAs[String]("model_name") == "rf_demand")
    assert(r.getAs[Double]("split_ratio") == 0.8)
  }
}
