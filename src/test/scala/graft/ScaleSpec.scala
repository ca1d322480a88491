package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.rel.Scale

class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("salted join equals plain join on a skewed key") {
    // hot key: 5000 of 5100 fact rows share key "hot"
    val fact = ((1 to 5000).map(i => ("hot", i)) ++ (1 to 100).map(i => (s"k$i", i)))
      .toDF("key", "v")
    val dim = (Seq("hot") ++ (1 to 100).map(i => s"k$i")).zipWithIndex
      .toDF("key", "dim_v")
    val plain = fact.join(dim, "key")
    val salted = Scale.saltedJoin(fact, dim, "key", salts = 8)
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
    // the salted fact side spreads the hot key across several salt values
    val spread = fact.withColumn("__salt",
      pmod(xxhash64(col("key"), col("v")), lit(8)).cast("int"))
      .filter(col("key") === "hot").select("__salt").distinct().count()
    assert(spread > 4)
  }

  test("z-order layout gives per-file bounding boxes that skip on BOTH columns") {
    val ev = TestdataAdapter.table(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "user_id", "value")
    val zDir = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    val sDir = java.nio.file.Files.createTempDirectory("graft_sorted").toString
    Scale.zorderWrite(ev, "user_id", "value", zDir, nFiles = 8)
    // baseline: single-column sort — tight on user_id, full-span on value
    ev.repartitionByRange(8, col("user_id")).sortWithinPartitions("user_id")
      .write.mode("overwrite").parquet(sDir)

    def fileRanges(dir: String): Seq[(Double, Double)] =
      new java.io.File(dir).listFiles.filter(_.getName.endsWith(".parquet")).toSeq
        .map { f =>
          val r = spark.read.parquet(f.getAbsolutePath)
            .agg(min("value"), max("value")).head
          (r.getDouble(0), r.getDouble(1))
        }
    // a narrow predicate on `value` — the column the baseline layout
    // cannot skip on: count files whose [min,max] intersects it
    val bounds = ev.agg(min("value"), max("value")).head
    val q = bounds.getDouble(0) + (bounds.getDouble(1) - bounds.getDouble(0)) * 0.1
    def hits(rs: Seq[(Double, Double)]) = rs.count { case (lo, hi) => lo <= q && q <= hi }
    val zHits = hits(fileRanges(zDir))
    val sHits = hits(fileRanges(sDir))
    assert(sHits == 8, s"baseline should span value everywhere, got $sHits/8")
    assert(zHits <= 4, s"z-order should skip most files on value, hit $zHits/8")
    // and the data survives the relayout intact
    val back = spark.read.parquet(zDir)
    assert(back.count() == ev.count())
    assert(back.exceptAll(ev).isEmpty && ev.exceptAll(back).isEmpty)
  }

  test("AQE splits a skewed shuffle-join partition at runtime") {
    // The alternative to manual salting: adaptive execution detects the
    // oversized partition post-shuffle and splits it into parallel
    // sub-reads. Thresholds are lowered so the ~MB hot key trips the
    // same detection that a multi-GB partition would at 100 TB.
    val prev = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // keep it a shuffle join
      val left = spark.range(200000)
        .select(when(col("id") < 190000, lit(0L)).otherwise(col("id")).as("k"),
          col("id").as("v"))
      val right = spark.range(200).select(col("id").as("k"), (col("id") * 2).as("w"))
      val j = left.join(right, "k")
      // collect() drives THIS DataFrame's query execution (count() would
      // plan a separate one and leave j's adaptive plan unexecuted)
      assert(j.collect().length == 190000) // only the hot key (k=0) matches the dim
      val finalPlan = j.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"expected a skew-split join in the adaptive plan:\n$finalPlan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("as-of join picks the latest quote at-or-before; pre-quote probes drop") {
    import graft.rel.Relational
    def ts(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s:00")
    val probes = Seq(
      (1L, ts("10:30")), // between quotes → 09:30 quote
      (2L, ts("13:10")), // after second → 12:00 quote
      (3L, ts("09:00")), // before any quote → dropped (inner as-of)
      (4L, ts("12:00"))) // exactly at a quote → that quote
      .toDF("event_id", "observed_at")
    val quotes = Seq((ts("09:30"), 1.0), (ts("12:00"), 2.0))
      .toDF("hour_ts", "temperature_c")
    val out = Relational.asofJoinHourlyAuto(
      probes, "observed_at", "event_id", quotes, "hour_ts")
      .select("event_id", "temperature_c").as[(Long, Double)].collect().toMap
    assert(out == Map(1L -> 1.0, 2L -> 2.0, 4L -> 2.0))
  }

  test("auto as-of derives a lookback that covers sparse quote gaps and the trailing tail") {
    import graft.rel.Relational
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // quote holes of 18 h and a probe 26 h past the final quote — both
    // beyond any reasonable fixed lookback (round 8's asof_weather_enrich
    // lesson: the feed's cadence is the data's to choose, not the caller's)
    val quotes = Seq(
      (ts("2024-01-01 00:00:00"), 1.0),
      (ts("2024-01-01 18:00:00"), 2.0),
      (ts("2024-01-02 00:00:00"), 3.0))
      .toDF("hour_ts", "temperature_c")
    val probes = Seq(
      (1L, ts("2024-01-01 17:59:00")), // deep inside the 18 h hole → quote 1
      (2L, ts("2024-01-01 18:00:00")), // exactly at → quote 2
      (3L, ts("2024-01-03 02:00:00")), // 26 h after the last quote → quote 3
      (4L, ts("2023-12-31 23:00:00"))) // pre-first-quote → dropped (inner)
      .toDF("event_id", "observed_at")
    val out = Relational.asofJoinHourlyAuto(
      probes, "observed_at", "event_id", quotes, "hour_ts")
      .select("event_id", "temperature_c").as[(Long, Double)].collect().toMap
    assert(out == Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0))
  }

  test("auto as-of construction is lazy — building the frame runs no Spark jobs") {
    import graft.rel.Relational
    // Listener events are FIFO: if construction submitted any job, its
    // start event would arrive before the sentinel action's. So record
    // job descriptions in order and assert the sentinel comes first.
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(js.properties)
          .map(_.getProperty("spark.job.description", "")).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      val quotes = Seq((ts("2024-01-01 00:00:00"), 1.0)).toDF("hour_ts", "temperature_c")
      val probes = Seq((1L, ts("2024-01-01 01:00:00"))).toDF("event_id", "observed_at")
      val frame = Relational.asofJoinHourlyAuto(
        probes, "observed_at", "event_id", quotes, "hour_ts")
      spark.sparkContext.setJobDescription("graft-asof-lazy-sentinel")
      spark.range(1).count()
      spark.sparkContext.setJobDescription(null)
      // the sentinel's completed action guarantees its start event is queued;
      // poll until it lands, then check nothing preceded it
      val deadline = System.nanoTime() + 10_000_000_000L
      while (!seen.contains("graft-asof-lazy-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.peek() == "graft-asof-lazy-sentinel",
        s"jobs ran during as-of construction: ${seen.toArray.mkString(", ")}")
      // and the frame still evaluates correctly afterwards
      assert(frame.count() == 1L)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("incremental refresh overwrites only the touched hour partitions") {
    val dir = Files.createTempDirectory("graft_incr").toString
    val full = Seq(
      ("r1", java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 10.0),
      ("r1", java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), 11.0),
      ("r2", java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 20.0))
      .toDF("route_id", "hour_ts", "passengers")
    Scale.overwriteHourPartitions(full, "hour_ts", dir)
    assert(spark.read.parquet(dir).count() == 3)

    // capture the untouched partition's file listing before the refresh
    val h10 = new java.io.File(s"$dir/hour_part=2024-01-01-10")
    val before = h10.listFiles().map(f => f.getName -> f.lastModified).toMap

    // recompute ONLY hour 11 with a corrected value
    val slice = Seq(("r1", java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), 99.0))
      .toDF("route_id", "hour_ts", "passengers")
    Scale.overwriteHourPartitions(slice, "hour_ts", dir)

    val after = spark.read.parquet(dir)
    assert(after.count() == 3) // hour 10 rows survived the refresh
    assert(after.filter(col("passengers") === 99.0).count() == 1)
    assert(after.filter(col("passengers") === 11.0).count() == 0) // replaced
    // hour-10 files are byte-untouched (same names, same mtimes)
    val unchanged = h10.listFiles().map(f => f.getName -> f.lastModified).toMap
    assert(unchanged == before)
  }

  test("bucketed tables join with zero exchanges and match the plain join") {
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      val orders = (1 to 2000).map(i => (i.toLong % 97, i.toLong, i * 1.5))
        .toDF("custkey", "orderkey", "total")
      val cust = (0L until 97L).map(i => (i, s"c$i")).toDF("custkey", "name")
      Scale.writeBucketed(orders, "custkey", 8, "orders_b")
      Scale.writeBucketed(cust, "custkey", 8, "cust_b")

      val joined = Scale.bucketedJoin(spark, "orders_b", "cust_b", "custkey")
      val plain = orders.join(cust, "custkey")
      assert(joined.count() == plain.count())
      assert(joined.exceptAll(plain).isEmpty && plain.exceptAll(joined).isEmpty)

      // both scans read pre-bucketed data: the sort-merge join needs no shuffle
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      assert(plan.contains("SortMergeJoin") && plan.contains("Bucketed: true"),
        s"expected bucketed sort-merge join:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS cust_b")
    }
  }

  test("compaction shrinks the file count and preserves the data exactly") {
    val dir = Files.createTempDirectory("graft_compact").resolve("t").toString
    val df = (1 to 10000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    df.repartition(40).write.parquet(dir) // 40 small files
    def parquetFiles = new java.io.File(dir).listFiles.count(_.getName.endsWith(".parquet"))
    assert(parquetFiles == 40)
    Scale.compact(spark, dir, "id", targetRecordsPerFile = 5000L)
    assert(parquetFiles == 2, s"expected 2 compacted files, got $parquetFiles")
    val back = spark.read.parquet(dir)
    assert(back.count() == 10000)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }

  test("count-min heavy hitters: estimates dominate exact counts within the eps bound") {
    // one dominant key + a long tail
    val ev = ((1 to 8000).map(_ => 7L) ++ (1 to 12000).map(i => (i % 500).toLong))
      .map(u => (u, "click", u.toDouble)).toDF("user_id", "event_type", "value")
    val r = graft.rel.Sketches.cmsHeavyHitters(ev, k = 5).collect()
    assert(r.length == 5)
    assert(r.head.getAs[Long]("user_id") == 7L) // the hot key ranks first
    for (row <- r) {
      val exact = row.getAs[Long]("n_exact")
      val est = row.getAs[Long]("n_cms")
      assert(est >= exact, "CMS never underestimates")
      assert(est - exact <= (0.001 * 20000 * 3).toLong,
        s"estimate $est too far above exact $exact")
    }
  }

  test("md5 count-min sketch: dominance, tightness, and agreement with exact on the hot key") {
    val ev = ((1 to 8000).map(_ => 7L) ++ (1 to 12000).map(i => (i % 500).toLong))
      .map(u => (u, "click", u.toDouble)).toDF("user_id", "event_type", "value")
    val r = graft.rel.Sketches.cmsHeavyHitters(ev, k = 5).collect()
    assert(r.length == 5)
    assert(r.head.getAs[Long]("user_id") == 7L)
    for (row <- r) {
      val exact = row.getAs[Long]("n_exact")
      val est = row.getAs[Long]("n_cms")
      assert(est >= exact, "CMS never underestimates")
      assert(row.getAs[Double]("rel_overestimate") >= 0.0)
      // d=4 rows of w=2048 buckets over ~501 keys: collisions are rare and
      // the min over rows keeps the overestimate within a few mean loads
      assert(est - exact <= 20000 * 4 / 2048,
        s"estimate $est too far above exact $exact")
    }
  }

  test("md5 HyperLogLog: estimate within the m=256 error band of exact") {
    val ev = ((1 to 20000).map(i => ("click", (i % 3777).toLong, i.toDouble)) ++
      (1 to 5000).map(i => ("view", (i % 991).toLong, i * 2.0)))
      .toDF("event_type", "user_id", "value")
    val r = graft.rel.Sketches.hllCardinality(ev).collect()
    assert(r.length == 2)
    for (row <- r) {
      // 1.04/sqrt(256) = 6.5% standard error; 3 sigma = 19.5%
      assert(row.getAs[Double]("rel_err") < 0.2,
        s"HLL off by ${row.getAs[Double]("rel_err")} for ${row.getString(0)}")
      assert(row.getAs[Double]("users_hll") > 0.0)
    }
    val click = r.find(_.getString(0) == "click").get
    assert(click.getAs[Long]("users_exact") == 3777L)
  }

  test("date-partitioned layout prunes partitions on read") {
    val dir = Files.createTempDirectory("graft_layout").toString
    val ev = TestdataAdapter.vehiclePositions(spark, "/root/testdata/sf0.001")
    Scale.writePartitionedByDay(ev, "observed_at", dir)
    val day = Scale.readDay(spark, dir, "2024-01-05")
    val expected = ev.filter(to_date(col("observed_at")) === "2024-01-05").count()
    assert(day.count() == expected && expected > 0)
    // the date predicate must reach the scan as a partition filter
    val plan = day.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("event_date"),
      s"no partition pruning in plan:\n$plan")
  }

  test("distributed prefix sum equals the global window cumsum; shards respect the budget") {
    import org.apache.spark.sql.expressions.Window
    val df = (1 to 200).map(i => (i.toLong, (i % 13 + 1).toLong)).toDF("id", "w")
      .repartition(9) // scrambled input layout; result must not care
    val r = Scale.prefixSumShards(df, "id", "w", budget = 50L, partitions = 7)
    val expected = df.withColumn("cum_tokens",
      sum("w").over(Window.orderBy("id")).cast("long"))
      .withColumn("shard_id", expr("(cum_tokens - w) DIV 50"))
    val got = r.select("id", "w", "cum_tokens", "shard_id")
    val want = expected.select("id", "w", "cum_tokens", "shard_id")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // each shard's token load stays within budget + one max-doc overhang
    val loads = r.groupBy("shard_id").agg(sum("w").as("load"))
      .select("load").as[Long].collect()
    assert(loads.forall(_ <= 50 + 13))
  }

  test("distributed ntile matches the window NTILE exactly, uneven buckets included") {
    import org.apache.spark.sql.expressions.Window
    // 103 rows into 10 tiers: first 3 tiers get 11 rows, the rest 10
    val df = (1 to 103).map(i => (i.toLong, (i * 37 % 103).toDouble)).toDF("id", "score")
    val dist = Scale.ntileExact(df, 10, Seq("score", "id"), partitions = 7)
      .select(col("id"), col("tier").cast("int").as("tier"))
    val window = df.select(col("id"),
      ntile(10).over(Window.orderBy(col("score"), col("id"))).as("tier"))
    assert(dist.exceptAll(window).isEmpty && window.exceptAll(dist).isEmpty)
    val sizes = dist.groupBy("tier").count().orderBy("tier")
      .select("count").as[Long].collect().toSeq
    assert(sizes == Seq(11L, 11L, 11L, 10L, 10L, 10L, 10L, 10L, 10L, 10L))
    // fewer rows than tiers: buckets 1..n each take one row, no div-by-zero
    val tiny = (1 to 3).map(i => (i.toLong, i.toDouble)).toDF("id", "score")
    val tinyTiers = Scale.ntileExact(tiny, 10, Seq("score", "id"))
      .select("tier").as[Long].collect().toSeq.sorted
    assert(tinyTiers == Seq(1L, 2L, 3L))
  }

  test("grouped distributed ntile matches the partitioned window NTILE exactly") {
    import org.apache.spark.sql.expressions.Window
    // uneven group sizes (29, 7, 1) exercise uneven buckets, a group
    // smaller than n, and a singleton group
    val df = ((1 to 29).map(i => ("a", i.toLong, (i * 37 % 29).toDouble)) ++
      (1 to 7).map(i => ("b", 100L + i, i.toDouble)) ++
      Seq(("c", 200L, 1.0))).toDF("g", "id", "score")
    val dist = Scale.ntileExactBy(df, 3, Seq("g"), Seq("score", "id"), partitions = 5)
      .select(col("g"), col("id"), col("tier").cast("int").as("tier"))
    val window = df.select(col("g"), col("id"),
      ntile(3).over(Window.partitionBy("g").orderBy(col("score"), col("id"))).as("tier"))
    assert(dist.exceptAll(window).isEmpty && window.exceptAll(dist).isEmpty)
  }
}
