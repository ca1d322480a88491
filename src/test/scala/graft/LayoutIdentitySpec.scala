package graft

/** Byte-identity across partition layouts for the queries and trainers
  * whose machinery is layout-sensitive (trained quantizers, k-means, the
  * learned quality model). The failure mode a different `local[n]`
  * exposes is never the thread count itself — it is the different
  * PARTITION LAYOUT (shuffle fan-out, input split boundaries) that a
  * different parallelism default induces, which reorders rows under
  * MLlib's per-partition seeding and non-commutative float folds. So
  * the spec forces two disjoint layouts directly — different shuffle
  * partition counts AND different input split sizes — inside the one
  * shared test JVM, and requires the full collected output (values AND
  * row order) to match exactly. semdedup/bpe carry the same claim in
  * their own suites; the pinned RF forest's trainer pins its layout via
  * DemandModel.pinLayout.
  */
class LayoutIdentitySpec extends SparkSpec {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  private val dir = "/root/testdata/sf0.001"
  // registry queries, including two oracle-checked ones whose machinery
  // is layout-sensitive by construction: ccnet_buckets (zipWithIndex
  // global numbering) and search_bm25 (bounded-heap TopKPerGroup
  // keep-set); then the MLlib trainers that regenerate the committed
  // SemDedupFixture (k-means centroids) and QualityFixture (LR weights),
  // collected to rows — a fixture is only as reproducible as its trainer
  private val cases: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "knn_ivf", "pq_topk", "pca_recall", "ccnet_buckets", "search_bm25")
    .map(n => n -> SparkEntry.queries(n)) ++ Seq(
    ("kmeans_clusters", (s: SparkSession, d: String) => {
      import s.implicits._
      graft.sim.Knn.trainSemDedupCentroids(TestdataAdapter.table(s, d, "embeddings"))
        .zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }.toDF("cell", "centroid")
    }),
    ("quality_classifier", (s: SparkSession, d: String) => {
      import s.implicits._
      val (thr, iE9, wE9) = graft.ml.QualityClassifier.trainPinnedQuality(
        TestdataAdapter.table(s, d, "documents"))
      Seq((thr, iE9, wE9.toSeq)).toDF("label_threshold", "intercept_e9", "weights_e9")
    }))

  /** Run `q` under the given layout knobs and collect its rows. */
  private def run(q: (SparkSession, String) => DataFrame,
      shufflePartitions: Int, splitBytes: String): Seq[String] = {
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val prevSplit = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
      spark.conf.set("spark.sql.files.maxPartitionBytes", splitBytes)
      q(spark, dir).collect().map(_.toString).toSeq
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      spark.conf.set("spark.sql.files.maxPartitionBytes", prevSplit)
    }
  }

  for ((name, q) <- cases)
    test(s"$name output is byte-identical across partition layouts") {
      val a = run(q, 4, "134217728")  // wide splits, few reducers
      val b = run(q, 13, "262144")    // narrow splits, odd reducer count
      assert(a.length == b.length, s"$name row count differs: ${a.length} vs ${b.length}")
      val diff = a.zip(b).zipWithIndex.collect { case ((x, y), i) if x != y => (i, x, y) }
      if (diff.nonEmpty) fail(
        s"$name diverges across layouts at row ${diff.head._1}:\n  ${diff.head._2}\n  ${diff.head._3}")
    }
}
