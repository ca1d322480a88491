package graft.sim

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Regenerates the committed serving fixtures ([[PqFixture]],
  * [[SemDedupFixture]]) from the sf0.01 embeddings:
  *
  * {{{ sbt "runMain graft.sim.FixtureGen /root/testdata/sf0.01" }}}
  *
  * Both trainers are deterministic regardless of partition layout (the
  * PQ Lloyd's loop is pure driver-side double arithmetic on a
  * vec_id-ordered sample; the k-means input is layout-pinned), so a
  * regeneration on unchanged data is byte-identical — FixtureSpec
  * asserts exactly that, making fixture staleness a loud test failure
  * instead of silent drift. Literals are written with Double.toString,
  * whose round-trip guarantee means the committed source re-parses to
  * the same bits the trainer produced.
  */
object FixtureGen {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = if (args.length > 1) args(1) else "src/main/scala/graft/sim"
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    generate(spark, dir, outDir).foreach(println)
    spark.stop()
  }

  /** Regenerate EVERY committed fixture file from `dir` into `outDir`
    * (siblings `../text` and `../ml` for the non-sim packages, matching
    * the source tree layout). Factored out of main so the umbrella
    * staleness gate (FixtureAllSpec) can run the WHOLE generator in-JVM
    * against a temp dir and byte-diff each output against the committed
    * source — one run proving all six fixture files ≡ retrained, so a
    * testdata refresh can never silently strand a fixture (the per-
    * fixture FixtureSpec legs remain for pinpointing which trainer
    * drifted). Returns one human-readable summary line per file.
    */
  def generate(spark: SparkSession, dir: String, outDir: String): Seq[String] = {
    Files.createDirectories(Paths.get(outDir))
    Files.createDirectories(Paths.get(s"$outDir/../text"))
    Files.createDirectories(Paths.get(s"$outDir/../ml"))
    val embs = graft.TestdataAdapter.table(spark, dir, "embeddings")

    def arr(a: Array[Double]): String =
      a.map(_.toString).mkString("Array(", ", ", ")")
    def header(what: String): String =
      s"""package graft.sim
         |
         |/** AUTO-GENERATED by [[FixtureGen]] from the sf0.01 embeddings —
         |  * do not edit by hand; regenerate with
         |  * `sbt "runMain graft.sim.FixtureGen /root/testdata/sf0.01"`.
         |  * $what
         |  * Provenance is pinned by FixtureSpec (retrain == fixture).
         |  */
         |""".stripMargin

    val cbs = Knn.trainPqCodebooks(embs)
    val pq = header(
      "Product-quantization codebooks (m subspaces × codebookSize\n" +
        "  * centroids × subDim dims), the frozen model artifact `pq_topk`\n" +
        "  * serves with.") +
      "object PqFixture {\n" +
      "  val codebooks: Array[Array[Array[Double]]] = Array(\n" +
      cbs.map(cb => "    Array(\n" +
        cb.map(c => "      " + arr(c)).mkString(",\n") + ")").mkString(",\n") +
      ")\n}\n"
    Files.writeString(Paths.get(s"$outDir/PqFixture.scala"), pq)

    val cents = Knn.trainSemDedupCentroids(embs)
    val sd = header(
      "Normalized-space k-means centroids (k × dim), the frozen\n" +
        "  * cluster model `semdedup_keep` assigns against.") +
      "object SemDedupFixture {\n" +
      "  val centroids: Array[Array[Double]] = Array(\n" +
      cents.map(c => "    " + arr(c)).mkString(",\n") +
      ")\n}\n"
    Files.writeString(Paths.get(s"$outDir/SemDedupFixture.scala"), sd)

    val docs = graft.TestdataAdapter.table(spark, dir, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
    def qs(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val mg = graft.text.TextOps.bpeTrain(docs)
      .select("step", "left", "right").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    val bpe =
      s"""package graft.text
         |
         |/** AUTO-GENERATED by [[graft.sim.FixtureGen]] from the sf0.01
         |  * documents — do not edit by hand; regenerate with
         |  * `sbt "runMain graft.sim.FixtureGen /root/testdata/sf0.01"`.
         |  * Ordered BPE merge table (step, left, right) — the frozen
         |  * tokenizer model `bpe_encode_stats` serves with.
         |  * Provenance is pinned by FixtureSpec (retrain == fixture).
         |  */
         |""".stripMargin +
      "object BpeFixture {\n" +
      "  val merges: Seq[(Int, String, String)] = Seq(\n" +
      mg.map { case (s, l, r) => s"""    ($s, "${qs(l)}", "${qs(r)}")""" }
        .mkString(",\n") +
      ")\n}\n"
    Files.writeString(Paths.get(
      s"$outDir/../text/BpeFixture.scala"), bpe)

    val (thr, iE9, wE9) = graft.ml.QualityClassifier.trainPinnedQuality(docs)
    val qf =
      s"""package graft.ml
         |
         |/** AUTO-GENERATED by [[graft.sim.FixtureGen]] from the sf0.01
         |  * documents — do not edit by hand; regenerate with
         |  * `sbt "runMain graft.sim.FixtureGen /root/testdata/sf0.01"`.
         |  * The frozen quality-filter model `quality_score_pinned` /
         |  * `quality_threshold_sweep` serve with: md5-BoW logistic
         |  * regression, weights 1e9-quantized so the serving dot product
         |  * is order-free integer arithmetic, plus the frozen weak-label
         |  * threshold (the sf0.01 exact median of the heuristic score).
         |  * Provenance is pinned by FixtureSpec (retrain == fixture).
         |  */
         |""".stripMargin +
      "object QualityFixture {\n" +
      s"  val labelThreshold: Double = $thr\n" +
      s"  val interceptE9: Long = ${iE9}L\n" +
      "  val weightsE9: Array[Long] = Array(\n    " +
      wE9.map(_.toString + "L").grouped(10).map(_.mkString(", "))
        .mkString(",\n    ") +
      ")\n}\n"
    Files.writeString(Paths.get(s"$outDir/../ml/QualityFixture.scala"), qf)

    val forest = graft.ml.DemandModel.trainPinnedForest(
      graft.Pipelines.mlDataset(spark, dir))
    val rf =
      s"""package graft.ml
         |
         |/** AUTO-GENERATED by [[graft.sim.FixtureGen]] from the sf0.01
         |  * tables — do not edit by hand; regenerate with
         |  * `sbt "runMain graft.sim.FixtureGen /root/testdata/sf0.01"`.
         |  * The frozen demand forest `rf_pinned_mae` serves with:
         |  * preorder (featureIndex, threshold, prediction) triples per
         |  * tree, featureIndex -1 marking a leaf; `feature <= threshold`
         |  * goes left. Provenance is pinned by FixtureSpec
         |  * (retrain == fixture).
         |  */
         |""".stripMargin +
      "object RfFixture {\n" +
      "  val trees: Array[Array[(Int, Double, Double)]] = Array(\n" +
      forest.map(t => "    Array(" +
        t.map { case (f, thr, p) => s"($f, $thr, $p)" }.mkString(", ") + ")")
        .mkString(",\n") +
      ")\n}\n"
    Files.writeString(Paths.get(s"$outDir/../ml/RfFixture.scala"), rf)

    val (basis, ev) = Knn.trainPcaBasis(embs)
    val pca = header(
      "PCA loading matrix (dimOut rows × dim loadings) + explained-\n" +
        "  * variance sum, the frozen projection `pca_recall` serves with.") +
      "object PcaFixture {\n" +
      s"  val explainedVariance: Double = $ev\n" +
      "  val basis: Array[Array[Double]] = Array(\n" +
      basis.map(c => "    " + arr(c)).mkString(",\n") +
      ")\n}\n"
    Files.writeString(Paths.get(s"$outDir/PcaFixture.scala"), pca)

    Seq(
      s"wrote $outDir/PqFixture.scala (${cbs.length}×${cbs.head.length}×${cbs.head.head.length})",
      s"wrote $outDir/SemDedupFixture.scala (${cents.length}×${cents.head.length})",
      s"wrote $outDir/PcaFixture.scala (${basis.length}×${basis.head.length}, ev=$ev)",
      s"wrote $outDir/../ml/QualityFixture.scala (thr=$thr, ${wE9.length} weights)",
      s"wrote $outDir/../ml/RfFixture.scala (${forest.length} trees, ${forest.map(_.length).sum} nodes)",
      s"wrote $outDir/../text/BpeFixture.scala (${mg.length} merges)")
  }
}
