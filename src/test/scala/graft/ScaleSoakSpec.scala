package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.Tag

object Soak extends Tag("graft.Soak")

/** Scale soak: the pipelines whose cost profile matters most at corpus
  * scale (the near-dup dedup pair, sessionization, sequence packing)
  * run against sf0.1 and against a 10×-amplified copy, asserting
  *
  *   1. the physical plan keeps the SAME shuffle-Exchange count — the
  *      plan structure is scale-invariant, nothing degrades to a
  *      different (wider) strategy at 10× the rows; and
  *   2. wall-time grows sub-quadratically: t(10×) ≤ 25·t(1×) + 10 s.
  *      A quadratic operator would pay ~100× — the generous band keeps
  *      the assertion meaningful without being load-flaky.
  *
  * Amplification appends 9 shifted-id copies; document text is
  * letter-rotated per copy so the clones are genuinely NEW content —
  * cloning identical text would inflate every near-dup cluster 10× and
  * make the dedup workload quadratic by construction rather than by
  * plan defect. Inputs are materialized to parquet first so the timed
  * run measures the operator, not a 10-way union scan.
  *
  * Measured on this container (local[4], sf0.1 → 10×): dedup_clusters
  * 50k docs, simhash 50k docs, sessionize 1M events, packing 50k docs —
  * ratios recorded in COVERAGE.md §soak.
  */
class ScaleSoakSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.1"
  private val Copies = 10

  /** Amplified document clone builder shared by the 10× and 30× soak
    * fixtures: `copies` letter-rotated copies with shifted ids (the
    * 10^7 id stride requires base doc_ids < 10^7 — sf0.1 tops out far
    * below). The alphabet must have ≥ `copies` distinct rotations or
    * the cycle plants exact text twins — precisely the planted-dup
    * workload these fixtures exist to avoid.
    */
  private def cloneDocs(alpha: String, copies: Int, out: String): Unit = {
    require(alpha.length >= copies, s"alphabet cycles at ${alpha.length} < $copies copies")
    def rot(k: Int) = alpha.drop(k % alpha.length) + alpha.take(k % alpha.length)
    val docs = TestdataAdapter.table(spark, dir, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
    (0 until copies).map { k =>
      docs.select(
        (col("doc_id") + lit(k * 10000000L)).as("doc_id"),
        (if (k == 0) col("text") else translate(col("text"), alpha, rot(k))).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_.unionByName(_))
      .write.mode("overwrite").parquet(out)
  }

  private lazy val soakDir: String = {
    val out = "/tmp/graft_soak"
    val events = TestdataAdapter.table(spark, dir, "events")
      .select("event_id", "user_id", "event_type", "value", "ts")
    cloneDocs("aeiousnrtl", Copies, s"$out/documents")
    (0 until Copies).map { k =>
      events.select(
        (col("event_id") + lit(k * 100000000L)).as("event_id"),
        (col("user_id") + lit(k * 10000000L)).as("user_id"),
        col("event_type"), col("value"), col("ts"))
    }.reduce(_.unionByName(_))
      .write.mode("overwrite").parquet(s"$out/events")
    // embedding copies are ROTATED by k positions (norm-preserving,
    // direction-decorrelating) — cloning identical vectors would clone
    // every near-dup pair 10× and make the semantic-leakage workload
    // quadratic by construction, same reasoning as the text rotation
    val emb = TestdataAdapter.table(spark, dir, "embeddings")
    (0 until Copies).map { k =>
      emb.select(
        (col("vec_id") + lit(k * 10000000L)).as("vec_id"),
        (if (k == 0) col("embedding")
         else concat(
           slice(col("embedding"), lit(k + 1), size(col("embedding")) - k),
           slice(col("embedding"), lit(1), lit(k)))).as("embedding"),
        col("label"))
    }.reduce(_.unionByName(_))
      .write.mode("overwrite").parquet(s"$out/embeddings")
    out
  }

  private def baseDocs = TestdataAdapter.table(spark, dir, "documents")
  private def baseEvents = TestdataAdapter.table(spark, dir, "events")
  private def bigDocs = spark.read.parquet(s"$soakDir/documents")
  private def bigEvents = spark.read.parquet(s"$soakDir/events")

  // times plan CONSTRUCTION + execution: iterative pipelines
  // (dedup_clusters) do their localCheckpoint rounds eagerly at
  // construction, so the BY-NAME parameter defers evaluation until
  // inside the timer — do not change it to a plain (by-value) parameter
  private def force(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def shuffles(df: DataFrame): Int =
    "Exchange (hash|range|Single)".r
      .findAllIn(df.queryExecution.executedPlan.toString).length

  private def soak(name: String, pinPlan: Boolean = true)(
      pipeline: DataFrame => DataFrame)(
      base: => DataFrame, big: => DataFrame): Unit =
    test(s"$name holds its plan and stays sub-quadratic at 10x data", Soak) {
      // pinPlan=false: pipelines that persist() an interior frame print a
      // cache-state-dependent plan (the persisted subtree re-prints under
      // every consumer until something materializes it — suite order
      // changes the count), so the textual shuffle pin is meaningless for
      // them; the time band below still guards their scale shape. Same
      // reason lsh_incremental_newdocs carries no PlanBudget entry.
      if (pinPlan)
        assert(shuffles(pipeline(base)) == shuffles(pipeline(big)),
          s"$name changes shuffle count at 10x: " +
            s"${shuffles(pipeline(base))} -> ${shuffles(pipeline(big))}")
      force(pipeline(base)) // warm code paths so t1 is steady-state, not codegen
      // median-of-3 t1: single-run timings on this shared box swing ~13×
      // under load, and the whole band scales off t1 — mirror Bench's
      // median methodology rather than widening the band further
      val t1 = Seq.fill(3)(force(pipeline(base))).sorted.apply(1)
      val t10 = force(pipeline(big))
      info(f"$name: t1=$t1%.1fs t10=$t10%.1fs ratio=${t10 / t1}%.1f")
      assert(t10 <= 25.0 * t1 + 10.0,
        f"$name t(10x)=$t10%.1fs vs t(1x)=$t1%.1fs — super-linear blowup")
    }

  import graft.dedup.Dedup
  import graft.rel.Sessionize
  import graft.text.TextOps

  soak("dedup_clusters")(Dedup.dedupClusters)(baseDocs, bigDocs)
  soak("simhash_pairs")(d => Dedup.simhashPairs(d))(baseDocs, bigDocs)
  soak("sessionize")(Sessionize.sessions)(baseEvents, bigEvents)
  soak("packed_sequences")(d => TextOps.packedSequences(d))(baseDocs, bigDocs)
  // the two operators rewritten in round 6 — lock their new scale
  // shapes (count-based combinatorics; bloom prefilter + residual join)
  soak("source_overlap")(d => Dedup.sourceOverlapFrom(Dedup.dedupClusters(d), d))(
    baseDocs, bigDocs)
  soak("bloom_new_docs")(d => Dedup.bloomNewDocs(
    d.filter(col("doc_id") % 3 =!= 0), d.filter(col("doc_id") % 3 === 0)))(
    baseDocs, bigDocs)
  // round-7 additions with join machinery worth soaking: the df-ceiling
  // bound on the containment posting self-join, and BM25's pruned-tf /
  // bounded-heap pipeline
  soak("dedup_containment")(d => Dedup.containmentPairs(d))(baseDocs, bigDocs)

  // r11: SECOND scale point for the worst r10 soak band (containment ran
  // 7.0× at 10× — inside the declared band, but one data point is a thin
  // basis for a 100 TB claim). The posting self-join's cost model is
  // Σ_shingle min(df, maxDf)² ≈ |distinct shingles| · maxDf² — LINEAR in
  // corpus size at fixed maxDf, because the df ceiling caps every
  // posting list before it self-joins. So the 10×→30× step (3× the
  // rows) must cost ≤ 3× linear growth; the band mirrors the main
  // soak's 2.5×-of-linear slack (7.5 = 3 × 2.5) plus the fixed grace.
  // 30 distinct rotations need a 30-char alphabet — the main fixture's
  // 10-letter one would cycle and plant exact text twins at k ≡ k+10.
  private lazy val soak30Docs: DataFrame = {
    val out = java.nio.file.Files.createTempDirectory("graft_soak30").toString
    cloneDocs("abcdefghijklmnopqrstuvwxyz0123", 30, s"$out/documents")
    spark.read.parquet(s"$out/documents")
  }

  test("dedup_containment stays linear from 10x to 30x (df-ceiling bound)", Soak) {
    // no cross-scale shuffle pin here: containmentPairs persists its
    // shingle-set frame, so after the 10× soak executed, a re-printed
    // 10× plan collapses onto the cached subtree while the fresh 30×
    // plan does not — the textual counts are cache-state, not strategy
    // (the pinPlan=false caveat above; the 10× soak already pins the
    // plan cache-cold). The time band below is the curve being pinned.
    force(Dedup.containmentPairs(baseDocs)) // warm codegen/code paths
    val t10 = Seq.fill(3)(force(Dedup.containmentPairs(bigDocs))).sorted.apply(1)
    val t30 = force(Dedup.containmentPairs(soak30Docs))
    info(f"containment 10x->30x: t10=$t10%.1fs t30=$t30%.1fs ratio=${t30 / t10}%.1f")
    assert(t30 <= 7.5 * t10 + 10.0,
      f"containment t(30x)=$t30%.1fs vs t(10x)=$t10%.1fs — growth outside the df-ceiling bound")
  }

  soak("search_bm25")(d => TextOps.searchBm25(d))(baseDocs, bigDocs)
  // the 3×-token explode feeding two count layers must stay linear in
  // the instance stream (the clones' rotated vocab also grows the
  // per-(source,n,gram) key space, so this bounds the agg, not a cache)
  soak("ngram_diversity")(TextOps.ngramDiversity)(baseDocs, bigDocs)
  // round-8 addition: the leakage audit rides the LSH pair frame — the
  // split joins and splits²-bounded agg must add nothing super-linear
  // on top of the soaked ngramJaccard lineage
  soak("split_leakage")(d => Dedup.splitLeakage(d))(baseDocs, bigDocs)

  // round-8 additions not yet soaked (VERDICT r8 item 5): the bounded-
  // anchor broadcast mining pass, the single-aggregation mixture with
  // its domains-sized windows, the range-repartition global index, and
  // the SRP-banded semantic leakage audit
  private def baseEmb = TestdataAdapter.table(spark, dir, "embeddings")
  private def bigEmb = spark.read.parquet(s"$soakDir/embeddings")
  import graft.ml.HashSplit
  import graft.sim.Knn

  soak("hard_negatives")(e => Knn.hardNegatives(e))(baseEmb, bigEmb)
  soak("semantic_split_leakage")(e => Knn.semanticSplitLeakage(e))(baseEmb, bigEmb)
  // round-12 additions: the in-engine Lloyd trainer (4 assign passes +
  // 3 per-dim aggregations, all linear in n at fixed k·dim·iters —
  // pinPlan=false: the persisted quantized base + per-round
  // localCheckpoints make the textual plan cache-state-dependent) and
  // the SQ8 encode+score pipeline (symmetric round(x/‖x‖·127) codes —
  // a fully NARROW encode pass, no corpus statistics needed at all;
  // the bounded query set broadcasts like bruteForceTopK)
  soak("kmeans_lloyd_train", pinPlan = false)(
    e => Knn.kmeansLloydTrain(e))(baseEmb, bigEmb)
  // pinPlan=false: sq8's coded frame persists (both join sides derive
  // from it), so the textual plan is cache-state-dependent
  soak("sq8_topk", pinPlan = false)(e => Knn.sq8TopK(e))(baseEmb, bigEmb)
  // end-to-end trained IVF at the pruned probe point: training cost is
  // the Lloyd trainer's (soaked above + the 30× point below); the search
  // tail adds one cell-key equality join whose candidate pool is
  // nprobe/cells of the corpus — the whole chain must stay linear-ish
  soak("ivf_lloyd_topk", pinPlan = false)(
    e => Knn.ivfLloydTopK(e))(baseEmb, bigEmb)
  // r15: the full maintenance LOOP (seed train + 2× attach/verdict/gate
  // over fresh disk state per call) — cost model is the Lloyd trainer's
  // (linear at fixed k·dim·iters) plus two O(batch) attach passes;
  // pinPlan=false: the fold runs eagerly at construction (disk state,
  // localCheckpoints), so the textual plan of the returned verdict read
  // says nothing about the fold's shape — the time band is the guard
  soak("ivf_maintenance", pinPlan = false)(
    e => graft.sim.IvfMaintenance.maintenanceBatchFrom(e))(baseEmb, bigEmb)

  // r12 second scale point for the in-engine Lloyd trainer, the same
  // multi-point treatment dedup_containment got in r11: per-iteration
  // cost is (corpus argmin map + (k×64)-group partial agg) — LINEAR in
  // n at fixed k·dim·iters, so the 10×→30× step (3× the vectors) must
  // stay inside 3× linear growth with the usual 2.5× slack + grace.
  // 30 rotations of a 64-dim vector are all distinct (k < Dim), so no
  // clone collapses onto another and the workload really is 30×.
  private lazy val soak30Embs: DataFrame = {
    val out = java.nio.file.Files.createTempDirectory("graft_soak30emb").toString
    val emb = TestdataAdapter.table(spark, dir, "embeddings")
    (0 until 30).map { k =>
      emb.select(
        (col("vec_id") + lit(k * 10000000L)).as("vec_id"),
        (if (k == 0) col("embedding")
         else concat(
           slice(col("embedding"), lit(k + 1), size(col("embedding")) - k),
           slice(col("embedding"), lit(1), lit(k)))).as("embedding"),
        col("label"))
    }.reduce(_.unionByName(_))
      .write.mode("overwrite").parquet(s"$out/embeddings")
    spark.read.parquet(s"$out/embeddings")
  }

  test("kmeans_lloyd_train stays linear from 10x to 30x (fixed k-dim-iters work per row)", Soak) {
    force(Knn.kmeansLloydTrain(baseEmb)) // warm codegen/code paths
    val t10 = Seq.fill(3)(force(Knn.kmeansLloydTrain(bigEmb))).sorted.apply(1)
    val t30 = force(Knn.kmeansLloydTrain(soak30Embs))
    info(f"lloyd 10x->30x: t10=$t10%.1fs t30=$t30%.1fs ratio=${t30 / t10}%.1f")
    assert(t30 <= 7.5 * t10 + 10.0,
      f"lloyd t(30x)=$t30%.1fs vs t(10x)=$t10%.1fs — growth outside the linear band")
  }

  // ---- r14 (VERDICT r13 item 5): the r13 ANN additions get the same
  // soak discipline as the rest of the family. pinPlan=false throughout:
  // all three ride the persisted/checkpointed Lloyd machinery whose
  // textual plan is cache-state-dependent.

  // IVF-PQ composition: Lloyd training (linear, soaked above) + encode
  // (narrow map over codebook literals) + the cell-pruned ADC join whose
  // CANDIDATE COUNT scales with corpus size (~nprobe/cells · n per
  // query) — the part that earns the dedicated 10→30× point below
  soak("ivfpq_topk", pinPlan = false)(
    e => Knn.ivfPqTopK(e, graft.sim.PqFixture.codebooks))(baseEmb, bigEmb)
  // residual IVF-PQ: both trainers in-plan — coarse Lloyd + per-subspace
  // codebook Lloyd over the residual long-form (k·m·64-group integer
  // aggregations, linear at fixed m·nC·iters) + the per-probe-LUT ADC
  soak("ivfpq_residual_topk", pinPlan = false)(
    e => Knn.ivfPqResidualTopK(e))(baseEmb, bigEmb)
  // incremental attach: train on the corpus carve, O(batch) delta attach.
  // NOTE the %3 carve makes |batch| ∝ corpus here, so the candidate
  // product (|batch| · nprobe/cells · |state|) grows with BOTH factors —
  // measured ~18× at 10× data, inside the band but deliberately worse
  // than production, where batches are fixed-size increments against the
  // state (O(batch) per attach — the shape the LSH/bloom incremental
  // soaks isolate with their fixed-state fixtures) and cells scale ~√n
  soak("ivf_attach_incremental", pinPlan = false)(
    e => Knn.ivfAttachIncremental(e))(baseEmb, bigEmb)
  // two-stage SQ8: int8 retrieve at R=100 (narrow encode + broadcast
  // query set) + float rescore of exactly nQueries·R candidate rows —
  // the rescore side must stay CONSTANT-ish as the corpus grows
  soak("sq8_rescore_topk", pinPlan = false)(
    e => Knn.sq8RescoreTopK(e))(baseEmb, bigEmb)
  // IndexIVFPQ + refine: the residual pipeline (soaked above) plus an
  // exact rescore of exactly nQueries·R rows — the refine stage adds a
  // corpus-size-INDEPENDENT tail on top of the trainer's linear cost
  soak("ivfpq_rescore_topk", pinPlan = false)(
    e => Knn.ivfPqResidualRescoreTopK(e))(baseEmb, bigEmb)

  test("ivfpq_topk stays linear from 10x to 30x (candidate pool ~ nprobe/cells of corpus)", Soak) {
    // per-query ADC work = |cell members probed| ≈ nprobe/cells · n — the
    // one IVF-PQ cost that grows with corpus size (training is the Lloyd
    // trainer's, pinned linear above; encode is one narrow map). The
    // 10×→30× step must stay inside 3× linear growth with the family's
    // 2.5× slack + fixed grace.
    val cb = graft.sim.PqFixture.codebooks
    force(Knn.ivfPqTopK(baseEmb, cb)) // warm codegen/code paths
    val t10 = Seq.fill(3)(force(Knn.ivfPqTopK(bigEmb, cb))).sorted.apply(1)
    val t30 = force(Knn.ivfPqTopK(soak30Embs, cb))
    info(f"ivfpq 10x->30x: t10=$t10%.1fs t30=$t30%.1fs ratio=${t30 / t10}%.1f")
    assert(t30 <= 7.5 * t10 + 10.0,
      f"ivfpq t(30x)=$t30%.1fs vs t(10x)=$t10%.1fs — growth outside the linear band")
  }
  soak("temperature_mixture")(d => TextOps.temperatureMixture(d))(baseDocs, bigDocs)
  soak("corpus_shuffle")(d => HashSplit.corpusShuffle(d))(baseDocs, bigDocs)
  // round-9 addition: the incremental near-dup classify — index build +
  // four band joins + agreement window; the banded candidate set is the
  // part that must not go quadratic as corpus and batch grow together
  soak("lsh_classify")(d => Dedup.classifyNearDupIncremental(
    Dedup.lshIndex(d.filter(col("doc_id") % 3 =!= 0)),
    d.filter(col("doc_id") % 3 === 0)))(baseDocs, bigDocs)
  // the exact-index sibling: the residual membership must stay a
  // broadcast pair (index filtered at its scan), never a sort-merge of
  // the corpus-sized hash table
  soak("bloom_classify")(d => Dedup.bloomNewDocsIncremental(
    Dedup.buildDedupIndex(d.filter(col("doc_id") % 3 =!= 0)),
    d.filter(col("doc_id") % 3 === 0)))(baseDocs, bigDocs)

  // ---- round-10 additions (VERDICT r9 item 5): the maintained-state
  // machinery soaked the way a deployment stresses it

  // fixed persisted cluster state (labels + signature index built ONCE
  // from the base corpus) absorbing a 10×-larger batch: isolates the
  // ATTACH cost — cross-edge band joins + CC on the contracted subgraph
  // — from the state bootstrap, which a deployment amortizes anyway
  private lazy val attachStatePath: String = {
    val corpus = baseDocs
      .select("doc_id", "text", "lang", "source", "n_chars")
      .filter(col("doc_id") % 3 =!= 0)
    // unique per run (like every other soak fixture) — a fixed /tmp path
    // let two concurrent suite runs overwrite each other's state mid-test
    val p = java.nio.file.Files
      .createTempDirectory("graft_soak_attach_state").toString
    Dedup.dedupClusters(corpus).select("doc_id", "cluster_id")
      .write.mode("overwrite").parquet(s"$p/labels")
    Dedup.lshIndex(corpus).write.mode("overwrite").parquet(s"$p/sigs")
    p
  }
  soak("cluster_attach")(d => Dedup.attachToClustersWithSizes(
    spark.read.parquet(s"$attachStatePath/labels"),
    spark.read.parquet(s"$attachStatePath/sigs"),
    d.filter(col("doc_id") % 3 === 0)
      .select("doc_id", "text", "lang", "source", "n_chars")))(
    baseDocs, bigDocs)

  // the full two-batch incremental near-dup flow (index → classify b1 →
  // merge → classify b2) as corpus AND batches grow 10× together — the
  // registry's lsh_incremental_newdocs without its determinism-only
  // parquet round trips
  soak("lsh_incremental", pinPlan = false)(d => {
    val dd = d.select("doc_id", "text", "lang", "source", "n_chars")
    val corpus = dd.filter(col("doc_id") % 3 =!= 0)
    val b1 = dd.filter(col("doc_id") % 3 === 0 && col("doc_id") % 2 === 0)
    val b2 = dd.filter(col("doc_id") % 3 === 0 && col("doc_id") % 2 =!= 0)
    val idx0 = Dedup.lshIndex(corpus)
    Dedup.classifyNearDupIncremental(idx0, b1).withColumn("batch_seq", lit(1))
      .unionByName(
        Dedup.classifyNearDupIncremental(idx0.unionByName(Dedup.lshIndex(b1)), b2)
          .withColumn("batch_seq", lit(2)))
  })(baseDocs, bigDocs)

  // exact quality tiers + seeded within-tier permutation + global index:
  // the three range-repartition passes must each stay linear
  soak("curriculum_order")(d => HashSplit.curriculumOrder(d))(baseDocs, bigDocs)

  // the REAL micro-batch maintained-dedup-index stream at 10× corpus +
  // batches: custom timing (a checkpointed streaming query is not a lazy
  // DataFrame pipeline, so the generic soak() shape doesn't apply; no
  // shuffle-count pin either — batch plans live inside foreachBatch).
  // Cost model: one corpus pass for the v0 index + per-batch classify/
  // merge, all linear — the band catches anything quadratic hiding in
  // the stream machinery.
  test("streaming dedup index absorbs 10x ingest sub-quadratically", Soak) {
    def run(docs: DataFrame): Double = {
      val root = java.nio.file.Files
        .createTempDirectory("graft_soak_stream_dedup").toString
      val d = docs.select("doc_id", "text", "lang", "source", "n_chars")
      val corpus = d.filter(col("doc_id") % 3 =!= 0)
      d.filter(col("doc_id") % 3 === 0 && col("doc_id") % 2 === 0).coalesce(1)
        .write.mode("overwrite").parquet(s"$root/in/batch_a")
      d.filter(col("doc_id") % 3 === 0 && col("doc_id") % 2 =!= 0).coalesce(1)
        .write.mode("overwrite").parquet(s"$root/in/batch_b")
      val t0 = System.nanoTime()
      graft.streaming.Streams.runDedupIndexStreamFrom(
        spark.readStream.schema(d.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$root/in/batch_*"),
        corpus, s"$root/state", s"$root/verdicts", s"$root/ckpt")
      (System.nanoTime() - t0) / 1e9
    }
    run(baseDocs) // warm
    val t1 = Seq.fill(3)(run(baseDocs)).sorted.apply(1)
    val t10 = run(bigDocs)
    info(f"streaming_dedup_index: t1=$t1%.1fs t10=$t10%.1fs ratio=${t10 / t1}%.1f")
    assert(t10 <= 25.0 * t1 + 10.0,
      f"streaming dedup index t(10x)=$t10%.1fs vs t(1x)=$t1%.1fs — super-linear blowup")
  }

  // r12: the FULL streaming lifecycle at 10× — protobuf feed bytes →
  // producer envelopes → queue commit → three micro-batch consumers →
  // KPI views → suggestions → export rows, i.e. the registered
  // streaming_export_e2e chain a deployment runs continuously. Timing
  // covers produce AND consume (both scale with the feed); the shuffle
  // pin covers the chain's lazy analytics tail (consumer tables →
  // export frame — the produce leg and the three availableNow streams
  // execute eagerly, so their plans aren't in the final frame's print,
  // but their per-topic work is row-linear by construction: stateless
  // envelope encode, whole-segment offset reads). Events amplification
  // multiplies stops/vehicles (shifted user ids) at the same hour span,
  // so group counts grow linearly and no hour bucket degenerates.
  test("streaming export e2e chain absorbs 10x feed sub-quadratically", Soak) {
    import graft.streaming.EndToEnd
    def evFrame(events: DataFrame) = events.select(
      col("event_type"), col("user_id").cast("string").as("uid"),
      graft.functions.Cols.microsFromNanos(col("ts")).as("ts_us"),
      col("value"))
    def run(events: DataFrame): (Double, Int) = {
      val t0 = System.nanoTime()
      val qdir = EndToEnd.produceFromEvents(spark, evFrame(events))
      val kpi = EndToEnd.kpiFromQueue(spark, qdir)
      val out = graft.export.Export.exportRows(
        kpi, graft.suggest.Suggestions.suggest(kpi))
      out.write.format("noop").mode("overwrite").save()
      ((System.nanoTime() - t0) / 1e9, shuffles(out))
    }
    run(baseEvents) // warm
    val (runs, pins) = Seq.fill(3)(run(baseEvents)).unzip
    val t1 = runs.sorted.apply(1)
    val (t10, pin10) = run(bigEvents)
    info(f"streaming_export_e2e: t1=$t1%.1fs t10=$t10%.1fs ratio=${t10 / t1}%.1f " +
      s"shuffles=${pins.head}->$pin10")
    assert(pins.toSet == Set(pin10),
      s"export-e2e analytics tail changes shuffle count at 10x: ${pins.head} -> $pin10")
    assert(t10 <= 25.0 * t1 + 10.0,
      f"streaming export e2e t(10x)=$t10%.1fs vs t(1x)=$t1%.1fs — super-linear blowup")
  }

  /** Driver-side tally of shuffle Exchanges across EVERY action fired
    * while attached — the deployment-level analogue of PlanBudgetSpec's
    * per-query pins: the runner's 21 tasks fire ~dozens of actions, and
    * a plan regression in any one of them moves the total.
    */
  private final class ExchangeTally
      extends org.apache.spark.sql.util.QueryExecutionListener {
    val exchanges = new java.util.concurrent.atomic.AtomicInteger(0)
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    override def onSuccess(f: String,
        qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit = {
      exchanges.addAndGet("Exchange (hash|range|Single)".r
        .findAllIn(qe.executedPlan.toString).length)
      actions.incrementAndGet(); ()
    }
    override def onFailure(f: String,
        qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
  }

  test("job-graph runner: 10x and 30x feeds, sub-quadratic under a pinned shuffle budget", Soak) {
    // runner-shaped fixtures: amplified events under the adapter's
    // expected file name (the runner's source tasks read $dir/events.parquet)
    val runnerDir = "/tmp/graft_soak_runner"
    if (!new java.io.File(s"$runnerDir/events.parquet").exists())
      spark.read.parquet(s"$soakDir/events")
        .write.mode("overwrite").parquet(s"$runnerDir/events.parquet")
    val runner30Dir = "/tmp/graft_soak_runner30"
    if (!new java.io.File(s"$runner30Dir/events.parquet").exists()) {
      val events = TestdataAdapter.table(spark, dir, "events")
        .select("event_id", "user_id", "event_type", "value", "ts")
      (0 until 30).map { k =>
        events.select(
          (col("event_id") + lit(k * 100000000L)).as("event_id"),
          (col("user_id") + lit(k * 10000000L)).as("user_id"),
          col("event_type"), col("value"), col("ts"))
      }.reduce(_.unionByName(_))
        .write.mode("overwrite").parquet(s"$runner30Dir/events.parquet")
    }
    def runAt(srcDir: String): (Double, Int, Int) = {
      val tally = new ExchangeTally
      spark.listenerManager.register(tally)
      try {
        val out = java.nio.file.Files.createTempDirectory("graft_jobrun_soak").toString
        val t0 = System.nanoTime()
        graft.jobs.JobRunner.run(spark, srcDir, out)
        val t = (System.nanoTime() - t0) / 1e9
        // QueryExecutionListener events are async — wait for quiescence.
        // Exiting on the waited bound with the tally still moving would
        // silently undercount exchanges/actions and turn the exact
        // action-count equality pins into flakes (ADVICE r13): fail
        // loudly instead of using a possibly-incomplete tally.
        var last = -1; var stable = 0; var waited = 0
        while (stable < 3 && waited < 150) {
          val c = tally.actions.get
          if (c == last) stable += 1 else { stable = 0; last = c }
          Thread.sleep(200); waited += 1
        }
        assert(stable >= 3,
          s"listener tally never quiesced within ${waited * 200} ms " +
            s"(actions still arriving at ${tally.actions.get}) — " +
            "exchange/action counts would be undercounted")
        (t, tally.exchanges.get, tally.actions.get)
      } finally spark.listenerManager.unregister(tally)
    }
    val (t1, x1, a1) = runAt(dir)
    val (t10, x10, a10) = runAt(runnerDir)
    val (t30, x30, a30) = runAt(runner30Dir)
    info(f"job_graph_runner: t1=$t1%.1fs t10=$t10%.1fs t30=$t30%.1fs " +
      f"ratio10=${t10 / t1}%.1f ratio30v10=${t30 / t10}%.1f " +
      s"exchanges=$x1/$x10/$x30 actions=$a1/$a10/$a30")
    // the full 21-task deployment chain — static ingest, mockflow
    // generation, ml serving, kpi, suggestions, exports — with every
    // inter-job handoff materialized; a super-linear task anywhere in the
    // graph (or a handoff that re-reads more than its declared inputs)
    // breaks the band. The 10x→30x leg (3x the feed) pins LINEARITY of
    // the whole deployment, same shape as dedup_containment's 30x point.
    assert(t10 <= 25.0 * t1 + 10.0,
      f"job runner t(10x)=$t10%.1fs vs t(1x)=$t1%.1fs — super-linear blowup")
    assert(t30 <= 7.5 * t10 + 10.0,
      f"job runner t(30x)=$t30%.1fs vs t(10x)=$t10%.1fs — growth outside the linear band")
    // deployment-level plan budget (VERDICT r12 item 8): the total
    // shuffle-Exchange count across every action of the whole chain is a
    // scale-invariant ceiling. AQE may legitimately REPLACE a shuffle
    // with a broadcast at small scale (count drops), so the pin is a
    // budget, not an equality; the action count IS structural and must
    // not move with data volume at all.
    // measured 136/140/140 at 1×/10×/30× (AQE broadcasts 4 exchanges
    // away at 1×); the pin is the CURRENT shape + headroom for listener
    // jitter, lowered like every PlanBudget when a plan improves
    val ShuffleBudget = 150
    Seq(("1x", x1), ("10x", x10), ("30x", x30)).foreach { case (s, x) =>
      assert(x <= ShuffleBudget, s"runner chain at $s spends $x exchanges > budget $ShuffleBudget")
    }
    assert(a10 == a1 && a30 == a1,
      s"action count must be scale-invariant: $a1/$a10/$a30")
  }

  // r16: the web-graph maintenance FULL loop at 10x crawl — extraction
  // scales with the documents, the edge merge with the batch, and every
  // power step stays hosts-bounded (the amplified ids keep the same 16
  // hosts, so the rank state does not grow at all: the point of
  // host-level authority at 100 TB).
  test("web-graph maintenance full loop absorbs 10x crawl sub-quadratically", Soak) {
    def run(docs: DataFrame): Double = {
      val t0 = System.nanoTime()
      graft.text.WebGraphMaintenance.maintenanceBatchFrom(docs)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    run(baseDocs) // warm
    val t1 = Seq.fill(3)(run(baseDocs)).sorted.apply(1)
    val t10 = run(bigDocs)
    info(f"webgraph_maintenance: t1=$t1%.1fs t10=$t10%.1fs ratio=${t10 / t1}%.1f")
    assert(t10 <= 25.0 * t1 + 10.0,
      f"web-graph maintenance t(10x)=$t10%.1fs vs t(1x)=$t1%.1fs — super-linear blowup")
  }

  // r16: graph-ANN build + search at 10x corpus — the seed block and the
  // entry set stay FIXED-size, every round is batch-sized beam searches
  // against the degree-bounded adjacency, and the serving walk's budget
  // is per-query-bounded; cost must track the insert volume, not the
  // pair count. (No textual shuffle pin: the build localCheckpoints per
  // round, the lsh_incremental rule.)
  test("knn_graph build+search absorbs 10x corpus sub-quadratically", Soak) {
    def run(emb: DataFrame): Double = {
      val t0 = System.nanoTime()
      graft.sim.KnnGraph.graphTopK(emb)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    run(baseEmb) // warm
    val t1 = Seq.fill(3)(run(baseEmb)).sorted.apply(1)
    val t10 = run(bigEmb)
    info(f"knn_graph: t1=$t1%.1fs t10=$t10%.1fs ratio=${t10 / t1}%.1f")
    assert(t10 <= 25.0 * t1 + 10.0,
      f"knn_graph t(10x)=$t10%.1fs vs t(1x)=$t1%.1fs — super-linear blowup")
  }
}
