package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) tokenizer trainer (r16, VERDICT
  * item 4) — the second published tokenizer family beside the BPE
  * trainer in [[TextBpe]]: seed a substring vocabulary, then run N
  * fixed EM+prune rounds (hard-EM: each round Viterbi-segments every
  * distinct word under the current piece scores, re-estimates counts
  * from the segmentations, and prunes the multi-char tail back to the
  * cap), exactly the Kudo 2018 training shape with the stochastic
  * pieces made deterministic.
  *
  * Determinism contract, mirrored term-for-term by the SQL twins:
  *   - the working set is the DISTINCT-WORD table (the bpeTrain rule:
  *     that is what real tokenizer trainers hold), bounded by the
  *     `maxWordLen` filter plus the same `minCount` frequency floor and
  *     `maxWords` top-K cap bpeTrain exposes (r17) — both applied
  *     DISTRIBUTED before the collect, so the driver working set and
  *     every EM round are ≤ maxWords rows at any corpus size;
  *   - piece scores are log-probs in SCALED BIGINT: ln() is rounded to
  *     9 dp immediately (the cross-engine transcendental rule), the
  *     difference of two such roundings is exact in double, and the
  *     ×1e9 round-to-integer lands far from any half boundary — so the
  *     Viterbi DP sums and compares exact integers, order-free;
  *   - Viterbi ties break (score DESC, backpointer ASC);
  *   - the prune keeps ALL single-char pieces (totality: every word
  *     stays segmentable) and the top `vocabCap` multi-char pieces by
  *     (usage DESC, piece ASC); re-estimated counts are usage + 1
  *     (add-one smoothing — no ln(0), pieces the Viterbi ignored decay
  *     instead of exploding).
  *
  * Scale shape: the corpus is touched once for word counts (one
  * hash aggregation) and once per served encode (a broadcast join of
  * the distinct-word segmentation table onto the exploded corpus);
  * every EM round is arithmetic over the bounded vocab × distinct-word
  * tables. The ln/round arithmetic runs IN Spark SQL (a vocab-sized
  * frame round-trip) so both engines sit on the proven
  * `round(ln(x), 9)` seam — the driver itself only ever compares exact
  * integers.
  */
object Unigram {
  val MaxWordLen = 10
  val MaxPieceLen = 5
  val VocabCap = 80
  val MinPieceFreq = 2L
  val Iters = 2

  /** The SQL-spliceable score expression: scaled-BIGINT log-prob of
    * `cnt` against total expression `$tot` (identical text both
    * engines; Spark `ln`/`round` ≡ DuckDB `ln`/`round` at this seam).
    */
  private def scoreExprSql(cnt: String, tot: String): String =
    s"CAST(round((round(ln(CAST($cnt AS DOUBLE)), 9) - round(ln(CAST($tot AS DOUBLE)), 9)) * 1000000000.0, 0) AS BIGINT)"

  /** Bounded distinct-word table, deterministically ordered. The bound
    * is applied DISTRIBUTED, before anything reaches the driver (r17,
    * the bpeTrain discipline the r16 verdict asked for): `minCount` is a
    * frequency floor on the aggregated counts, `maxWords` a top-K cap by
    * (f DESC, word) — orderBy+limit plans as TakeOrdered, never a
    * single-partition sort — so the driver working set (and every
    * EM round's Viterbi loop over it) is ≤ maxWords rows no matter the
    * corpus size. Defaults are off, like bpeTrain's: the sf corpora are
    * small and the registered queries' outputs stay bit-identical;
    * UnigramSpec pins the floor/cap effects.
    */
  private def wordTable(documents: DataFrame,
      minCount: Long, maxWords: Int): Array[(String, Long)] = {
    val counted = documents
      .select(explode(TextOps.toks(col("text"))).as("word"))
      .filter(length(col("word")).between(1, MaxWordLen))
      .groupBy("word").agg(count(lit(1)).as("f"))
      .filter(col("f") >= minCount)
    val capped =
      if (maxWords == Int.MaxValue) counted
      else counted.orderBy(col("f").desc, col("word")).limit(maxWords)
    capped.orderBy("word")
      .collect().map(r => (r.getString(0), r.getLong(1)))
  }

  /** Seed counts: every substring occurrence of length 1..MaxPieceLen,
    * weighted by word frequency (an occurrence per start position —
    * the standard suffix-array seed, brute-forced over the bounded
    * word table).
    */
  private def seedVocab(words: Array[(String, Long)]): Seq[(String, Long)] = {
    val m = scala.collection.mutable.Map.empty[String, Long]
    for {
      (w, f) <- words
      i <- 0 until w.length
      l <- 1 to MaxPieceLen
      if i + l <= w.length
    } m.updateWith(w.substring(i, i + l))(c => Some(c.getOrElse(0L) + f))
    val (chars, multi) = m.toSeq.partition(_._1.length == 1)
    val kept = multi.filter(_._2 >= MinPieceFreq)
      .sortBy { case (p, c) => (-c, p) }.take(VocabCap)
    chars ++ kept
  }

  /** Piece scores through Spark SQL (the proven ln/round seam): the
    * vocab-sized frame goes up, scaled-BIGINT log-probs come back.
    */
  private def scoresOf(spark: SparkSession,
      vocab: Seq[(String, Long)]): Map[String, Long] = {
    import spark.implicits._
    val total = vocab.map(_._2).sum
    vocab.toDF("piece", "cnt")
      .select(col("piece"),
        expr(scoreExprSql("cnt", total.toString)).as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Viterbi segmentation of one word under integer piece scores —
    * ties break (score DESC, backpointer ASC), the SQL twin's
    * ROW_NUMBER rule.
    */
  private def viterbi(w: String, score: Map[String, Long]): Seq[String] = {
    val n = w.length
    val best = Array.fill(n + 1)(Long.MinValue)
    val bp = Array.fill(n + 1)(-1)
    best(0) = 0L
    for (j <- 1 to n; i <- math.max(0, j - MaxPieceLen) until j)
      if (best(i) != Long.MinValue)
        score.get(w.substring(i, j)).foreach { s =>
          if (best(i) + s > best(j)) { best(j) = best(i) + s; bp(j) = i }
        }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pos = n
    while (pos > 0) { out += w.substring(bp(pos), pos); pos = bp(pos) }
    out.toSeq
  }

  /** One EM+prune round: Viterbi counts under the current scores, then
    * the prune/smooth re-estimate.
    */
  private def emStep(spark: SparkSession, words: Array[(String, Long)],
      vocab: Seq[(String, Long)]): Seq[(String, Long)] = {
    val sc = scoresOf(spark, vocab)
    val usage = scala.collection.mutable.Map.empty[String, Long]
    for ((w, f) <- words; p <- viterbi(w, sc))
      usage.updateWith(p)(c => Some(c.getOrElse(0L) + f))
    val chars = vocab.filter(_._1.length == 1)
      .map { case (p, _) => (p, usage.getOrElse(p, 0L) + 1L) }
    val multi = vocab.filter(_._1.length >= 2)
      .flatMap { case (p, _) => usage.get(p).filter(_ >= 1L).map(p -> _) }
      .sortBy { case (p, u) => (-u, p) }.take(VocabCap)
      .map { case (p, u) => (p, u + 1L) }
    chars ++ multi
  }

  private def trainVocab(documents: DataFrame, iters: Int,
      minCount: Long, maxWords: Int): (Array[(String, Long)], Seq[(String, Long)]) = {
    val spark = documents.sparkSession
    val words = wordTable(documents, minCount, maxWords)
    var vocab = seedVocab(words)
    for (_ <- 1 to iters) vocab = emStep(spark, words, vocab)
    (words, vocab)
  }

  /** The registered trainer query: the vocabulary after `iters`
    * EM+prune rounds, with each piece's re-estimated count and final
    * scaled-BIGINT score.
    */
  def unigramTrain(documents: DataFrame, iters: Int = Iters,
      minCount: Long = 1L, maxWords: Int = Int.MaxValue): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val (_, vocab) = trainVocab(documents, iters, minCount, maxWords)
    val total = vocab.map(_._2).sum
    vocab.toDF("piece", "cnt")
      .select(col("piece"),
        length(col("piece")).cast("int").as("piece_len"),
        col("cnt"),
        expr(scoreExprSql("cnt", total.toString)).as("score_scaled"))
      .orderBy("piece")
  }

  /** The served encoder: Viterbi segmentation of the corpus under the
    * trained vocabulary, rolled up per document (words beyond
    * `MaxWordLen` fall outside the trained model and are excluded,
    * both engines). The distinct-word segmentation table broadcasts
    * onto the exploded corpus — the corpus itself is touched once.
    */
  def unigramEncodeStats(documents: DataFrame, iters: Int = Iters,
      minCount: Long = 1L, maxWords: Int = Int.MaxValue): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val (words, vocab) = trainVocab(documents, iters, minCount, maxWords)
    val sc = scoresOf(spark, vocab)
    val enc = words.map { case (w, _) => (w, viterbi(w, sc).length.toLong) }
      .toSeq.toDF("word", "n_pieces")
    documents.filter(col("doc_id").isNotNull)
      .select(col("doc_id"), explode(TextOps.toks(col("text"))).as("word"))
      .filter(length(col("word")).between(1, MaxWordLen))
      .join(broadcast(enc), "word")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_words"),
        sum("n_pieces").as("n_pieces"),
        sum(length(col("word"))).cast("bigint").as("n_chars"))
      .select(col("doc_id"), col("n_words"), col("n_pieces"), col("n_chars"),
        (col("n_pieces").cast("double") / col("n_words")).as("pieces_per_word"))
      .orderBy("doc_id")
  }

  // ───────────────────────── DuckDB twins ──────────────────────────────

  /** Forward DP + traceback for one Viterbi pass: emits `${p}b0..bN`
    * (best integer score + backpointer per (word, end-position), ties
    * (s DESC, i0 ASC)), `${p}bp` (the backpointer table), and
    * `${p}r1..rN` (the traceback, one piece per row). Scores come from
    * `$sc` (piece, s).
    */
  private def dpSql(p: String, sc: String): String = {
    val bCtes = (1 to MaxWordLen).map { j =>
      val legs = (math.max(0, j - MaxPieceLen) until j).map { i =>
        s"""SELECT b.word, b.f, b.s + v.s AS s, $i AS i0
           |      FROM ${p}b$i b JOIN $sc v
           |        ON v.piece = substr(b.word, ${i + 1}, ${j - i})
           |      WHERE length(b.word) >= $j""".stripMargin
      }.mkString("\n      UNION ALL\n")
      s"""${p}b$j AS MATERIALIZED (
         |  SELECT word, f, s, i0 FROM (
         |    SELECT word, f, s, i0,
         |      ROW_NUMBER() OVER (PARTITION BY word ORDER BY s DESC, i0) AS rk
         |    FROM ($legs))
         |  WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    val bpUnion = (1 to MaxWordLen)
      .map(j => s"SELECT word, $j AS pos, i0 FROM ${p}b$j")
      .mkString("\n  UNION ALL ")
    val rCtes = (1 to MaxWordLen).map { k =>
      s"""${p}r$k AS MATERIALIZED (
         |  SELECT r.word, r.f, b.i0 AS pos,
         |    substr(r.word, b.i0 + 1, r.pos - b.i0) AS piece
         |  FROM ${p}r${k - 1} r JOIN ${p}bp b
         |    ON b.word = r.word AND b.pos = r.pos
         |  WHERE r.pos > 0)""".stripMargin
    }.mkString(",\n")
    s"""${p}b0 AS (SELECT word, f, CAST(0 AS BIGINT) AS s, 0 AS i0 FROM wd),
       |$bCtes,
       |${p}bp AS MATERIALIZED (
       |  $bpUnion),
       |${p}r0 AS (SELECT word, f, length(word) AS pos FROM wd),
       |$rCtes""".stripMargin
  }

  private def piecesUnion(p: String): String =
    (1 to MaxWordLen).map(k => s"SELECT word, f, piece FROM ${p}r$k")
      .mkString("\n    UNION ALL ")

  /** The shared trainer chain: distinct words `wd`, seed vocab `v0`,
    * then per round t the scores `g{t}sc`, the DP, the usage counts
    * `g{t}u`, and the pruned/smoothed vocab `v{t}`.
    */
  private def trainCtes(iters: Int, minCount: Long = 1L,
      maxWords: Int = Int.MaxValue): String = {
    // the wordTable floor/cap, mirrored (default-off → the CTE text and
    // its result are unchanged; active → HAVING floor + (f DESC, word)
    // top-K, identical to the Spark side's distributed bound)
    val floor = if (minCount <= 1L) "" else s" HAVING COUNT(*) >= $minCount"
    val cap = if (maxWords == Int.MaxValue) identity[String] _
      else (body: String) =>
        s"""SELECT word, f FROM (
           |  SELECT word, f, ROW_NUMBER() OVER (ORDER BY f DESC, word) AS wrk
           |  FROM ($body))
           |WHERE wrk <= $maxWords""".stripMargin
    val emCtes = (1 to iters).map { t =>
      s"""g${t}tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM v${t - 1}),
         |g${t}sc AS MATERIALIZED (
         |  SELECT piece, ${scoreExprSql("cnt", "total")} AS s
         |  FROM v${t - 1} CROSS JOIN g${t}tot),
         |${dpSql(s"g${t}", s"g${t}sc")},
         |g${t}u AS MATERIALIZED (
         |  SELECT piece, CAST(SUM(f) AS BIGINT) AS u FROM (
         |    ${piecesUnion(s"g$t")})
         |  GROUP BY 1),
         |v$t AS MATERIALIZED (
         |  SELECT piece, u + 1 AS cnt FROM (
         |    SELECT v.piece, COALESCE(u.u, 0) AS u
         |    FROM v${t - 1} v LEFT JOIN g${t}u u USING (piece)
         |    WHERE length(v.piece) = 1
         |    UNION ALL
         |    SELECT piece, u FROM (
         |      SELECT u.piece, u.u,
         |        ROW_NUMBER() OVER (ORDER BY u.u DESC, u.piece) AS rk
         |      FROM g${t}u u JOIN v${t - 1} v USING (piece)
         |      WHERE length(u.piece) >= 2)
         |    WHERE rk <= $VocabCap))""".stripMargin
    }.mkString(",\n")
    val wdBody = cap(
      "SELECT word, CAST(COUNT(*) AS BIGINT) AS f FROM (\n" +
        s"    SELECT unnest(${TextOps.toksSql()}) AS word\n" +
        "    FROM documents)\n" +
        s"  WHERE length(word) BETWEEN 1 AND $MaxWordLen GROUP BY 1$floor")
    s"""wd AS MATERIALIZED (
       |  $wdBody),
       |sub AS (
       |  SELECT substr(w.word, CAST(s.i AS INTEGER), CAST(l.v AS INTEGER)) AS piece, w.f
       |  FROM wd w
       |    CROSS JOIN range(1, ${MaxWordLen + 1}) s(i)
       |    CROSS JOIN range(1, ${MaxPieceLen + 1}) l(v)
       |  WHERE s.i + l.v - 1 <= length(w.word)),
       |sc0 AS (SELECT piece, CAST(SUM(f) AS BIGINT) AS cnt FROM sub GROUP BY 1),
       |v0 AS MATERIALIZED (
       |  SELECT piece, cnt FROM sc0 WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) AS rk
       |    FROM sc0 WHERE length(piece) >= 2 AND cnt >= $MinPieceFreq)
       |  WHERE rk <= $VocabCap),
       |$emCtes""".stripMargin
  }

  /** DuckDB twin of [[unigramTrain]]. */
  def unigramTrainSql(iters: Int = Iters, minCount: Long = 1L,
      maxWords: Int = Int.MaxValue): String =
    s"""WITH ${trainCtes(iters, minCount, maxWords)},
       |ftot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM v$iters)
       |SELECT piece, CAST(length(piece) AS INTEGER) AS piece_len, cnt,
       |  ${scoreExprSql("cnt", "total")} AS score_scaled
       |FROM v$iters CROSS JOIN ftot
       |ORDER BY piece""".stripMargin

  /** DuckDB twin of [[unigramEncodeStats]]: the trainer chain, one
    * more scored DP under the final vocab, the per-word piece counts,
    * and the per-document rollup.
    */
  def unigramEncodeStatsSql(iters: Int = Iters, minCount: Long = 1L,
      maxWords: Int = Int.MaxValue): String =
    s"""WITH ${trainCtes(iters, minCount, maxWords)},
       |fxtot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM v$iters),
       |fxsc AS MATERIALIZED (
       |  SELECT piece, ${scoreExprSql("cnt", "total")} AS s
       |  FROM v$iters CROSS JOIN fxtot),
       |${dpSql("fx", "fxsc")},
       |enc AS MATERIALIZED (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS n_pieces FROM (
       |    ${piecesUnion("fx")})
       |  GROUP BY 1),
       |dw AS (
       |  SELECT doc_id, word FROM (
       |    SELECT doc_id,
       |      unnest(${TextOps.toksSql()}) AS word
       |    FROM documents WHERE doc_id IS NOT NULL)
       |  WHERE length(word) BETWEEN 1 AND $MaxWordLen)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(e.n_pieces) AS BIGINT) AS n_pieces,
       |  CAST(SUM(length(word)) AS BIGINT) AS n_chars,
       |  CAST(SUM(e.n_pieces) AS DOUBLE) / COUNT(*) AS pieces_per_word
       |FROM dw JOIN enc e USING (word)
       |GROUP BY 1 ORDER BY 1""".stripMargin
}
