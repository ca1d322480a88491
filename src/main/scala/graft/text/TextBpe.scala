package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tokenizer-training layer: vocabulary coverage, BPE merge-pair stats, the fixed-iteration BPE trainer, encode stats (live and pinned).
  * Split out of the former TextOps.scala monolith (r16) with zero
  * behavior change; mixed into [[TextOps]].
  */
private[graft] trait TextBpe extends TextSimhash {
  def vocabCoverage(documents: DataFrame, topK: Int = 200): DataFrame = {
    val counts = documents
      .select(explode(toks(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("total"))
    val top = counts.orderBy(col("n").desc, col("token")).limit(topK)
    val w = Window.orderBy(col("n").desc, col("token"))
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w))
      .withColumn("cum_tokens", sum(col("n")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("rank"), col("token"), col("n"),
        col("cum_tokens"),
        (col("cum_tokens").cast("double") / col("total")).as("cum_share"))
      .orderBy("rank")
  }

  /** BPE merge-pair counting — the argmax step of byte-pair-encoding
    * tokenizer training: adjacent character-pair frequencies over the
    * corpus, weighted by word frequency. The heavy reduction happens
    * FIRST (corpus → word-frequency table, vocabulary-sized and
    * sublinear in corpus); the char-pair explosion then runs over
    * distinct words only, so a 100 TB corpus pays one word-count
    * aggregation plus work proportional to |vocab| × word length. The
    * winning pair is what a BPE trainer would merge next; the top-k
    * table is the trainer's working set.
    */
  def bpeMergePairs(documents: DataFrame, topK: Int = 50): DataFrame = {
    val words = documents
      .select(explode(toks(col("text"))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("n"))
      .filter(length(col("word")) >= 2)
    words
      .select(col("n"), explode(expr(
        "transform(sequence(1, length(word) - 1), " +
          "i -> concat(substr(word, i, 1), substr(word, i + 1, 1)))")).as("pair"))
      .groupBy("pair")
      .agg(sum(col("n")).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("pair"))
      .limit(topK)
  }

  def bpeMergePairsSql(topK: Int = 50): String =
    raw"""WITH w AS (
       |  SELECT unnest(${toksSql()}) AS word
       |  FROM documents),
       |wc AS (SELECT word, COUNT(*) AS n FROM w GROUP BY 1 HAVING len(word) >= 2),
       |p AS (SELECT n, unnest(list_transform(generate_series(1, len(word) - 1),
       |        i -> substr(word, i, 1) || substr(word, i + 1, 1))) AS pair
       |      FROM wc)
       |SELECT pair, CAST(SUM(n) AS BIGINT) AS n_occurrences
       |FROM p GROUP BY 1
       |ORDER BY n_occurrences DESC, pair LIMIT $topK""".stripMargin

  /** Full BPE training — the iterative loop on top of the
    * [[bpeMergePairs]] argmax: repeatedly merge the most frequent
    * adjacent symbol pair and re-count. The corpus-scale work is the ONE
    * distributed word-count aggregation; the merge loop then runs on the
    * driver over the vocabulary-sized working set (exactly how real BPE
    * trainers work — the corpus is only ever touched once, the
    * iterations touch the vocab table). Ties break lexicographically;
    * output is the ordered merge table a tokenizer ships.
    *
    * Scale shape: the driver working set is the DISTINCT-WORD table, and
    * on 100 TB of noisy web text that table can reach billions of rows —
    * so the collect is bounded BEFORE it leaves the cluster, the same
    * two knobs real BPE trainers (GPT-2, SentencePiece) expose:
    * `minCount` drops hapax/noise words below a frequency floor, and
    * `maxVocab` caps the working set to the top-K words by
    * (frequency desc, word asc) — a deterministic distributed top-K, not
    * a full sort. Both default to "off" (floor 1, no cap), under which
    * the merge table is the uncapped corpus optimum; the spec pins how
    * the floor changes merges (dropped words stop voting) and that a
    * generous cap is a no-op. Oracle-exact: DuckDB replays the trainer
    * merge-for-merge via [[bpeTrainSql]]'s unrolled per-step CTEs.
    */
  def bpeTrain(documents: DataFrame, numMerges: Int = 20,
      minCount: Long = 1L, maxVocab: Int = Int.MaxValue): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val counted = documents
      .select(explode(toks(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .filter(length(col("word")) >= 2)
      .filter(col("n") >= minCount)
    val capped = // distributed TopK (orderBy+limit), never a driver-side sort
      if (maxVocab == Int.MaxValue) counted
      else counted.orderBy(col("n").desc, col("word")).limit(maxVocab)
    val vocab0: Array[(Array[String], Long)] = capped
      .orderBy("word") // deterministic driver-side iteration order
      .as[(String, Long)].collect()
      .map { case (w, n) => (w.split("").filter(_.nonEmpty), n) }
    var vocab = vocab0
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    while (step <= numMerges) {
      val counts = scala.collection.mutable.LinkedHashMap.empty[(String, String), Long]
      for ((syms, n) <- vocab; i <- 0 until syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        counts(p) = counts.getOrElse(p, 0L) + n
      }
      if (counts.isEmpty) step = numMerges + 1
      else {
        val ((l, r), c) = counts.toSeq
          .maxBy { case ((l, r), c) => (c, l, r) } (
            Ordering.Tuple3(Ordering.Long, Ordering.String.reverse, Ordering.String.reverse))
        merges += ((step, l, r, c))
        vocab = vocab.map { case (syms, n) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
              out += (l + r); i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.toArray, n)
        }
        step += 1
      }
    }
    merges.toSeq.toDF("step", "left", "right", "pair_count")
  }

  /** DuckDB replay of [[bpeTrain]], merge-for-merge — what promotes the
    * trainer from rows-only to oracle-exact. Aggregation over a
    * recursive CTE's working table is off-limits in SQL, but the loop is
    * BOUNDED (`numMerges`), so it unrolls into `numMerges` chained CTE
    * triples: p_k counts adjacent symbol pairs weighted by word
    * frequency, b_k takes the argmax with the trainer's exact tie-break
    * (count desc, left asc, right asc), and v_k applies the merge. Each
    * word's symbol state is a delimited string `|s1||s2||…|` — symbols
    * never contain `|` (whitespace-tokenized words) — so "merge all
    * non-overlapping occurrences left-to-right" is ONE `replace()` of
    * `|l||r|` with `|lr|`: the doubled delimiter is load-bearing, since
    * the replacement's trailing `|` is exactly the leading `|` the next
    * adjacent occurrence needs (`|a||a||a||a|` → `|aa||aa|`, matching
    * the trainer's skip-after-merge scan), while single delimiters would
    * either miss back-to-back occurrences or match across symbol
    * boundaries. `MATERIALIZED` is required: v_{k-1} is referenced twice
    * per step, and inlined CTEs would re-expand the whole chain
    * exponentially. `minCount`/`maxVocab` mirror the trainer's
    * driver-collect bound.
    */
  def bpeTrainSql(numMerges: Int = 20,
      minCount: Long = 1L, maxVocab: Int = Int.MaxValue): String = {
    val cap = if (maxVocab == Int.MaxValue) "" else s" ORDER BY n DESC, word LIMIT $maxVocab"
    val v0 =
      raw"""v0 AS MATERIALIZED (
         |  SELECT '|' || array_to_string(list_transform(generate_series(1, len(word)), i -> word[i]), '||') || '|' AS s, n
         |  FROM (
         |    SELECT word, COUNT(*) AS n FROM (
         |      SELECT unnest(${toksSql()}) AS word FROM documents)
         |    GROUP BY 1 HAVING len(word) >= 2 AND COUNT(*) >= $minCount$cap))""".stripMargin
    val steps = (1 to numMerges).map { k =>
      s"""p$k AS MATERIALIZED (
         |  SELECT syms[i] AS l, syms[i + 1] AS r, SUM(n) AS c
         |  FROM (SELECT string_split(trim(s, '|'), '||') AS syms, n FROM v${k - 1}),
         |       unnest(generate_series(1, len(syms) - 1)) AS u(i)
         |  GROUP BY 1, 2),
         |b$k AS MATERIALIZED (SELECT $k AS step, l, r, c FROM p$k ORDER BY c DESC, l, r LIMIT 1),
         |v$k AS MATERIALIZED (
         |  SELECT replace(s, '|' || b.l || '||' || b.r || '|', '|' || b.l || b.r || '|') AS s, n
         |  FROM v${k - 1}, b$k b)""".stripMargin
    }
    val union = (1 to numMerges)
      .map(k => s"""SELECT step, l AS "left", r AS "right", CAST(c AS BIGINT) AS pair_count FROM b$k""")
      .mkString("\nUNION ALL\n")
    s"WITH $v0,\n${steps.mkString(",\n")}\nSELECT * FROM (\n$union\n) ORDER BY step"
  }

  /** BPE ENCODE — the apply side of [[bpeTrain]]: tokenize the corpus
    * with the trained merge table and report per-document token
    * accounting under the trained tokenizer (words, characters, BPE
    * tokens — the number that actually prices a document against a
    * training token budget). Standard greedy apply: repeatedly merge
    * the pair with the LOWEST merge rank present in the word, all
    * occurrences left-to-right — which replays training exactly, so a
    * word seen in training encodes to its trained representation.
    *
    * Scale shape: the merge table is vocabulary-sized and broadcast;
    * encoding runs once per DISTINCT word (the same corpus→vocab
    * reduction [[bpeTrain]] leans on — work ∝ |vocab| × word length,
    * not corpus size), then instances join back by word and fold per
    * doc. The per-word merge loop is genuine imperative iteration — the
    * one place a typed map beats column algebra — and it never touches
    * the corpus, only the vocab. Rows-only in the registry (trained
    * merges are not SQL-expressible); encode correctness is
    * spec-asserted by hand.
    */
  def bpeEncodeStats(documents: DataFrame, numMerges: Int = 20): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val ranks: Map[(String, String), Int] = bpeTrain(documents, numMerges)
      .select("step", "left", "right").as[(Int, String, String)].collect()
      .map { case (s, l, r) => (l, r) -> s }.toMap
    val bc = spark.sparkContext.broadcast(ranks)
    val encoded = documents
      .select(explode(toks(col("text"))).as("word")).distinct()
      .as[String].map { w =>
        var syms = w.split("").filter(_.nonEmpty)
        var done = syms.length < 2
        while (!done) {
          val rk = bc.value
          var best = Int.MaxValue
          var i = 0
          while (i < syms.length - 1) {
            val r = rk.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
            if (r < best) best = r
            i += 1
          }
          if (best == Int.MaxValue) done = true
          else {
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 &&
                rk.getOrElse((syms(i), syms(i + 1)), Int.MaxValue) == best) {
                out += (syms(i) + syms(i + 1)); i += 2
              } else { out += syms(i); i += 1 }
            }
            syms = out.toArray
            done = syms.length < 2
          }
        }
        (w, syms.length, syms.mkString(" "))
      }.toDF("word", "n_bpe", "encoding")
    documents.select(col("doc_id"), explode(toks(col("text"))).as("word"))
      .join(encoded, Seq("word"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_words"),
        sum(length(col("word"))).cast("long").as("n_chars_tok"),
        sum(col("n_bpe")).cast("long").as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  /** [[bpeEncodeStats]] at a PINNED merge table — the serving operating
    * point (a tokenizer's merge table is the canonical frozen model
    * artifact; corpora are encoded against it for the tokenizer's whole
    * life), and the point at which BPE ENCODE becomes SQL-expressible:
    * with the merges as literals, the greedy apply is a pure function
    * of each word, and a DuckDB RECURSIVE CTE over symbol lists replays
    * it merge-for-merge ([[bpeEncodeStatsPinnedSql]]).
    *
    * Apply contract (mirrored exactly by the oracle): per iteration,
    * find the LOWEST merge rank present among adjacent symbol pairs and
    * merge its LEFTMOST occurrence, then rescan. One occurrence per
    * iteration (not one pass per rank) keeps the rebuild a pure
    * slice/concat — no sequential skip state — which is what makes the
    * recursion expressible; for BPE the fixpoint tokenization is the
    * standard greedy encoding either way, and the batch-pass form
    * remains spec-asserted through [[bpeEncodeStats]].
    */
  def bpeEncodeStatsPinned(
      documents: DataFrame, merges: Seq[(Int, String, String)]): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val ranks: Map[(String, String), Int] =
      merges.map { case (s, l, r) => (l, r) -> s }.toMap
    val bc = spark.sparkContext.broadcast(ranks)
    val encoded = documents
      .select(explode(toks(col("text"))).as("word")).distinct()
      .as[String].map { w =>
        var syms = w.split("").filter(_.nonEmpty)
        var done = syms.length < 2
        while (!done) {
          val rk = bc.value
          var best = Int.MaxValue
          var pos = -1
          var i = 0
          while (i < syms.length - 1) {
            val r = rk.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
            if (r < best) { best = r; pos = i } // strict < → leftmost of the best rank
            i += 1
          }
          if (best == Int.MaxValue) done = true
          else {
            syms = (syms.take(pos) :+ (syms(pos) + syms(pos + 1))) ++ syms.drop(pos + 2)
            done = syms.length < 2
          }
        }
        (w, syms.length)
      }.toDF("word", "n_bpe")
    documents.select(col("doc_id"), explode(toks(col("text"))).as("word"))
      .join(encoded, Seq("word"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_words"),
        sum(length(col("word"))).cast("long").as("n_chars_tok"),
        sum(col("n_bpe")).cast("long").as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[bpeEncodeStatsPinned]]: the greedy apply as a
    * RECURSIVE CTE over per-word symbol LISTS — per step, adjacent-pair
    * ranks via a literal CASE chain inside a list_transform lambda,
    * best = list_min, leftmost position = list_position, and the merge
    * is slice ∥ [l||r] ∥ slice. Rows recurse only while a mergeable
    * pair remains; the fixpoint row per word (no pair in the table)
    * joins back to token instances for the per-doc accounting.
    */
  def bpeEncodeStatsPinnedSql(merges: Seq[(Int, String, String)]): String = {
    def q(s: String) = s.replace("'", "''")
    val rankCase = "CASE " + merges.map { case (st, l, r) =>
      s"WHEN s[i] = '${q(l)}' AND s[i + 1] = '${q(r)}' THEN $st"
    }.mkString(" ") + " ELSE 999999 END"
    raw"""WITH RECURSIVE w AS (
       |  SELECT DISTINCT unnest(${toksSql()}) AS word
       |  FROM documents),
       |base AS (
       |  -- no len filter: an empty token (whitespace-only doc) must
       |  -- survive to fin with s = [] / n_bpe = 0, or the final inner
       |  -- join would silently drop the whole document row that the
       |  -- Spark side still counts
       |  SELECT word,
       |    list_transform(generate_series(1, len(word)), i -> substr(word, i, 1)) AS s
       |  FROM w),
       |enc AS (
       |  SELECT word, s FROM base
       |  UNION ALL
       |  SELECT word,
       |    list_concat(list_concat(
       |      list_slice(s, 1, pos - 1),
       |      [s[pos] || s[pos + 1]]),
       |      list_slice(s, pos + 2, len(s))) AS s
       |  FROM (
       |    SELECT word, s,
       |      COALESCE(list_min(rks), 999999) AS best,
       |      list_position(rks, list_min(rks)) AS pos
       |    FROM (
       |      SELECT word, s,
       |        list_transform(generate_series(1, len(s) - 1), i -> $rankCase) AS rks
       |      FROM enc) rk0) st0
       |  WHERE best <> 999999),
       |fin AS (
       |  SELECT word, len(s) AS n_bpe
       |  FROM (
       |    SELECT word, s,
       |      COALESCE(list_min(
       |        list_transform(generate_series(1, len(s) - 1), i -> $rankCase)),
       |        999999) AS best
       |    FROM enc) f0
       |  WHERE best = 999999),
       |tok AS (
       |  SELECT doc_id, unnest(${toksSql()}) AS word
       |  FROM documents)
       |SELECT t.doc_id,
       |  COUNT(*) AS n_words,
       |  CAST(SUM(len(t.word)) AS BIGINT) AS n_chars_tok,
       |  CAST(SUM(f.n_bpe) AS BIGINT) AS n_bpe_tokens
       |FROM tok t JOIN fin f USING (word)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  def vocabCoverageSql(topK: Int = 200): String =
    raw"""WITH tok AS (
       |  SELECT unnest(${toksSql()}) AS token
       |  FROM documents),
       |counts AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY 1),
       |total AS (SELECT SUM(n) AS total FROM counts),
       |top AS (SELECT token, n FROM counts ORDER BY n DESC, token LIMIT $topK)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS INTEGER) AS rank,
       |  token, n,
       |  CAST(SUM(n) OVER (ORDER BY n DESC, token
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
       |  CAST(SUM(n) OVER (ORDER BY n DESC, token
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / t.total AS cum_share
       |FROM top, total t
       |ORDER BY rank""".stripMargin

}
