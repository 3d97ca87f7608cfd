package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.GraftExtensions
import graft.sources.Tables

/** Text-analysis operators for training-data pipelines over `documents`:
  * per-doc statistics + quality score, stopword-profile language scoring,
  * and content fingerprinting. Every operator is a narrow per-row
  * projection (no shuffle, fully codegen'd — at 100 TB these run at scan
  * speed), and every expression has an exactly-equivalent DuckDB form so
  * the whole module is oracle-gated.
  *
  * Honesty note on language-ID: the synthetic corpus draws ALL languages
  * from one shared English-ish vocabulary (verified: de/fr/es/zh docs
  * contain the same words as en), so content-based identification cannot
  * recover the `lang` column here. The operator ships the real machinery —
  * per-language stopword-profile hit ratios + deterministic argmax — with
  * profiles that would be trained/curated on a real corpus at scale.
  */
object Text {
  /** Tiny per-language function-word profiles (curated, deterministic). */
  val Profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "de"),
    "es" -> Seq("el", "los", "las", "y", "es", "un", "en"),
  )
  /** BPE-ish pre-tokenizer: letter runs | digit runs | single symbol.
    * Same semantics in Java regex and RE2. */
  val TokenPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  private def norm(t: Column): Column = graft.functions.Hashes.normText(t)
  private[operators] def words(t: Column): Column = split(norm(t), " ")

  private def hitCount(ws: Column, profile: Seq[String]): Column =
    size(filter(ws, w => w.isin(profile: _*)))

  /** Per-doc statistics + a bounded [0,1] quality score (the standard
    * length/stopword/punctuation gates used for corpus filtering).
    * `keep` carries extra input columns through the projection — a
    * caller needing (stats + source/lang) gets them in the SAME pass
    * instead of a corpus self-join to reattach them. */
  def stats(docs: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val t = norm(col("text"))
    val ws = words(col("text"))
    docs.select(col("doc_id") +: keep.map(col) ++: Seq(
        length(col("text")).cast("long").as("n_chars"),
        size(ws).cast("long").as("n_words"),
        size(regexp_extract_all(t, lit(TokenPattern), lit(0))).cast("long").as("n_tokens"),
        (length(regexp_replace(t, "[^ ]", "")) + lit(1)).cast("long").as("n_spaces_p1"),
        length(regexp_replace(t, "[^.,;:!?]", "")).cast("long").as("n_punct"),
        hitCount(ws, Profiles.head._2).cast("long").as("n_stop")): _*)
      .withColumn("avg_word_len",
        (col("n_chars") - col("n_spaces_p1") + lit(1)).cast("double") / col("n_words"))
      .withColumn("punct_ratio", col("n_punct").cast("double") / col("n_chars"))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_words"))
      .withColumn("quality",
        when(col("n_words").between(20, 1000), 0.4).otherwise(0.0)
          + when(col("stop_ratio") >= 0.01, 0.3).otherwise(0.0)
          + when(col("punct_ratio") <= 0.1, 0.3).otherwise(0.0))
      .drop("n_spaces_p1")
  }

  def qStats(s: SparkSession, dir: String): DataFrame =
    stats(Tables.balanced(Tables.documents(s, dir))).orderBy("doc_id")

  /** The quality-gate count columns over (`text`, normalized alias `t`) —
    * ONE definition shared with the curation-pipeline oracle; a drifted
    * hand copy of this arithmetic would silently desync the two. */
  private[operators] def qualityCountsSql(t: String): String = {
    val stopList = Profiles.head._2.map(w => s"'$w'").mkString(", ")
    s"""CAST(length(text) AS BIGINT) AS n_chars,
       |         CAST(len(string_split($t, ' ')) AS BIGINT) AS n_words,
       |         CAST(length(regexp_replace($t, '[^.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
       |         CAST(len(list_filter(string_split($t, ' '), w -> w IN ($stopList))) AS BIGINT) AS n_stop""".stripMargin
  }

  /** The quality score over the [[qualityCountsSql]] columns — shared
    * with the curation oracle (same literals, same order: the double
    * sums agree bit-for-bit). */
  private[operators] val qualityArmsSql: String =
    """(CASE WHEN n_words BETWEEN 20 AND 1000 THEN 0.4 ELSE 0.0 END
      |        + CASE WHEN CAST(n_stop AS DOUBLE) / n_words >= 0.01 THEN 0.3 ELSE 0.0 END
      |        + CASE WHEN CAST(n_punct AS DOUBLE) / n_chars <= 0.1 THEN 0.3 ELSE 0.0 END)""".stripMargin

  def qStatsSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, text, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
       |  FROM documents),
       |base AS (
       |  SELECT doc_id,
       |         ${qualityCountsSql("t")},
       |         CAST(len(regexp_extract_all(t, '$TokenPattern')) AS BIGINT) AS n_tokens,
       |         CAST(length(regexp_replace(t, '[^ ]', '', 'g')) AS BIGINT) AS n_spaces
       |  FROM d)
       |SELECT doc_id, n_chars, n_words, n_tokens, n_punct, n_stop,
       |       CAST(n_chars - n_spaces AS DOUBLE) / n_words AS avg_word_len,
       |       CAST(n_punct AS DOUBLE) / n_chars AS punct_ratio,
       |       CAST(n_stop AS DOUBLE) / n_words AS stop_ratio,
       |       $qualityArmsSql AS quality
       |FROM base ORDER BY doc_id""".stripMargin

  /** Vocabulary set algebra between two sub-corpora: INTERSECT (shared
    * words) and both EXCEPT directions (source-exclusive words) — the
    * vocab-overlap question a corpus mixer actually asks. All three set
    * results come from ONE full-outer join of the pre-distincted sides
    * with presence flags: each corpus is reduced once, where three
    * literal `intersect`/`except` passes would re-distinct it three
    * times (measured 10 vs 5 exchanges; at 100 TB the corpus reduce IS
    * the cost). The oracle runs real INTERSECT/EXCEPT, so the set
    * semantics are still checked against the genuine operators. */
  def vocabSetOps(docs: DataFrame, srcA: String, srcB: String): DataFrame = {
    def vocab(src: String) = docs.filter(col("source") === src)
      .select(explode(words(col("text"))).as("w"))
      .distinct()
    val a = vocab(srcA).withColumn("in_a", lit(true))
    val b = vocab(srcB).withColumn("in_b", lit(true))
    a.join(b, Seq("w"), "full_outer")
      .select(col("w"),
        when(col("in_a") && col("in_b"), "both")
          .when(col("in_a"), "a_only").otherwise("b_only").as("op"))
  }

  def qVocabSetOps(s: SparkSession, dir: String): DataFrame =
    vocabSetOps(Tables.balanced(Tables.documents(s, dir)), "src0", "src1")
      .orderBy("op", "w")

  def qVocabSetOpsSql: String =
    """WITH v AS (
      |  SELECT source, unnest(string_split(
      |           trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
      |  FROM documents WHERE source IN ('src0', 'src1')),
      |a AS (SELECT DISTINCT w FROM v WHERE source = 'src0'),
      |b AS (SELECT DISTINCT w FROM v WHERE source = 'src1')
      |SELECT w, 'both' AS op FROM (SELECT w FROM a INTERSECT SELECT w FROM b)
      |UNION ALL
      |SELECT w, 'a_only' AS op FROM (SELECT w FROM a EXCEPT SELECT w FROM b)
      |UNION ALL
      |SELECT w, 'b_only' AS op FROM (SELECT w FROM b EXCEPT SELECT w FROM a)
      |ORDER BY op, w""".stripMargin

  /** Per-source quality deciles (ntile) — the bucketing step a curation
    * pipeline uses to mix training data by quality band ("drop the
    * bottom 2 deciles, upsample the top 1"). The ntile order carries a
    * doc_id tiebreak so bucket boundaries are total-order deterministic;
    * the per-bucket stats are min/max (order-free), never an avg of
    * doubles. One shuffle on source + the dim-sized final agg. */
  def deciles(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val st = stats(docs, keep = Seq("source"))
    val w = Window.partitionBy("source").orderBy(col("quality"), col("doc_id"))
    st.withColumn("decile", ntile(10).over(w))
      .groupBy("source", "decile")
      .agg(count(lit(1)).as("n"),
        min("quality").as("min_q"), max("quality").as("max_q"))
  }

  def qDeciles(s: SparkSession, dir: String): DataFrame =
    deciles(Tables.balanced(Tables.documents(s, dir))).orderBy("source", "decile")

  def qDecilesSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source, text,
       |         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
       |  FROM documents),
       |base AS (
       |  SELECT doc_id, source,
       |         ${qualityCountsSql("t")}
       |  FROM d),
       |q AS (SELECT doc_id, source, $qualityArmsSql AS quality FROM base),
       |t AS (SELECT source, quality,
       |             ntile(10) OVER (PARTITION BY source
       |                             ORDER BY quality, doc_id) AS decile
       |      FROM q)
       |SELECT source, decile, COUNT(*) AS n,
       |       MIN(quality) AS min_q, MAX(quality) AS max_q
       |FROM t GROUP BY source, decile
       |ORDER BY source, decile""".stripMargin

  /** Stopword-profile language scores + deterministic argmax (ties break
    * in profile declaration order). */
  def langId(docs: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val ws = words(col("text"))
    val scored = docs.select(
      col("doc_id") +: keep.map(col) ++: (size(ws).as("n") +:
        Profiles.map { case (lang, prof) =>
          hitCount(ws, prof).cast("double").as(s"hits_$lang")
        }): _*)
    val withScores = Profiles.foldLeft(scored) { case (d, (lang, _)) =>
      d.withColumn(s"score_$lang", col(s"hits_$lang") / col("n"))
    }
    // argmax with declaration-order tie-break: first profile in the CASE
    // chain whose score equals the max wins
    val maxScore = greatest(Profiles.map { case (l, _) => col(s"score_$l") }: _*)
    val predicted = Profiles.foldRight(lit(null).cast("string")) { case ((lang, _), acc) =>
      when(col(s"score_$lang") === maxScore, lang).otherwise(acc)
    }
    withScores
      .withColumn("predicted", predicted)
      .select(col("doc_id") +: keep.map(col) ++:
        Profiles.map { case (l, _) => col(s"score_$l") } :+ col("predicted"): _*)
  }

  /** Classifier-evaluation confusion matrix for [[langId]] against the
    * labeled `lang` column: per (label, predicted) cell, the count and
    * the per-label share (= recall on the diagonal). The label rides the
    * scoring projection via `keep` — no corpus self-join to reattach it.
    * Scale shape: scan-speed scoring + a |langs|² aggregate + a
    * |langs|²-sized normalization window. */
  def langIdEval(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    langId(docs, keep = Seq("lang"))
      .groupBy(col("lang").as("label"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .withColumn("label_share", col("n").cast("double")
        / sum(col("n")).over(Window.partitionBy("label")).cast("double"))
  }

  def qLangIdEval(s: SparkSession, dir: String): DataFrame =
    langIdEval(Tables.documents(s, dir)).orderBy("label", "predicted")

  def qLangIdEvalSql: String = {
    val hitCols = Profiles.map { case (lang, prof) =>
      val list = prof.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(ws, w -> w IN ($list))) AS DOUBLE) / len(ws) AS score_$lang"
    }.mkString(",\n         ")
    val maxExpr = "GREATEST(" + Profiles.map(p => s"score_${p._1}").mkString(", ") + ")"
    val caseChain = Profiles.map { case (lang, _) =>
      s"WHEN score_$lang = $maxExpr THEN '$lang'"
    }.mkString("\n         ")
    s"""WITH d AS (
       |  SELECT lang, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
       |  FROM documents),
       |scored AS (
       |  SELECT lang,
       |         $hitCols
       |  FROM d),
       |p AS (
       |  SELECT lang AS label, CASE $caseChain END AS predicted FROM scored),
       |m AS (
       |  SELECT label, predicted, COUNT(*) AS n FROM p GROUP BY label, predicted)
       |SELECT label, predicted, n,
       |       CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY label) AS DOUBLE) AS label_share
       |FROM m ORDER BY label, predicted""".stripMargin
  }

  /** Corpus-mixture composition report: per source, document and token
    * counts and their corpus shares — the one-page answer to "what is
    * this training mixture actually made of". One scan-speed projection,
    * one |sources|-group aggregate, shares from a |sources|-sized
    * window. */
  def mixture(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = Window.partitionBy()
    docs
      .select(col("source"), size(words(col("text"))).cast("long").as("nt"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      .withColumn("doc_share",
        col("n_docs").cast("double") / sum(col("n_docs")).over(all).cast("double"))
      .withColumn("token_share",
        col("n_tokens").cast("double") / sum(col("n_tokens")).over(all).cast("double"))
  }

  def qMixture(s: SparkSession, dir: String): DataFrame =
    mixture(Tables.documents(s, dir)).orderBy("source")

  def qMixtureSql: String =
    """WITH d AS (
      |  SELECT source,
      |         len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS nt
      |  FROM documents),
      |m AS (
      |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens
      |  FROM d GROUP BY source)
      |SELECT source, n_docs, n_tokens,
      |       CAST(n_docs AS DOUBLE) / CAST(SUM(n_docs) OVER () AS DOUBLE) AS doc_share,
      |       CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS DOUBLE) AS token_share
      |FROM m ORDER BY source""".stripMargin

  def qLangId(s: SparkSession, dir: String): DataFrame =
    langId(Tables.balanced(Tables.documents(s, dir))).orderBy("doc_id")

  def qLangIdSql: String = {
    val hitCols = Profiles.map { case (lang, prof) =>
      val list = prof.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(ws, w -> w IN ($list))) AS DOUBLE) / len(ws) AS score_$lang"
    }.mkString(",\n         ")
    val maxExpr = "GREATEST(" + Profiles.map(p => s"score_${p._1}").mkString(", ") + ")"
    val caseChain = Profiles.map { case (lang, _) =>
      s"WHEN score_$lang = $maxExpr THEN '$lang'"
    }.mkString("\n         ")
    s"""WITH d AS (
       |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
       |  FROM documents),
       |scored AS (
       |  SELECT doc_id,
       |         $hitCols
       |  FROM d)
       |SELECT doc_id, ${Profiles.map(p => s"score_${p._1}").mkString(", ")},
       |       CASE $caseChain END AS predicted
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  /** Content fingerprints: md5 of normalized text (exact identity) plus a
    * 60-bit integer fingerprint (the join-key-friendly form) and a prefix
    * anchor (cheap locality probe — docs sharing a long prefix are
    * near-dup suspects before any pairwise work). */
  val RollB = 131L          // polynomial base
  val RollM = 1000000007L   // modulus; keeps acc*B + x exactly in int64

  /** Order-sensitive polynomial rolling hash over the word sequence:
    * h = fold((acc * B + wordHash mod M) mod M). Each word maps through
    * the portable 60-bit md5 hash first, so both engines fold identical
    * integers; acc < M ≈ 1e9 keeps acc*131 + x far from int64 overflow
    * (exact under ANSI). Unlike fp_md5 this is INCREMENTAL — the
    * content-defined-chunking / winnowing primitive: appending a word
    * updates it in O(1), and a window hash pops the head term with one
    * precomputed power of B. */
  def rollingHash(ws: Column): Column =
    aggregate(
      transform(ws, w => graft.functions.Hashes.hash60(w) % RollM),
      lit(0L), (acc, x) => (acc * RollB + x) % RollM)

  def fingerprint(docs: DataFrame): DataFrame = {
    val t = norm(col("text"))
    docs.select(
      col("doc_id"),
      md5(t).as("fp_md5"),
      graft.functions.Hashes.hash60(t).as("fp64"),
      md5(substring(t, 1, 64)).as("fp_prefix"),
      rollingHash(words(col("text"))).as("fp_rolling"))
  }

  def qFingerprint(s: SparkSession, dir: String): DataFrame =
    fingerprint(Tables.documents(s, dir)).orderBy("doc_id")

  val WinnowK = 3           // words per k-gram
  val WinnowW = 4           // k-gram hashes per winnowing window

  /** Winnowing document fingerprints (the SIGMOD'03 local-sampling
    * scheme): hash every word k-gram, slide a w-window over the hash
    * sequence, keep each window's minimum — guaranteeing any match of
    * length >= w+k-1 words shares a fingerprint, while storing only
    * ~2/(w+1) of the hashes. Output: one row per distinct selected hash
    * per doc.
    *
    * All narrow array ops until the final per-doc distinct — the k-gram
    * hashes and window minima never shuffle; at corpus scale this runs at
    * scan speed and the fingerprint set (not the text) is what joins
    * against the index. Docs shorter than k words contribute their whole
    * text as one k-gram (mirrors Dedup.shingles). */
  def winnow(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ws = words(col("text"))
    val docsW = docs.withColumn("__ws", ws).withColumn("__n", size(col("__ws")))
    // k-gram hashes EXPLODED to rows immediately: an earlier array-based
    // variant kept them as a per-doc array and computed window minima with
    // a second transform over slices — CollapseProject inlined the k-gram
    // array into that lambda and recomputed all ~n md5 k-grams PER WINDOW
    // (a silent ~50x blowup; minutes at sf0.1). Rows + a window function
    // keep the hash computation single-pass, and rows are the 100 TB shape
    // anyway: no giant per-doc arrays, one keyed shuffle by doc.
    val gram = docsW.select(col("doc_id"), posexplode(
      when(col("__n") >= WinnowK,
        transform(sequence(lit(1), col("__n") - (WinnowK - 1)), i =>
          graft.functions.Hashes.hash60(concat_ws(" ",
            (0 until WinnowK).map(o => element_at(col("__ws"), i + o)): _*)) % RollM))
        .otherwise(array(graft.functions.Hashes.hash60(norm(col("text"))) % RollM))))
      .toDF("doc_id", "pos", "h")
    val byDoc = Window.partitionBy("doc_id")
    val fwd = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, WinnowW - 1)
    gram
      .withColumn("__wm", min("h").over(fwd))
      .withColumn("__m", count(lit(1)).over(byDoc))
      // only windows fully inside the sequence (or the single clipped
      // window of a short doc); pos is posexplode's 0-BASED index, so the
      // last full window starts at m - W
      .filter(col("pos") <= greatest(col("__m") - WinnowW, lit(0)))
      .select(col("doc_id"), col("__wm").as("winnow_hash")).distinct()
  }

  def qWinnow(s: SparkSession, dir: String): DataFrame =
    winnow(graft.sources.Tables.balanced(graft.sources.Tables.documents(s, dir)))
      .orderBy("doc_id", "winnow_hash")

  def qWinnowSql: String = {
    val gram = (0 until WinnowK).map(o => s"ws[i + $o]").mkString(" || ' ' || ")
    s"""WITH d AS (
      |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
      |  FROM documents),
      |w AS (SELECT doc_id, t, string_split(t, ' ') AS ws FROM d),
      |gh AS (
      |  SELECT doc_id,
      |         CASE WHEN len(ws) >= $WinnowK
      |              THEN list_transform(range(1, len(ws) - ${WinnowK - 1} + 1),
      |                     i -> CAST('0x' || substr(md5($gram), 1, 15) AS BIGINT) % $RollM)
      |              ELSE [CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % $RollM]
      |         END AS g
      |  FROM w),
      |sel AS (
      |  SELECT doc_id,
      |         CASE WHEN len(g) >= $WinnowW
      |              THEN list_distinct(list_transform(range(1, len(g) - ${WinnowW - 1} + 1),
      |                     j -> list_min(g[j:j + ${WinnowW - 1}])))
      |              ELSE [list_min(g)]
      |         END AS sels
      |  FROM gh)
      |SELECT DISTINCT doc_id, unnest(sels) AS winnow_hash
      |FROM sel ORDER BY doc_id, winnow_hash""".stripMargin
  }

  // -------------------------------------------------------------------
  // Vocabulary (corpus token statistics — the BPE-training input)
  // -------------------------------------------------------------------
  val VocabK = 100

  /** Top-k corpus vocabulary: per-token occurrence and document counts.
    * One explode + one keyed agg (map-side combinable) + top-k via
    * TakeOrderedAndProject — the canonical shape for building a tokenizer
    * vocabulary over a corpus. Ties break on token asc, so the cut is
    * deterministic. */
  def vocab(docs: DataFrame, k: Int = VocabK): DataFrame =
    docs.select(col("doc_id"), explode(words(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n_occur"), countDistinct("doc_id").as("n_docs"))
      .orderBy(col("n_occur").desc, col("token").asc)
      .limit(k)

  def qVocab(s: SparkSession, dir: String): DataFrame =
    vocab(Tables.balanced(Tables.documents(s, dir)))

  def qVocabSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
       |  FROM documents),
       |w AS (SELECT doc_id, unnest(string_split(t, ' ')) AS token FROM d)
       |SELECT token, COUNT(*) AS n_occur, COUNT(DISTINCT doc_id) AS n_docs
       |FROM w GROUP BY token
       |ORDER BY n_occur DESC, token ASC LIMIT $VocabK""".stripMargin

  val TfidfPerDoc = 3

  /** Per-document keyword extraction: the top-k tokens by TF-IDF — the
    * corpus-tagging pass (topic keys, index terms) that complements
    * [[bm25]]'s per-QUERY retrieval. Same exactness discipline: idf is
    * the QUANTIZED INTEGER weight (integral div, no `ln`, no float Σ),
    * so scores are exact int64 and the per-doc ranking is
    * engine/order-independent with a token tiebreak. The per-doc top-k
    * runs as a rank window with a pushed limit (`WindowGroupLimit`
    * keeps k rows per doc per partition BEFORE the shuffle — O(k)
    * memory per doc at corpus scale, like every top-k here). The
    * df/corpus-size weight table is query-sized relative to the tf
    * pairs and joins keyed on token. */
  def tfidf(docs: DataFrame, k: Int = TfidfPerDoc): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col("doc_id"), explode(words(col("text"))).as("token"))
    val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = df.crossJoin(broadcast(n))
      .withColumn("w",
        least(expr(s"($WQuant * (2 * n_docs + 1)) div (2 * df + 1)"), lit(WCap)))
      .select("token", "df", "w")
    val rank = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("token").asc)
    // the weight table is |vocab| rows — dimension-sized relative to the
    // corpus (same call as bm25's weight broadcast); beyond the broadcast
    // threshold the right plan is the keyed token join AQE would pick
    tf.join(broadcast(w), "token")
      .withColumn("score", col("tf") * col("w"))
      .withColumn("rank", row_number().over(rank))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("token"), col("tf"),
        col("df"), col("score"))
  }

  def qTfidf(s: SparkSession, dir: String): DataFrame =
    tfidf(Tables.balanced(Tables.documents(s, dir)))
      .orderBy("doc_id", "rank")

  def qTfidfSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
       |  FROM documents),
       |tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS token FROM d),
       |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
       |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
       |n AS (SELECT COUNT(*) AS n_docs FROM d),
       |w AS (
       |  SELECT token, df,
       |         LEAST(($WQuant * (2 * n_docs + 1)) // (2 * df + 1), $WCap) AS w
       |  FROM df, n),
       |scored AS (
       |  SELECT tf.doc_id, tf.token, tf.tf, w.df, tf.tf * w.w AS score,
       |         CAST(row_number() OVER (PARTITION BY tf.doc_id
       |           ORDER BY tf.tf * w.w DESC, tf.token ASC) AS INT) AS rank
       |  FROM tf JOIN w USING (token))
       |SELECT doc_id, rank, token, tf, df, score
       |FROM scored WHERE rank <= $TfidfPerDoc
       |ORDER BY doc_id, rank""".stripMargin

  val BigramK = 30

  /** Top-k bigram collocations with next-word probability — the n-gram
    * statistic a corpus language-model pass computes (boilerplate
    * detection, collocation mining, next-token baselines). Adjacent
    * pairs are built ARRAY-SIDE (zip the token array with its own tail)
    * before the explode, so the pairing is per-row and codegen'd — never
    * a positional self-join of the exploded corpus, which would shuffle
    * |tokens| rows twice at 100 TB. Unigram counts reattach on the keyed
    * bigram aggregate (AQE broadcasts the small side at test scale; at
    * corpus scale both sides hash-partition on w1, which is the plan you
    * want). p_next = one IEEE division of two exact longs — no float Σ,
    * no transcendentals (same discipline as BM25 below). */
  def bigrams(docs: DataFrame, k: Int = BigramK): DataFrame = {
    val ws = words(col("text"))
    val pairs = docs.select(col("doc_id"), explode(
        filter(
          zip_with(ws, slice(ws, lit(2), greatest(size(ws) - 1, lit(0))),
            (a, b) => struct(a.as("w1"), b.as("w2"))),
          p => p.getField("w2").isNotNull)).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val uni = docs.select(explode(ws).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    pairs.groupBy("w1", "w2")
      .agg(count(lit(1)).as("n"), countDistinct("doc_id").as("n_docs"))
      .join(uni, "w1")
      .select(col("w1"), col("w2"), col("n"), col("n_docs"),
        (col("n").cast("double") / col("c1")).as("p_next"))
      .orderBy(col("n").desc, col("w1"), col("w2"))
      .limit(k)
  }

  def qBigrams(s: SparkSession, dir: String): DataFrame =
    bigrams(Tables.balanced(Tables.documents(s, dir)))

  def qBigramsSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(
       |           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
       |  FROM documents),
       |pairs AS (
       |  SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
       |  FROM d, unnest(range(1, len(ws))) AS t(i)),
       |uni AS (
       |  SELECT unnest(ws) AS w1 FROM d),
       |uc AS (SELECT w1, COUNT(*) AS c1 FROM uni GROUP BY w1),
       |bg AS (
       |  SELECT w1, w2, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
       |  FROM pairs GROUP BY w1, w2)
       |SELECT bg.w1, bg.w2, bg.n, bg.n_docs,
       |       CAST(bg.n AS DOUBLE) / uc.c1 AS p_next
       |FROM bg JOIN uc USING (w1)
       |ORDER BY n DESC, w1 ASC, w2 ASC LIMIT $BigramK""".stripMargin

  // -------------------------------------------------------------------
  // BM25-style keyword retrieval (quantized integer weights)
  // -------------------------------------------------------------------
  val QueryTerms: Seq[String] = Seq("hash", "join", "spark", "window", "batch")
  val Bm25K = 20
  val WQuant = 10000L       // idf quantization steps
  val WCap = 1000000000L    // weight clamp — keeps tfw*w far from int64

  /** Top-k documents for a fixed keyword query, scored BM25-style with
    * QUANTIZED INTEGER weights — every transcendental is replaced by an
    * exact integral form so scores are order-independent and bit-equal
    * across engines (a float `ln`/`Σ` differs in ulps between libms and
    * between addition orders; an int64 sum cannot):
    *   idf_t  = floor(WQuant · (N + 0.5) / (df_t + 0.5))      [int div]
    *   tfsat  = floor(100 · tf(k1+1) / (tf + k1)), k1 = 1.2   [int div]
    *   score  = Σ_t tfsat · min(idf_t, WCap)                  [exact]
    * The plan prunes to the query terms BEFORE any aggregation (the
    * inverted-index access path, relationally): tf/df are computed over
    * the filtered token stream only, the tiny per-term weight table is
    * broadcast, and the doc-level sum is one keyed agg + top-k. At
    * production N the idf table is precomputed once per corpus snapshot;
    * WCap bounds the product under ANSI far below int64. */
  def bm25(docs: DataFrame, terms: Seq[String] = QueryTerms, k: Int = Bm25K): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(words(col("text"))).as("token"))
      .filter(col("token").isin(terms: _*))
    val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = df.crossJoin(broadcast(n))
      .withColumn("w",
        least(expr(s"($WQuant * (2 * n_docs + 1)) div (2 * df + 1)"), lit(WCap)))
      .select("token", "w")
    tf.join(broadcast(w), "token")
      .withColumn("tfsat", expr("(tf * 22 * 100) div (10 * tf + 12)"))
      .groupBy("doc_id")
      .agg(sum(col("tfsat") * col("w")).as("score"), count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  def qBm25(s: SparkSession, dir: String): DataFrame =
    bm25(Tables.balanced(Tables.documents(s, dir)))

  def qBm25Sql: String = {
    val termList = QueryTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH d AS (
       |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
       |  FROM documents),
       |w AS (SELECT doc_id, unnest(string_split(t, ' ')) AS token FROM d),
       |qtok AS (SELECT doc_id, token FROM w WHERE token IN ($termList)),
       |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM qtok GROUP BY doc_id, token),
       |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
       |n AS (SELECT COUNT(*) AS n_docs FROM d),
       |wt AS (SELECT token,
       |              LEAST(($WQuant * (2 * n_docs + 1)) // (2 * df + 1), $WCap) AS w
       |       FROM df, n)
       |SELECT tf.doc_id,
       |       CAST(SUM(((tf.tf * 22 * 100) // (10 * tf.tf + 12)) * wt.w) AS BIGINT) AS score,
       |       COUNT(*) AS n_terms
       |FROM tf JOIN wt USING (token)
       |GROUP BY tf.doc_id
       |ORDER BY score DESC, doc_id ASC LIMIT $Bm25K""".stripMargin
  }

  // -------------------------------------------------------------------
  // Group-wise top-k (per-source best documents)
  // -------------------------------------------------------------------
  val TopPerSource = 3

  /** The k highest-quality docs per source — the per-stratum selection
    * step corpus curation uses when a source has a document budget.
    * row_number + rank filter lowers to WindowGroupLimit: only k rows
    * per source survive each partition BEFORE the shuffle, so no source
    * group is ever fully sorted or materialized (PlanAuditSpec asserts
    * the same rewrite for the ANN top-k). Ties break (quality desc,
    * doc_id asc) — deterministic cut. */
  def topKBySource(docs: DataFrame, k: Int = TopPerSource): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(col("quality").desc, col("doc_id").asc)
    // `source` rides the stats projection (keep) — one pass, no corpus
    // self-join to reattach it
    stats(docs, keep = Seq("source"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("source"), col("rank"), col("doc_id"), col("quality"))
  }

  def qTopBySource(s: SparkSession, dir: String): DataFrame =
    topKBySource(Tables.balanced(Tables.documents(s, dir))).orderBy("source", "rank")

  def qTopBySourceSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source, text,
       |         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
       |  FROM documents),
       |qbase AS (
       |  SELECT doc_id, source,
       |         ${qualityCountsSql("t")}
       |  FROM d),
       |qual AS (
       |  SELECT doc_id, source, $qualityArmsSql AS quality FROM qbase),
       |ranked AS (
       |  SELECT source, doc_id, quality,
       |         CAST(row_number() OVER (PARTITION BY source
       |           ORDER BY quality DESC, doc_id ASC) AS INT) AS rank
       |  FROM qual)
       |SELECT source, rank, doc_id, quality FROM ranked
       |WHERE rank <= $TopPerSource ORDER BY source, rank""".stripMargin

  def qFingerprintSql: String =
    s"""WITH d AS (
      |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
      |  FROM documents)
      |SELECT doc_id,
      |       md5(t) AS fp_md5,
      |       CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS fp64,
      |       md5(substr(t, 1, 64)) AS fp_prefix,
      |       list_reduce(
      |         list_prepend(CAST(0 AS BIGINT),
      |           list_transform(string_split(t, ' '),
      |             w -> CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % $RollM)),
      |         (acc, x) -> (acc * $RollB + x) % $RollM) AS fp_rolling
      |FROM d ORDER BY doc_id""".stripMargin

  /** PII / sensitive-pattern scrubbing rules: (name, RE2-safe regex,
    * replacement tag). Patterns restrict themselves to the regex subset
    * with identical semantics in Java regex and RE2/DuckDB — character
    * classes, bounded repetition, alternation; no backreferences or
    * lookaround. Applied in declaration order (a later pattern sees the
    * earlier patterns' tags). The trailing `entity` rule is the class
    * that actually occurs in the synthetic corpus, so the corpus gate
    * exercises real replacements, not just zero-count parity. */
  val ScrubRules: Seq[(String, String, String)] = Seq(
    ("email", "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "<EMAIL>"),
    ("phone", "[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}", "<PHONE>"),
    ("entity", "\\b(customer|supplier)\\b", "<ENTITY>"))

  /** Redact every rule match and report per-rule hit counts plus the
    * fingerprint of the scrubbed text — the pre-training privacy pass a
    * corpus pipeline runs before anything leaves the raw zone. One
    * narrow projection per row (count + replace chain), no shuffle until
    * the caller's sort: at 100 TB this is a pure map stage that scales
    * with input splits. The md5 fingerprint lets a verifier spot-check
    * redaction equivalence across engines/runs without shipping the
    * scrubbed text itself. */
  def scrub(docs: DataFrame, rules: Seq[(String, String, String)] = ScrubRules): DataFrame = {
    val t = norm(col("text"))
    val counts = rules.map { case (name, re, _) =>
      size(regexp_extract_all(t, lit(re), lit(0))).cast("long").as(s"n_$name")
    }
    val scrubbed = rules.foldLeft(t) { case (c, (_, re, tag)) =>
      regexp_replace(c, lit(re), lit(tag))
    }
    docs.select(col("doc_id") +: counts :+
      md5(scrubbed).as("scrub_fp") :+
      length(scrubbed).cast("long").as("scrub_len"): _*)
  }

  def qScrub(s: SparkSession, dir: String): DataFrame =
    scrub(Tables.balanced(Tables.documents(s, dir))).orderBy("doc_id")

  def qScrubSql: String = {
    val counts = ScrubRules.map { case (name, re, _) =>
      s"len(regexp_extract_all(t, '$re')) AS n_$name"
    }.mkString(",\n       |       ")
    val scrubbed = ScrubRules.foldLeft("t") { case (c, (_, re, tag)) =>
      s"regexp_replace($c, '$re', '$tag', 'g')"
    }
    s"""WITH d AS (
       |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
       |  FROM documents)
       |SELECT doc_id,
       |       $counts,
       |       md5($scrubbed) AS scrub_fp,
       |       CAST(length($scrubbed) AS BIGINT) AS scrub_len
       |FROM d ORDER BY doc_id""".stripMargin
  }

  val PackBudget = 512L

  /** Token-budget shard packing: stream each source's documents in
    * doc_id order and cut a new shard every `budget` tokens — the
    * context-window packing step that turns a curated corpus into
    * training shards. A document lands in the shard containing its FIRST
    * token (documents may straddle shard boundaries; the reported
    * `n_tokens` per shard counts whole documents assigned to it).
    *
    * Packing is inherently sequential WITHIN a stream — each cut depends
    * on the running total — so the parallel unit is the source: one
    * shuffle partitions by source, the per-source running SUM window
    * orders by doc_id, and the integral `div` that names the shard keeps
    * every engine's cut identical (no float accumulation drift). The
    * shard agg that follows reuses dim-sized data (sources × shards
    * rows). At 100 TB with few huge sources the same shape runs with a
    * composite stream key ((source, day), (source, bucket), ...) —
    * the window never needs to see more than one stream's rows. */
  def pack(docs: DataFrame, budget: Long = PackBudget): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySrc = Window.partitionBy("source").orderBy("doc_id")
    docs.select(col("source"), col("doc_id"),
        size(words(col("text"))).cast("long").as("n_tok"))
      .withColumn("cum", sum("n_tok").over(bySrc))
      .withColumn("shard", expr(s"(cum - n_tok) div $budget"))
      .groupBy("source", "shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
  }

  def qPack(s: SparkSession, dir: String): DataFrame =
    pack(Tables.balanced(Tables.documents(s, dir))).orderBy("source", "shard")

  def qPackSql: String =
    s"""WITH d AS (
       |  SELECT source, doc_id,
       |         CAST(len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |c AS (
       |  SELECT source, doc_id, n_tok,
       |         SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id) AS cum
       |  FROM d)
       |SELECT source, CAST((cum - n_tok) // $PackBudget AS BIGINT) AS shard,
       |       COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
       |FROM c GROUP BY source, shard
       |ORDER BY source, shard""".stripMargin

  // ------------------------------------------------------------------
  // BPE tokenizer (the one LLM-pipeline-brief op the surface lacked —
  // VERDICT r14 #4): training-data pipelines budget shards and mixtures
  // by SUBWORD tokens, not whitespace words. Two halves:
  //
  //   [[bpeTrain]] — deterministic greedy merge training. The only
  //   corpus-wide pass is the distinct-word frequency groupBy (classic
  //   BPE trains on the word-frequency table — VOCAB-sized, sublinear
  //   in corpus; at 100 TB the iterations touch megabytes). Each
  //   iteration is one vocab-sized shuffle + a 1-row argmax collect,
  //   ties broken (count desc, pair lexicographic asc) so every engine
  //   trains the identical list.
  //
  //   [[bpeTokens]] — apply, as a PURE codegen'd expression chain: each
  //   char is wrapped as <d1>c<d2> and each merge (x,y) is one
  //   literal `replace` of <d1>x<d2><d1>y<d2> with
  //   <d1>xy<d2>. String replace's leftmost-non-overlap scan IS
  //   BPE's skip-overlap pass ("aaa" + (a,a) -> [aa, a]), and the
  //   delimiter wrapping makes adjacent matches share no characters, so
  //   one replace per merge rule merges every occurrence. Space symbols
  //   never appear in any merge, so pairs never cross word boundaries.
  //   Sequential rank-order application is equivalent to the
  //   min-rank-first loop for any WELL-FORMED merges list (each
  //   operand is a base char or the output of a strictly earlier
  //   merge — true of every trained list by construction; asserted for
  //   the fixture in TextSpec): a merge's output symbol cannot occur in
  //   an earlier-ranked pair, because that pair predates the symbol.
  //   No UDF, no explode — at 100 TB this runs at scan speed like the
  //   rest of the per-doc gate family. DuckDB's `replace` has identical
  //   leftmost-non-overlap semantics, so the oracle is the same chain.
  // ------------------------------------------------------------------

  private val BpeD1 = "\u0001"
  private val BpeD2 = "\u0002"

  /** Wrapped-symbol sequence of normalized text under `merges`. */
  private def bpeSeq(t: Column, merges: Seq[(String, String)]): Column = {
    val wrapped = regexp_replace(t, "(.)", BpeD1 + "$1" + BpeD2)
    merges.foldLeft(wrapped) { case (c, (x, y)) =>
      replace(c, lit(BpeD1 + x + BpeD2 + BpeD1 + y + BpeD2),
        lit(BpeD1 + x + y + BpeD2))
    }
  }

  /** BPE token count of normalized text `t`: symbols in the merged
    * sequence minus the (unmergeable) space symbols. */
  def bpeTokens(t: Column, merges: Seq[(String, String)] = BpeMerges): Column = {
    val sq = bpeSeq(t, merges)
    ((length(sq) - length(replace(sq, lit(BpeD1), lit("")))) -
      (length(t) - length(replace(t, lit(" "), lit(""))))).cast("long")
  }

  /** Deterministic greedy BPE training over the corpus' word-frequency
    * table. Returns the ordered merges list; stops early when no
    * adjacent pair remains (fully merged vocab). */
  def bpeTrain(docs: DataFrame, nMerges: Int): Seq[(String, String)] = {
    var wf = docs.select(explode(words(col("text"))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(regexp_replace(col("w"), "(.)", BpeD1 + "$1" + BpeD2).as("sq"),
        col("n"))
      .localCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var done = false
    while (!done && out.size < nMerges) {
      // adjacent symbol pairs within each word, frequency-weighted
      val top = wf
        .select(col("n"), split(regexp_replace(col("sq"),
          "^" + BpeD1 + "|" + BpeD2 + "$", ""), BpeD2 + BpeD1).as("syms"))
        .where(size(col("syms")) >= 2)
        .select(col("n"), explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> struct(syms[i - 1] AS x, syms[i] AS y))")).as("p"))
        .groupBy(col("p.x"), col("p.y")).agg(sum("n").as("cnt"))
        .orderBy(col("cnt").desc, col("x"), col("y"))
        .limit(1).collect() // 1 row — the argmax, never the table
      if (top.isEmpty) done = true
      else {
        val (x, y) = (top.head.getString(0), top.head.getString(1))
        out += ((x, y))
        // checkpoint per iteration: caps the replace-chain plan depth
        // and re-materializes the vocab-sized table (trivial bytes).
        // r17 MEASURED the cut-free variant (argmax recomputes i narrow
        // replaces from the wf0 checkpoint): 1.03 -> 1.61 s at sf0.1 —
        // each iteration then compiles a GROWING whole-stage-codegen
        // source (i replace nodes of fresh literals, no codegen-cache
        // hit), and the compile tax exceeds the checkpoint job it saves.
        // The per-iteration cut stays.
        wf = wf.select(replace(col("sq"),
            lit(BpeD1 + x + BpeD2 + BpeD1 + y + BpeD2),
            lit(BpeD1 + x + y + BpeD2)).as("sq"), col("n"))
          .localCheckpoint()
      }
    }
    out.toSeq
  }

  val BpeTrainN = 8 // gated-training depth (the loop is the point, not the vocab)

  /** Declared query hash-gating [[bpeTrain]] ITSELF: the first
    * [[BpeTrainN]] merges learned from this sf dir's corpus. The oracle
    * unrolls the greedy loop into chained MATERIALIZED CTEs — per
    * iteration one pair-count aggregate, a (count desc, pair asc)
    * argmax, and a corpus rewrite whose replace arguments are scalar
    * subqueries of that argmax — the same
    * iterative-training-in-the-oracle discipline as the unrolled Lloyd
    * loop in `similar_ann_kmeans` (MATERIALIZED matters: inlining the
    * chain re-expands every level ~5x and goes exponential). */
  def qBpeTrain(s: SparkSession, dir: String): DataFrame = {
    val merges = bpeTrain(Tables.balanced(Tables.documents(s, dir)), BpeTrainN)
    import s.implicits._
    merges.zipWithIndex
      .map { case ((x, y), i) => ((i + 1).toLong, x, y) }
      .toDF("rank", "x", "y").orderBy("rank")
  }

  /** The unrolled greedy-train CTE chain (wf0, a0, wf1, …, a{N-1}) —
    * shared by [[qBpeTrainSql]] and [[qTokensBpeTrainedSql]]. */
  private def bpeTrainCtes: String = {
    val (d1, d2) = ("chr(1)", "chr(2)")
    val wf0 =
      s"""wf0 AS MATERIALIZED (
         |  SELECT regexp_replace(w, '(.)', $d1||'\\1'||$d2, 'g') AS sq, COUNT(*) AS n
         |  FROM (SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
         |        FROM documents) WHERE length(w) > 0 GROUP BY 1)""".stripMargin
    val steps = (0 until BpeTrainN).flatMap { i =>
      Seq(
        s"""a$i AS MATERIALIZED (
           |  SELECT syms[i] AS x, syms[i+1] AS y, SUM(n) AS cnt
           |  FROM (SELECT n, string_split(regexp_replace(sq, '^'||$d1||'|'||$d2||'$$', '', 'g'), $d2||$d1) AS syms FROM wf$i),
           |       unnest(range(1, len(syms))) AS t(i)
           |  GROUP BY 1, 2 ORDER BY cnt DESC, x, y LIMIT 1)""".stripMargin,
        // COALESCE guard (ADVICE r15): on a corpus with fewer than
        // BpeTrainN learnable merges a_i is EMPTY, the scalar subqueries
        // go NULL, and an unguarded replace would NULL every later wf —
        // the gates then diverge confusingly instead of agreeing on the
        // early-stopped list. The fallback pattern chr(1)||chr(2) can
        // never occur in a wrapped sequence (it would mean an empty
        // symbol), so the guarded replace is a no-op exactly when the
        // Spark trainer early-stopped.
        s"""wf${i + 1} AS MATERIALIZED (
           |  SELECT replace(sq, COALESCE($d1||(SELECT x FROM a$i)||$d2||$d1||(SELECT y FROM a$i)||$d2, $d1||$d2),
           |                     COALESCE($d1||(SELECT x FROM a$i)||(SELECT y FROM a$i)||$d2, $d1||$d2)) AS sq, n FROM wf$i)""".stripMargin)
    }
    (wf0 +: steps).mkString(",\n")
  }

  def qBpeTrainSql: String = {
    val arms = (0 until BpeTrainN)
      .map(i => s"SELECT CAST(${i + 1} AS BIGINT) AS rank, x, y FROM a$i")
      .mkString("\n  UNION ALL ")
    s"""WITH $bpeTrainCtes
       |SELECT rank, x, y FROM (
       |  $arms)
       |ORDER BY rank""".stripMargin
  }

  /** Trained-merges artifact: the per-corpus [[bpeTrain]] output
    * persisted as a tiny (rank, x, y) parquet under the same
    * fingerprint-keyed lifecycle as the k-means codebook and bigram-LM
    * ([[graft.sources.Artifacts.cached]]): train once per source
    * fingerprint, read thereafter. The collect is 8 bounded rows — the
    * merges list, never corpus data. */
  def bpeMergesArtifact(s: SparkSession, dir: String): Seq[(String, String)] = {
    val src = s"$dir/documents.parquet"
    val df = graft.sources.Artifacts.cached(s, "bpe_merges", src) {
      val m = bpeTrain(Tables.balanced(Tables.documents(s, dir)), BpeTrainN)
      import s.implicits._
      m.zipWithIndex.map { case ((x, y), i) => ((i + 1).toLong, x, y) }
        .toDF("rank", "x", "y")
    }
    df.orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
  }

  /** Declared query gating the full BPE LIFECYCLE — train on THIS
    * corpus, persist, read back, apply: per-doc token counts under the
    * persisted [[BpeTrainN]]-merge list (vs [[qTokensBpe]]'s fixed
    * committed fixture). The oracle re-derives the merges with the
    * unrolled-train CTE chain of [[qBpeTrainSql]] and applies them with
    * 8 chained replaces whose arguments are scalar subqueries of each
    * argmax — so the trained list, its persistence round-trip, and the
    * apply arithmetic are all under one hash gate. */
  def qTokensBpeTrained(s: SparkSession, dir: String): DataFrame =
    tokensBpe(Tables.balanced(Tables.documents(s, dir)),
      bpeMergesArtifact(s, dir))

  def qTokensBpeTrainedSql: String = {
    val (d1, d2) = ("chr(1)", "chr(2)")
    // same COALESCE no-op guard as the train chain (ADVICE r15)
    val applyLevels = (0 until BpeTrainN).map { i =>
      s"""ap${i + 1} AS MATERIALIZED (
         |  SELECT doc_id, t,
         |         replace(sq, COALESCE($d1||(SELECT x FROM a$i)||$d2||$d1||(SELECT y FROM a$i)||$d2, $d1||$d2),
         |                     COALESCE($d1||(SELECT x FROM a$i)||(SELECT y FROM a$i)||$d2, $d1||$d2)) AS sq
         |  FROM ap$i)""".stripMargin
    }
    s"""WITH $bpeTrainCtes,
       |d AS (
       |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
       |  FROM documents),
       |ap0 AS MATERIALIZED (
       |  SELECT doc_id, t, regexp_replace(t, '(.)', $d1||'\\1'||$d2, 'g') AS sq FROM d),
       |${applyLevels.mkString(",\n")}
       |SELECT doc_id,
       |       CAST(len(string_split(t, ' ')) AS BIGINT) AS n_words,
       |       CAST(length(t) - length(replace(t, ' ', '')) AS BIGINT) AS n_chars_nosp,
       |       CAST((length(sq) - length(replace(sq, chr(1), ''))) -
       |            (length(t) - length(replace(t, ' ', ''))) AS BIGINT) AS n_tok_bpe
       |FROM ap$BpeTrainN ORDER BY doc_id""".stripMargin
  }

  /** Fixed merges fixture for the gated queries: the verbatim output of
    * `bpeTrain(documents @ sf0.1, 24)` — trained once offline (this
    * round), committed as a literal so the DuckDB oracle can apply the
    * identical list. A production deployment would persist the trained
    * list via [[graft.sources.Artifacts]] exactly like the perplexity
    * bigram-LM; the apply path is identical either way. */
  val BpeMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("i", "n"), ("o", "r"), ("s", "t"), ("o", "w"),
    ("t", "a"), ("l", "u"), ("m", "er"), ("a", "r"), ("p", "ar"),
    ("u", "p"), ("par", "k"), ("s", "park"), ("d", "ow"), ("in", "dow"),
    ("w", "indow"), ("g", "e"), ("mer", "ge"), ("b", "l"), ("bl", "e"),
    ("ta", "ble"), ("c", "o"), ("co", "lu"), ("colu", "m"))

  /** DuckDB expression mirroring [[bpeSeq]]+[[bpeTokens]] over column
    * expression `t` (already normalized). */
  private def bpeTokensSql(t: String, merges: Seq[(String, String)] = BpeMerges): String = {
    val wrapped = s"regexp_replace($t, '(.)', chr(1)||'\\1'||chr(2), 'g')"
    val chain = merges.foldLeft(wrapped) { case (c, (x, y)) =>
      s"replace($c, '$BpeD1$x$BpeD2$BpeD1$y$BpeD2', '$BpeD1$x$y$BpeD2')"
    }
    s"CAST((length($chain) - length(replace($chain, chr(1), ''))) - " +
      s"(length($t) - length(replace($t, ' ', ''))) AS BIGINT)"
  }

  /** Per-doc whitespace vs BPE token accounting — the budget signal
    * [[qPackBpe]] shards by. */
  def tokensBpe(docs: DataFrame,
                merges: Seq[(String, String)] = BpeMerges): DataFrame = {
    val t = norm(col("text"))
    docs.select(col("doc_id"),
        size(words(col("text"))).cast("long").as("n_words"),
        (length(t) - length(replace(t, lit(" "), lit("")))).cast("long")
          .as("n_chars_nosp"),
        // the rank-map kernel, not the replace chain: same count for any
        // well-formed merges list (TextSpec pins the fixture and trained
        // lists word-by-word), vocab-independent cost — ~6x at sf10 even
        // at 24 merges (VERDICT r16 #4)
        GraftExtensions.call(docs.sparkSession, GraftExtensions.BpeCountName,
          t, typedLit(merges)).as("n_tok_bpe"))
      .orderBy("doc_id")
  }

  def qTokensBpe(s: SparkSession, dir: String): DataFrame =
    tokensBpe(Tables.balanced(Tables.documents(s, dir)))

  def qTokensBpeSql: String = {
    // the chain is large (24 nested replaces) — bind it once in a CTE
    s"""WITH d AS (
       |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
       |  FROM documents)
       |SELECT doc_id,
       |       CAST(len(string_split(t, ' ')) AS BIGINT) AS n_words,
       |       CAST(length(t) - length(replace(t, ' ', '')) AS BIGINT) AS n_chars_nosp,
       |       ${bpeTokensSql("t")} AS n_tok_bpe
       |FROM d ORDER BY doc_id""".stripMargin
  }

  val PackBpeBudget = 256L

  /** [[pack]] with the shard budget measured in BPE tokens instead of
    * whitespace words — same one-shuffle window shape, different token
    * meter. Separate declared query so both meters stay oracle-gated. */
  def qPackBpe(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySrc = Window.partitionBy("source").orderBy("doc_id")
    Tables.balanced(Tables.documents(s, dir))
      .select(col("source"), col("doc_id"),
        GraftExtensions.call(s, GraftExtensions.BpeCountName,
          norm(col("text")), typedLit(BpeMerges)).as("n_tok"))
      .withColumn("cum", sum("n_tok").over(bySrc))
      .withColumn("shard", expr(s"(cum - n_tok) div $PackBpeBudget"))
      .groupBy("source", "shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("source", "shard")
  }

  def qPackBpeSql: String =
    s"""WITH d0 AS (
       |  SELECT source, doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
       |  FROM documents),
       |d AS (
       |  SELECT source, doc_id, ${bpeTokensSql("t")} AS n_tok FROM d0),
       |c AS (
       |  SELECT source, doc_id, n_tok,
       |         SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id) AS cum
       |  FROM d)
       |SELECT source, CAST((cum - n_tok) // $PackBpeBudget AS BIGINT) AS shard,
       |       COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
       |FROM c GROUP BY source, shard
       |ORDER BY source, shard""".stripMargin

  // ------------------------------------------------------------------
  // BPE at production vocab scale (VERDICT r15 #1). Two halves:
  //
  //   TRAIN — [[bpeTrainBatched]]: the standard batched-greedy trick,
  //   made EXACT. Each corpus pass computes pair counts AND a per-pair
  //   created-pair upper bound (max context-triple mass) in ONE job,
  //   then the driver selects the longest sorted PREFIX of candidates
  //   that provably commutes with the sequential greedy loop:
  //     (a) prefix-only — stop at the first candidate sharing a symbol
  //         with the batch (its count may have changed; order unknowable
  //         without another pass);
  //     (b) created-pair bound — a merge can mint new pairs with count
  //         up to its triple bound; every later batch member must
  //         outrank that bound STRICTLY, or sequential greedy might
  //         pick the minted pair first. The bound folds in the max
  //         EXISTING count of any pair involving the minted string
  //         (ecnt): when x||y aliases a symbol already in the vocab,
  //         minted occurrences boost that existing pair to at most
  //         ecnt + ub (ADVICE r16 — the aliased-count-boost closure).
  //   Rules (a)+(b) make batched == sequential by construction (pinned
  //   in TextSpec and hash-gated against the independent greedy oracle
  //   below). Measured batch rate (BPELAB_r16_sf10): ~1.6 merges/pass
  //   on BOTH corpus shapes — digit chains serialize by (a), and on
  //   letter corpora the created-pair bound (b) binds almost as often
  //   (frequent letter pairs mint high-bound successors) — so batching
  //   buys a 1.6x cut in driver round-trips, not the wide batches the
  //   standard trick yields under a lenient (inexact) bound.
  //   The driver-side piece stays BOUNDED: top-[[Bpe512TopM]] stat rows
  //   per pass, the same discipline as the 1-row argmax collect.
  //
  //   APPLY — [[graft.functions.BpeCount]]: one codegen'd expression
  //   taking the trained list as a foldable constant; per-word
  //   min-rank-first rank-map tokenization, cost independent of vocab
  //   size (the r15 replace-chain was O(merges·len) per row past the
  //   codegen method limit).
  //
  // Corpus: the tables' OWN entity text (customer names × segments,
  // part names × types × brands) under FIXED key bounds, so the corpus
  // — and the gate cost — is IDENTICAL at every sf ≥ 0.01 (sf0.001
  // carries a prefix; both engines early-stop consistently). The
  // `documents` table caps at 31 distinct words / 89 learnable merges —
  // structurally too small for a vocab-axis gate; the entity corpus
  // learns 700+.
  //
  // Oracle: DuckDB 1.0 permits scalar-subquery AGGREGATES over the
  // recursive reference, so the greedy loop is ONE recursive CTE of
  // constant SQL size (the unrolled-CTE form binds out at ~500 steps:
  // max_expression_depth). Each recursion step carries the chosen pair
  // in (mx, my); the merge list is a DISTINCT projection of the
  // recursion, and the apply oracle replays it with a rank-joined
  // recursive chain over the corpus.
  // ------------------------------------------------------------------

  /** Gate vocabulary budget (a real tokenizer is 32k–100k merges; 512
    * is past every plan-shape cliff the r15 form hit — codegen method
    * limit ~24, expression-depth ~500 — while keeping the gate
    * runnable). */
  val Bpe512N = 512
  /** Max merges per batched-training pass. */
  val BpeBatchK = 16
  /** Driver-visible stat rows per pass (selection stops at the first
    * interacting candidate, always long before this). */
  val Bpe512TopM = 64
  /** Fixed entity-key bounds: the full sf0.01 key range, so every
    * sf ≥ 0.01 trains the IDENTICAL corpus at identical cost. */
  val Bpe512CustKeyLt = 1500L
  val Bpe512PartKeyLt = 2000L

  /** The entity-text corpus both 512-gates run on: one normalized row
    * per bounded customer/part. Column `t` is pre-normalized (the
    * [[graft.functions.BpeCount]] input contract). */
  def bpeEntityCorpus(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
      .where(col("c_custkey") < Bpe512CustKeyLt)
      .select(lit("c").as("kind"), col("c_custkey").as("k"),
        graft.functions.Hashes.normText(
          concat(lower(col("c_name")), lit(" "), lower(col("c_mktsegment")))).as("t"))
    val p = Tables.part(s, dir)
      .where(col("p_partkey") < Bpe512PartKeyLt)
      .select(lit("p").as("kind"), col("p_partkey").as("k"),
        graft.functions.Hashes.normText(
          concat(lower(col("p_name")), lit(" "), lower(col("p_type")),
            lit(" "), lower(col("p_brand")))).as("t"))
    c.unionByName(p)
  }

  /** Vocabulary threshold for [[bpeTrainBatched]]'s in-memory regime: a
    * word-frequency table at or under this many DISTINCT words trains
    * driver-side (a bounded collect — ~16 MB at the cap — with the
    * identical greedy loop), above it the distributed batched passes
    * take over. The split matches where each regime wins: per-pass
    * SCHEDULING dominates a vocab-sized Spark job (measured ~1.5 s/pass
    * → 10+ min for 512 merges on a 1550-word table the in-memory loop
    * trains in seconds), while a 10M-word vocabulary is real per-pass
    * COMPUTE that wants executors and never fits the driver budget. */
  val BpeDriverVocabLimit: Long = 1L << 17

  /** Exact batched greedy BPE training over `corpus.t` — returns the
    * IDENTICAL list the sequential [[bpeTrain]] loop produces. The ONE
    * corpus-scale pass is the word-frequency groupBy (classic BPE trains
    * on the vocab table — sublinear in corpus). Small vocabularies
    * (≤ `driverVocabLimit` rows) then train in-memory; large ones run
    * distributed batched passes — per pass, pair counts and created-pair
    * bounds in ONE job, then the longest sorted candidate PREFIX that
    * provably commutes with sequential greedy (see the section comment's
    * rules (a)/(b)), applied as one rewrite. TextSpec pins all three
    * paths (in-memory, distributed, sequential) pairwise equal. */
  def bpeTrainBatched(corpus: DataFrame, nMerges: Int,
                      batchK: Int = BpeBatchK,
                      driverVocabLimit: Long = BpeDriverVocabLimit,
                      minFreq: Long = 1L): Seq[(String, String)] =
    bpeTrainBatchedStats(corpus, nMerges, batchK, driverVocabLimit,
      minFreq).merges

  /** [[bpeTrainBatched]]'s result plus its measurement surface: which
    * regime ran, how many distributed passes the batch selection needed
    * (passes == merges for the in-memory regime: the driver loop is
    * sequential by construction and pays no per-pass scheduling), and —
    * when measured — each pass's delta fraction (matched words / total)
    * under the incremental level-1 maintenance. */
  case class BpeTrainStats(merges: Seq[(String, String)], regime: String,
                           passes: Int,
                           deltaFracs: Seq[Double] = Nil) {
    def mergesPerPass: Double =
      if (passes == 0) 0.0 else merges.size.toDouble / passes
  }

  /** `driverVocabLimit` is the in-memory-regime threshold, default
    * [[BpeDriverVocabLimit]]; `0` forces the distributed path (the
    * TextSpec pins and BPELAB pass it directly).
    *
    * `minFreq` drops words rarer than the floor BEFORE training — the
    * production-tokenizer contract (every real trainer exposes
    * min_frequency) and the crawl-scale wall-breaker: a Zipf corpus's
    * word table shrinks orders of magnitude under a small floor, putting
    * a 10M+-word crawl vocabulary back inside the driver regime where
    * 512 merges cost ZERO per-merge jobs. The floor is part of the
    * operator's declared semantics: the floor gates' oracles prune
    * identically (HAVING COUNT(*) >= floor), so the gate stays
    * hash-exact. */
  def bpeTrainBatchedStats(corpus: DataFrame, nMerges: Int,
                           batchK: Int = BpeBatchK,
                           driverVocabLimit: Long = BpeDriverVocabLimit,
                           minFreq: Long = 1L,
                           measureDelta: Boolean = false): BpeTrainStats = {
    val wfWords = corpus.select(explode(split(col("t"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .where(col("n") >= minFreq)
    if (wfWords.limit(driverVocabLimit.toInt + 1).count() <= driverVocabLimit) {
      val m = bpeTrainInMemory(
        wfWords.collect().map(r => (r.getString(0), r.getLong(1))), nMerges)
      return BpeTrainStats(m, "driver", m.size)
    }
    var passes = 0
    var wf = wfWords
      .select(regexp_replace(col("w"), "(.)", BpeD1 + "$1" + BpeD2).as("sq"),
        col("n"))
      .localCheckpoint()
    // Level-1 stats as a row-function of any word-table slice: each
    // adjacent pair position explodes into a P(air) row and L/R context
    // rows, summed per (pair, side, context symbol). Runs over the FULL
    // table once at pass 0, then only over DELTA slices (below).
    def lvl1Of(wfLike: DataFrame): DataFrame = wfLike
      .select(col("n"), split(regexp_replace(col("sq"),
        "^" + BpeD1 + "|" + BpeD2 + "$", ""), BpeD2 + BpeD1).as("syms"))
      .where(size(col("syms")) >= 2)
      .select(col("n"), expr(
        "explode(transform(sequence(1, size(syms) - 1), i -> struct(" +
          "syms[i - 1] AS x, syms[i] AS y, " +
          "IF(i >= 2, syms[i - 2], CAST(NULL AS STRING)) AS l, " +
          "IF(i + 1 < size(syms), syms[i + 1], CAST(NULL AS STRING)) AS r)))")
        .as("p"))
      .select(col("n"), col("p.x").as("x"), col("p.y").as("y"), explode(array(
        struct(lit("P").as("side"), lit(null).cast("string").as("ctx")),
        struct(lit("L").as("side"), col("p.l").as("ctx")),
        struct(lit("R").as("side"), col("p.r").as("ctx")))).as("e"))
      .where(col("e.side") === "P" || col("e.ctx").isNotNull)
      .groupBy(col("x"), col("y"), col("e.side").as("side"), col("e.ctx").as("ctx"))
      .agg(sum("n").as("cn"))
    // Incremental pair-count maintenance (VERDICT r16 #1): the level-1
    // table is CARRIED between passes and updated by delta — after a
    // batch merges (x,y)..., only the words CONTAINING a batch pair
    // change, so the delta job subtracts those words' old contributions
    // and adds their rewritten ones. Per-pass cost: one cheap full-table
    // contains() scan + an explode/shuffle over the MATCHED slice only,
    // instead of the full-corpus explode the r16 loop paid per pass
    // (the "512 merges = 320 vocab-sized jobs" wall; BPELAB_r17 records
    // the measured matched fraction per pass, and BPELAB_r17_sf10 prices
    // the r16 full-recompute shape at 327.4 s against this path's 244.9 s
    // for 64 merges over 1.5 M words; that shape is at commit 795cadb).
    var lvl1 = lvl1Of(wf).localCheckpoint()
    val deltaFracs = scala.collection.mutable.ArrayBuffer[Double]()
    lazy val totalWords: Long = wf.count()
    val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var done = false
    var uncut = 0 // replace nodes since the last plan cut
    while (!done && out.size < nMerges) {
      // stats job over the CHECKPOINTED level-1 table (pair-table-sized,
      // corpus-independent)
      val stats = lvl1.groupBy("x", "y")
        .agg(sum(when(col("side") === "P", col("cn")).otherwise(0L)).as("cnt"),
          max(when(col("side") =!= "P", col("cn"))).as("ubn"))
        .where(col("cnt") > 0)
        .select(col("x"), col("y"), col("cnt"),
          coalesce(col("ubn"), lit(0L)).as("ub"))
      // Aliased-mint closure (ADVICE r16): if a merge mints a symbol
      // string that ALREADY exists in the vocab (two decompositions of
      // one string, e.g. ('a','bc') and ('ab','c')), the minted
      // occurrences ADD to an EXISTING pair's count — c0 + minted can
      // exceed a later batch member's cnt even under rule (b)'s pure
      // context-triple bound. Fold the max existing count of any pair
      // involving the minted string x||y as an operand into the bound:
      // post-merge count of a pair touching xy is <= ecnt + ub exactly
      // (c0 <= ecnt, minted <= the context-triple mass <= ub).
      val symMax = stats
        .select(explode(array(col("x"), col("y"))).as("s"), col("cnt"))
        .groupBy("s").agg(max("cnt").as("ecnt"))
      val ranked = stats
        .join(symMax, concat(stats("x"), stats("y")) === symMax("s"), "left")
        .select(stats("x"), stats("y"), col("cnt"), col("ub"),
          coalesce(col("ecnt"), lit(0L)).as("ecnt"))
        .orderBy(col("cnt").desc, col("x"), col("y"))
        .limit(Bpe512TopM)
        .collect()
      passes += 1
      if (ranked.isEmpty) done = true
      else {
        val batch = scala.collection.mutable.ArrayBuffer[(String, String)]()
        val used = scala.collection.mutable.HashSet[String]()
        var maxUb = 0L
        var stop = false
        val it = ranked.iterator
        while (!stop && it.hasNext && batch.size < batchK &&
          out.size + batch.size < nMerges) {
          val r = it.next()
          val (x, y, cnt, ub, ecnt) =
            (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
              r.getLong(4))
          if (used(x) || used(y) || used(x + y)) stop = true // rule (a)
          else if (batch.nonEmpty && maxUb >= cnt) stop = true // rule (b)
          else {
            batch += ((x, y))
            used ++= Seq(x, y, x + y)
            // rule (b) bound includes the aliased-mint boost: an
            // existing pair involving the minted string can reach
            // ecnt + ub after this merge (ADVICE r16)
            maxUb = math.max(maxUb, ub + ecnt)
          }
        }
        out ++= batch
        // Delta update: only words containing a batch pair change under
        // the rewrite (batch members share no symbols by rule (a), so
        // the fold's replaces are independent). Subtract the matched
        // slice's old level-1 rows, add its rewritten rows, fold into
        // the carried table; fully-cancelled keys drop.
        def rewrite(df: DataFrame): DataFrame =
          df.select(batch.foldLeft(col("sq")) { case (c, (x, y)) =>
            replace(c, lit(BpeD1 + x + BpeD2 + BpeD1 + y + BpeD2),
              lit(BpeD1 + x + y + BpeD2))
          }.as("sq"), col("n"))
        val matchCond = batch.map { case (x, y) =>
          col("sq").contains(BpeD1 + x + BpeD2 + BpeD1 + y + BpeD2)
        }.reduce(_ || _)
        val matched = wf.where(matchCond)
        if (measureDelta)
          deltaFracs += matched.count().toDouble / math.max(1L, totalWords)
        val delta = lvl1Of(matched.withColumn("n", -col("n")))
          .unionByName(lvl1Of(rewrite(matched)))
        lvl1 = lvl1.unionByName(delta)
          .groupBy("x", "y", "side", "ctx").agg(sum("cn").as("cn"))
          .where(col("cn") =!= 0L)
          .localCheckpoint()
        wf = rewrite(wf)
        uncut += batch.size
        if (uncut >= 48) { wf = wf.localCheckpoint(); uncut = 0 }
      }
    }
    BpeTrainStats(out.toSeq, "distributed", passes, deltaFracs.toSeq)
  }

  /** The greedy loop on a COLLECTED word-frequency table — the bounded
    * in-memory regime of [[bpeTrainBatched]]. Same semantics to the
    * letter: frequency-weighted adjacent pair counts, argmax with
    * (count desc, x asc, y asc) tie-break, leftmost-non-overlap merge of
    * every occurrence, stop when dry. */
  private def bpeTrainInMemory(wf0: Array[(String, Long)],
                               nMerges: Int): Seq[(String, String)] = {
    // Incremental pair-count maintenance (VERDICT r16 #1, the classic
    // delta update): after merging (x,y), only pairs adjacent to a merge
    // site change, so per merge this touches ONLY the words containing
    // the pair (via the occ index) instead of recounting every word —
    // the r16 loop recounted all ~O(corpus tokens) pairs per merge, the
    // term that dominates a 2^17-word 512-merge train. Semantics are
    // UNCHANGED to the letter (argmax tie-break (count desc, x, y),
    // leftmost-non-overlap apply): TextSpec pins this loop against the
    // sequential corpus trainer and the train512 oracle hash-gates it.
    val words: Array[Array[String]] =
      wf0.map { case (w, _) => w.toCharArray.map(String.valueOf) }
    val freq: Array[Long] = wf0.map(_._2)
    val pc = new java.util.HashMap[(String, String), Long]()
    // pair -> word indices that contained it when last added; entries go
    // stale after rewrites (a word may lose a pair) and are skipped at
    // use (the word scan finds no site) — counts in `pc` stay exact.
    val occ = new java.util.HashMap[(String, String), java.util.HashSet[Integer]]()
    def indexWord(wi: Int, sign: Long): Unit = {
      val syms = words(wi); val n = freq(wi) * sign
      var i = 0
      while (i < syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        val cur = pc.getOrDefault(p, 0L) + n
        if (cur == 0L) pc.remove(p) else pc.put(p, cur)
        if (sign > 0)
          occ.computeIfAbsent(p, _ => new java.util.HashSet[Integer]()).add(wi)
        i += 1
      }
    }
    words.indices.foreach(indexWord(_, 1L))
    val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
    while (out.size < nMerges && !pc.isEmpty) {
      var best: (String, String) = null
      var bestN = -1L
      pc.forEach { (p, n) =>
        if (n > bestN || (n == bestN &&
          (p._1 < best._1 || (p._1 == best._1 && p._2 < best._2)))) {
          best = p; bestN = n
        }
      }
      out += best
      val (x, y) = best
      val m = x + y
      val touched = occ.remove(best)
      if (touched != null) touched.forEach { wiBox =>
        val wi: Int = wiBox
        val syms = words(wi)
        // containment check skips stale index entries cheaply
        var has = false
        var i = 0
        while (!has && i < syms.length - 1) {
          has = syms(i) == x && syms(i + 1) == y; i += 1
        }
        if (has) {
          indexWord(wi, -1L)
          val buf = new scala.collection.mutable.ArrayBuffer[String](syms.length)
          i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == x && syms(i + 1) == y) {
              buf += m; i += 2
            } else { buf += syms(i); i += 1 }
          }
          words(wi) = buf.toArray
          indexWord(wi, 1L)
        }
      }
    }
    out.toSeq
  }

  /** Trained 512-merge artifact over THIS sf dir's entity corpus —
    * train once per source fingerprint (the [[bpeMergesArtifact]]
    * lifecycle, vocab-scale edition). Fingerprinted on the sf dir, so
    * any table change retrains. */
  def bpeMerges512Artifact(s: SparkSession, dir: String): Seq[(String, String)] = {
    val df = graft.sources.Artifacts.cached(s, "bpe_merges512", dir) {
      val m = bpeTrainBatched(bpeEntityCorpus(s, dir), Bpe512N)
      import s.implicits._
      m.zipWithIndex.map { case ((x, y), i) => ((i + 1).toLong, x, y) }
        .toDF("rank", "x", "y")
    }
    df.orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
  }

  /** Declared query hash-gating the BATCHED trainer at vocab scale: the
    * full [[Bpe512N]]-merge list (persisted, read back) vs the oracle's
    * independent SEQUENTIAL greedy recursion — batched == greedy is the
    * gate claim. */
  def qBpeTrain512(s: SparkSession, dir: String): DataFrame = {
    val merges = bpeMerges512Artifact(s, dir)
    import s.implicits._
    merges.zipWithIndex
      .map { case ((x, y), i) => ((i + 1).toLong, x, y) }
      .toDF("rank", "x", "y").orderBy("rank")
  }

  /** Shared oracle chain: entity corpus → word frequencies → the greedy
    * training RECURSION (each step joins the previous iteration's rows
    * to their own 1-row argmax and carries the chosen pair in mx/my).
    * `minFreq > 1` adds the word-table frequency floor — the exact
    * mirror of [[bpeTrainBatchedStats]]'s `minFreq` prune. */
  private def bpe512TrainCtes(minFreq: Long = 1L): String = {
    val (d1, d2) = ("chr(1)", "chr(2)")
    val floor = if (minFreq > 1) s" HAVING COUNT(*) >= $minFreq" else ""
    s"""bcorp AS (
       |  SELECT 'c' AS kind, c_custkey AS k,
       |         trim(regexp_replace(lower(c_name) || ' ' || lower(c_mktsegment), '\\s+', ' ', 'g')) AS t
       |  FROM customer WHERE c_custkey < $Bpe512CustKeyLt
       |  UNION ALL
       |  SELECT 'p', p_partkey,
       |         trim(regexp_replace(lower(p_name) || ' ' || lower(p_type) || ' ' || lower(p_brand), '\\s+', ' ', 'g'))
       |  FROM part WHERE p_partkey < $Bpe512PartKeyLt),
       |wf0 AS (
       |  SELECT regexp_replace(w, '(.)', $d1||'\\1'||$d2, 'g') AS sq, COUNT(*) AS n
       |  FROM (SELECT unnest(string_split(t, ' ')) AS w FROM bcorp) WHERE length(w) > 0 GROUP BY 1$floor),
       |tr AS (
       |  SELECT 0 AS it, sq, n, CAST(NULL AS VARCHAR) AS mx, CAST(NULL AS VARCHAR) AS my
       |  FROM wf0
       |  UNION ALL
       |  SELECT it + 1,
       |         replace(sq, $d1||am.x||$d2||$d1||am.y||$d2, $d1||am.x||am.y||$d2),
       |         n, am.x, am.y
       |  FROM tr,
       |       (SELECT syms[i] AS x, syms[i+1] AS y
       |        FROM (SELECT n AS nn, string_split(regexp_replace(sq, '^'||$d1||'|'||$d2||'$$', '', 'g'), $d2||$d1) AS syms FROM tr),
       |             unnest(range(1, len(syms))) AS u(i)
       |        GROUP BY 1, 2 ORDER BY SUM(nn) DESC, x, y LIMIT 1) am
       |  WHERE it < $Bpe512N)""".stripMargin
  }

  def qBpeTrain512Sql: String =
    s"""WITH RECURSIVE ${bpe512TrainCtes()}
       |SELECT DISTINCT it AS rank, mx AS x, my AS y FROM tr
       |WHERE mx IS NOT NULL ORDER BY rank""".stripMargin

  /** Word-frequency floor for the declared floor gate: 2 — drops the
    * per-entity unique key words (n = 1), the Zipf tail every real
    * trainer prunes with min_frequency. */
  val BpeFloorMinFreq = 2L

  /** Declared query hash-gating the FREQUENCY-FLOOR trainer contract
    * (VERDICT r16 #1's "and/or" arm): train the [[Bpe512N]]-merge
    * vocabulary over the word table PRUNED at [[BpeFloorMinFreq]],
    * against an oracle whose recursion starts from the identically
    * pruned table. The floor is the crawl-scale wall-breaker: a Zipf
    * word table shrinks orders of magnitude under a small floor
    * (measured in BPELAB_r17: the sf10 unbounded corpus's table falls
    * back inside the driver regime, where 512 merges schedule ZERO
    * per-merge Spark jobs), and it is the production-tokenizer contract
    * — min_frequency exists in every real trainer precisely because the
    * n=1 tail costs training time without earning merges. */
  def qBpeTrain512Floor(s: SparkSession, dir: String): DataFrame = {
    val df = graft.sources.Artifacts.cached(s, "bpe_merges512_floor2", dir) {
      val m = bpeTrainBatched(bpeEntityCorpus(s, dir), Bpe512N,
        minFreq = BpeFloorMinFreq)
      import s.implicits._
      m.zipWithIndex.map { case ((x, y), i) => ((i + 1).toLong, x, y) }
        .toDF("rank", "x", "y")
    }
    df.orderBy("rank")
  }

  def qBpeTrain512FloorSql: String =
    s"""WITH RECURSIVE ${bpe512TrainCtes(BpeFloorMinFreq)}
       |SELECT DISTINCT it AS rank, mx AS x, my AS y FROM tr
       |WHERE mx IS NOT NULL ORDER BY rank""".stripMargin

  /** Declared query gating the vocab-scale APPLY path end-to-end: train
    * (batched) → persist → read back → tokenize the corpus through the
    * native [[graft.functions.BpeCount]] kernel with all [[Bpe512N]]
    * merges bound as one constant. The oracle re-derives the merges with
    * the training recursion and replays them as a rank-joined recursive
    * replace chain — train, persistence round-trip, and apply arithmetic
    * under ONE hash. */
  def qTokensBpe512(s: SparkSession, dir: String): DataFrame = {
    val merges = bpeMerges512Artifact(s, dir)
    bpeEntityCorpus(s, dir)
      .select(col("kind"), col("k"),
        GraftExtensions.call(s, GraftExtensions.BpeCountName,
          col("t"), typedLit(merges)).as("n_tok_bpe"))
      .orderBy("kind", "k")
  }

  def qTokensBpe512Sql: String = {
    val (d1, d2) = ("chr(1)", "chr(2)")
    s"""WITH RECURSIVE ${bpe512TrainCtes()},
       |m AS MATERIALIZED (SELECT DISTINCT it AS rank, mx AS x, my AS y FROM tr WHERE mx IS NOT NULL),
       |ap AS (
       |  SELECT CAST(0 AS BIGINT) AS r, kind, k, t,
       |         regexp_replace(t, '(.)', $d1||'\\1'||$d2, 'g') AS sq
       |  FROM bcorp
       |  UNION ALL
       |  SELECT ap.r + 1, ap.kind, ap.k, ap.t,
       |         replace(ap.sq, $d1||m.x||$d2||$d1||m.y||$d2, $d1||m.x||m.y||$d2)
       |  FROM ap JOIN m ON m.rank = ap.r + 1)
       |SELECT kind, k,
       |       CAST((length(sq) - length(replace(sq, chr(1), ''))) -
       |            (length(t) - length(replace(t, ' ', ''))) AS BIGINT) AS n_tok_bpe
       |FROM ap WHERE r = (SELECT COALESCE(MAX(rank), 0) FROM m)
       |ORDER BY kind, k""".stripMargin
  }

  val RepK = 3 // word-3-grams for the within-doc repetition signal

  /** Within-document repetition (the Gopher-rules quality gate family):
    * fraction of a doc's word-[[RepK]]-grams that are repeats of an
    * earlier gram in the SAME doc — boilerplate, listicles, and decoding
    * loops score high; prose scores near zero. Everything happens inside
    * one row's projection (gram array built once with the
    * element_at-not-slice shape from Dedup.shingles, distinct-counted
    * array-side): NO explode, NO shuffle — at 100 TB this runs at scan
    * speed next to [[stats]]' other per-doc gates. A doc too short for a
    * single gram reports 0 repetition, not NULL. */
  def repetition(docs: DataFrame): DataFrame = {
    // STAGE the split array through a projection boundary: a lambda body
    // re-evaluates any non-attribute expression it closes over PER
    // ELEMENT (HOFs get no subexpression elimination), so referencing
    // words(text) directly here re-ran the full lower+regex+split chain
    // ~3·|grams| times per row — measured 20 s vs 0.9 s at sf0.1.
    // CollapseProject keeps the boundary: __ws is non-cheap and
    // multiply-referenced. Same staging discipline as Dedup.shingles.
    val staged = docs.select(col("doc_id"), words(col("text")).as("__ws"))
    val ws = col("__ws")
    val grams = when(size(ws) >= RepK,
        transform(sequence(lit(0), size(ws) - RepK),
          i => concat_ws(" ", (0 until RepK).map(j => element_at(ws, i + lit(j + 1))): _*)))
      .otherwise(array())
    staged
      .select(col("doc_id"), grams.as("__g"))
      .select(col("doc_id"),
        size(col("__g")).cast("long").as("n_grams"),
        size(array_distinct(col("__g"))).cast("long").as("n_distinct"))
      .withColumn("dup_ratio",
        when(col("n_grams") > 0,
          (col("n_grams") - col("n_distinct")).cast("double") / col("n_grams").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("repetitive", col("dup_ratio") > 0.2)
  }

  def qRepetition(s: SparkSession, dir: String): DataFrame =
    repetition(Tables.documents(s, dir)).orderBy("doc_id")

  /** Non-overlapping word-chunk width for cross-document span dedup: the
    * C4 span unit (three sentences in the paper) scaled to this corpus's
    * sentence-free word-stream texts. */
  val LineW = 4

  /** Cross-document span dedup (the C4 recipe — Raffel et al. 2020 §2.2's
    * "three-sentence span" rule — re-expressed over word chunks): cut every
    * doc into non-overlapping [[LineW]]-word chunks, keep only the
    * globally FIRST occurrence of each distinct chunk value (first =
    * minimum (doc_id, idx) position — deterministic in both engines, no
    * file-order dependence), and reconstruct each doc's text from its
    * surviving chunks in order. Boilerplate shared across documents
    * (headers, license blocks, navigation chrome) survives exactly once
    * corpus-wide instead of once per page.
    *
    * Scale shape: TWO keyed shuffles and nothing else — (1) a
    * partition-only window `min(key) over (partition by chunk)` assigns
    * each chunk group its keeper in ONE pass (vs groupBy+self-join = two
    * shuffles of the exploded frame plus a join); (2) the per-doc
    * regroup that reassembles the text. The exploded frame is ~|words|/W
    * rows of W-word strings, so the shuffle payload is the corpus itself
    * ×1 — no quadratic pair set, no broadcast of an unbounded keeper
    * list. Docs whose every chunk first appeared elsewhere remain in the
    * output with empty text (left join back onto the per-doc chunk
    * counts), matching C4's keep-the-document behavior. */
  def lineDedup(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (base, chunks) = chunkStream(docs)
    // globally-first occurrence: doc_id*1e6+idx is unique (idx < 1e6 —
    // a 4M-word doc would overflow; assert at scale) and orders by
    // (doc_id, idx) lexicographically
    val key = col("doc_id") * lit(1000000L) + col("idx")
    val kept = chunks.withColumn("__k", key)
      .withColumn("__keeper", min(col("__k")).over(Window.partitionBy("chunk")))
      .filter(col("__k") === col("__keeper"))
    survivors(base, kept, "text_dedup")
  }

  /** (base, chunks): per-doc word arrays with chunk counts, and the
    * exploded non-overlapping [[LineW]]-word chunk stream. The shared
    * front half of [[lineDedup]] (keep-first) and [[boilerplate]]
    * (drop-all) — one definition so the two dedup rules can never drift
    * on what a "chunk" is. */
  private def chunkStream(docs: DataFrame): (DataFrame, DataFrame) = {
    // NOT rebalanced (measured r17): unlike Dedup.shingles, the chunk
    // pipeline's downstream groupBys re-shuffle by chunk/doc anyway, and
    // a pre-explosion round-robin of the RAW TEXT column costs more than
    // the scan parallelism it buys (text_boilerplate 1.14 -> 1.43 s,
    // text_linedup 0.70 -> 1.10 s at sf0.1/32 with balanced() here)
    val base = docs
      .select(col("doc_id"), words(col("text")).as("__ws"))
      .withColumn("n_chunks",
        ceil(size(col("__ws")).cast("double") / LineW).cast("int"))
    val chunks = base.select(col("doc_id"), col("n_chunks"),
      posexplode(chunkArrExpr).as(Seq("idx", "chunk")))
    (base, chunks)
  }

  /** The whole-doc chunk array as an expression over [[chunkStream]]'s
    * `base` columns — shared by the positional chunk stream and
    * [[boilerplate]]'s in-row-distinct docfreq branch so the two can
    * never disagree on what a chunk is. */
  private def chunkArrExpr: Column =
    transform(sequence(lit(0), col("n_chunks") - 1),
      i => array_join(slice(col("__ws"), i * LineW + 1, lit(LineW)), " "))

  /** Shared back half: per-doc survivor counts + order-preserving text
    * rebuild, left-joined onto every input doc so fully-consumed docs
    * survive with empty text. */
  private def survivors(base: DataFrame, kept: DataFrame, outCol: String): DataFrame = {
    val agg = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("idx"), col("chunk")))),
            s => s.getField("chunk")), " ").as(outCol))
    base.select(col("doc_id"), col("n_chunks").cast("long").as("n_chunks"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_chunks") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col(outCol), lit("")).as(outCol))
  }

  /** A chunk seen in at least this many DISTINCT documents is boilerplate. */
  val BoilerDf = 3

  /** Frequency-based boilerplate removal (the CCNet/RefinedWeb complement
    * of [[lineDedup]]'s C4 keep-first rule): any [[LineW]]-word chunk that
    * occurs in >= [[BoilerDf]] distinct documents is chrome — headers,
    * license blocks, navigation, cookie banners — and EVERY occurrence is
    * dropped. Span dedup keeps the first copy of duplicated *content*;
    * boilerplate removal keeps none, because a span repeated across many
    * unrelated pages is template, not content. Docs that were pure chrome
    * survive with empty text (same keep-the-document contract as C4).
    *
    * Scale shape: the doc-frequency table is ONE corpus aggregate over the
    * chunk stream (count-distinct compiles to two keyed passes, both
    * map-side combinable), and its >= [[BoilerDf]] survivors are a
    * 1/[[BoilerDf]]-bounded fraction of distinct chunks — on real corpora
    * a tiny skewed head that AQE broadcasts into the LEFT ANTI join; the
    * plan degrades gracefully to a shuffled anti-join when the chrome set
    * is genuinely large. The per-doc rebuild is the same single regroup
    * as [[lineDedup]]. Nothing is quadratic; the chunk stream is the
    * corpus ×1. */
  def boilerplate(docs: DataFrame): DataFrame = {
    val (base, chunks) = chunkStream(docs)
    // Doc-frequency via in-row per-doc dedup (r17 §9): a doc's chunk
    // multiset lives in one array, so COUNT(DISTINCT doc_id) per chunk
    // is a plain COUNT over the array_distinct'd explode — one keyed
    // exchange instead of countDistinct's two passes. Identical by
    // construction (count of per-doc-distinct occurrences ≡ distinct
    // doc count); measured sf10 interleaved (OPTIMIZATION_r17 §9): 4.6–5.1 →
    // 3.9 s steady, boiler sets element-identical (34,324 chunks).
    val boiler = base.select(explode(array_distinct(chunkArrExpr)).as("chunk"))
      .groupBy("chunk").agg(count(lit(1)).as("docfreq"))
      .filter(col("docfreq") >= BoilerDf)
      .select("chunk")
    survivors(base, chunks.join(boiler, Seq("chunk"), "left_anti"), "text_clean")
  }

  def qBoilerplate(s: SparkSession, dir: String): DataFrame =
    boilerplate(Tables.documents(s, dir)).orderBy("doc_id")

  def qBoilerplateSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
       |  FROM documents),
       |base AS (
       |  SELECT doc_id, CAST(ceil(len(ws) / $LineW.0) AS BIGINT) AS n_chunks, ws FROM d),
       |ch AS (
       |  SELECT doc_id, n_chunks, CAST(i AS INT) AS idx,
       |         array_to_string(ws[i*$LineW+1 : i*$LineW+$LineW], ' ') AS chunk
       |  FROM base, unnest(range(0, n_chunks)) AS t(i)),
       |boiler AS (
       |  SELECT chunk FROM (
       |    SELECT chunk, COUNT(DISTINCT doc_id) AS docfreq FROM ch GROUP BY chunk)
       |  WHERE docfreq >= $BoilerDf),
       |k AS (
       |  SELECT * FROM ch WHERE chunk NOT IN (SELECT chunk FROM boiler)),
       |agg AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
       |         string_agg(chunk, ' ' ORDER BY idx) AS text_clean
       |  FROM k GROUP BY doc_id)
       |SELECT b.doc_id, b.n_chunks,
       |       COALESCE(a.n_kept, 0) AS n_kept,
       |       b.n_chunks - COALESCE(a.n_kept, 0) AS n_removed,
       |       COALESCE(a.text_clean, '') AS text_clean
       |FROM base b LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin

  def qLineDedup(s: SparkSession, dir: String): DataFrame =
    lineDedup(Tables.documents(s, dir)).orderBy("doc_id")

  def qLineDedupSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
       |  FROM documents),
       |base AS (
       |  SELECT doc_id, CAST(ceil(len(ws) / $LineW.0) AS BIGINT) AS n_chunks, ws FROM d),
       |ch AS (
       |  SELECT doc_id, n_chunks, CAST(i AS INT) AS idx,
       |         array_to_string(ws[i*$LineW+1 : i*$LineW+$LineW], ' ') AS chunk
       |  FROM base, unnest(range(0, n_chunks)) AS t(i)),
       |k AS (
       |  SELECT *, doc_id*1000000 + idx AS key,
       |         MIN(doc_id*1000000 + idx) OVER (PARTITION BY chunk) AS keeper
       |  FROM ch),
       |agg AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
       |         string_agg(chunk, ' ' ORDER BY idx) AS text_dedup
       |  FROM k WHERE key = keeper GROUP BY doc_id)
       |SELECT b.doc_id, b.n_chunks,
       |       COALESCE(a.n_kept, 0) AS n_kept,
       |       b.n_chunks - COALESCE(a.n_kept, 0) AS n_removed,
       |       COALESCE(a.text_dedup, '') AS text_dedup
       |FROM base b LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Flag docs whose average surprisal exceeds this many bits. */
  val LowFluencyBits = 9.0

  /** Corpus-bigram-LM fluency scoring (the CCNet/Gopher "perplexity
    * filter" shape): train an add-one-smoothed bigram model on the corpus
    * itself, score every doc by its average per-bigram surprisal, flag
    * the implausible tail. Surprisal is computed in INTEGER bits —
    * `floor(log2 (1/P)) = bitlength((c(w1)+V) div (c(w1w2)+1)) - 1`,
    * using `floor(log2 x) = bitlength(floor(x)) - 1` for x >= 1 — because
    * cross-engine `ln`/`log2` on doubles is not bit-deterministic (libm
    * vs JVM intrinsics differ in the last ulp) and would break the hash
    * gate; the bit count is exact integer arithmetic in both engines,
    * monotone in -log P, and the per-doc average divides two exact
    * integers once (IEEE division is correctly rounded — deterministic).
    *
    * Scale shape: bigram pairs come from an in-row `transform` over the
    * token array (no window, no self-join); the model is two keyed
    * corpus aggregates (unigram, bigram counts — map-side combinable);
    * scoring is ONE keyed join of the pair stream against the bigram
    * model (every pair hits: the model was built from the same corpus),
    * then a per-doc regroup. The vocab size V rides a broadcast 1-row
    * cross join. No collect, no driver loop; the model tables shuffle
    * by key and would bucket/sort-merge at 100 TB. */
  def perplexity(docs: DataFrame): DataFrame = {
    // __ws staged for the same per-element re-evaluation reason as
    // [[repetition]] — the pair lambda closes over the split array.
    val staged = docs.select(col("doc_id"), words(col("text")).as("__ws"))
    val ws = col("__ws")
    val pairsArr = when(size(ws) >= 2,
        transform(sequence(lit(0), size(ws) - 2),
          i => struct(element_at(ws, i + 1).as("w1"), element_at(ws, i + 2).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    val pairs = staged.select(col("doc_id"), explode(pairsArr).as("p"))
      .select(col("doc_id"), col("p.w1"), col("p.w2"))
    val uni = staged.select(explode(ws).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val model = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .join(uni, "w1")
      .crossJoin(broadcast(vocab))
      .withColumn("bits",
        (length(bin(expr("(c1 + v) div (c12 + 1)"))) - 1).cast("long"))
      .select("w1", "w2", "bits")
    pairs.join(model, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("bits").as("sum_bits"))
      .withColumn("avg_bits", col("sum_bits").cast("double") / col("n_bigrams"))
      .withColumn("low_fluency", col("avg_bits") > LowFluencyBits)
  }

  def qPerplexity(s: SparkSession, dir: String): DataFrame =
    perplexity(Tables.balanced(Tables.documents(s, dir))).orderBy("doc_id")

  /** (doc_id, w1, w2) bigram pair stream — the shared front half of
    * training and scoring, staged through a projection boundary like
    * [[perplexity]]. */
  private def bigramPairs(docs: DataFrame): DataFrame = {
    val staged = docs.select(col("doc_id"), words(col("text")).as("__ws"))
    val ws = col("__ws")
    val pairsArr = when(size(ws) >= 2,
        transform(sequence(lit(0), size(ws) - 2),
          i => struct(element_at(ws, i + 1).as("w1"), element_at(ws, i + 2).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    staged.select(col("doc_id"), explode(pairsArr).as("p"))
      .select(col("doc_id"), col("p.w1"), col("p.w2"))
  }

  /** The trainable half of [[perplexity]] on its own: the add-one-
    * smoothed bigram model table (w1, w2, bits) — what a persisted
    * "perplexity filter" stores between runs. */
  def bigramModel(docs: DataFrame): DataFrame = {
    val uni = docs.select(explode(words(col("text"))).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    bigramPairs(docs).groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .join(uni, "w1")
      .crossJoin(broadcast(vocab))
      .withColumn("bits",
        (length(bin(expr("(c1 + v) div (c12 + 1)"))) - 1).cast("long"))
      .select("w1", "w2", "bits")
  }

  /** Score docs against a (possibly persisted) bigram model: one keyed
    * join of the pair stream against the model, then the per-doc
    * regroup — the training pass is gone from this plan entirely. */
  def perplexityWith(docs: DataFrame, model: DataFrame): DataFrame =
    bigramPairs(docs).join(model, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("bits").as("sum_bits"))
      .withColumn("avg_bits", col("sum_bits").cast("double") / col("n_bigrams"))
      .withColumn("low_fluency", col("avg_bits") > LowFluencyBits)

  /** Artifact kind key for the persisted bigram-LM store. */
  val BigramLmKind = "bigram_lm"

  /** [[qPerplexity]] against the PERSISTED corpus LM: first query at a
    * given source fingerprint trains + writes the model parquet
    * ([[graft.sources.Artifacts]]); later queries only score — one scan
    * of the corpus instead of the train+score double pass. The model is
    * trained on the same corpus deterministically, so the in-flight
    * oracle hash-gates the persisted path too. */
  def qPerplexityPersisted(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.balanced(Tables.documents(s, dir))
    val model = graft.sources.Artifacts.cached(s, BigramLmKind,
      s"$dir/documents.parquet") { bigramModel(docs) }
    perplexityWith(docs, model).orderBy("doc_id")
  }

  def qPerplexitySql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
       |  FROM documents),
       |pairs AS (
       |  SELECT doc_id, ws[i+1] AS w1, ws[i+2] AS w2
       |  FROM d, unnest(range(0, len(ws) - 1)) AS t(i)),
       |uni AS (
       |  SELECT w1, COUNT(*) AS c1 FROM (
       |    SELECT unnest(ws) AS w1 FROM d) GROUP BY w1),
       |vocab AS (SELECT COUNT(*) AS v FROM uni),
       |model AS (
       |  SELECT p.w1, p.w2,
       |         CAST(length(format('{:b}', (c1 + v) // (c12 + 1))) - 1 AS BIGINT) AS bits
       |  FROM (SELECT w1, w2, COUNT(*) AS c12 FROM pairs GROUP BY w1, w2) p
       |  JOIN uni USING (w1) CROSS JOIN vocab)
       |SELECT doc_id, COUNT(*) AS n_bigrams,
       |       CAST(SUM(bits) AS BIGINT) AS sum_bits,
       |       CAST(SUM(bits) AS DOUBLE) / COUNT(*) AS avg_bits,
       |       CAST(SUM(bits) AS DOUBLE) / COUNT(*) > $LowFluencyBits AS low_fluency
       |FROM pairs JOIN model USING (w1, w2)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  def qRepetitionSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
       |  FROM documents),
       |g AS (
       |  SELECT doc_id,
       |         CASE WHEN len(ws) >= $RepK
       |              THEN list_transform(range(1, len(ws) - $RepK + 2),
       |                                  i -> array_to_string(ws[i:i+${RepK - 1}], ' '))
       |              ELSE [] END AS grams
       |  FROM d),
       |c AS (
       |  SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
       |         CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct
       |  FROM g)
       |SELECT doc_id, n_grams, n_distinct,
       |       CASE WHEN n_grams > 0
       |            THEN CAST(n_grams - n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE)
       |            ELSE 0.0 END AS dup_ratio,
       |       CASE WHEN n_grams > 0
       |            THEN CAST(n_grams - n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE)
       |            ELSE 0.0 END > 0.2 AS repetitive
       |FROM c ORDER BY doc_id""".stripMargin
}
