package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Benchmark decontamination: per-document n-gram overlap between the
  * training corpus and a held-out benchmark/eval set — the contamination
  * check every serious pretraining pipeline runs before a corpus ships
  * (a train doc that contains an eval doc's n-grams inflates benchmark
  * scores). The standard method: shingle both sides into word k-grams,
  * flag any train doc sharing a shingle with the benchmark set, report
  * the overlap ratio so a threshold policy can quarantine.
  *
  * Scale shape — the one decision that matters at 100 TB: the benchmark
  * side is eval-corpora-sized (MBs, not TBs), so its distinct shingle
  * set BROADCASTS; the train side then never shuffles for the match —
  * the probe is a map-side broadcast join at scan speed. The only keyed
  * shuffle is the per-doc aggregation, and it runs twice-leveled
  * ((doc, shingle) dedup, then doc rollup) so partial aggregation keeps
  * both exchanges small. K = [[DecontamK]] word-grams: long enough that
  * shared shingles mean real passage reuse, not vocabulary overlap
  * (K = 3 on this corpus flags 73% of docs; K = 5 flags the actual
  * near-duplicates).
  *
  * The benchmark membership itself is the deterministic salted-hash
  * split ([[Sample.assignSplit]] family): `hash60('bench:' || doc_id)
  * mod 20 == 0` carves a stable ~5% eval set, independent of the
  * sampling and train/val/test salts.
  */
object Decontam {
  val DecontamK = 5
  val BenchSalt = "bench:"
  val BenchDenom = 20L

  /** Stable benchmark-set membership for a key. */
  def isBench(key: Column): Column =
    pmod(graft.functions.Hashes.hash60(concat(lit(BenchSalt), key.cast("string"))),
      lit(BenchDenom)) === 0

  private[operators] def isBenchSql(key: String): String =
    s"CAST('0x' || substr(md5('$BenchSalt' || $key), 1, 15) AS BIGINT) % $BenchDenom = 0"

  /** Per-train-doc contamination report: distinct-shingle count, count
    * of shingles also present in ANY benchmark doc, overlap ratio (one
    * IEEE division of exact longs), and the quarantine flag. Every
    * train doc reports (zero-overlap rows included) — the report is the
    * corpus manifest, not just the kill list. */
  def report(docs: DataFrame, k: Int = DecontamK): DataFrame = {
    // r17 §10: each side is carved by the PURE membership predicate at
    // the scan (no shingle-all-then-join-ids pass — the old shape
    // shingled the corpus once per side and joined doc_id streams to
    // split it), and the train side's per-doc shingle dedup is in-row
    // ([[Dedup.shingleSet]]), so the corpus-wide (doc, shingle)
    // exchange is gone; the one keyed shuffle left is the per-doc
    // rollup. Counts are unchanged: count over per-doc-distinct
    // shingles ≡ the old two-level (doc, sh) dedup + rollup. Measured
    // sf10 interleaved (OPTIMIZATION_r17 §10): 5.6–5.9 → 3.6–3.9 s (×0.64);
    // all 475k report rows identical at both scales.
    val bench = docs.filter(isBench(col("doc_id")))
    val train = docs.filter(!isBench(col("doc_id")))
    val benchSh = broadcast(
      Dedup.shingles(bench, k).select("sh").distinct()
        .withColumn("__hit", lit(1)))
    Dedup.shingleSet(train, k)
      .join(benchSh, Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        count(col("__hit")).as("n_overlap"))
      .withColumn("overlap_ratio",
        col("n_overlap").cast("double") / col("n_shingles").cast("double"))
      .withColumn("contaminated", col("n_overlap") > 0)
  }

  def qReport(s: SparkSession, dir: String): DataFrame =
    report(Tables.documents(s, dir)).orderBy("doc_id")

  def qReportSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t,
       |         ${isBenchSql("doc_id")} AS is_bench
       |  FROM documents),
       |w AS (SELECT doc_id, is_bench, string_split(t, ' ') AS ws, t FROM d),
       |shx AS (
       |  SELECT doc_id, is_bench, unnest(
       |    CASE WHEN len(ws) >= $DecontamK
       |         THEN list_transform(range(1, len(ws) - $DecontamK + 2),
       |                             i -> array_to_string(ws[i:i+${DecontamK - 1}], ' '))
       |         ELSE [t] END) AS sh
       |  FROM w),
       |bsh AS (SELECT DISTINCT sh FROM shx WHERE is_bench),
       |tsh AS (SELECT DISTINCT doc_id, sh FROM shx WHERE NOT is_bench),
       |g AS (
       |  SELECT t.doc_id, COUNT(*) AS n_shingles, count(b.sh) AS n_overlap
       |  FROM tsh t LEFT JOIN bsh b USING (sh)
       |  GROUP BY t.doc_id)
       |SELECT doc_id, n_shingles, n_overlap,
       |       CAST(n_overlap AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS overlap_ratio,
       |       n_overlap > 0 AS contaminated
       |FROM g ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // Semantic (embedding-cosine) decontamination
  // -------------------------------------------------------------------

  /** The n-gram report's SEMANTIC twin: paraphrased eval leakage shares
    * no k-gram but sits at high cosine, so a serious pipeline runs BOTH
    * checks. Same scale shape as [[report]]: the benchmark side is
    * eval-corpora-sized, so its LSH bands AND its vectors BROADCAST —
    * the train corpus never shuffles for the match; the only keyed
    * exchange is the candidate-pair distinct, whose cardinality is the
    * (tiny) contamination mass, not the corpus. Banding/verify reuse
    * the production 8×16-bit sign-RP configuration and the exact
    * integer cosine ([[Dedup.embedBands]] / [[Similarity.dot]]).
    *
    * Planted contamination: every benchmark vector is replicated
    * verbatim into the train side at id + [[Dedup.PlantOffset]] — the
    * literal shape of eval leakage — so the gate row is non-vacuous at
    * every sf (the base corpus's max cross-pair cosine is ~0.51,
    * correctly below the 0.95 bar; the same planted-twin discipline as
    * `dedup_embed_planted`). */
  def embedReport(s: SparkSession, dir: String): DataFrame = {
    val base = Similarity.prepared(s, dir).drop("label")
    val bench = base.filter(isBench(col("vec_id")))
    val train = base.filter(!isBench(col("vec_id")))
      .unionByName(bench.withColumn("vec_id",
        col("vec_id") + lit(Dedup.PlantOffset)))
    val wide = graft.plans.GraftExtensions.SignBandsWideName
    val tb = Dedup.embedBands(s, train, wide).toDF("train_id", "k", "bv")
    val bb = broadcast(Dedup.embedBands(s, bench, wide).toDF("bench_id", "k", "bv"))
    val cand = tb.join(bb, Seq("k", "bv")).select("train_id", "bench_id").distinct()
    val d = Similarity.dot(s) _
    cand
      .join(train.select(col("vec_id").as("train_id"),
        col("ie").as("it"), col("nrm").as("nt")), "train_id")
      .join(broadcast(bench.select(col("vec_id").as("bench_id"),
        col("ie").as("ib"), col("nrm").as("nb"))), "bench_id")
      .withColumn("cosine",
        d(col("it"), col("ib")).cast("double") / (col("nt") * col("nb")))
      .filter(col("cosine") >= Dedup.ScaledThreshold)
      .select("train_id", "bench_id", "cosine")
  }

  def qEmbedReport(s: SparkSession, dir: String): DataFrame =
    embedReport(s, dir).orderBy("train_id", "bench_id")

  def qEmbedReportSql: String = {
    val bits = Dedup.ScaledRpBits
    val bandBits = Dedup.ScaledBandBits
    s"""WITH benchids AS (
       |  SELECT vec_id FROM embeddings WHERE ${isBenchSql("vec_id")}),
       |src AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT e.vec_id + ${Dedup.PlantOffset} AS vec_id, e.embedding
       |  FROM embeddings e JOIN benchids bi ON bi.vec_id = e.vec_id),
       |${Dedup.embedSqlPrefix(bits, bandBits, "src")},
       |cand AS (
       |  SELECT DISTINCT t.vec_id AS train_id, b.vec_id AS bench_id
       |  FROM bands t JOIN bands b ON t.k = b.k AND t.bv = b.bv
       |  WHERE b.vec_id IN (SELECT vec_id FROM benchids)
       |    AND (t.vec_id >= ${Dedup.PlantOffset}
       |         OR t.vec_id NOT IN (SELECT vec_id FROM benchids))),
       |verified AS (
       |  SELECT c.train_id, c.bench_id,
       |         CAST(CAST(list_sum(list_transform(list_zip(x.ie, y.ie), z -> z[1] * z[2])) AS BIGINT) AS DOUBLE)
       |           / (x.nrm * y.nrm) AS cosine
       |  FROM cand c JOIN ivn x ON x.vec_id = c.train_id JOIN ivn y ON y.vec_id = c.bench_id)
       |SELECT train_id, bench_id, cosine FROM verified
       |WHERE cosine >= ${Dedup.ScaledThreshold}
       |ORDER BY train_id, bench_id""".stripMargin
  }
}
