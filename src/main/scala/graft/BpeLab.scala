package graft

import org.apache.spark.sql.functions._
import graft.operators.Text
import graft.plans.GraftExtensions
import org.apache.spark.graftbridge.StorageBridge

/** BPE vocab-axis measurement (backing the r16 scale claims with numbers
  * rather than scaladoc):
  *
  * APPLY — tokens/sec of the native rank-map kernel
  * ([[graft.functions.BpeCount]]) over the UNBOUNDED entity corpus at
  * the given sf, at trained vocab prefixes 24 / 128 / 512. The claim
  * under test: throughput is flat in vocabulary size (the kernel probes
  * a rank map; it never iterates the merge list), where the r15
  * replace-chain was O(merges · len) per row and un-codegen-able past
  * ~24 merges — measured here at its usable 24-merge rung for the
  * baseline ratio. A bare normalize+length scan prices the scan floor.
  *
  * TRAIN — the batch-selection rate (merges learned per distributed
  * pass) of [[Text.bpeTrainBatchedStats]] on the two corpus shapes the
  * spec pins: digit-chained entity text (rule (a) serializes the
  * batch: adjacent digit merges share symbols) vs letter-dominated
  * documents text (batches wide). Passes are the scheduling-cost unit
  * at scale — 100 TB training cost is passes × one vocab-sized job.
  *
  * Output: one JSON line + SPARK_GRAFT_BPELAB_OUT (default bpelab.json).
  */
object BpeLab {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "testdata-sf10")
    val spark = GraftSession.build(defaultCpus = "32", logLevel = "WARN")

    // unbounded entity corpus: every customer + part at this sf (the
    // 512-gate trains on the FIXED-bound prefix; apply here reads all)
    val c = graft.sources.Tables.customer(spark, sfDir)
      .select(graft.functions.Hashes.normText(
        concat(lower(col("c_name")), lit(" "), lower(col("c_mktsegment")))).as("t"))
    val p = graft.sources.Tables.part(spark, sfDir)
      .select(graft.functions.Hashes.normText(
        concat(lower(col("p_name")), lit(" "), lower(col("p_type")),
          lit(" "), lower(col("p_brand")))).as("t"))
    val corpus = c.unionByName(p).persist()
    val rows = corpus.count()

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    // the trained list the gates serve (train once on the fixed-bound
    // corpus; prefixes of a longer list are themselves valid lists)
    val merges = Text.bpeMerges512Artifact(spark, sfDir)
    require(merges.size >= 500, s"expected a full 512 list, got ${merges.size}")

    def sumTokens(v: Int): Long = corpus.select(
      sum(GraftExtensions.call(spark, GraftExtensions.BpeCountName,
        col("t"), typedLit(merges.take(v)))).as("s"))
      .head().getLong(0)
    // scan floor: same corpus, same shape, no tokenizer
    val (_, scanSec) = timed(corpus.select(sum(length(col("t")))).head())
    // warm once (codegen), then min-of-3 per vocab rung
    sumTokens(24)
    val kernel = Seq(24, 128, 512).map { v =>
      val runs = (1 to 3).map { _ => val (tok, s) = timed(sumTokens(v)); (tok, s) }
      val sec = runs.map(_._2).min
      (v, runs.head._1, sec)
    }
    // the r15 replace-chain at its one usable rung
    def chainSum(v: Int): Long = corpus.select(
      sum(Text.bpeTokens(col("t"), merges.take(v))).as("s")).head().getLong(0)
    chainSum(24)
    val (chainTok, chainSec) = {
      val runs = (1 to 3).map(_ => timed(chainSum(24)))
      (runs.head._1, runs.map(_._2).min)
    }
    require(chainTok == kernel.head._2,
      s"kernel and chain disagree at 24 merges: ${kernel.head._2} vs $chainTok")

    // Spark-job counter: the honest scheduling-cost unit for the
    // jobs-per-merge claims below (includes checkpoints and collects,
    // not just the stats passes). Each train runs under its own job
    // group, whose jobs the status store counts.
    val sc = spark.sparkContext
    def countingJobs[T](group: String)(f: => T): (T, Int) = {
      val (r, g) = StorageBridge.inGroup(sc, group)(f)
      (r, g.jobs)
    }

    // training batch rates, distributed regime forced on both shapes —
    // now under the r17 incremental level-1 maintenance, with each
    // pass's delta fraction (matched words / vocab) recorded
    val entityBounded = Text.bpeEntityCorpus(spark, sfDir)
    val ((entStats, entJobs), entSec) = timed(countingJobs("bpelab_entity")(
      Text.bpeTrainBatchedStats(entityBounded, 64, driverVocabLimit = 0,
        measureDelta = true)))
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(graft.functions.Hashes.normText(col("text")).as("t"))
    val ((docStats, docJobs), docSec) = timed(countingJobs("bpelab_documents")(
      Text.bpeTrainBatchedStats(docs, 64, driverVocabLimit = 0,
        measureDelta = true)))

    // FLOOR arm (VERDICT r16 #1): the min_frequency prune as the
    // crawl-scale wall-breaker. Word-table sizes with and without the
    // floor, then a full 512-merge train on the floored table under the
    // default regime split — the floored table drops back inside the
    // driver loop, where the whole train schedules only the word-count
    // jobs: jobs_per_merge ~ 0.
    val wfAll = corpus.select(explode(split(col("t"), " ")).as("w"))
      .where(length(col("w")) > 0).groupBy("w").agg(count(lit(1)).as("n"))
    val vocabAll = wfAll.count()
    val vocabFloored = wfAll.where(col("n") >= 2).count()
    val ((floorStats, floorJobs), floorSec) = timed(countingJobs("bpelab_floor")(
      Text.bpeTrainBatchedStats(corpus, 512, minFreq = 2)))

    def fr(d: Seq[Double]): String =
      if (d.isEmpty) "null"
      else f"""{"mean":${d.sum / d.size}%.4f,"max":${d.max}%.4f}"""
    val kernelJson = kernel.map { case (v, tok, sec) =>
      f""""$v":{"tokens":$tok,"sec":$sec%.2f,"mtok_per_sec":${tok / sec / 1e6}%.2f}"""
    }.mkString("{", ",", "}")
    val json =
      f"""{"experiment":"bpe_vocab_axis","sf":"$sfDir","corpus_rows":$rows,"scan_floor_sec":$scanSec%.2f,"apply_kernel":$kernelJson,"apply_chain24":{"tokens":$chainTok,"sec":$chainSec%.2f,"mtok_per_sec":${chainTok / chainSec / 1e6}%.2f},"train_distributed":{"entity_digitchain":{"merges":${entStats.merges.size},"passes":${entStats.passes},"merges_per_pass":${entStats.mergesPerPass}%.2f,"jobs":$entJobs,"jobs_per_merge":${entJobs.toDouble / math.max(1, entStats.merges.size)}%.2f,"delta_frac":${fr(entStats.deltaFracs)},"sec":$entSec%.1f},"documents_letters":{"merges":${docStats.merges.size},"passes":${docStats.passes},"merges_per_pass":${docStats.mergesPerPass}%.2f,"jobs":$docJobs,"jobs_per_merge":${docJobs.toDouble / math.max(1, docStats.merges.size)}%.2f,"delta_frac":${fr(docStats.deltaFracs)},"sec":$docSec%.1f}},"floor_arm":{"vocab":$vocabAll,"vocab_floored":$vocabFloored,"regime":"${floorStats.regime}","merges":${floorStats.merges.size},"jobs":$floorJobs,"jobs_per_merge":${floorJobs.toDouble / math.max(1, floorStats.merges.size)}%.4f,"sec":$floorSec%.1f}}"""
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BPELAB_OUT", "bpelab.json")),
      json.getBytes("UTF-8"))
    corpus.unpersist()
    spark.stop()
  }
}
