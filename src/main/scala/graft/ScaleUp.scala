package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Schemas

/** Deterministic scale-up generator: replicates the driver's sf0.1 tables
  * `k`× with key-domain remapping, producing an sf1-equivalent dataset for
  * the scale-evidence gate (VERDICT r7 item 1). The driver's own testdata
  * stops at sf0.1; every 100 TB claim in PLANS.md was therefore a
  * plan-shape argument. This tool manufactures the 10× dataset those
  * claims can be *measured* against, inside the repo (`testdata-sf1/`,
  * gitignored), never touching the read-only `/root/testdata`.
  *
  * Replication contract (all pure functions of (input row, replica id) —
  * rerunning the tool bit-reproduces the dataset):
  *
  *   - `region`/`nation`: fixed dimensions, copied unchanged (as in TPC-H,
  *     where nation/region cardinality is scale-invariant).
  *   - Entity tables (`customer`/`supplier`/`part`/`orders`/`lineitem`/
  *     `events`/`documents`/`embeddings`): k replicas; every key column is
  *     offset by `rep × 10^ceil(log10(max_key+1))` of its key DOMAIN, so
  *     foreign keys stay consistent (replica i's lineitems reference
  *     replica i's orders/parts/suppliers) and replica 0 is bit-identical
  *     to the source.
  *   - Entity name columns (`c_name`/`s_name`/`p_name`) get a `#r<i>`
  *     suffix for i>0, preserving "name is unique per key" — queries that
  *     tiebreak on names stay deterministic.
  *   - `orders.o_orderdate` / `events.ts` are NOT shifted: the time range
  *     stays fixed and density grows 10×, which is how a real deployment
  *     scales (more activity, same calendar), and keeps every month-literal
  *     query parameter meaningful at sf1.
  *   - `documents.text` / `embeddings.embedding` replicate per the
  *     PROFILE (4th arg):
  *
  *     `clique` (default, bit-compatible with the r7/r8 sf1 artifacts):
  *     VERBATIM under new ids — every doc lands in an exact-duplicate
  *     group of k. Deliberately adversarial for the dedup family (LSH
  *     buckets get k× members → k² candidate pairs per bucket, connected
  *     components gets k-cliques); the right stress test at k=10, but
  *     pathological-by-construction at k=100.
  *
  *     `realistic` (VERDICT r8 next-round #1): a crawl-like duplication
  *     profile. Docs with `doc_id % 5 == 2` form one cross-replica
  *     near-dup cluster of size c = 2 + (doc_id div 5) % 4 ∈ {2..5}
  *     (replica 0 verbatim, replica 1 an EXACT copy — crawls carry
  *     byte-identical dups too — replicas 2..c-1 with ONE trailing
  *     token appended: shingle Jaccard m/(m+1) ≈ 1, the classic
  *     almost-identical crawl copy); every other replicated copy is
  *     UNIQUIFIED by suffixing every ShingleK-th word with a
  *     replica-keyed token, which perturbs EVERY word-k-shingle (any
  *     k consecutive words contain a position ≡ 0 mod k) while keeping
  *     2/(k) ... (k-1)/k of word occurrences verbatim, so corpus-level
  *     word statistics (stopword ratios, heavy hitters, language id)
  *     stay crawl-shaped instead of k×-diluted. Net: ~20% of source
  *     docs are duplicated in clusters of 2–5, the rest unique — pair
  *     counts grow LINEARLY with k, never k². `n_chars` is recomputed
  *     (= length(text), the generator's invariant). Embeddings mirror
  *     the profile: `vec_id % 5 == 2` clusters replicate verbatim
  *     (cosine 1 > threshold), every other copy is decorrelated by a
  *     deterministic per-(replica, index) ±1 sign flip — exact in
  *     float arithmetic, cosine ≈ 0 against every other replica, and
  *     intra-replica cosine structure preserved EXACTLY (both vectors
  *     of a pair flip the same signs), so each replica looks like a
  *     fresh shard of the same corpus.
  *
  * Physical layout: each table is written as a DIRECTORY `<name>.parquet/`
  * of several part files (splittable scan parallelism without lowering
  * `maxPartitionBytes`), range-clustered on its natural key so parquet
  * row-group min/max stats keep the same pruning power the driver's
  * single-file layout has — `orders` clusters on `o_orderdate` so the
  * month-range pushdown still prunes row groups at sf1.
  *
  * `events.ts` is written as µs TIMESTAMP **NTZ** — the driver's own
  * current encoding. The source is read through
  * [[graft.sources.Tables.events]], which normalizes BOTH driver
  * encodings seen across testdata generations (TIMESTAMP(NANOS) →
  * ns-as-long → µs truncation, the truncation DuckDB applies anyway;
  * plain µs TIMESTAMP → direct) to a µs TimestampType column; the write
  * casts back to NTZ (value-identity under the UTC session tz) so
  * DuckDB's view of the replica is a naive TIMESTAMP, exactly like the
  * driver files — an instant (isAdjustedToUTC) column would read as
  * TIMESTAMPTZ there and diverge from every oracle's naive output.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dstDir = if (args.length > 1) args(1) else "testdata-sf1"
    val k = if (args.length > 2) args(2).toInt else 10
    val profile = if (args.length > 3) args(3) else "clique"
    require(profile == "clique" || profile == "realistic",
      s"unknown profile '$profile' (clique|realistic)")
    // (µs TIMESTAMP output — not legacy INT96 — is part of the fold)
    val spark = GraftSession.build(logLevel = "WARN")

    def read(name: String): DataFrame =
      spark.read.schema(Schemas.byName(name)).parquet(s"$srcDir/$name.parquet")

    /** Smallest power of 10 strictly above the column's max — a readable,
      * stable offset unit (key 4231 in replica 3 becomes 34231). */
    def domainOffset(df: DataFrame, key: String): Long = {
      val mx = df.agg(max(col(key))).head().getLong(0)
      var off = 1L
      while (off <= mx) off *= 10
      off
    }

    /** k replicas with `rep` ∈ [0, k): pure row expansion, no shuffle. */
    def replicate(df: DataFrame): DataFrame =
      df.withColumn("rep", explode(typedLit((0L until k.toLong).toArray)))

    def shifted(keyCol: String, off: Long): Column =
      col(keyCol) + col("rep") * off

    def suffixed(nameCol: String): Column =
      when(col("rep") === 0, col(nameCol))
        .otherwise(concat(col(nameCol), lit("#r"), col("rep")))

    // Scan-parallelism contract (r11 drift root-cause): a file count
    // that served k=10 starves a 32-thread scan at k=100 — 8 files × 1
    // row group each caps the events/orders scans at 8-way, measured as
    // events_wau 3.27 s → 2.97 s when re-laid at 32 files. Split counts
    // therefore scale with the replication factor, bounded at 4× so
    // files stay row-group-sized (the both-ways file-size bound every
    // real table format maintains). k ≤ 10 reproduces the historical
    // sf1 layout bit-for-bit.
    val fileMult = math.max(1, math.min(k / 25, 4))
    def write(df: DataFrame, name: String, baseFiles: Int, clusterOn: Seq[String]): Unit = {
      val files = if (baseFiles <= 1) baseFiles else baseFiles * fileMult
      val cols = Schemas.byName(name).fieldNames.map(col).toSeq
      val out = df.select(cols: _*)
      val ranged =
        if (files <= 1) out.coalesce(1)
        else out.repartitionByRange(files, clusterOn.map(col): _*)
      ranged.write.mode("overwrite").parquet(s"$dstDir/$name.parquet")
      println(s"[scaleup] wrote $name ($files files)")
    }

    // Fixed dims
    write(read("region"), "region", 1, Nil)
    write(read("nation"), "nation", 1, Nil)

    val custOff = domainOffset(read("customer"), "c_custkey")
    val suppOff = domainOffset(read("supplier"), "s_suppkey")
    val partOff = domainOffset(read("part"), "p_partkey")
    // events goes through Tables.events (ns-vs-µs probe), not read():
    // a declared LongType schema over a µs TIMESTAMP file would take the
    // raw µs values for nanos and write a corrupted replica
    def eventsSrc: DataFrame = graft.sources.Tables.events(spark, srcDir)
    val orderOff = domainOffset(read("orders"), "o_orderkey")
    val eventOff = domainOffset(eventsSrc, "event_id")
    val userOff = domainOffset(eventsSrc, "user_id")
    val docOff = domainOffset(read("documents"), "doc_id")
    val vecOff = domainOffset(read("embeddings"), "vec_id")
    println(s"[scaleup] offsets cust=$custOff supp=$suppOff part=$partOff " +
      s"order=$orderOff event=$eventOff user=$userOff doc=$docOff vec=$vecOff")

    write(replicate(read("customer"))
      .withColumn("c_custkey", shifted("c_custkey", custOff))
      .withColumn("c_name", suffixed("c_name")),
      "customer", 4, Seq("c_custkey"))

    write(replicate(read("supplier"))
      .withColumn("s_suppkey", shifted("s_suppkey", suppOff))
      .withColumn("s_name", suffixed("s_name")),
      "supplier", 1, Seq("s_suppkey"))

    write(replicate(read("part"))
      .withColumn("p_partkey", shifted("p_partkey", partOff))
      .withColumn("p_name", suffixed("p_name")),
      "part", 2, Seq("p_partkey"))

    write(replicate(read("orders"))
      .withColumn("o_orderkey", shifted("o_orderkey", orderOff))
      .withColumn("o_custkey", shifted("o_custkey", custOff)),
      "orders", 8, Seq("o_orderdate", "o_orderkey"))

    write(replicate(read("lineitem"))
      .withColumn("l_orderkey", shifted("l_orderkey", orderOff))
      .withColumn("l_partkey", shifted("l_partkey", partOff))
      .withColumn("l_suppkey", shifted("l_suppkey", suppOff)),
      "lineitem", 16, Seq("l_orderkey", "l_linenumber"))

    // Replication contract: events.user_id is a STANDALONE partition key
    // (sessionization / funnel / as-of grouping), NOT a foreign key into
    // customer or any other entity table — no query joins it across
    // tables, so it shifts by its own domain. If a future query treats
    // user_id as a customer key, offset by custOff instead or the
    // replicated copies dangle. (ADVICE r8: made explicit.)
    write(replicate(eventsSrc)
      .withColumn("event_id", shifted("event_id", eventOff))
      .withColumn("user_id", shifted("user_id", userOff))
      // NTZ on disk, like the driver's files (see scaladoc): identity
      // on the value under the UTC session tz
      .withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampNTZType)),
      "events", 8, Seq("ts", "event_id"))

    // Duplication-profile transforms (see the replication contract above).
    // Cluster membership keys on the PRE-shift id; the shift offset is a
    // power of 10 (≡ 0 mod 5), so residue classes survive the shift and
    // the contract reads the same on either side of it.
    val docs = {
      val base = replicate(read("documents"))
      val withText =
        if (profile == "clique") base
        else {
          val inCluster = col("doc_id") % 5 === 2 &&
            col("rep") < lit(2) + (col("doc_id") / 5).cast("long") % 4
          base.withColumn("text",
              // replica 1 of a cluster is an EXACT copy (crawls carry
              // byte-identical dups too); replicas 2..c-1 are near-dups
              when(col("rep") === 0 || (inCluster && col("rep") === 1), col("text"))
                .when(inCluster, concat(col("text"), lit(" zq"), col("rep")))
                .otherwise(regexp_replace(col("text"),
                  // word positions 0, k, 2k, ...: each match eats one word
                  // plus up to k-1 followers, so every word-k-shingle
                  // contains exactly one suffixed word
                  lit("(\\S+)((?:\\s+\\S+){0," + (graft.operators.Dedup.ShingleK - 1) + "})"),
                  concat(lit("$1q"), col("rep"), lit("$2")))))
            .withColumn("n_chars", length(col("text")).cast("long"))
        }
      withText.withColumn("doc_id", shifted("doc_id", docOff))
    }
    write(docs, "documents", 4, Seq("doc_id"))

    val vecs = {
      val base = replicate(read("embeddings"))
      val withEmb =
        if (profile == "clique") base
        else {
          val inCluster = col("vec_id") % 5 === 2 &&
            col("rep") < lit(2) + (col("vec_id") / 5).cast("long") % 4
          base.withColumn("embedding",
            when(col("rep") === 0 || inCluster, col("embedding"))
              .otherwise(transform(col("embedding"), (x, i) =>
                (x * when(pmod(xxhash64(concat_ws(":", lit("es"), col("rep"), i)), lit(2)) === 0,
                  lit(1.0f)).otherwise(lit(-1.0f))).cast("float"))))
        }
      withEmb.withColumn("vec_id", shifted("vec_id", vecOff))
    }
    write(vecs, "embeddings", 4, Seq("vec_id"))

    spark.stop()
    println(s"[scaleup] done: $dstDir (${k}x $srcDir, profile=$profile)")
  }
}
