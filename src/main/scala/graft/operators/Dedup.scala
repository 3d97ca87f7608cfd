package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.GraftExtensions
import graft.sources.Tables

/** Document deduplication for training-data pipelines, over the driver's
  * `documents` table: exact (content hash), MinHash+LSH (near-dup
  * candidates without all-pairs), n-gram Jaccard verification of the LSH
  * candidates, and SimHash with chunk-LSH banding.
  *
  * Scale design — the one rule everything here obeys: NEVER compare all
  * pairs. Every pairing step goes through a bucket join (LSH band hash or
  * SimHash chunk), so candidate generation is a keyed equi-join whose
  * cost is bounded by bucket occupancy, and every per-doc step is one
  * groupBy over exploded tokens (single shuffle, map-side combinable).
  * At 100 TB: shingling is narrow, signatures are one hash-partitioned
  * aggregate, the band join shuffles only (band, hash) keys, and a skewed
  * bucket (e.g. boilerplate-heavy corpora) is handled by AQE skew-join
  * splitting.
  *
  * Determinism across engines: hashes are md5 hex strings (identical in
  * Spark and DuckDB); MinHash "min" is the lexicographic min over hex
  * strings — any total order over a uniform hash works for MinHash, and
  * string order is one both engines share exactly.
  */
object Dedup {
  val ShingleK = 3          // word-3-grams
  val NumHashes = 8         // MinHash signature length
  val BandRows = 2          // rows per LSH band -> 4 bands
  val NumBands: Int = NumHashes / BandRows
  val JaccardThreshold = 0.5
  val SimhashBits = 60      // 15 hex chars -> fits a signed 64-bit exactly
  val SimhashChunks = 7     // hamming-LSH band chunks; 7 > HammingMax, so
  val HammingMax = 6        // pigeonhole GUARANTEES recall up to d = 6

  /** lower + collapse whitespace: the canonical text both engines hash. */
  def normText(t: Column): Column = graft.functions.Hashes.normText(t)

  // -------------------------------------------------------------------
  // Exact dedup (hash-groupBy)
  // -------------------------------------------------------------------

  /** One row per distinct normalized content: fingerprint, canonical
    * (min) doc_id, duplicate count. The canonical exact-dedup shape: keep
    * `canonical_id`, drop the rest. */
  def exact(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(normText(col("text"))).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(min("doc_id").as("canonical_id"), count(lit(1)).as("n_dups"))

  def qExact(s: SparkSession, dir: String): DataFrame =
    exact(Tables.documents(s, dir)).orderBy("fingerprint")

  def qExactSql: String =
    """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
      |       MIN(doc_id) AS canonical_id, COUNT(*) AS n_dups
      |FROM documents GROUP BY 1 ORDER BY fingerprint""".stripMargin

  // -------------------------------------------------------------------
  // MinHash + LSH
  // -------------------------------------------------------------------

  /** Exploded word-k-shingles per doc: (doc_id, sh). A doc shorter than k
    * words contributes its whole text as one shingle.
    *
    * Two measured performance traps avoided here (sf0.1, 5000 docs:
    * 4.1 s → 0.34 s):
    *  - the words array is PROJECTED ONCE before the lambda — referencing
    *    `split(...)` inside `transform` re-evaluates the split per
    *    shingle (no CSE inside higher-order functions), turning shingling
    *    quadratic in document length;
    *  - `element_at` per position instead of `slice` (slice allocates an
    *    array per shingle);
    *  - a compact single-file input is rebalanced to the session's
    *    parallelism before the ×~50 explode — otherwise one task owns the
    *    whole pipeline (at real scale the scan is already multi-split and
    *    the rebalance is a cheap pre-explosion shuffle of the small side).
    */
  def shingles(docs: DataFrame, k: Int = ShingleK): DataFrame =
    shingleWords(docs).select(col("doc_id"), explode(shingleArrExpr(k)).as("sh"))

  /** Per-doc DISTINCT shingles, deduped IN-ROW (`array_distinct` on the
    * whole-doc shingle array before the explode) — the same r17 simhash
    * move, shared so [[Decontam.report]] needs no corpus-wide
    * (doc, shingle) exchange. Only sound for consumers with no joins
    * keyed on the exploded stream's size estimate (see the
    * jaccardOverCandidates rejection note). */
  private[operators] def shingleSet(docs: DataFrame, k: Int = ShingleK): DataFrame =
    shingleWords(docs).select(col("doc_id"),
      explode(array_distinct(shingleArrExpr(k))).as("sh"))

  /** The projected word-array base of every shingle pipeline. */
  private def shingleWords(docs: DataFrame): DataFrame =
    Tables.balanced(docs)
      .select(col("doc_id"), split(normText(col("text")), " ").as("__w"))

  /** The whole-doc shingle array as an EXPRESSION over `__w`. Kept an
    * expression (not a named intermediate column) deliberately: a doc's
    * shingle multiset lives in one array, so per-doc set semantics
    * (`array_distinct`) compose in-row with no corpus-wide distinct
    * exchange — and feeding `explode` a complex expression keeps
    * InferFiltersFromGenerate from inferring a `size(...) > 0` filter
    * that the optimizer would push below the rebalance exchange,
    * re-expanding the shingle transform per RAW row (measured r17: that
    * alias-then-explode shape sent dedup_minhash 1.05 -> 10.5 s). */
  private def shingleArrExpr(k: Int = ShingleK): Column = {
    val wc = col("__w")
    when(size(wc) >= k,
        transform(sequence(lit(0), size(wc) - k),
          i => concat_ws(" ", (0 until k).map(j => element_at(wc, i + lit(j + 1))): _*)))
      .otherwise(array(concat_ws(" ", wc)))
  }

  /** MinHash signature: NumHashes mins in ONE groupBy (single shuffle,
    * partial-aggregatable). The NumHashes "independent" hash functions are
    * non-overlapping 32-bit chunks of TWO md5 digests per shingle (md5 is
    * 128 bits = 4 chunks each) — the standard split-one-strong-hash
    * construction — so each shingle is digested twice, not NumHashes
    * times; at 100 TB the shingle digest dominates the map side of this
    * aggregate. Chunks parse identically in DuckDB via
    * CAST('0x' || substr(h, i*8+1, 8) AS BIGINT). */
  def minhashSignature(sh: DataFrame): DataFrame = {
    val hashed = sh
      .withColumn("__h0", md5(col("sh")))
      .withColumn("__h1", md5(concat(lit("1:"), col("sh"))))
    val aggs = (0 until NumHashes).map { i =>
      val (h, off) = if (i < 4) ("__h0", i * 8 + 1) else ("__h1", (i - 4) * 8 + 1)
      min(conv(substring(col(h), off, 8), 16, 10).cast("long")).as(s"s$i")
    }
    hashed.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** (doc_id, band, band_hash): signature rows hashed per band. The ":"
    * separator keeps ("12","345") and ("123","45") from colliding. */
  def lshBands(sig: DataFrame): DataFrame = {
    val bandCols = (0 until NumBands).map { b =>
      md5(concat_ws(":", (0 until BandRows).map(r => col(s"s${b * BandRows + r}")): _*))
    }
    sig.select(col("doc_id"), posexplode(array(bandCols: _*)))
      .toDF("doc_id", "band", "bh")
  }

  /** Candidate pairs: equi-join on (band, band_hash), doc_a < doc_b,
    * distinct. This is the step that replaces all-pairs — cost is bounded
    * by per-bucket occupancy, never |docs|². */
  def lshCandidates(bands: DataFrame): DataFrame = {
    val a = bands.toDF("doc_a", "band", "bh")
    val b = bands.toDF("doc_b", "band", "bh")
    a.join(b, Seq("band", "bh")).filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  def qMinhash(s: SparkSession, dir: String): DataFrame =
    lshCandidates(lshBands(minhashSignature(shingles(Tables.documents(s, dir)))))
      .orderBy("doc_a", "doc_b")

  /** Shared oracle CTEs through LSH candidate pairs. */
  private def minhashCtes: String = {
    val sigs = (0 until NumHashes).map { i =>
      val (h, off) = if (i < 4) ("md5(sh)", i * 8 + 1) else ("md5('1:' || sh)", (i - 4) * 8 + 1)
      s"MIN(CAST('0x' || substr($h, $off, 8) AS BIGINT)) AS s$i"
    }.mkString(",\n         ")
    val bandArms = (0 until NumBands).map { b =>
      val parts = (0 until BandRows).map(r => s"s${b * BandRows + r}").mkString(" || ':' || ")
      s"SELECT doc_id, $b AS band, md5($parts) AS bh FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""d AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
       |       FROM documents),
       |w AS (SELECT doc_id, string_split(t, ' ') AS ws, t FROM d),
       |shx AS (
       |  SELECT doc_id, unnest(
       |    CASE WHEN len(ws) >= $ShingleK
       |         THEN list_transform(range(1, len(ws) - $ShingleK + 2),
       |                             i -> array_to_string(ws[i:i+${ShingleK - 1}], ' '))
       |         ELSE [t] END) AS sh
       |  FROM w),
       |sig AS (
       |  SELECT doc_id,
       |         $sigs
       |  FROM shx GROUP BY doc_id),
       |bands AS (
       |  $bandArms),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
       |  WHERE a.doc_id < b.doc_id)""".stripMargin
  }

  def qMinhashSql: String =
    s"""WITH $minhashCtes
       |SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b""".stripMargin

  // -------------------------------------------------------------------
  // n-gram Jaccard verification of LSH candidates
  // -------------------------------------------------------------------

  /** Exact shingle-set Jaccard for each LSH candidate pair, keeping pairs
    * >= threshold. Fully relational (distinct-token join + counts), so the
    * verification cost is |candidates| × shingle overlap, not |docs|². */
  def jaccardOverCandidates(docs: DataFrame): DataFrame = {
    // tok stays the DISTINCT-exchange shape (r17 measured the in-row
    // array_distinct alternative and REJECTED it here: with tok a narrow
    // Generate, the planner's size estimates under-count the ×~50
    // explode, the intersection joins flip to BROADCASTING the full
    // exploded shingle stream twice, and dedup_jaccard went 1.07 → 9.5 s
    // — the aggregated exchange is load-bearing as both the join-side
    // size anchor and the subtree every branch reuses). simhash keeps
    // the in-row dedup instead: it has no joins downstream of tok.
    val tok = shingles(docs).distinct()
    val sizes = tok.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairs = lshCandidates(lshBands(minhashSignature(shingles(docs))))
    val inter = pairs
      .join(tok.toDF("doc_a", "sh"), "doc_a")
      .join(tok.toDF("doc_b", "sh2"), "doc_b")
      .filter(col("sh") === col("sh2"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i"))
    inter
      .join(sizes.toDF("doc_a", "na"), "doc_a")
      .join(sizes.toDF("doc_b", "nb"), "doc_b")
      .withColumn("jaccard",
        col("i").cast("double") / (col("na") + col("nb") - col("i")).cast("double"))
      .filter(col("jaccard") >= JaccardThreshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  def qJaccard(s: SparkSession, dir: String): DataFrame =
    jaccardOverCandidates(Tables.documents(s, dir)).orderBy("doc_a", "doc_b")

  /** Shared CTE chain ending in `verified(doc_a, doc_b, jaccard)` — the
    * threshold-passing near-dup pairs. Used by qJaccardSql and by the
    * cluster oracle ([[Cluster.qClustersSql]]). */
  private[operators] def jaccardVerifiedCtes: String =
    s"""$minhashCtes,
       |tok AS (SELECT DISTINCT doc_id, sh FROM shx),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
       |inter AS (
       |  SELECT p.doc_a, p.doc_b, COUNT(*) AS i
       |  FROM pairs p
       |  JOIN tok ta ON ta.doc_id = p.doc_a
       |  JOIN tok tb ON tb.doc_id = p.doc_b AND tb.sh = ta.sh
       |  GROUP BY p.doc_a, p.doc_b),
       |verified AS (
       |  SELECT i.doc_a, i.doc_b,
       |         CAST(i.i AS DOUBLE) / CAST(sa.n + sb.n - i.i AS DOUBLE) AS jaccard
       |  FROM inter i
       |  JOIN sizes sa ON sa.doc_id = i.doc_a
       |  JOIN sizes sb ON sb.doc_id = i.doc_b
       |  WHERE CAST(i.i AS DOUBLE) / CAST(sa.n + sb.n - i.i AS DOUBLE) >= $JaccardThreshold)""".stripMargin

  def qJaccardSql: String =
    s"""WITH $jaccardVerifiedCtes
       |SELECT doc_a, doc_b, jaccard FROM verified
       |ORDER BY doc_a, doc_b""".stripMargin

  // -------------------------------------------------------------------
  // Edit-distance fuzzy matching (deletion-neighborhood blocking)
  // -------------------------------------------------------------------
  val FuzzyK = 20

  /** Single-deletion neighborhood of a string: the string itself plus
    * every variant with one character removed. Two strings within edit
    * distance 1 ALWAYS share a key (substitution: both delete the
    * differing position; insert/delete: the longer one's deletion hits
    * the shorter one's identity) — so the equi-join on keys is a
    * lossless candidate generator for d<=1, the FastSS blocking
    * scheme. */
  def deletionKeys(c: Column): Column =
    array_union(array(c),
      transform(sequence(lit(1), length(c)), i =>
        concat(c.substr(lit(1), i - 1), c.substr(i + 1, length(c) - i))))

  /** Depth-2 deletion neighborhood: the string plus every 1- and
    * 2-deletion variant (~|s|²/2 keys). FastSS generalizes: for any two
    * strings within edit distance 2, aligning an edit script of cost ≤2
    * and deleting, on each side, the substituted positions and that
    * side's inserted characters leaves a COMMON string reachable with
    * ≤2 deletions per side — so the equi-join on these keys is a
    * recall-lossless candidate generator for d≤2 (DedupSpec pins this
    * against a brute-force all-pairs verify). */
  def deletionKeys2(c: Column): Column =
    array_distinct(flatten(transform(deletionKeys(c), k =>
      array_union(array(k),
        transform(sequence(lit(1), length(k)), i =>
          concat(k.substr(lit(1), i - 1), k.substr(i + 1, length(k) - i)))))))

  /** Exact fuzzy-match pairs of an (id, name) table at edit distance
    * ≤ `maxDist` (1 or 2) — the entity-resolution primitive, built
    * scale-first:
    *
    *   - candidates come ONLY from the deletion-key equi-join — ~|name|
    *     keys per row at d=1, ~|name|²/2 at d=2, bucket-bounded pair
    *     cost, never the all-pairs or prefix-block quadratic blowup;
    *   - `levenshtein` verifies candidates exactly (identical across
    *     engines), so blocking is recall-lossless AND precision-exact.
    *
    * d=2 cost law: bucket occupancy is where the quadratic trap hides.
    * On a LOW-entropy key (TPC-H's zero-padded supplier digits) the
    * 2-deletion buckets collect every id sharing a 3-digit subsequence —
    * candidate pairs grow ~|table|²/10³ and the join explodes long
    * before levenshtein runs. The lever is the BLOCKING KEY, not the
    * algorithm: compose the name with a high-entropy attribute (what
    * [[qFuzzy2]] does with exact-integer account cents) and buckets
    * collapse to true near-duplicates. Same law as the sign-LSH band
    * re-cut: block width must scale with corpus entropy.
    *
    * REQUIRES `idCol` unique (one row per id). The r14 hashed-key
    * rewrite carries bare ids through the bucket join and re-attaches
    * names by joining back to `entities` — with duplicate ids that
    * re-attach multiplies pair rows and can verify a pair under a name
    * other than the one that generated the candidate (ADVICE r14). All
    * call sites join on key columns (s_suppkey, o_custkey aggregates);
    * a caller with non-unique ids must pre-dedup. Enforced fail-loud:
    * the re-attach side is built from a per-id aggregate that
    * `raise_error`s on any id with >1 row — cost is one dim-sized
    * groupBy on the side the join already materializes, and a violating
    * caller dies with a named error instead of silently multiplying
    * pairs (DedupSpec pins both directions). */
  def fuzzyPairs(entities: DataFrame, idCol: String, nameCol: String,
                 maxDist: Int = 1): DataFrame = {
    require(maxDist == 1 || maxDist == 2, s"maxDist must be 1 or 2, got $maxDist")
    // Rebalance BEFORE the explode+join: entity tables are small on disk
    // (supplier at sf10 is one ~5 MB part file → a 1-partition scan) but
    // the per-row work downstream — deletion keys, bucket join,
    // levenshtein per candidate — is ~10^4× the row's scan cost, so a
    // narrow input serializes the whole stage on one core (measured at
    // sf10: single task, 32× under session parallelism). Same
    // pre-explosion discipline as Dedup.shingles / Multimodal.
    // two steps: explode in the same select as the `name` alias would
    // read as a lateral alias reference when nameCol == "name"
    val keys =
      if (maxDist == 1) deletionKeys(col("name")) else deletionKeys2(col("name"))
    val named = entities.select(col(idCol).as("id"), col(nameCol).as("name"))
    // only the EXPLODE side needs the pre-explosion rebalance; the name
    // re-attach joins below broadcast the dim-sized table and must not
    // pay balanced()'s repartition inside each broadcast build
    val base = Tables.balanced(named)
    // Join on the 64-BIT HASH of each deletion key, carrying bare ids:
    // the equi-join needs only key identity, and the raw form shuffles
    // and SORT-MERGES ~|name|-byte key strings plus both names through
    // every stage (measured 97 s at sf10 on the d2 query — the sort of
    // 35 M wide rows, not the levenshtein, was the bill). Hashing cuts
    // the join payload to 16 bytes/row; a hash collision can only ADD a
    // candidate pair, which the exact levenshtein verify rejects, so
    // semantics are untouched. Names re-attach AFTER the (a, b) distinct
    // — the pair set is orders of magnitude smaller than the raw bucket
    // join output, and the dim-sized entity table auto-broadcasts.
    val keyed = base.withColumn("k", explode(keys))
      .select(col("id"), xxhash64(col("k")).as("kh"))
    // SHUFFLE_HASH: the self-join's only alternative is sort-merge, and
    // sorting two 35 M-row sides costs more than hashing one of them
    // (per-partition build maps are |keyed|/shuffle-partitions × 16 B —
    // comfortably in-memory at any sane partition sizing)
    val pairIds = keyed.as("x").hint("SHUFFLE_HASH").join(keyed.as("y"),
        col("x.kh") === col("y.kh") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()
    // unique-id guard (scaladoc REQUIRES): one aggregate over the
    // dim-sized table the re-attach joins anyway; any duplicated id
    // raises at execution time rather than silently multiplying pairs
    val nameById = named.groupBy("id")
      .agg(count(lit(1)).as("_n"), first(col("name")).as("name"))
      .select(col("id"), when(col("_n") > 1, raise_error(concat(
          lit("fuzzyPairs requires unique ids; duplicate id: "),
          col("id").cast("string"))))
        .otherwise(col("name")).as("name"))
    pairIds
      .join(nameById.select(col("id").as("a"), col("name").as("an")), "a")
      .join(nameById.select(col("id").as("b"), col("name").as("bn")), "b")
      .filter(levenshtein(col("an"), col("bn")) <= maxDist)
      .select(col("a"), col("an"), col("b"), col("bn"))
  }

  /** Per-entity neighbor rollup over [[fuzzyPairs]] (the pair list at
    * corpus scale is itself huge; the rollup is what a resolution
    * pipeline consumes). */
  def fuzzyNeighbors(entities: DataFrame, idCol: String, nameCol: String,
                     maxDist: Int = 1): DataFrame = {
    val pairs = fuzzyPairs(entities, idCol, nameCol, maxDist)
    // Each verified pair contributes a neighbor row in BOTH directions.
    // An in-row explode of the two (id, nn) orientations emits them from
    // ONE pass over the pair stream; the union-of-two-projections form
    // re-plans the whole candidate pipeline (self-join + levenshtein +
    // distinct) once PER BRANCH — ReusedExchange does not canonicalize
    // across the union here, so the expensive stage genuinely ran twice.
    pairs.select(explode(array(
        struct(col("a").as("id"), col("bn").as("nn")),
        struct(col("b").as("id"), col("an").as("nn")))).as("e"))
      .select(col("e.id").as("id"), col("e.nn").as("nn"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_neighbors"), min("nn").as("nearest_name"))
  }

  /** Declared query: supplier-name fuzzy neighbors (TPC-H names differ
    * by single digits — a dense d=1 graph), top-k entities by neighbor
    * count with a deterministic id tiebreak. */
  def qFuzzy(s: SparkSession, dir: String): DataFrame = {
    val sup = Tables.supplier(s, dir)
    fuzzyNeighbors(sup, "s_suppkey", "s_name")
      .join(sup.select(col("s_suppkey").as("id"), col("s_name")), "id")
      .select(col("id").as("s_suppkey"), col("s_name"),
        col("n_neighbors"), col("nearest_name"))
      .orderBy(col("n_neighbors").desc, col("s_suppkey"))
      .limit(FuzzyK)
  }

  def qFuzzySql: String =
    s"""WITH keyed AS (
       |  SELECT s_suppkey AS id, s_name AS name, t.k
       |  FROM supplier, unnest(list_append(
       |    list_transform(range(1, len(s_name) + 1),
       |      i -> substr(s_name, 1, i - 1) || substr(s_name, i + 1)),
       |    s_name)) AS t(k)),
       |pairs AS (
       |  SELECT DISTINCT x.id AS a, x.name AS an, y.id AS b, y.name AS bn
       |  FROM keyed x JOIN keyed y ON x.k = y.k AND x.id < y.id),
       |ok AS (SELECT * FROM pairs WHERE levenshtein(an, bn) <= 1),
       |nbrs AS (
       |  SELECT a AS id, bn AS nn FROM ok
       |  UNION ALL
       |  SELECT b AS id, an AS nn FROM ok),
       |agg AS (
       |  SELECT id, COUNT(*) AS n_neighbors, MIN(nn) AS nearest_name
       |  FROM nbrs GROUP BY id)
       |SELECT s.s_suppkey, s.s_name, a.n_neighbors, a.nearest_name
       |FROM agg a JOIN supplier s ON s.s_suppkey = a.id
       |ORDER BY n_neighbors DESC, s_suppkey LIMIT $FuzzyK""".stripMargin

  /** Planted-twin id offset for [[qFuzzy2]]: clear of every real
    * supplier key at any sf. */
  val Fuzzy2TwinOffset = 1000000000L

  /** The d≤2 entity table: supplier composed with exact account cents
    * (`round(acctbal*100)` — integer arithmetic, so Spark and DuckDB
    * render the identical string; a raw double cast could diverge in
    * shortest-round-trip corner cases), plus a deterministic two-edit
    * twin for every 10th supplier: delete char 3, then substitute char
    * 8 of the result with 'x'. The twin's length differs by one, so a
    * single edit cannot reach it — its distance to the original is
    * EXACTLY 2, which makes the gate sensitive to d=2 recall, not just
    * the d≤1 subset [[qFuzzy]] already covers. The cents suffix is the
    * entropy that keeps 2-deletion buckets near-singleton (see
    * [[fuzzyPairs]]' cost law) — on bare names the d=2 bucket join is
    * quadratic in the id density. */
  private def fuzzy2Entities(s: SparkSession, dir: String): DataFrame = {
    val sup = Tables.supplier(s, dir)
    val composite = concat(col("s_name"), lit("|"),
      round(col("s_acctbal") * 100).cast("long").cast("string"))
    val base = sup.select(col("s_suppkey").as("id"), composite.as("name"))
    val del3 = concat(composite.substr(lit(1), lit(2)),
      composite.substr(lit(4), length(composite) - 3))
    val twin = concat(del3.substr(lit(1), lit(7)), lit("x"),
      del3.substr(lit(9), length(del3) - 8))
    val twins = sup.filter(col("s_suppkey") % 10 === 0)
      .select((col("s_suppkey") + lit(Fuzzy2TwinOffset)).as("id"), twin.as("name"))
    base.unionByName(twins)
  }

  /** Declared query: edit-distance-≤2 entity resolution over the
    * twin-planted composite table — per-entity neighbor stats for the
    * first [[FuzzyK]] matched ids plus the TOTAL matched count (so the
    * hash gate sees full recall, not just the sampled head; a d=2 miss
    * anywhere shifts `n_matched_total` on every emitted row). */
  def qFuzzy2(s: SparkSession, dir: String): DataFrame = {
    val ents = fuzzy2Entities(s, dir)
    fuzzyNeighbors(ents, "id", "name", maxDist = 2)
      .join(ents, "id")
      // post-aggregation global count: bounded by matched entities
      // (≤ 2·|supplier|/10 rows), the same dim-bounded single-partition
      // window class as the surrogate-key ranks
      .withColumn("n_matched_total",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)))
      .select(col("id"), col("name"), col("n_neighbors"),
        col("nearest_name"), col("n_matched_total"))
      .orderBy("id")
      .limit(FuzzyK)
  }

  def qFuzzy2Sql: String =
    s"""WITH ent AS (
       |  SELECT s_suppkey AS id,
       |         s_name || '|' || CAST(CAST(ROUND(s_acctbal * 100) AS BIGINT) AS VARCHAR) AS name
       |  FROM supplier
       |  UNION ALL
       |  SELECT s_suppkey + $Fuzzy2TwinOffset AS id,
       |         substr(m, 1, 7) || 'x' || substr(m, 9) AS name
       |  FROM (SELECT s_suppkey, substr(nm, 1, 2) || substr(nm, 4) AS m
       |        FROM (SELECT s_suppkey,
       |                     s_name || '|' || CAST(CAST(ROUND(s_acctbal * 100) AS BIGINT) AS VARCHAR) AS nm
       |              FROM supplier)
       |        WHERE s_suppkey % 10 = 0)),
       |d1 AS (
       |  SELECT id, name, t.k1
       |  FROM ent, unnest(list_append(
       |    list_transform(range(1, len(name) + 1),
       |      i -> substr(name, 1, i - 1) || substr(name, i + 1)),
       |    name)) AS t(k1)),
       |keyed AS (
       |  SELECT DISTINCT id, name, t2.k
       |  FROM d1, unnest(list_append(
       |    list_transform(range(1, len(k1) + 1),
       |      i -> substr(k1, 1, i - 1) || substr(k1, i + 1)),
       |    k1)) AS t2(k)),
       |pairs AS (
       |  SELECT DISTINCT x.id AS a, x.name AS an, y.id AS b, y.name AS bn
       |  FROM keyed x JOIN keyed y ON x.k = y.k AND x.id < y.id),
       |ok AS (SELECT * FROM pairs WHERE levenshtein(an, bn) <= 2),
       |nbrs AS (
       |  SELECT a AS id, bn AS nn FROM ok
       |  UNION ALL
       |  SELECT b AS id, an AS nn FROM ok),
       |agg AS (
       |  SELECT id, COUNT(*) AS n_neighbors, MIN(nn) AS nearest_name
       |  FROM nbrs GROUP BY id)
       |SELECT e.id, e.name, a.n_neighbors, a.nearest_name,
       |       COUNT(*) OVER () AS n_matched_total
       |FROM agg a JOIN ent e ON e.id = a.id
       |ORDER BY e.id LIMIT $FuzzyK""".stripMargin

  // -------------------------------------------------------------------
  // SimHash (60-bit) + chunk-LSH hamming candidates
  // -------------------------------------------------------------------

  /** Per-token 60-bit hash — the shared [[graft.functions.Hashes.hash60]]. */
  private def tokenHash: Column = graft.functions.Hashes.hash60(col("tok"))

  /** SimHash fingerprints: one groupBy with 60 conditional-sum arms (one
    * shuffle; the arms are codegen'd bit tests, not UDFs). Bit b of the
    * fingerprint is set iff more distinct tokens have bit b set than not.
    *
    * Tokens are word-k-SHINGLES, not single words: word-level simhash is
    * order-insensitive, so corpora with a shared vocabulary (any narrow
    * domain) collapse to near-identical fingerprints — measured on the
    * testdata corpus, word-level gave 487 hamming-0 pairs of UNRELATED
    * docs. Shingles make the fingerprint order-sensitive. */
  def simhash(docs: DataFrame): DataFrame = {
    // DISTINCT (doc, shingle) via in-row array_distinct BEFORE the
    // explode (r17): a doc's shingles live in one array row, so set
    // semantics cost no corpus-wide distinct exchange — the groupBy
    // below is the ONLY shuffle left (was 2: distinct + groupBy)
    val tok = shingleWords(docs)
      .select(col("doc_id"), explode(array_distinct(shingleArrExpr())).as("tok"))
      .withColumn("h", tokenHash)
    val arms = (0 until SimhashBits).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"b$b"))
    val counts = tok.groupBy("doc_id").agg(arms.head, arms.tail: _*)
    val fp = (0 until SimhashBits).map(b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    counts.select(col("doc_id"), fp.as("fp"))
  }

  /** (offset, size) of chunk c: `SimhashBits mod SimhashChunks` leading
    * chunks get one extra bit, so the chunks tile all 60 bits exactly.
    * Pigeonhole: a pair at hamming d <= SimhashChunks - 1 = HammingMax
    * has fewer differing bits than chunks, so at least one chunk is
    * untouched and the band join finds the pair — GUARANTEED recall,
    * which 4 chunks (d <= 3) did not give for the d in 4..6 range. */
  def chunkSpans: Seq[(Int, Int)] = {
    val base = SimhashBits / SimhashChunks
    val rem = SimhashBits % SimhashChunks
    (0 until SimhashChunks).map { c =>
      (c * base + math.min(c, rem), base + (if (c < rem) 1 else 0))
    }
  }

  /** Hamming-near pairs: band on fingerprint chunks (two docs within
    * hamming distance < chunks must share >= 1 chunk — pigeonhole), then
    * exact popcount filter on the xor. */
  def simhashCandidates(fps: DataFrame): DataFrame = {
    val chunks = fps.select(col("doc_id"), col("fp"), posexplode(array(
      chunkSpans.map { case (off, size) =>
        shiftright(col("fp"), off).bitwiseAND(lit((1L << size) - 1))
      }: _*)))
      .toDF("doc_id", "fp", "chunk", "cv")
    val a = chunks.toDF("doc_a", "fp_a", "chunk", "cv")
    val b = chunks.toDF("doc_b", "fp_b", "chunk", "cv")
    a.join(b, Seq("chunk", "cv")).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= HammingMax)
  }

  def qSimhash(s: SparkSession, dir: String): DataFrame =
    simhashCandidates(simhash(Tables.documents(s, dir))).orderBy("doc_a", "doc_b")

  def qSimhashSql: String = {
    val arms = (0 until SimhashBits).map(b =>
      s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b").mkString(",\n         ")
    val fpExpr = (0 until SimhashBits).map(b =>
      s"CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
    val chunkArms = chunkSpans.zipWithIndex.map { case ((off, size), c) =>
      s"SELECT doc_id, fp, $c AS chunk, (fp >> $off) & ${(1L << size) - 1} AS cv FROM fps"
    }.mkString("\n  UNION ALL ")
    s"""WITH d AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
       |       FROM documents),
       |w AS (SELECT doc_id, string_split(t, ' ') AS ws, t FROM d),
       |shx AS (
       |  SELECT doc_id, unnest(
       |    CASE WHEN len(ws) >= $ShingleK
       |         THEN list_transform(range(1, len(ws) - $ShingleK + 2),
       |                             i -> array_to_string(ws[i:i+${ShingleK - 1}], ' '))
       |         ELSE [t] END) AS sh
       |  FROM w),
       |tok AS (SELECT DISTINCT doc_id, sh AS tok FROM shx),
       |th AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM tok),
       |counts AS (
       |  SELECT doc_id,
       |         $arms
       |  FROM th GROUP BY doc_id),
       |fps AS (SELECT doc_id, $fpExpr AS fp FROM counts),
       |chunks AS (
       |  $chunkArms),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         bit_count(xor(a.fp, b.fp)) AS hamming
       |  FROM chunks a JOIN chunks b ON a.chunk = b.chunk AND a.cv = b.cv
       |  WHERE a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, hamming FROM pairs
       |WHERE hamming <= $HammingMax
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // -------------------------------------------------------------------
  // Incremental dedup: new batch vs a persisted corpus band index
  // -------------------------------------------------------------------

  /** The persistable LSH band index of a corpus: (doc_id, band, bh).
    * At 100 TB this is written ONCE (bucketed/partitioned by (band, bh))
    * and each incoming batch joins against it — re-shingling the corpus
    * per batch is the thing incremental dedup exists to avoid. */
  def bandIndex(docs: DataFrame): DataFrame =
    lshBands(minhashSignature(shingles(docs)))

  /** Candidate pairs of an incoming batch against an existing index:
    * the same keyed (band, hash) equi-join as [[lshCandidates]], but
    * asymmetric — only new×corpus pairs emerge, the corpus never
    * self-joins. Cost per batch is |batch bands| ⋈ bucket occupancy;
    * with the index bucketed by (band, bh) the join is co-located and
    * shuffle-free on the corpus side. `newDocs` pairs are intentionally
    * NOT generated here (run [[lshCandidates]] on the batch for those). */
  def incrementalCandidates(newBands: DataFrame, index: DataFrame): DataFrame = {
    val inc = newBands.toDF("doc_new", "band", "bh")
    val idx = index.toDF("doc_idx", "band", "bh")
    inc.join(idx, Seq("band", "bh"))
      .filter(col("doc_new") =!= col("doc_idx"))
      .select("doc_new", "doc_idx").distinct()
  }

  /** Declared query: docs with doc_id % 5 == 0 arrive as the "new batch"
    * against an index of the rest — the steady-state shape of a corpus
    * that deduplicates every ingest increment. */
  def qIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val newBatch = docs.filter(col("doc_id") % 5 === 0)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    incrementalCandidates(bandIndex(newBatch), bandIndex(corpus))
      .orderBy("doc_new", "doc_idx")
  }

  def qIncrementalSql: String =
    s"""WITH $minhashCtes
       |SELECT a.doc_id AS doc_new, b.doc_id AS doc_idx
       |FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
       |WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
       |GROUP BY 1, 2
       |ORDER BY doc_new, doc_idx""".stripMargin

  /** Declared query gating COMPACTION equivalence — the maintenance half
    * of the incremental-dedup lifecycle that r13 left ungated: the
    * corpus index is first materialized in the STREAMING INGEST'S shape
    * (batch_id-partitioned accumulation of small per-trigger writes,
    * the layout [[graft.streaming.Streams.dedupIngest]] produces), then
    * [[graft.sources.Sinks.compactBandIndex]] folds it into the
    * (band, bh)-bucketed steady-state table, and the batch joins THAT.
    * The oracle is [[qIncrementalSql]] UNCHANGED — identical candidates
    * before and after compaction is the whole contract of a maintenance
    * job. Both materializations are fingerprint-keyed (ingest layout via
    * [[graft.sources.Artifacts]], compacted table by fingerprint-suffixed
    * name with superseded fingerprints dropped), so repeated queries
    * over unchanged data pay one bucketed scan, not a rebuild. */
  def qIncrementalCompacted(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val newBatch = docs.filter(col("doc_id") % 5 === 0)
    incrementalCandidates(bandIndex(newBatch), s.table(compactedBandTable(s, dir)))
      .orderBy("doc_new", "doc_idx")
  }

  /** Materialize (once per source fingerprint) the ingest-shaped index
    * and its compacted bucketed table; returns the table name. Split
    * out of [[qIncrementalCompacted]] so the layout spec can assert the
    * bucketed scan joins unshuffled without re-deriving the naming. */
  /** (host, pid) discriminator for process-scoped catalog table names —
    * pid alone is unique only per host, and a shared warehouse dir can
    * serve drivers on several machines (ADVICE r14). Sanitized to the
    * catalog's identifier alphabet; hostname truncated (table-name
    * hygiene) but kept human-readable for leftover triage. */
  private lazy val procTag: String = graft.sources.Artifacts.procTag

  def compactedBandTable(s: SparkSession, dir: String): String = {
    import graft.sources.{Artifacts, Sinks}
    val src = s"$dir/documents.parquet"
    val ingestPath = Artifacts.path(s, "band_index_ingest", src)
    // ingest-shaped accumulation: 3 batch partitions, as if three
    // triggers wrote them (the streaming twin's exact layout)
    Artifacts.cachedPartitioned(s, "band_index_ingest", src, Seq("batch_id")) {
      val corpus = Tables.documents(s, dir).filter(col("doc_id") % 5 =!= 0)
      bandIndex(corpus).withColumn("batch_id", pmod(col("doc_id"), lit(3L)))
    }
    val fpTag = new org.apache.hadoop.fs.Path(ingestPath).getName
      .replaceAll("[^A-Za-z0-9_]", "_")
    // PROCESS-SCOPED table name: a bucketed table's bucket spec lives in
    // the catalog, and the in-memory catalog is process-local — so the
    // table cannot be shared across processes anyway (a re-registered
    // bare directory would silently lose its bucketing). Scoping the
    // name by HOST + pid means this process never touches a directory
    // another LIVE process may be building or reading (the
    // delete-any-prefix form raced exactly that way — r14 review
    // finding), while the same-suffix leftover below is provably from a
    // dead process. The host component matters when two driver machines
    // share one spark.sql.warehouse.dir: equal pids on different hosts
    // are otherwise the same name, and the unconditional delete below
    // would race live data (ADVICE r14).
    val tbl = s"graft_band_compacted_${fpTag}_$procTag"
    if (!s.catalog.tableExists(tbl)) {
      // retire THIS PROCESS's superseded fingerprints (registered ⇒ ours;
      // managed-table DROP also removes their directories)
      s.catalog.listTables().collect()
        .map(_.name)
        .filter(n => n.startsWith("graft_band_compacted_") &&
          n.endsWith(s"_$procTag") && n != tbl)
        .foreach(n => s.sql(s"DROP TABLE IF EXISTS $n"))
      // a DEAD same-host process with this pid (pid reuse across boots)
      // may have left this exact location without a catalog entry;
      // saveAsTable refuses to create over it. Same-(host,pid)
      // concurrency is impossible, so deleting only OUR name is
      // race-free. Other processes' leftover directories are inert
      // garbage under distinct names — bounded by process count, never
      // deleted from here.
      val wh = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"))
      val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
      val loc = new org.apache.hadoop.fs.Path(wh, tbl)
      if (fs.exists(loc)) fs.delete(loc, true)
      Sinks.compactBandIndex(s, ingestPath, tbl)
    }
    tbl
  }

  // -------------------------------------------------------------------
  // Embedding-cosine near-dup (sign-random-projection LSH)
  // -------------------------------------------------------------------

  val RpBits = 60           // signature length (sign bits)
  val RpBandBits = 6        // bits per LSH band -> 10 bands
  val RpBands: Int = RpBits / RpBandBits
  val EmbedDim: Int = Similarity.EmbedDim
  val EmbedThreshold = 0.45

  /** Production-scale signature: 8 bands × 16 bits (128-bit signature),
    * verify threshold 0.95 — the constants the demo-parameter scaladoc
    * below has always named as the 100 TB configuration. Why both exist:
    * band value space bounds the candidate join. The demo's 6-bit bands
    * have 10 × 64 = 640 possible (band, value) buckets TOTAL, so bucket
    * occupancy — and the candidate-pair mass Σ C(occupancy, 2) — grows
    * quadratically with corpus size (measured at the r9 sf10 gate:
    * 200 k vectors → all 640 buckets live, max bucket 7,573, pair mass
    * 3.5e9; see BASELINE.md). 16-bit bands give 8 × 65,536 buckets:
    * random-pair collision ~1.5e-5 per band keeps candidates linear in
    * the true near-identical population, which is the only population
    * sign-LSH can retrieve at scale anyway — at cosine 0.45 (θ ≈ 63°)
    * per-band recall decays as 0.65^w, so no banding both finds such
    * pairs and bounds candidates; production dedup thresholds
    * (0.95+, θ ≤ 18°, per-band recall 0.9^16 ≈ 0.19, 8 bands → 0.81+)
    * are precisely the regime where the scheme works. */
  val ScaledRpBits = 128
  val ScaledBandBits = 16
  val ScaledBands: Int = ScaledRpBits / ScaledBandBits
  val ScaledThreshold = 0.95

  /** The next rung of the band-width ladder: the SAME 128-bit signature
    * re-cut as 4 × 32-bit bands. Why it exists (SHUFFLELAB_r10.json): at a
    * FIXED band width w, random-pair collisions cost ~bands · n²/2^w
    * candidates — quadratic in corpus size no matter how wide w is, it
    * only divides the constant. Measured: the 16-bit banding's shuffle
    * grew ×124 for ×10 data at sf1→sf10 (true pairs constant at 2 000)
    * because n²/2^16 crossed the true-pair mass. The law, not a bug:
    * production sign-LSH must RE-CUT bands as the corpus grows, keeping
    * w ≳ 2·log2(n) + margin so random collisions stay below true-dup
    * mass. 32-bit bands hold that bound to n ≈ 10^6·√(bands⁻¹·slack);
    * verbatim/near-verbatim duplicates (per-bit agreement → 1) survive
    * any width, which is the population scale-dedup targets. Re-cutting
    * costs nothing at write: same signature, different slicing. */
  val XWideBandBits = 32

  /** Deterministic ±1 hyperplanes for the sign projection, derived from
    * md5 parity so DuckDB reproduces the identical matrix
    * (`substr(md5('rp:b:j'),1,1)` even ⇔ +1). A fixed pseudo-random
    * matrix is exactly what sign-LSH needs; md5 just makes it
    * cross-engine. */
  def hyperplaneMatrix(bits: Int): Seq[Seq[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def firstNibbleEven(s: String): Boolean =
      ((md.digest(s.getBytes("UTF-8"))(0) >> 4) & 0xf) % 2 == 0
    (0 until bits).map(b =>
      (0 until EmbedDim).map(j => if (firstNibbleEven(s"rp:$b:$j")) 1L else -1L))
  }
  lazy val hyperplanes: Seq[Seq[Long]] = hyperplaneMatrix(RpBits)
  lazy val hyperplanesWide: Seq[Seq[Long]] = hyperplaneMatrix(ScaledRpBits)

  /** The registered sign-band function names: an unknown name fails
    * here with the known list, so a typo'd or future variant cannot slip
    * through (ADVICE r9) — a new one is added here and in
    * [[graft.plans.GraftExtensions]], next to its matrix and band width. */
  private val bandFunctions: Set[String] = Set(
    GraftExtensions.SignBandsName, GraftExtensions.SignBandsWideName,
    GraftExtensions.SignBandsXWideName)

  /** (vec_id, k, bv): LSH band values from the sign pattern. One narrow
    * map-side projection — the codegen'd [[graft.functions.SignBands]]
    * kernel (the integer dot products against a constant matrix, then
    * bit-packing; DedupSpec pins it against the higher-order-function
    * reference); no shuffle until the band self-join. Input is
    * `Similarity.prepared` shape (vec_id, ie, nrm). */
  def embedBands(s: SparkSession, vecs: DataFrame,
                 fnName: String = GraftExtensions.SignBandsName): DataFrame = {
    require(bandFunctions.contains(fnName),
      s"unknown sign-band function '$fnName'; known: ${bandFunctions.mkString(", ")}")
    vecs.withColumn("bands", GraftExtensions.call(s, fnName, col("ie")))
      .select(col("vec_id"), posexplode(col("bands"))).toDF("vec_id", "k", "bv")
  }

  /** Candidate pairs = vectors sharing >= 1 band value: a keyed equi-join
    * on (band, value) — never all-pairs. Two vectors at angle θ collide
    * per band with ((1 - θ/π))^RpBandBits; these demo parameters
    * (6-bit bands × 10) are tuned for the testdata's cosine≈0.45 "near"
    * pairs (measured ×6.4 candidate pruning at sf0.01). A production
    * corpus deduped at cosine >= 0.95 wants 16-bit bands × 8 (128-bit
    * signature): ~1.5e-5 random-pair collision per band while keeping
    * >0.999 recall at θ ≈ 18° — same plan, different constants. */
  def embedCandidates(s: SparkSession, vecs: DataFrame,
                      fnName: String = GraftExtensions.SignBandsName): DataFrame = {
    val bands = embedBands(s, vecs, fnName)
    val a = bands.toDF("a_id", "k", "bv")
    val b = bands.toDF("b_id", "k", "bv")
    a.join(b, Seq("k", "bv")).filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
  }

  /** Exact-cosine verification of the LSH candidates: join the (small)
    * candidate set back to the vectors and keep pairs >= threshold. All
    * arithmetic is the integerized exact form shared with Similarity. */
  def embedNearDup(s: SparkSession, vecs: DataFrame,
                   threshold: Double = EmbedThreshold,
                   fnName: String = GraftExtensions.SignBandsName): DataFrame = {
    val d = Similarity.dot(s) _
    val va = vecs.select(col("vec_id").as("a_id"), col("ie").as("ia"), col("nrm").as("na"))
    val vb = vecs.select(col("vec_id").as("b_id"), col("ie").as("ib"), col("nrm").as("nb"))
    embedCandidates(s, vecs, fnName)
      .join(va, "a_id").join(vb, "b_id")
      .withColumn("cosine", d(col("ia"), col("ib")).cast("double") / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select("a_id", "b_id", "cosine")
  }

  /** Demo-parameter embed near-dup (10×6-bit bands, 0.45 verify). NOT a
    * declared query since round 10: the 640-bucket band value space makes
    * candidate mass quadratic in corpus size (measured in r9: SURVEY.md
    * "dedup_embed_scaled (new query #107)"; probe source at ed10bcd), so
    * it cannot be offered as something a user could run at scale. Kept as
    * the DedupSpec/PlanAuditSpec fixture exercising the narrow native
    * kernel; [[qEmbedScaled]] is the declared production configuration. */
  def qEmbed(s: SparkSession, dir: String): DataFrame =
    embedNearDup(s, Similarity.prepared(s, dir)).orderBy("a_id", "b_id")

  /** The production-parameter twin of [[qEmbed]] (see the ScaledRpBits
    * scaladoc): 128-bit signature, 8 × 16-bit bands, verify at 0.95.
    * On the driver's base corpus its result is EMPTY — the max pairwise
    * cosine there is ~0.51 (measured, BASELINE.md r9) and that emptiness
    * is the correct answer, hash-gated like any other; on the scaled-up
    * realistic-duplication corpora the verbatim replica clusters put
    * real near-identical mass in range and the query returns them with
    * candidate counts linear in that true population. */
  def qEmbedScaled(s: SparkSession, dir: String): DataFrame =
    embedNearDup(s, Similarity.prepared(s, dir), ScaledThreshold,
      GraftExtensions.SignBandsWideName).orderBy("a_id", "b_id")

  /** Planted-replica spacing/offset for [[qEmbedPlanted]]: every 50th
    * vec_id is replicated verbatim at id + 10^9 (above every sf's max
    * id — 991,999 at sf10). Verbatim replicas are exactly the mass the
    * production banding is FOR (the ScaleUp near-dup clusters at sf1/
    * sf10 are the same shape), and they guarantee the driver-sf gate
    * row is non-vacuous: cosine(v, v) = 1.0 >= 0.95 at every sf. */
  val PlantEvery = 50
  val PlantOffset = 1000000000L

  /** [[qEmbedScaled]] over the base corpus PLUS planted verbatim
    * replicas — the non-vacuous driver-sf twin (VERDICT r12 #2): on the
    * driver's base corpus `dedup_embed_scaled`'s correct answer is 0
    * rows (max pairwise cosine 0.513, measured r9), which gates as an
    * empty-vs-empty hash match exercising none of the band/verify
    * arithmetic. This gate plants deterministic near-dup mass through
    * the SAME wide native kernel + banding + exact-cosine verify, so
    * every sf's row has nonzero rows: each planted replica must meet
    * its original (all 8 bands collide; cosine exactly 1.0 in both
    * engines — integer dot over identical vectors, one IEEE sqrt and
    * divide), plus whatever true base near-dup mass exists at that sf.
    * The base-corpus query stays declared as-is: its emptiness at the
    * driver's sf IS the correct answer there. */
  def qEmbedPlanted(s: SparkSession, dir: String): DataFrame = {
    val base = Similarity.prepared(s, dir)
    val planted = base
      .filter(pmod(col("vec_id"), lit(PlantEvery)) === 0)
      .withColumn("vec_id", col("vec_id") + lit(PlantOffset))
    embedNearDup(s, base.unionByName(planted), ScaledThreshold,
      GraftExtensions.SignBandsWideName).orderBy("a_id", "b_id")
  }

  def qEmbedScaledSql: String = embedSql(ScaledRpBits, ScaledBandBits, ScaledThreshold)

  def qEmbedPlantedSql: String =
    embedSql(ScaledRpBits, ScaledBandBits, ScaledThreshold,
      source = s"""(SELECT vec_id, embedding FROM embeddings
         |   UNION ALL
         |   SELECT vec_id + $PlantOffset AS vec_id, embedding
         |   FROM embeddings WHERE vec_id % $PlantEvery = 0)""".stripMargin)

  /** The sign-RP banding CTE prefix (iv → ivn → hyper → bits → bands),
    * shared verbatim by every embed oracle — the dedup family here AND
    * the semantic decontamination report ([[Decontam.qEmbedReportSql]]);
    * one definition so a banding change can never silently diverge the
    * oracles (r14 review finding). */
  private[operators] def embedSqlPrefix(bits: Int, bandBits: Int,
                                        source: String): String =
    s"""iv AS (
       |  SELECT vec_id, list_transform(embedding,
       |           x -> CAST(round(CAST(x AS DOUBLE) * ${Similarity.Scale}) AS BIGINT)) AS ie
       |  FROM $source),
       |ivn AS (
       |  SELECT vec_id, ie,
       |         sqrt(CAST(CAST(list_sum(list_transform(ie, x -> x * x)) AS BIGINT) AS DOUBLE)) AS nrm
       |  FROM iv),
       |hyper AS (
       |  SELECT b, j, CASE WHEN substr(md5('rp:' || b || ':' || j), 1, 1)
       |                    IN ('0','2','4','6','8','a','c','e') THEN 1 ELSE -1 END AS h
       |  FROM range($bits) t(b), range($EmbedDim) u(j)),
       |bits AS (
       |  SELECT v.vec_id, hp.b,
       |         CASE WHEN sum(hp.h * v.ie[hp.j + 1]) >= 0 THEN 1 ELSE 0 END AS bt
       |  FROM ivn v, hyper hp GROUP BY v.vec_id, hp.b),
       |bands AS (
       |  SELECT vec_id, b // $bandBits AS k,
       |         CAST(sum(bt * (1 << (${bandBits - 1} - (b % $bandBits)))) AS BIGINT) AS bv
       |  FROM bits GROUP BY vec_id, b // $bandBits)""".stripMargin

  private def embedSql(bits: Int, bandBits: Int, threshold: Double,
                       source: String = "embeddings"): String =
    s"""WITH ${embedSqlPrefix(bits, bandBits, source)},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM bands a JOIN bands b ON a.k = b.k AND a.bv = b.bv AND a.vec_id < b.vec_id),
       |verified AS (
       |  SELECT c.a_id, c.b_id,
       |         CAST(CAST(list_sum(list_transform(list_zip(x.ie, y.ie), z -> z[1] * z[2])) AS BIGINT) AS DOUBLE)
       |           / (x.nrm * y.nrm) AS cosine
       |  FROM cand c JOIN ivn x ON x.vec_id = c.a_id JOIN ivn y ON y.vec_id = c.b_id)
       |SELECT a_id, b_id, cosine FROM verified
       |WHERE cosine >= $threshold ORDER BY a_id, b_id""".stripMargin
}
