package graft

import graft.operators.{Dedup, Similarity}
import graft.plans.GraftExtensions
import org.apache.spark.sql.functions._

/** Dedup semantics on planted fixtures: exact dups collapse, near-dups
  * surface as LSH candidates and survive Jaccard verification, unrelated
  * docs do not pair. */
class DedupSpec extends SparkSpec {
  private lazy val sp = spark
  import sp.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat sleeps on the warm mat near the door"
  private val nearDup = // one word changed
    "the quick brown fox jumps over the lazy dog while the cat sleeps on the warm rug near the door"
  private val unrelated =
    "completely different content about spark shuffles partitions and broadcast joins at scale"

  private def docs = Seq(
    (1L, base), (2L, base.toUpperCase), // exact after normalization
    (3L, nearDup),
    (4L, unrelated),
  ).toDF("doc_id", "text")

  test("exact: case/whitespace-normalized duplicates collapse to one fingerprint") {
    val out = Dedup.exact(docs).collect()
    val dupGroup = out.filter(_.getAs[Long]("n_dups") > 1)
    assert(dupGroup.length == 1)
    assert(dupGroup.head.getAs[Long]("canonical_id") == 1L, "min doc_id is canonical")
    assert(out.map(_.getAs[Long]("n_dups")).sum == 4)
  }

  test("incremental: a new near-dup pairs against the persisted index, not the batch alone") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_bandidx").toString
    // corpus indexed once (docs 1, 4); batch brings a near-dup of 1 + noise
    Dedup.bandIndex(Seq((1L, base), (4L, unrelated)).toDF("doc_id", "text"))
      .write.mode("overwrite").parquet(tmp)
    val batch = Seq((10L, nearDup), (11L, "entirely fresh text about nothing similar at all"))
      .toDF("doc_id", "text")
    val pairs = Dedup.incrementalCandidates(
        Dedup.bandIndex(batch), spark.read.parquet(tmp))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((10L, 1L)), "near-dup of an indexed doc is found")
    assert(!pairs.exists(_._1 == 11L), "fresh content pairs with nothing")
    assert(pairs.forall(p => p._1 >= 10L && p._2 < 10L), "only new x corpus pairs")
  }

  test("minhash-LSH: near-dup pair is a candidate; unrelated doc pairs with nothing") {
    val pairs = Dedup.lshCandidates(Dedup.lshBands(
      Dedup.minhashSignature(Dedup.shingles(docs))))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "exact dup is trivially a candidate")
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)), "near-dup found")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), "unrelated doc never pairs")
  }

  test("jaccard verification: near-dup scores high, and score is exact set-Jaccard") {
    val out = Dedup.jaccardOverCandidates(docs)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Double]("jaccard"))).toMap
    assert(out((1L, 2L)) == 1.0, "normalized-identical docs have jaccard 1")
    // base vs nearDup: 20 words -> 18 shingles each (all distinct); the one
    // changed word sits in 3 shingles -> |A∩B| = 15, |A∪B| = 18+18-15 = 21
    assert(out((1L, 3L)) == 15.0 / 21.0, s"hand-computed jaccard, got ${out((1L, 3L))}")
  }

  test("simhash: near-dup within hamming threshold, unrelated far away") {
    // SimHash needs realistic document length to be stable (a 3-shingle
    // change in a 20-word doc flips ~10+ bits; in a 60+-word doc, a
    // handful). Fixture mirrors the real corpus' ~50-word scale.
    val longBase = "alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
      "kilo lima mike november oscar papa quebec romeo sierra tango uniform victor " +
      "whiskey xray yankee zulu one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen red orange yellow green blue indigo " +
      "violet black white gray silver gold copper bronze iron"
    val longDocs = Seq(
      (1L, longBase),
      (2L, longBase), // exact dup
      (3L, longBase.replace("quebec", "quibec")), // one-word near-dup
      (4L, "totally different words about query engines shuffles caches and " +
        "columnar storage formats for big data processing at warehouse scale today"),
    ).toDF("doc_id", "text")
    val fps = Dedup.simhash(longDocs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(2L), "identical docs -> identical fingerprint")
    assert(java.lang.Long.bitCount(fps(1L) ^ fps(3L)) <= Dedup.HammingMax, "near-dup close")
    assert(java.lang.Long.bitCount(fps(1L) ^ fps(4L)) > Dedup.HammingMax, "unrelated far")
    val cands = Dedup.simhashCandidates(Dedup.simhash(longDocs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 3L)) && !cands.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("LSH candidate generation is bounded: pair count << all-pairs on real corpus") {
    val docs500 = graft.sources.Tables.documents(spark, sf)
    val n = docs500.count()
    val candidates = Dedup.qMinhash(spark, sf).count()
    assert(candidates < n * 2, s"candidates ($candidates) must stay near-linear, not O(n²)")
  }

  test("simhash pigeonhole: a pair at hamming = HammingMax is ALWAYS found") {
    // worst case for banding: the differing bits spread maximally across
    // chunks. With the old 4×15-bit chunks, 4 spread flips (one per
    // chunk) shared no band and the pair was silently lost despite
    // hamming 4 <= HammingMax 6; 7 chunks pigeonhole-guarantee recall.
    val base = 0x0FFFFFFFFFFFFFFL & ((1L << Dedup.SimhashBits) - 1)
    val spreadBits = Seq(0, 10, 20, 30, 40, 50) // 6 flips, 6 distinct chunks
    val other = spreadBits.foldLeft(base)((f, b) => f ^ (1L << b))
    assert(java.lang.Long.bitCount(base ^ other) == Dedup.HammingMax)
    val fps = Seq((1L, base), (2L, other)).toDF("doc_id", "fp")
    val pairs = Dedup.simhashCandidates(fps)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"pigeonhole recall must hold, got $pairs")
  }

  test("staged-oracle constants pin: tools/check_staged.py hardcodes these") {
    // tools/check_staged.py's SIMHASH_PREFIX / shingle PREFIX / embed
    // stages re-state these constants as SQL literals (it cannot import
    // Scala). This pin makes a Scala-side constant change fail HERE with
    // a pointer, instead of silently desyncing the staged sf>=1 oracles.
    assert(Dedup.ShingleK == 3)
    assert(Dedup.SimhashBits == 60 && Dedup.SimhashChunks == 7 && Dedup.HammingMax == 6)
    assert(Dedup.chunkSpans == Seq((0, 9), (9, 9), (18, 9), (27, 9), (36, 8), (44, 8), (52, 8)))
    assert(Similarity.Scale == 10000000L && Dedup.EmbedDim == 64)
    assert(Dedup.ScaledRpBits == 128 && Dedup.ScaledBandBits == 16 &&
      Dedup.ScaledThreshold == 0.95)
    assert(Dedup.PlantEvery == 50 && Dedup.PlantOffset == 1000000000L)
  }

  test("embedBands rejects an unknown sign-band function name loudly") {
    val vecs = Similarity.prepared(spark, sf)
    val e = intercept[IllegalArgumentException] {
      Dedup.embedBands(spark, vecs, "graft_sign_bands_typo")
    }
    assert(e.getMessage.contains("unknown sign-band function"))
  }

  test("embedding near-dup: planted high-cosine pair found, far pairs pruned by verify") {
    val rnd = new scala.util.Random(7)
    val base = Array.fill(64)(rnd.nextFloat() - 0.5f)
    val near = base.zipWithIndex.map { case (x, i) => if (i == 0) x + 0.01f else x }
    val far = Array.fill(64)(rnd.nextFloat() - 0.5f)
    val vecs = Seq((1L, base.toSeq), (2L, near.toSeq), (3L, far.toSeq))
      .toDF("vec_id", "embedding")
      .withColumn("ie", Similarity.intVec(col("embedding")))
      .withColumn("nrm", sqrt(KernelRefs.dotL(col("ie"), col("ie")).cast("double")))
    val cands = Dedup.embedCandidates(spark, vecs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)), s"cos≈0.999 pair must share a band, got $cands")
    val dups = Dedup.embedNearDup(spark, vecs, threshold = 0.95)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dups == Set((1L, 2L)), s"only the planted pair survives verify, got $dups")
  }

  test("embedding LSH prunes: candidate pairs well under all-pairs on real vectors") {
    val vecs = Similarity.prepared(spark, sf)
    val n = vecs.count()
    val allPairs = n * (n - 1) / 2
    val candidates = Dedup.embedCandidates(spark, vecs).count()
    assert(candidates < allPairs / 4,
      s"banding must prune ($candidates of $allPairs pairs)")
  }

  test("scaled embed dedup: exact-duplicate vectors always collide; base corpus is empty") {
    val wide = GraftExtensions.SignBandsWideName
    // identical vectors have identical signatures -> collide in EVERY band
    val rnd = new scala.util.Random(11)
    val base = Array.fill(64)(rnd.nextFloat() - 0.5f)
    val far = Array.fill(64)(rnd.nextFloat() - 0.5f)
    val vecs = Seq((1L, base.toSeq), (2L, base.toSeq), (3L, far.toSeq))
      .toDF("vec_id", "embedding")
      .withColumn("ie", Similarity.intVec(col("embedding")))
      .withColumn("nrm", sqrt(KernelRefs.dotL(col("ie"), col("ie")).cast("double")))
    val bands = Dedup.embedBands(spark, vecs, wide)
    val shared = bands.toDF("a", "k", "bv").join(bands.toDF("b", "k", "bv"), Seq("k", "bv"))
      .filter(col("a") === 1L && col("b") === 2L).count()
    assert(shared == Dedup.ScaledBands.toLong,
      s"exact dup must collide in all ${Dedup.ScaledBands} wide bands, got $shared")
    val dups = Dedup.embedNearDup(spark, vecs, Dedup.ScaledThreshold, wide)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dups == Set((1L, 2L)), s"only the exact pair survives 0.95 verify, got $dups")
    // the driver's base corpus has no pairs at cosine >= 0.95 (max ~0.51,
    // measured in BASELINE.md r9): the scaled query's EMPTY result there
    // is the correct answer, and the wide bands produce near-zero
    // candidate mass on unrelated vectors
    assert(Dedup.qEmbedScaled(spark, sf).count() == 0L)
  }

  test("planted embed gate: one pair per planted replica, cosine 1.0 within one ulp") {
    // the non-vacuous driver-sf twin of qEmbedScaled (VERDICT r12 #2):
    // every PlantEvery-th vector is replicated verbatim at id+PlantOffset,
    // and each replica MUST meet its original through the full wide-band
    // + verify pipeline. On the sf0.001 base corpus (no true near-dups at
    // 0.95) the result is exactly the planted pairs.
    val planted = graft.operators.Dedup.qEmbedPlanted(spark, sf).collect()
    val expected = Similarity.prepared(spark, sf)
      .filter(pmod(col("vec_id"), lit(graft.operators.Dedup.PlantEvery)) === 0)
      .count()
    assert(expected > 0, "fixture corpus must plant at least one replica")
    assert(planted.length == expected,
      s"expected $expected planted pairs, got ${planted.length}")
    planted.foreach { r =>
      assert(r.getLong(1) == r.getLong(0) + graft.operators.Dedup.PlantOffset,
        s"pair must be (v, v+offset): $r")
      // cosine = int_dot / (nrm*nrm): the dot is exact, but nrm carries
      // one sqrt rounding and the product a second — the quotient lands
      // within 1 ulp of 1.0 (observed 1.0000000000000002), BIT-IDENTICALLY
      // in both engines (that determinism is what the hash gate checks;
      // this pin only guards the semantics)
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-14,
        s"verbatim replica cosine must be 1.0 within rounding: $r")
    }
  }

  test("xwide re-cut: exact dups survive any band width; candidates only shrink") {
    // The band-width ladder (Dedup.XWideBandBits): the same 128-bit
    // signature sliced as 4 × 32-bit bands. Two pinned properties:
    //  (a) verbatim duplicates (identical signatures) collide in every
    //      band at ANY width — widening never loses the population
    //      scale-dedup targets;
    //  (b) a 32-bit band match is two adjacent 16-bit matches, so the
    //      xwide candidate set is a SUBSET of the wide one — re-cutting
    //      wider can only shed random collisions, never add them.
    val xwide = GraftExtensions.SignBandsXWideName
    val rnd = new scala.util.Random(13)
    val base = Array.fill(64)(rnd.nextFloat() - 0.5f)
    val vecs = Seq((1L, base.toSeq), (2L, base.toSeq),
        (3L, Array.fill(64)(rnd.nextFloat() - 0.5f).toSeq))
      .toDF("vec_id", "embedding")
      .withColumn("ie", Similarity.intVec(col("embedding")))
      .withColumn("nrm", sqrt(KernelRefs.dotL(col("ie"), col("ie")).cast("double")))
    val dups = Dedup.embedNearDup(spark, vecs, Dedup.ScaledThreshold, xwide)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dups == Set((1L, 2L)), s"exact pair must survive 32-bit bands, got $dups")
    val corpus = Similarity.prepared(spark, sf)
    def cands(fn: String) =
      Dedup.embedCandidates(spark, corpus, fn)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (wideC, xwideC) =
      (cands(GraftExtensions.SignBandsWideName), cands(xwide))
    assert(xwideC.subsetOf(wideC),
      s"xwide candidates must be a subset of wide (${xwideC.size} vs ${wideC.size})")
  }

  test("wide sign-bands: native == composed HOF form; values within 16-bit range") {
    val wide = GraftExtensions.SignBandsWideName
    val vecs = Similarity.prepared(spark, sf)
    val native = vecs.select(col("vec_id"),
      GraftExtensions.call(spark, wide, col("ie")).as("bands"))
    val hof = KernelRefs.hofBands(vecs, Dedup.hyperplanesWide, Dedup.ScaledBandBits)
      .select("vec_id", "bands")
    assert(native.except(hof).isEmpty && hof.except(native).isEmpty,
      "wide band values must be identical between the codegen'd and HOF paths")
    val bounds = native.select(explode(col("bands")).as("bv"))
      .agg(min("bv"), max("bv")).collect()(0)
    assert(bounds.getLong(0) >= 0L && bounds.getLong(1) < (1L << Dedup.ScaledBandBits))
  }

  test("fuzzy: deletion-neighborhood finds sub/ins/identical at d<=1") {
    val sp2 = spark
    import sp2.implicits._
    val ents = Seq(
      (1L, "ab"),   // d1 to "ac" (sub), "abc" (ins), d0 to id 5
      (2L, "ac"),
      (3L, "abc"),
      (4L, "xyz"),  // no neighbors
      (5L, "ab"),   // identical-name duplicate
    ).toDF("id", "name")
    val out = Dedup.fuzzyNeighbors(ents, "id", "name")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // 1,2,3,5 are pairwise within d<=1 ("ac"~"abc" inserts b; "ac"~"ab" subs)
    assert(out === Map(
      1L -> ((3L, "ab")), 2L -> ((3L, "ab")),
      3L -> ((3L, "ab")), 5L -> ((3L, "ab"))), s"got $out")
  }

  test("fuzzy: duplicate ids fail loudly, unique ids pass the guard") {
    val sp2 = spark
    import sp2.implicits._
    // the hashed-key re-attach REQUIRES unique ids (scaladoc): with a
    // duplicated id the name re-join would multiply pair rows and could
    // verify a pair under the wrong name — the guard must raise, not
    // silently emit (ADVICE r14)
    val dup = Seq((1L, "ab"), (1L, "ac"), (2L, "ab")).toDF("id", "name")
    val ex = intercept[Exception] {
      Dedup.fuzzyPairs(dup, "id", "name").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("requires unique ids")),
      s"expected the named guard error, got: $ex")
  }

  test("fuzzy: distance-2 strings never pair, even when plausible-looking") {
    val sp2 = spark
    import sp2.implicits._
    val ents = Seq((1L, "abcd"), (2L, "abef"), (3L, "wxyz")).toDF("id", "name")
    assert(Dedup.fuzzyNeighbors(ents, "id", "name").isEmpty)
  }

  test("fuzzy2: d<=2 blocking is recall-lossless AND precision-exact vs brute force") {
    val sp2 = spark
    import sp2.implicits._
    // every d=2 edit composition: sub+sub, sub+del, sub+ins, del+del,
    // ins+ins, del+ins, plus d=3 strings that must NOT pair
    val names = Seq(
      1L -> "abcdefgh",
      2L -> "abXdefgY",  // sub+sub
      3L -> "abdefg",    // del+del ("h" + "c")
      4L -> "abcdefghij",// ins+ins
      5L -> "aXcdefg",   // sub+del
      6L -> "abcdeXfghi",// sub+ins
      7L -> "abdefghZ",  // del+ins
      8L -> "abXYeZgh",  // d=3 from 1 — must not pair with 1
      9L -> "zzzzzzzz",  // isolated
      10L -> "abcdefgh") // exact duplicate of 1 (d=0)
    val ents = names.toDF("id", "name")
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val brute = (for {
      (ia, na) <- names; (ib, nb) <- names
      if ia < ib && lev(na, nb) <= 2
    } yield (ia, ib)).toSet
    val got = Dedup.fuzzyPairs(ents, "id", "name", maxDist = 2)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute,
      s"missing=${brute -- got} extra=${got -- brute}")
    assert(brute.contains((1L, 2L)) && brute.contains((1L, 3L)) &&
      brute.contains((1L, 4L)) && !brute.contains((1L, 8L)),
      "fixture must exercise the d=2 compositions it claims")
  }

  test("fuzzy blocking-entropy law: exact keyed, candidate and verified counts per key") {
    // The d=2 cost law of Dedup.fuzzyPairs' scaladoc, counted on the raw
    // supplier table (FUZZYLAB_r14.json has the sf1 clique arm): blocking
    // cost is bucket occupancy, set by the KEY's entropy. Per arm: keyed
    // rows (explode output), DISTINCT candidate pairs before the
    // levenshtein verify (what the shuffle carries), verified pairs.
    //   d1_bare      depth-1 keys on s_name (the dedup_fuzzy blocking)
    //   d2_bare      depth-2 keys on s_name: the quadratic trap
    //   d2_composite depth-2 keys on s_name || '|' || cents (dedup_fuzzy2)
    def law(dir: String): Map[String, (Long, Long, Long)] = {
      val sup = graft.sources.Tables.supplier(spark, dir)
      val bare = sup.select(col("s_suppkey").as("id"), col("s_name").as("name"))
      val composite = sup.select(col("s_suppkey").as("id"),
        concat(col("s_name"), lit("|"),
          round(col("s_acctbal") * 100).cast("long").cast("string")).as("name"))
      def arm(ents: org.apache.spark.sql.DataFrame, depth: Int): (Long, Long, Long) = {
        val keys = if (depth == 1) Dedup.deletionKeys(col("name"))
                   else Dedup.deletionKeys2(col("name"))
        val keyed = ents.withColumn("k", explode(keys))
        val cand = keyed.as("x").join(keyed.as("y"),
            col("x.k") === col("y.k") && col("x.id") < col("y.id"))
          .select(col("x.id").as("a"), col("x.name").as("an"),
            col("y.id").as("b"), col("y.name").as("bn"))
          .distinct()
        val r = cand.agg(count(lit(1)),
          count(when(levenshtein(col("an"), col("bn")) <= depth, 1))).head()
        (keyed.count(), r.getLong(0), r.getLong(1))
      }
      Map("d1_bare" -> arm(bare, 1), "d2_bare" -> arm(bare, 2),
        "d2_composite" -> arm(composite, 2))
    }
    val root = new java.io.File(sf).getParent
    val got01 = law(s"$root/sf0.01")
    assert(got01 == Map(
      "d1_bare" -> ((1180L, 1665L, 900L)),
      "d2_bare" -> ((6681L, 4950L, 4950L)), // all C(100, 2) pairs, every one verified
      "d2_composite" -> ((15969L, 0L, 0L))), s"sf0.01: $got01")
    // 10x the suppliers: bare d2 candidates grow ~quadratically, the
    // composite key's stay at the true near-duplicates
    val got1 = law(s"$root/sf0.1")
    assert(got1 == Map(
      "d1_bare" -> ((12700L, 36855L, 13500L)),
      "d2_bare" -> ((77430L, 303255L, 142245L)),
      "d2_composite" -> ((176002L, 10L, 2L))), s"sf0.1: $got1")
  }

  test("fuzzy2: every planted two-edit twin is recovered at driver sf") {
    val matched = graft.SparkEntry.queries("dedup_fuzzy2")(spark, sf)
    val total = matched.select("n_matched_total").head().getLong(0)
    val nTwins = graft.sources.Tables.supplier(spark, sf)
      .filter(org.apache.spark.sql.functions.col("s_suppkey") % 10 === 0).count()
    // every twin AND its original must be matched (natural d<=2 pairs on
    // the cents-composited key are possible but the planted floor holds)
    assert(total >= 2 * nTwins, s"matched $total < planted floor ${2 * nTwins}")
    // the twin of the smallest planted id appears with its original as
    // the nearest name (exact-distance-2 pair)
    val rows = matched.collect()
    assert(rows.exists(_.getLong(0) >= Dedup.Fuzzy2TwinOffset) ||
      rows.forall(_.getLong(0) < Dedup.Fuzzy2TwinOffset && rows.length == Dedup.FuzzyK),
      "twin ids should surface in the id-ordered head (or the head is full of originals)")
  }
}
