package graft

import graft.operators.Text
import graft.plans.GraftExtensions
import org.apache.spark.sql.functions.{col, lit, typedLit}

class TextSpec extends SparkSpec {
  private lazy val sp = spark
  import sp.implicits._

  test("stats: hand-computed counts on a fixture") {
    // "the cat, sat!" -> norm "the cat, sat!"; 3 words; punct , and !;
    // tokens: the|cat|,|sat|! = 5; stopword hits: "the" = 1
    val df = Seq((1L, "The  cat, sat!")).toDF("doc_id", "text")
    val r = Text.stats(df).head
    assert(r.getAs[Long]("n_words") == 3)
    assert(r.getAs[Long]("n_tokens") == 5)
    assert(r.getAs[Long]("n_punct") == 2)
    assert(r.getAs[Long]("n_stop") == 1)
    assert(r.getAs[Double]("stop_ratio") == 1.0 / 3.0)
    // quality: n_words<20 -> 0; stop_ratio .33>=0.01 -> +0.3; punct_ratio
    // 2/14 > 0.1 -> 0  => 0.3
    assert(r.getAs[Double]("quality") == 0.3)
  }

  test("langid: profile argmax with declaration-order tie-break") {
    val df = Seq(
      (1L, "der und ist das some words here"),   // de profile hits
      (2L, "le la et est some words here"),      // fr
      (3L, "xyz abc nothing matches anything")). // all scores 0 -> tie -> en
      toDF("doc_id", "text")
    val out = Text.langId(df).collect().map(r => r.getLong(0) -> r.getAs[String]("predicted")).toMap
    assert(out(1L) == "de" && out(2L) == "fr")
    assert(out(3L) == "en", "all-zero tie breaks to first declared profile")
  }

  test("fingerprint: normalization-invariant identity, 60-bit form consistent") {
    val df = Seq((1L, "Hello   World"), (2L, "hello world"), (3L, "other")).toDF("doc_id", "text")
    val out = Text.fingerprint(df).collect().map(r =>
      r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L) == out(2L), "case/whitespace-insensitive")
    assert(out(1L) != out(3L))
    assert(java.lang.Long.toHexString(out(1L)._2) == out(1L)._1.take(15).dropWhile(_ == '0'),
      "fp64 is the first 15 hex chars of fp_md5")
  }

  test("rolling hash: order-sensitive, matches hand-fold, incremental append") {
    def wh(w: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % Text.RollM
    }
    def fold(ws: Seq[String]): Long =
      ws.foldLeft(0L)((acc, w) => (acc * Text.RollB + wh(w)) % Text.RollM)
    val df = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha"), (3L, "alpha beta"))
      .toDF("doc_id", "text")
    val out = Text.fingerprint(df).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("fp_rolling")).toMap
    assert(out(1L) == fold(Seq("alpha", "beta", "gamma")), "matches the driver-side fold")
    assert(out(1L) != out(2L), "word order must change the hash")
    // O(1) incremental append: h(ws :+ w) = (h(ws)*B + wh(w)) mod M
    assert(out(1L) == (out(3L) * Text.RollB + wh("gamma")) % Text.RollM)
  }

  test("winnowing: match guarantee and local-edit robustness") {
    val a = "one two three four five six seven eight nine ten eleven twelve " +
      "thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"
    // same text with ONE word changed in the middle (normalization
    // lowercases, so the replacement must differ beyond case)
    val b = a.replace(" ten ", " zzz ")
    val out = Text.winnow(Seq((1L, a), (2L, b), (3L, a)).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    assert(out(1L) == out(3L), "identical docs -> identical fingerprint set")
    // a one-word edit only perturbs k-grams covering it: the fingerprint
    // sets must still overlap heavily (this is winnowing's whole point)
    val inter = out(1L).intersect(out(2L)).size.toDouble
    assert(inter / out(1L).size >= 0.4,
      s"local edit must preserve most fingerprints: ${inter}/${out(1L).size}")
    assert(out(1L) != out(2L), "but the edit is detectable")
    // short-doc guard: < k words yields exactly one fingerprint
    val short = Text.winnow(Seq((9L, "tiny doc")).toDF("doc_id", "text")).collect()
    assert(short.length == 1)
  }

  test("vocab: counts, deterministic tie order, top-k cut") {
    val docs = Seq((1L, "b a a c"), (2L, "a b B"), (3L, "c x")).toDF("doc_id", "text")
    val out = Text.vocab(docs, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // a: 3 occurrences in 2 docs; b: 3 in 2 (B lowercased); ties a < b
    assert(out.toSeq == Seq(("a", 3L, 2L), ("b", 3L, 2L), ("c", 2L, 2L)))
  }

  test("bm25: rarer query term outranks common one; scores exact ints; top-k deterministic") {
    val docs = Seq(
      (1L, "spark spark spark common"),   // high tf on rare term
      (2L, "common common common common"),// only the ubiquitous term
      (3L, "spark common"),
      (4L, "common noise words here"),
      (5L, "unrelated entirely")
    ).toDF("doc_id", "text")
    val out = Text.bm25(docs, terms = Seq("spark", "common"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 1 (tf=3 on the rare term) must beat doc 2 (tf=4 on the common one)
    assert(out.head._1 == 1L)
    assert(out.map(_._1).contains(2L))
    assert(!out.map(_._1).contains(5L), "no query term -> no score row")
    // determinism across partitionings (int scores: no float summation order)
    val again = Text.bm25(docs.repartition(7), terms = Seq("spark", "common"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == again.toSeq)
  }

  test("tfidf: rare tokens outrank common ones per doc; exact integer scores") {
    val docs = Seq(
      (1L, "common common rare"),
      (2L, "common common common"),
      (3L, "common other"),
    ).toDF("doc_id", "text")
    val out = Text.tfidf(docs, k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toList
      .sortBy(r => (r._1, r._2))
    // doc 1: "rare" (df=1) outranks "common" (df=3) despite tf 1 vs 2:
    // w(rare) = (10000*7) div 3 = 23333 > 2 * w(common) = 2*(70000 div 7)
    assert(out === List(
      (1L, 1, "rare"), (1L, 2, "common"),
      (2L, 1, "common"),
      (3L, 1, "other"), (3L, 2, "common")), s"got $out")
  }

  test("bigrams: hand-computed pairs, doc counts, and next-word probability") {
    val docs = Seq(
      (1L, "a b a b"),    // pairs: (a,b) (b,a) (a,b); unigrams a=2 b=2
      (2L, "a b c"),      // pairs: (a,b) (b,c);      unigrams a=1 b=1 c=1
      (3L, "solo"),       // one token -> no pairs, still counts a unigram
    ).toDF("doc_id", "text")
    val out = Text.bigrams(docs)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toList
    assert(out === List(
      ("a", "b", 3L, 2L, 1.0),        // 3 of a's 3 occurrences precede b
      ("b", "a", 1L, 1L, 1.0 / 3),
      ("b", "c", 1L, 1L, 1.0 / 3),
    ), s"got $out")
  }

  test("linedup: globally-first keeper, order-preserving rebuild, empty survivors") {
    // LineW=4. doc 1: chunks ["a b c d", "e f g h"]; doc 2 repeats doc 1's
    // first chunk then has its own; doc 3 is ENTIRELY doc-1 chunks -> kept
    // empty, not dropped; doc 4 repeats its own chunk within the doc.
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d x y z w"),
      (3L, "e f g h a b c d"),
      (4L, "p q r s p q r s"),
    ).toDF("doc_id", "text")
    val out = Text.lineDedup(docs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toList
    assert(out === List(
      (1L, 2L, 2L, 0L, "a b c d e f g h"),
      (2L, 2L, 1L, 1L, "x y z w"),
      (3L, 2L, 0L, 2L, ""),
      (4L, 2L, 1L, 1L, "p q r s"),
    ), s"got $out")
  }

  test("perplexity: hand-computed surprisal bits on a 3-doc corpus") {
    // corpus: "a b" ×2 docs, "a c" ×1. V=3 (a,b,c). c(a)=3, c(b)=2, c(c)=1.
    // bigram (a,b): c12=2 -> q=(3+3)//(2+1)=2 -> bits=1
    // bigram (a,c): c12=1 -> q=6//2=3        -> bits=1
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c")).toDF("doc_id", "text")
    val out = graft.operators.Text.perplexity(docs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).toList
    assert(out === List(
      (1L, 1L, 1L, 1.0, false),
      (2L, 1L, 1L, 1.0, false),
      (3L, 1L, 1L, 1.0, false),
    ), s"got $out")
  }

  test("perplexity: rare continuation scores more bits than common one") {
    // "x y" dominates; "x z" is the rare continuation of the same context
    val docs = (1L to 9L).map(i => (i, "x y")) :+ (10L, "x z")
    val out = graft.operators.Text.perplexity(docs.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // c(x)=10, V=3; (x,y): q=(10+3)//(9+1)=1 -> 0 bits;
    // (x,z): q=13//2=6 -> 2 bits
    assert(out(1L) === 0L && out(10L) === 2L, s"got $out")
  }

  test("linedup: ragged tail chunk is its own unit and dedups as one") {
    // 5 words -> chunks ["a b c d", "e"]; the 1-word tail of doc 1 equals
    // doc 2's tail -> doc 2 keeps only its distinct head
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "v w x y e"),
    ).toDF("doc_id", "text")
    val out = Text.lineDedup(docs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getString(4))).toList
    assert(out === List((1L, 0L, "a b c d e"), (2L, 1L, "v w x y")), s"got $out")
  }

  test("boilerplate: drop-ALL at df>=3, keep df<3, pure-chrome doc survives empty") {
    // "c1 c2 c3 c4" in 3 docs -> chrome, every copy dropped (lineDedup
    // would keep doc 1's); "d1 d2 d3 d4" in 2 docs -> below threshold, all
    // copies stay; doc 3 is pure chrome -> survives with empty text
    val docs = Seq(
      (1L, "c1 c2 c3 c4 d1 d2 d3 d4 u1 u2 u3 u4"),
      (2L, "d1 d2 d3 d4 c1 c2 c3 c4 v1 v2 v3 v4"),
      (3L, "c1 c2 c3 c4")).toDF("doc_id", "text")
    val out = Text.boilerplate(docs).orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_removed") == 1L
      && out(1L).getAs[String]("text_clean") == "d1 d2 d3 d4 u1 u2 u3 u4")
    assert(out(2L).getAs[String]("text_clean") == "d1 d2 d3 d4 v1 v2 v3 v4",
      "order-preserving rebuild after dropping the middle chunk")
    assert(out(3L).getAs[Long]("n_kept") == 0L
      && out(3L).getAs[String]("text_clean") == "")
    val keepFirst = Text.lineDedup(docs).orderBy("doc_id").head
    assert(keepFirst.getAs[String]("text_dedup").startsWith("c1 c2 c3 c4"),
      "contrast: lineDedup keeps the globally-first copy of the same chunk")
  }

  test("langIdEval: confusion cells with per-label shares") {
    val docs = Seq(
      (1L, "de", "der und ist here"), (2L, "de", "der und ist words"),
      (3L, "de", "le la et est oui"),        // mislabeled-looking: predicts fr
      (4L, "fr", "le la et est encore")).toDF("doc_id", "lang", "text")
    val out = Text.langIdEval(docs).orderBy("label", "predicted").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toList
    assert(out === List(
      ("de", "de", 2L, 2.0 / 3), ("de", "fr", 1L, 1.0 / 3),
      ("fr", "fr", 1L, 1.0)), s"got $out")
  }

  test("mixture: per-source doc/token counts and corpus shares") {
    val docs = Seq(
      (1L, "a", "one two three"), (2L, "a", "four five"),
      (3L, "b", "six seven eight nine ten")).toDF("doc_id", "source", "text")
    val out = Text.mixture(docs).orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toList
    assert(out === List(("a", 2L, 5L, 2.0 / 3, 0.5), ("b", 1L, 5L, 1.0 / 3, 0.5)),
      s"got $out")
  }

  test("boilerplate: within-doc repetition is ONE distinct doc, not chrome") {
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w1 w2 w3 w4 w1 w2 w3 w4"),
      (2L, "o1 o2 o3 o4")).toDF("doc_id", "text")
    val out = Text.boilerplate(docs).orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_kept") == 3L,
      "df counts DISTINCT docs: 3 copies inside one doc stay below BoilerDf")
  }

  test("bpe: train recovers hand-computed merges with lexicographic tie-break and early stop") {
    // the one trainer in both regimes (driverVocabLimit = 0 forces the
    // distributed passes) and the sequential reference, on one corpus
    def trained(texts: Seq[String], n: Int): Map[String, Seq[(String, String)]] = {
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val corpus = docs.select(graft.functions.Hashes.normText(col("text")).as("t"))
      Map("in-memory" -> Text.bpeTrainBatched(corpus, n),
        "distributed" -> Text.bpeTrainBatched(corpus, n, driverVocabLimit = 0),
        "reference" -> KernelRefs.bpeTrain(docs, n))
    }
    def check(texts: Seq[String], n: Int, want: Seq[(String, String)], why: String) =
      trained(texts, n).foreach { case (path, got) =>
        assert(got == want, s"$path: $why, got $got")
      }
    // freq: ab x3, ac x1 -> pair (a,b):3 wins, then (a,c):1, then dry
    check(Seq("ab ab ac", "ab"), 5, Seq(("a", "b"), ("a", "c")),
      "greedy argmax + early stop when no pairs remain")
    // tie at count 1: (a,b) < (b,a) lexicographically
    check(Seq("ab ba"), 2, Seq(("a", "b"), ("b", "a")), "lexicographic tie-break")
    // nothing to merge: no words at all (an empty vocabulary trains in
    // memory under any limit), and words of one character only
    check(Nil, 3, Nil, "empty corpus")
    check(Seq("a b  c", "", "d a"), 3, Nil, "one-character words")
  }

  test("bpe: fixture is well-formed (operands are base chars or earlier outputs)") {
    // sequential rank-order application (the replace-chain implementation)
    // is equivalent to min-rank-first BPE ONLY under this property — a
    // merge's output symbol cannot occur in an earlier-ranked pair
    val produced = scala.collection.mutable.Set[String]()
    Text.BpeMerges.foreach { case (x, y) =>
      for (s <- Seq(x, y))
        assert(s.length == 1 || produced(s),
          s"operand '$s' is neither a base char nor an earlier merge output")
      produced += (x + y)
    }
    assert(Text.BpeMerges.distinct.size == Text.BpeMerges.size, "no duplicate rules")
  }

  test("bpe: hand-tokenized counts under the committed fixture") {
    // "spark" -> ar, par, park, spark = 1 token; "window" -> in, ow,
    // dow, indow, window = 1; "the"(no t+h rule) = 3; "scan" = 4;
    // "in" = 1; "thin" -> t h in = 3
    val docs = Seq(
      (1L, "spark window"),
      (2L, "the scan in the thin"),
      (3L, "")).toDF("doc_id", "text")
    val out = Text.tokensBpe(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_tok_bpe")).toMap
    assert(out == Map(1L -> 2L, 2L -> 14L, 3L -> 0L), s"got $out")
  }

  test("bpe: fixture kernel == replace chain over the documents corpus") {
    // text_tokens_bpe / pipeline_pack_bpe now apply the committed fixture
    // through the rank-map kernel (r17, VERDICT r16 #4); the DuckDB
    // oracle still replays the sequential replace chain. This pins the
    // two applies equal row-by-row on the REAL corpus, so the swap
    // cannot move the gate hash.
    val t = graft.functions.Hashes.normText(col("text"))
    graft.sources.Tables.documents(spark, sf)
      .select(
        GraftExtensions.call(spark, GraftExtensions.BpeCountName,
          t, typedLit(Text.BpeMerges)).as("fast"),
        Text.bpeTokens(t).as("chain"))
      .collect()
      .foreach(r => assert(r.getLong(0) == r.getLong(1),
        s"fixture apply diverged: kernel=${r.getLong(0)} chain=${r.getLong(1)}"))
  }

  test("bpe512: batched trainer == sequential greedy (entity corpus and documents)") {
    // The r16 exactness claim behind text_bpe_train512: the two safety
    // rules (prefix-only + created-pair bound) make the batched trainer
    // produce the IDENTICAL list as the sequential loop. Checked on both
    // corpus shapes — the digit-chained entity corpus (batches narrow)
    // and the letter-dominated documents corpus (batches wide).
    val entity = Text.bpeEntityCorpus(spark, sf)
    val seqWords = entity.select(col("t").as("text"))
      .withColumn("doc_id", lit(0L))
    val seq64 = KernelRefs.bpeTrain(seqWords, 64)
    // in-memory regime (the gate path at this vocab size)
    assert(Text.bpeTrainBatched(entity, 64) == seq64,
      "entity corpus: in-memory batched must equal sequential at 64 merges")
    // distributed regime FORCED (driverVocabLimit = 0) — the 100 TB path
    assert(Text.bpeTrainBatched(entity, 24, driverVocabLimit = 0) == seq64.take(24),
      "entity corpus: distributed batched must equal sequential at 24 merges")
    val docs = graft.sources.Tables.documents(spark, sf)
    val docCorpus = docs.select(
      graft.functions.Hashes.normText(col("text")).as("t"))
    val seqDoc = KernelRefs.bpeTrain(docs, 32)
    assert(Text.bpeTrainBatched(docCorpus, 32) == seqDoc,
      "documents: in-memory batched must equal sequential at 32 merges")
    assert(Text.bpeTrainBatched(docCorpus, 32, driverVocabLimit = 0) == seqDoc,
      "documents: distributed batched must equal sequential at 32 merges")
  }

  test("bpe512: native rank-map kernel == the sequential replace chain, word by word") {
    // The apply-equivalence claim behind text_tokens_bpe512: for a
    // well-formed trained list, min-rank-first tokenization (BpeCount)
    // equals the rank-order replace chain — at the FULL 512-merge gate
    // list. The chain side runs driver-side (the oracle's exact
    // arithmetic: wrap, replace per rank, count D1 minus spaces) because
    // a 512-deep replace-Expression plan is precisely the Catalyst
    // cliff this kernel removes (measured: Catalyst grinds minutes on a
    // 256-deep chain at analysis time).
    val merges = Text.bpeTrainBatched(Text.bpeEntityCorpus(spark, sf), 512)
    // sf0.001 carries a PREFIX of the fixed-bound corpus (the gate sf
    // trains the full 512); ~295 learnable merges is still 12x past the
    // r15 replace-chain cliff
    assert(merges.size >= 250, s"corpus must train at scale, got ${merges.size}")
    // well-formedness (the equivalence precondition), like the fixture pin
    val produced = scala.collection.mutable.Set[String]()
    merges.foreach { case (x, y) =>
      for (s <- Seq(x, y))
        assert(s.length == 1 || produced(s),
          s"operand '$s' is neither a base char nor an earlier output")
      produced += (x + y)
    }
    val (d1, d2) = ("\u0001", "\u0002")
    def chainCount(t: String): Long = {
      var sq = t.flatMap(c => s"$d1$c$d2")
      merges.foreach { case (x, y) =>
        sq = sq.replace(d1 + x + d2 + d1 + y + d2, d1 + x + y + d2)
      }
      (sq.count(_ == '\u0001') - t.count(_ == ' ')).toLong
    }
    val rows = Text.bpeEntityCorpus(spark, sf)
      .select(col("kind"), col("k"), col("t"),
        GraftExtensions.call(spark, GraftExtensions.BpeCountName,
          col("t"), typedLit(merges)).as("fast"))
      .collect()
    assert(rows.length >= 300, s"corpus size ${rows.length}")
    rows.foreach { r =>
      val want = chainCount(r.getString(2))
      assert(r.getLong(3) == want,
        s"${r.getString(0)}/${r.getLong(1)}: fast=${r.getLong(3)} chain=$want")
    }
    // and against the PLAN-side chain in its supported regime (<= the
    // r15 codegen-clean 24-merge window): same prefix list, both paths
    // in one projection
    val m24 = merges.take(24)
    Text.bpeEntityCorpus(spark, sf)
      .select(
        GraftExtensions.call(spark, GraftExtensions.BpeCountName,
          col("t"), typedLit(m24)).as("fast"),
        Text.bpeTokens(col("t"), m24).as("chain"))
      .collect()
      .foreach(r => assert(r.getLong(0) == r.getLong(1),
        s"24-merge prefix: fast=${r.getLong(0)} chain=${r.getLong(1)}"))
  }

  test("bpe512: kernel edge cases — empty text, unknown chars, full merge, null") {
    val merges = Seq(("a", "b"), ("ab", "c"))
    val out = Seq("", "abc", "xyz", "abc abc zz", null)
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("i", "t")
      .select(col("i"), GraftExtensions.call(spark, GraftExtensions.BpeCountName,
        col("t"), typedLit(merges)).as("n"))
      .orderBy("i").collect()
    assert(out(0).getLong(1) == 0L, "empty text -> 0 tokens")
    assert(out(1).getLong(1) == 1L, "abc fully merges via (a,b)+(ab,c)")
    assert(out(2).getLong(1) == 3L, "no rule fires -> char count")
    assert(out(3).getLong(1) == 4L, "per-word composition: 1 + 1 + 2")
    assert(out(4).isNullAt(1), "NULL text -> NULL")
  }
}
