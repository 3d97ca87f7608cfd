package graft

import graft.operators.{Similarity, Text}
import graft.sources.Artifacts
import org.apache.spark.sql.functions._

/** Persist-and-reuse artifact store: train-once semantics, fingerprint
  * freshness, retention sweep, and persisted==in-flight equivalence for
  * the two trained artifacts (k-means codebook, bigram LM). */
class ArtifactsSpec extends SparkSpec {
  private lazy val sp = spark
  import sp.implicits._

  private def rmKind(kind: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"${Artifacts.root}/$kind")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  test("cached trains exactly once per fingerprint; refresh retrains; sweep retires") {
    val kind = "test_cached"
    rmKind(kind)
    val src = SparkSpec.tempDir("graft_art_src") + "/t.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(src)
    var trains = 0
    def model = { trains += 1; Seq((1L, 10L)).toDF("id", "score") }
    val first = Artifacts.cached(spark, kind, src)(model).collect()
    val second = Artifacts.cached(spark, kind, src)(model).collect()
    assert(trains == 1, "second call must read the artifact, not retrain")
    assert(first.toList == second.toList)
    Artifacts.refresh(spark, kind, src)(model)
    assert(trains == 2, "refresh must force a retrain")
    // a changed source ⇒ new fingerprint ⇒ retrain on next cached()
    val p1 = Artifacts.path(spark, kind, src)
    Thread.sleep(5) // mtime tick
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .write.mode("overwrite").parquet(src)
    val p2 = Artifacts.path(spark, kind, src)
    assert(p1 != p2, "fingerprint must move with the source data")
    Artifacts.cached(spark, kind, src)(model)
    assert(trains == 3)
    // sweep retires the superseded fingerprint, keeps the current one
    Artifacts.sweep(spark, kind, src)
    val dir = new java.io.File(s"${Artifacts.root}/$kind")
    val left = dir.listFiles.map(_.getName).toSet
    assert(left == Set(new org.apache.hadoop.fs.Path(p2).getName), s"got $left")
    rmKind(kind)
  }

  test("refresh refuses any layout change, in both directions (ADVICE r13)") {
    val kind = "test_refresh_guard"
    rmKind(kind)
    val src = SparkSpec.tempDir("graft_art_guard") + "/t.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(src)
    def model = Seq((1L, "x", 10L), (2L, "y", 20L)).toDF("id", "part", "score")
    // declare partitioned; flat refresh and differently-partitioned
    // refresh must both be refused, the declared layout must pass
    Artifacts.cachedPartitioned(spark, kind, src, Seq("part"))(model)
    intercept[IllegalArgumentException] {
      Artifacts.refresh(spark, kind, src)(model) // flatten
    }
    intercept[IllegalArgumentException] {
      Artifacts.refresh(spark, kind, src, Seq("id"))(model) // re-key
    }
    Artifacts.refresh(spark, kind, src, Seq("part"))(model)
    // and the reverse direction: partitioning a flat artifact is refused
    val kindF = "test_refresh_guard_flat"
    rmKind(kindF)
    Artifacts.cached(spark, kindF, src)(model)
    intercept[IllegalArgumentException] {
      Artifacts.refresh(spark, kindF, src, Seq("part"))(model)
    }
    Artifacts.refresh(spark, kindF, src)(model)
    rmKind(kind); rmKind(kindF)
  }

  test("benign race: two concurrent writers of one fingerprint converge on identical content") {
    val kind = "test_race"
    rmKind(kind)
    val src = SparkSpec.tempDir("graft_art_race") + "/t.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(src)
    val expect = Seq((1L, 10L), (2L, 20L))
    def model = expect.toDF("id", "score")
    // Both writers pass the exists() check before either writes — the
    // claimed-benign overlap. Deterministic training means both write
    // byte-identical content; the overwrite into the fingerprint dir must
    // leave a readable artifact equal to the trained frame either way.
    val gate = new java.util.concurrent.CountDownLatch(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map { _ =>
      new Thread(() => {
        gate.countDown(); gate.await() // maximize overlap
        try Artifacts.cached(spark, kind, src)(model)
        catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"writer threw: ${Option(errs.peek()).map(_.toString)}")
    val got = Artifacts.cached(spark, kind, src)(fail("must not retrain"))
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == expect)
    // exactly one artifact dir for this source
    val dirs = new java.io.File(s"${Artifacts.root}/$kind").listFiles.map(_.getName)
    assert(dirs.length == 1, s"got ${dirs.toList}")
    rmKind(kind)
  }

  test("media_encoded artifact: source mutation triggers exactly one rebuild (VERDICT r13 #7)") {
    import graft.operators.Multimodal
    val kind = "media_encoded"
    // an isolated source dir so the declared queries' cached artifacts
    // (keyed by the real testdata paths) are untouched
    val dir = SparkSpec.tempDir("graft_media_src")
    val src = s"$dir/documents.parquet"
    def docs(n: Int) = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") < n)
    docs(12).write.mode("overwrite").parquet(src)
    def artifactDirs() = Option(new java.io.File(s"${Artifacts.root}/$kind").listFiles)
      .getOrElse(Array.empty).map(_.getName)
      .filter(_.contains("graft_media_src")).sorted.toList
    val before = artifactDirs()
    assert(before.isEmpty, s"stale test artifacts: $before")

    val r1 = Multimodal.qMediaDecodePersisted(spark, dir).collect().map(_.toString).toList
    val r2 = Multimodal.qMediaDecodePersisted(spark, dir).collect().map(_.toString).toList
    assert(r1 == r2)
    val once = artifactDirs()
    assert(once.length == 1, s"repeat query over unchanged source must not re-encode: $once")
    assert(r1 == Multimodal.qMediaDecode(spark, dir).collect().map(_.toString).toList,
      "persisted decode must equal the in-flight encode+decode")

    // mutate the source: the fingerprint moves, the rebuild fires ONCE,
    // and the fresh artifact scores the fresh data (a stale 12-doc
    // encode can never serve the 15-doc corpus)
    Thread.sleep(5) // mtime tick
    docs(15).write.mode("overwrite").parquet(src)
    val r3 = Multimodal.qMediaDecodePersisted(spark, dir).collect().map(_.toString).toList
    val r4 = Multimodal.qMediaDecodePersisted(spark, dir).collect().map(_.toString).toList
    assert(r3.length == 15 && r3 == r4)
    assert(r3 == Multimodal.qMediaDecode(spark, dir).collect().map(_.toString).toList)
    val after = artifactDirs()
    assert(after.length == 2 && once.toSet.subsetOf(after.toSet) &&
      (after.toSet -- once.toSet).size == 1,
      s"mutation must add exactly one fingerprint dir: before=$once after=$after")

    // clean only this test's fingerprint dirs (the kind is shared with
    // the declared queries' real-testdata artifacts)
    after.foreach { d =>
      val p = new org.apache.hadoop.fs.Path(s"${Artifacts.root}/$kind/$d")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("bpe_merges artifact: train-once, read-back identity, mutation retrains once (r15)") {
    // isolated source dir — the declared queries' artifacts (keyed by
    // the real testdata paths) stay untouched
    val dir = SparkSpec.tempDir("graft_bpe_src")
    val src = s"$dir/documents.parquet"
    def docs(n: Int) = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") < n)
    docs(12).write.mode("overwrite").parquet(src)
    def artifactDirs() = Option(new java.io.File(s"${Artifacts.root}/bpe_merges").listFiles)
      .getOrElse(Array.empty).map(_.getName)
      .filter(_.contains("graft_bpe_src")).sorted.toList
    assert(artifactDirs().isEmpty, "stale test artifacts")

    val m1 = Text.bpeMergesArtifact(spark, dir)
    val m2 = Text.bpeMergesArtifact(spark, dir)
    assert(m1 == m2 && m1.nonEmpty)
    assert(artifactDirs().length == 1,
      "repeat read over unchanged source must not retrain")
    // persisted == in-flight: the artifact IS the trainer's output
    assert(m1 == KernelRefs.bpeTrain(docs(12), Text.BpeTrainN))

    Thread.sleep(5) // mtime tick
    docs(15).write.mode("overwrite").parquet(src)
    val m3 = Text.bpeMergesArtifact(spark, dir)
    assert(m3 == KernelRefs.bpeTrain(docs(15), Text.BpeTrainN),
      "a mutated source must retrain on the fresh corpus")
    assert(artifactDirs().length == 2, "mutation adds exactly one fingerprint dir")
    artifactDirs().foreach { d =>
      val p = new org.apache.hadoop.fs.Path(s"${Artifacts.root}/bpe_merges/$d")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("persisted k-means ANN equals the in-flight training path") {
    rmKind(Similarity.CodebookKind)
    val inflight = Similarity.qIvfKmeans(spark, sf).collect().map(_.toString).toList
    val p1 = Similarity.qIvfKmeansPersisted(spark, sf).collect().map(_.toString).toList
    val p2 = Similarity.qIvfKmeansPersisted(spark, sf).collect().map(_.toString).toList
    assert(p1 == inflight, "first (training) persisted run must match in-flight")
    assert(p2 == inflight, "artifact-read run must match in-flight")
    // the codebook artifact landed on disk
    assert(new java.io.File(s"${Artifacts.root}/${Similarity.CodebookKind}").exists)
    rmKind(Similarity.CodebookKind)
  }

  test("persisted bigram-LM scoring equals the in-flight train+score") {
    rmKind(Text.BigramLmKind)
    val inflight = Text.qPerplexity(spark, sf).collect().map(_.toString).toList
    val p1 = Text.qPerplexityPersisted(spark, sf).collect().map(_.toString).toList
    val p2 = Text.qPerplexityPersisted(spark, sf).collect().map(_.toString).toList
    assert(p1 == inflight && p2 == inflight)
    // the score-only plan must not rebuild the model: no aggregate for
    // (w1,w2) counts on the scoring side — the model comes from a scan
    val plan = Text.qPerplexityPersisted(spark, sf).queryExecution.optimizedPlan
    val scanPaths = plan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten
    assert(scanPaths.exists(_.contains(Text.BigramLmKind)),
      s"scoring plan must read the persisted model parquet, scans: $scanPaths")
    rmKind(Text.BigramLmKind)
  }
}
