package graft

import graft.sources.Publish
import org.apache.spark.graftbridge.StorageBridge
import org.apache.spark.sql.functions.col

/** Crash-window semantics of the multi-table commit (VERDICT r14 #5): a
  * writer dying between table writes must leave readers on the complete
  * OLD generation, and one commit must flip all tables at once. The
  * commit log is the only protocol, so every case runs under the default
  * conf on plain local roots, except the one that swaps in a filesystem
  * whose rename throws. */
class PublishSpec extends SparkSpec {
  private lazy val sp = spark
  import sp.implicits._

  private def freshRoot() =
    SparkSpec.tempDir("graft_publish")

  /** Orphan sweeping is age-gated since r17 (a PEER's staged-but-not-
    * yet-committed generation is indistinguishable from a crashed
    * writer's orphan — PUBLISHLAB). Tests that pin the crashed-writer
    * cleanup force the grace to zero. */
  private def withGrace0[T](body: => T): T = {
    sp.conf.set("spark.graft.publish.orphanGraceMs", "0")
    try body finally sp.conf.unset("spark.graft.publish.orphanGraceMs")
  }

  test("crash between staging and swap leaves readers on the old generation") {
    val root = freshRoot()
    Publish.publishGeneration(sp, root, Seq(
      "dim" -> Seq((1, "a")).toDF("id", "v"),
      "fact" -> Seq((1, 10L)).toDF("id", "x")))
    // writer "crashes" here: generation 2 fully staged, never committed
    Publish.stageGeneration(sp, root, Seq(
      "dim" -> Seq((1, "a"), (2, "b")).toDF("id", "v"),
      "fact" -> Seq((1, 10L), (2, 20L)).toDF("id", "x")))
    val g = Publish.readGeneration(sp, root)
    assert(g("dim").count() == 1 && g("fact").count() == 1,
      "both tables must still read the OLD generation — no mixed state")
  }

  test("pointer swap flips every table of the generation at once") {
    val root = freshRoot()
    Publish.publishGeneration(sp, root, Seq(
      "dim" -> Seq((1, "a")).toDF("id", "v"),
      "fact" -> Seq((1, 10L)).toDF("id", "x")))
    val gen2 = Publish.stageGeneration(sp, root, Seq(
      "dim" -> Seq((1, "a"), (2, "b")).toDF("id", "v"),
      "fact" -> Seq((1, 10L), (2, 20L)).toDF("id", "x")))
    Publish.commit(sp, root, gen2)
    val g = Publish.readGeneration(sp, root)
    assert(g("dim").count() == 2 && g("fact").count() == 2)
    assert(Publish.currentGen(sp, root).contains(gen2))
  }

  test("retention keeps live + predecessor, drops older gens and tmp pointers") {
    withGrace0 {
    val root = freshRoot()
    val gens = (1 to 3).map { i =>
      Publish.publishGeneration(sp, root,
        Seq("t" -> Seq((i, i.toLong)).toDF("id", "x")))
    }
    val dir = new java.io.File(s"$root/generations")
    val onDisk = dir.listFiles().map(_.getName).toSet
    assert(onDisk == Set(gens(1), gens(2)),
      s"expected live+predecessor, got $onDisk")
    // the log commits by a direct PUT, so no temporary pointer or commit
    // file may be left behind at the root or in the log
    val leftovers = Seq(new java.io.File(root), new java.io.File(s"$root/_log"))
      .flatMap(_.listFiles().map(_.getName))
      .filter(n => n.startsWith("CURRENT") || n.contains(".tmp"))
    assert(leftovers.isEmpty, s"tmp pointers swept, got $leftovers")
    // the live generation is the last published one
    assert(Publish.readGeneration(sp, root)("t").head().getInt(0) == 3)
    }
  }

  test("a staged-but-never-swapped orphan is not mistaken for the predecessor") {
    // ADVICE r15 (medium): the old sweep inferred the predecessor as the
    // lexicographically-last NON-LIVE generation. A writer that crashed
    // between stage and commit leaves an orphan that sorts NEWER than the
    // real predecessor; the next publish's sweep then kept the orphan
    // and deleted the generation in-flight readers of the old live
    // generation may still be scanning. The second-highest commit names
    // the real predecessor; the orphan — which no reader can hold, no
    // commit ever named it — is swept as a separate class.
    withGrace0 {
    val root = freshRoot()
    Publish.publishGeneration(sp, root,
      Seq("t" -> Seq((1, 1L)).toDF("id", "x")))
    val gen2 = Publish.publishGeneration(sp, root,
      Seq("t" -> Seq((2, 2L)).toDF("id", "x")))
    // crashed writer: staged after gen2, never committed
    val orphan = Publish.stageGeneration(sp, root,
      Seq("t" -> Seq((99, 99L)).toDF("id", "x")))
    val gen3 = Publish.publishGeneration(sp, root,
      Seq("t" -> Seq((3, 3L)).toDF("id", "x")))
    val onDisk = new java.io.File(s"$root/generations")
      .listFiles().map(_.getName).toSet
    assert(onDisk == Set(gen2, gen3),
      s"retention must keep the REAL predecessor $gen2 (in-flight readers) " +
        s"and drop the never-committed orphan $orphan, got $onDisk")
    assert(Publish.previousGen(sp, root).contains(gen2))
    }
  }

  test("a FRESH orphan survives the sweep inside the age grace (peer stage->commit window)") {
    // The r17 concurrent-writer rule: at default grace, a generation a
    // LIVE peer has staged but not yet committed must not be deleted by
    // another publisher's sweep — PublishLab races two real driver JVMs
    // through this window; this pins the unit behavior.
    val root = freshRoot()
    Publish.publishGeneration(sp, root,
      Seq("t" -> Seq((1, 1L)).toDF("id", "x")))
    val staged = Publish.stageGeneration(sp, root,
      Seq("t" -> Seq((2, 2L)).toDF("id", "x")))
    Publish.publishGeneration(sp, root,
      Seq("t" -> Seq((3, 3L)).toDF("id", "x")))
    val onDisk = new java.io.File(s"$root/generations")
      .listFiles().map(_.getName).toSet
    assert(onDisk.contains(staged),
      s"a seconds-old staged generation must survive a peer's sweep, got $onDisk")
    // ... and the staged generation can still be committed afterwards
    Publish.commit(sp, root, staged)
    assert(Publish.currentGen(sp, root).contains(staged))
  }

  test("swap refuses a generation without a manifest; empty root refuses reads") {
    val root = freshRoot()
    intercept[IllegalArgumentException] {
      Publish.commit(sp, root, "gen-000099-deadbeef")
    }
    intercept[IllegalStateException] { Publish.readGeneration(sp, root) }
  }

  // ---- the rename-free commit log (VERDICT r15 #4) --------------------

  test("log protocol: publish/read/retention end-to-end, no pointer files") {
    withGrace0 {
      val root = freshRoot()
      val gens = (1 to 3).map { i =>
        Publish.publishGeneration(sp, root,
          Seq("t" -> Seq((i, i.toLong)).toDF("id", "x")))
      }
      assert(Publish.currentGen(sp, root).contains(gens(2)))
      assert(Publish.previousGen(sp, root).contains(gens(1)))
      assert(Publish.readGeneration(sp, root)("t").head().getInt(0) == 3)
      val rootFiles = new java.io.File(root).listFiles().map(_.getName).toSet
      assert(rootFiles == Set("generations", "_log"),
        s"a local root holds only generations and the log, got $rootFiles")
      val onDisk = new java.io.File(s"$root/generations")
        .listFiles().map(_.getName).toSet
      assert(onDisk == Set(gens(1), gens(2)),
        s"retention keeps live+predecessor and drops older gens, got $onDisk")
      // log trimmed to [pred, live]
      val slots = new java.io.File(s"$root/_log").listFiles().map(_.getName)
        .filter(_.endsWith(".commit")).sorted
      assert(slots.toSeq == Seq("c-00000002.commit", "c-00000003.commit"),
        s"got ${slots.toSeq}")
    }
  }

  test("log protocol: staged-but-never-committed orphan leaves readers untouched and sweeps") {
    withGrace0 {
      val root = freshRoot()
      val gen1 = Publish.publishGeneration(sp, root,
        Seq("t" -> Seq((1, 1L)).toDF("id", "x")))
      // writer crashes after staging, before the commit PUT
      val orphan = Publish.stageGeneration(sp, root,
        Seq("t" -> Seq((99, 99L)).toDF("id", "x")))
      assert(Publish.currentGen(sp, root).contains(gen1),
        "an uncommitted stage must be invisible")
      assert(Publish.readGeneration(sp, root)("t").head().getInt(0) == 1)
      val gen3 = Publish.publishGeneration(sp, root,
        Seq("t" -> Seq((3, 3L)).toDF("id", "x")))
      val onDisk = new java.io.File(s"$root/generations")
        .listFiles().map(_.getName).toSet
      assert(onDisk == Set(gen1, gen3),
        s"sweep keeps {live=$gen3, pred=$gen1}, drops orphan $orphan: $onDisk")
    }
  }

  test("log protocol: losing the commit-slot CAS retries the next slot (last-wins kept)") {
    val root = freshRoot()
    Publish.publishGeneration(sp, root,
      Seq("t" -> Seq((1, 1L)).toDF("id", "x")))
    // a racing writer takes the next slot first (format-valid name:
    // readers validate commit content against the gen-name pattern
    // since the r17 torn-commit closure)
    val racerGen = "gen-000099-deadbeef"
    val racer = new java.io.File(s"$root/_log/c-00000002.commit")
    java.nio.file.Files.writeString(racer.toPath, racerGen)
    val gen = Publish.stageGeneration(sp, root,
      Seq("t" -> Seq((2, 2L)).toDF("id", "x")))
    Publish.commit(sp, root, gen)
    assert(Publish.currentGen(sp, root).contains(gen),
      "the later writer must land on slot 3 and win")
    assert(Publish.previousGen(sp, root).contains(racerGen))
  }

  test("log protocol: a torn top commit (interrupted PUT) is skipped by readers") {
    val root = freshRoot()
    val gen1 = Publish.publishGeneration(sp, root,
      Seq("t" -> Seq((1, 1L)).toDF("id", "x")))
    // simulated interrupted PUT: the slot name exists, zero bytes
    val torn = new java.io.File(s"$root/_log/c-00000002.commit")
    assert(torn.createNewFile())
    assert(Publish.currentGen(sp, root).contains(gen1),
      "an unreadable commit is not a commit")
    assert(Publish.readGeneration(sp, root)("t").head().getInt(0) == 1)
    // and the next writer skips PAST the torn slot, never colliding
    val gen3 = Publish.publishGeneration(sp, root,
      Seq("t" -> Seq((3, 3L)).toDF("id", "x")))
    assert(Publish.currentGen(sp, root).contains(gen3))
    assert(new java.io.File(s"$root/_log/c-00000003.commit").exists())
  }

  test("log protocol: a torn NON-empty commit (truncated gen name) is skipped too") {
    // ADVICE r16: a local-FS crash mid-write can leave a PARTIAL
    // generation name — content that fails the gen-name format must
    // read as not-yet-committed, exactly like the zero-byte case, or
    // readGeneration dies on a nonexistent dir.
    val root = freshRoot()
    val gen1 = Publish.publishGeneration(sp, root,
      Seq("t" -> Seq((1, 1L)).toDF("id", "x")))
    val torn = new java.io.File(s"$root/_log/c-00000002.commit")
    java.nio.file.Files.writeString(torn.toPath, gen1.take(9)) // truncated
    assert(Publish.currentGen(sp, root).contains(gen1),
      "a truncated commit is not a commit")
    assert(Publish.readGeneration(sp, root)("t").head().getInt(0) == 1)
  }

  test("log protocol: commit path never renames (simulated object store)") {
    withGrace0 {
    // The whole point: on a filesystem whose rename THROWS, the
    // make-live path (manifest check -> commit -> resolve -> sweep)
    // completes, with no conf set. The generation is hand-staged through the FS API
    // because Spark's parquet job committer renames by design — on a
    // real store that half pairs with a store-native committer.
    val hconf = sp.sparkContext.hadoopConfiguration
    hconf.set("fs.norename.impl", classOf[NoRenameFs].getName)
    val local = freshRoot()
    val root = s"norename:$local"
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(hconf)
    intercept[UnsupportedOperationException] {
      f.rename(new org.apache.hadoop.fs.Path(s"$root/a"),
        new org.apache.hadoop.fs.Path(s"$root/b"))
    }
    def handStage(gen: String): Unit = {
      val out = f.create(new org.apache.hadoop.fs.Path(
        s"$root/generations/$gen/_MANIFEST.json"), false)
      out.write(s"""{"generation":"$gen","tables":["t"]}""".getBytes("UTF-8"))
      out.close()
    }
    handStage("gen-000001-aaaaaaaa")
    Publish.commit(sp, root, "gen-000001-aaaaaaaa")
    handStage("gen-000002-bbbbbbbb")
    Publish.commit(sp, root, "gen-000002-bbbbbbbb")
    handStage("gen-000003-cccccccc")
    Publish.commit(sp, root, "gen-000003-cccccccc")
    Publish.sweep(sp, root)
    assert(Publish.currentGen(sp, root).contains("gen-000003-cccccccc"))
    assert(Publish.previousGen(sp, root).contains("gen-000002-bbbbbbbb"))
    assert(!new java.io.File(s"$local/generations/gen-000001-aaaaaaaa").exists(),
      "sweep works rename-free too")
    assert(!new java.io.File(s"$local/CURRENT").exists(),
      "no pointer file on a no-rename scheme")
    }
  }

  test("a generation carrying a 0-row table publishes and reads back with its schema") {
    val root = freshRoot()
    val empty = Seq.empty[(Int, Long)].toDF("id", "x")
    Publish.publishGeneration(sp, root, Seq(
      "dim" -> Seq((1, "a")).toDF("id", "v"),
      "fact" -> empty))
    val g = Publish.readGeneration(sp, root)
    assert(g("fact").count() == 0 && g("dim").count() == 1)
    assert(g("fact").schema.map(f => f.name -> f.dataType) ==
      empty.schema.map(f => f.name -> f.dataType))
  }

  /** Jobs `f` runs, counted with `StorageBridge.inGroup`. One marker job
    * follows `f` in the group, since a group that ran no job has no
    * totals to read. */
  private def jobsOf[A](f: => A): (A, Int) = {
    val sc = sp.sparkContext
    val (a, t) = StorageBridge.inGroup(sc, s"publish_spec_${System.nanoTime}") {
      val a = f
      sc.parallelize(Seq(1), 1).count()
      a
    }
    (a, t.jobs - 1)
  }

  test("a generation reads back in 0 jobs, each table with its inferred-read schema") {
    val root = freshRoot()
    val wide = Seq((1, 2L, "a", java.sql.Date.valueOf("2025-05-01"), 1.5, "12.34"))
      .toDF("i", "l", "s", "d", "x", "m")
      .withColumn("m", col("m").cast("decimal(18,2)"))
    val empty = Seq.empty[(Int, String)].toDF("id", "v")
    val gen = Publish.publishGeneration(sp, root, Seq("wide" -> wide, "empty" -> empty))
    // what a schema-less Parquet read infers, one footer job per table
    val inferred = Seq("wide", "empty")
      .map(t => t -> sp.read.parquet(s"$root/generations/$gen/$t").schema).toMap
    val (g, jobs) = jobsOf(Publish.readGeneration(sp, root))
    assert(jobs == 0, "resolving a generation must run no Spark job")
    assert(g.map { case (t, df) => t -> df.schema } == inferred)
    assert(g("wide").collect().toSeq == wide.collect().toSeq && g("empty").count() == 0)
  }

  test("a manifest without table schemas is refused on read") {
    val root = freshRoot()
    val gen = "gen-000001-aaaaaaaa"
    val dir = new java.io.File(s"$root/generations/$gen")
    assert(dir.mkdirs())
    java.nio.file.Files.writeString(new java.io.File(dir, "_MANIFEST.json").toPath,
      s"""{"generation":"$gen","tables":["t"]}""")
    Publish.commit(sp, root, gen)
    val e = intercept[IllegalStateException](Publish.readGeneration(sp, root))
    assert(e.getMessage.contains("without a schema"), e.getMessage)
  }
}
