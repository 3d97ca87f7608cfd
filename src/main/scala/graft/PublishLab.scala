package graft

import graft.sources.Publish

/** Two-DRIVER publish race (VERDICT r16 #7): the commit-log protocol's
  * slot CAS is spec-tested single-process; this lab races two real
  * driver JVMs publishing generations to ONE local root (the FaultLab
  * separate-process pattern) and asserts, from the parent, the three
  * multi-writer contracts:
  *
  *   - LAST-WINS: the resolved live generation is the one named by the
  *     highest commit slot, and that slot == total publishes (every
  *     publish won exactly one CAS slot; losers retried, none collided).
  *   - NO LOST GENERATION: every commit surviving in the log names a
  *     generation directory that exists with a manifest — in particular
  *     the race this lab was built to catch: writer A's retention sweep
  *     deleting writer B's staged-but-not-yet-committed generation
  *     (closed in r17 by the orphan age grace; at grace 0 this lab
  *     fails within a few iterations).
  *   - RETENTION SAFETY: after the storm one final sweep keeps {live,
  *     predecessor}, both readable; a concurrent reader thread in the
  *     parent resolves+reads throughout the storm, with the documented
  *     keep-2 contract (a read racing TWO full publishes may need one
  *     retry; retries are counted in the artifact).
  *
  * Output: one JSON line + SPARK_GRAFT_PUBLISHLAB_OUT (default
  * publishlab.json) carrying both drivers' committed generations.
  */
object PublishLab {
  private def workerMain(root: String, writer: String, iters: Int): Unit = {
    val spark = GraftSession.build(defaultCpus = "4", logLevel = "ERROR")
    import spark.implicits._
    (1 to iters).foreach { i =>
      val gen = Publish.publishGeneration(spark, root, Seq(
        "emp" -> Seq((writer, i)).toDF("writer", "iter"),
        "dim" -> Seq((writer, i.toLong)).toDF("writer", "v")))
      // the parent parses these lines into the artifact
      println(s"PUBLISHLAB_COMMIT $writer $i $gen")
    }
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.length >= 3 && args(0) == "worker")
      return workerMain(args(1), args(2), args(3).toInt)

    val iters = sys.env.getOrElse("SPARK_GRAFT_PUBLISHLAB_ITERS", "12").toInt
    val root = java.nio.file.Files.createTempDirectory("graft_publishlab").toString

    // child JVMs: same classpath as this (forked) main, same JDK-17
    // module opens build.sbt injects
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val javaBin = System.getProperty("java.home") + "/bin/java"
    def spawn(writer: String): (Process, java.io.File) = {
      val log = java.nio.file.Files.createTempFile(s"publishlab_$writer", ".log").toFile
      val cmd: Seq[String] = Seq(javaBin) ++ addOpens ++ Seq(
        "-Xmx2g", "-Dspark.ui.enabled=false",
        "-cp", System.getProperty("java.class.path"),
        "graft.PublishLab", "worker", root, writer, iters.toString)
      val pb = new ProcessBuilder(cmd: _*)
      pb.redirectErrorStream(true)
      pb.redirectOutput(log)
      (pb.start(), log)
    }

    // the parent's own session doubles as the concurrent READER
    val spark = GraftSession.build(defaultCpus = "4", logLevel = "ERROR")

    val (pa, la) = spawn("A")
    val (pb, lb) = spawn("B")
    val readerRetries = new java.util.concurrent.atomic.AtomicInteger()
    val readerReads = new java.util.concurrent.atomic.AtomicInteger()
    val readerFailed = new java.util.concurrent.atomic.AtomicReference[String](null)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!stop.get()) {
        if (Publish.currentGen(spark, root).isDefined) {
          def readOnce(): Boolean =
            try { Publish.readGeneration(spark, root)("emp").count(); true }
            catch { case _: Exception => false }
          if (!readOnce()) {
            readerRetries.incrementAndGet()
            if (!readOnce())
              readerFailed.compareAndSet(null,
                "a read failed twice in a row — retention broke the keep-2 contract")
          }
          readerReads.incrementAndGet()
        }
        Thread.sleep(150)
      }
    })
    reader.setDaemon(true); reader.start()
    val rcA = pa.waitFor(); val rcB = pb.waitFor()
    stop.set(true); reader.join(5000)

    def commits(log: java.io.File): Seq[(Int, String)] = {
      val src = scala.io.Source.fromFile(log, "UTF-8")
      try src.getLines().filter(_.startsWith("PUBLISHLAB_COMMIT"))
        .map { l => val p = l.trim.split("\\s+"); (p(2).toInt, p(3)) }.toList
      finally src.close()
    }
    val ca = commits(la); val cb = commits(lb)
    require(rcA == 0 && rcB == 0, s"worker exit codes A=$rcA B=$rcB (logs: $la, $lb)")
    require(ca.size == iters && cb.size == iters,
      s"expected $iters commits per writer, got A=${ca.size} B=${cb.size}")

    // --- last-wins + no lost generation, validated from the log itself
    val logDir = new java.io.File(s"$root/_log")
    val slotRe = "^c-(\\d{8})\\.commit$".r
    def slotGens(): Seq[(Int, String)] =
      logDir.listFiles().toSeq.flatMap { f =>
        f.getName match {
          case slotRe(n) =>
            Some((n.toInt, new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim))
          case _ => None
        }
      }.sortBy(_._1)
    val preSweepMax = slotGens().map(_._1).max
    require(preSweepMax == 2 * iters,
      s"every publish must win exactly one slot: max slot $preSweepMax != ${2 * iters}")
    val live = Publish.currentGen(spark, root).get
    val allCommitted = (ca ++ cb).map(_._2).toSet
    require(allCommitted.contains(live), s"live $live not among the writers' commits")
    require(slotGens().last._2 == live, "live must be the highest slot's generation")
    slotGens().foreach { case (slot, gen) =>
      require(new java.io.File(s"$root/generations/$gen/_MANIFEST.json").exists(),
        s"LOST GENERATION: slot $slot names $gen but its directory/manifest is gone")
    }

    // --- retention safety after the storm
    Publish.sweep(spark, root)
    val pred = Publish.previousGen(spark, root)
    require(Publish.readGeneration(spark, root)("emp").count() == 1)
    pred.foreach { p =>
      require(new java.io.File(s"$root/generations/$p/_MANIFEST.json").exists(),
        s"predecessor $p must survive the sweep") }
    require(readerFailed.get() == null, readerFailed.get())

    val json =
      s"""{"experiment":"publish_two_driver_race","iters_per_writer":$iters,"writer_a_gens":${ca.map(g => "\"" + g._2 + "\"").mkString("[", ",", "]")},"writer_b_gens":${cb.map(g => "\"" + g._2 + "\"").mkString("[", ",", "]")},"final_live":"$live","final_pred":${pred.map("\"" + _ + "\"").getOrElse("null")},"max_slot":$preSweepMax,"reader_reads":${readerReads.get()},"reader_retries":${readerRetries.get()},"lost_generations":0,"last_wins":true}"""
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_PUBLISHLAB_OUT", "publishlab.json")),
      json.getBytes("UTF-8"))
    spark.stop()
  }
}
