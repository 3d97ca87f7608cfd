package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import scala.jdk.CollectionConverters._

/** Multi-table atomic publish — the one documented transactionality gap
  * vs the reference (SURVEY §7.3): the reference wraps its 3-table load
  * in a single transaction (`reference/scripts/load_once.py:24`
  * `engine.begin()`), while per-table Parquet overwrites expose a window
  * where a reader sees new facts next to old dims. The generation log
  * closes it:
  *
  * ```
  * root/
  *   generations/gen-000007-<uuid>/   # all tables + _MANIFEST.json
  *   _log/c-00000007.commit           # one immutable file naming a gen
  * ```
  *
  * The manifest names the generation and lists each table with its
  * schema, in Spark's JSON form (a Parquet read makes every field
  * nullable, whether its schema is given or inferred):
  *
  * ```
  * {"generation":"gen-000007-<uuid>",
  *  "tables":[{"name":"dept","schema":{"type":"struct","fields":[…]}}, …]}
  * ```
  *
  * [[readGeneration]] reads every table with its recorded schema, so
  * resolving a generation runs no Spark job (a schema-less Parquet read
  * runs one footer-inference job per table).
  *
  * Writers stage EVERY table of a generation under a fresh uniquely-named
  * directory (never touched by readers — no commit names it yet), then
  * make it live by creating the next commit file `_log/c-<slot>.commit`
  * (content = generation name) with create-if-absent. The live
  * generation is the highest-slot READABLE commit; readers resolve it
  * once and read all tables from that generation — they see the
  * complete old set or the complete new set, never a mix. A writer dying
  * anywhere before the commit leaves the log untouched (readers keep the
  * old generation; the orphaned staging dir is swept later), and a
  * crashed commit (no object on a real store; an empty or truncated file
  * on a local one) is skipped by readers.
  *
  * No rename anywhere on the make-live path, so the same protocol is
  * correct on local, HDFS and object-store roots: create-if-absent is
  * the one primitive object stores offer atomically (S3 conditional PUT
  * `If-None-Match:*`, GCS `ifGenerationMatch=0`, ABFS ETag
  * preconditions), and PublishSpec drives the commit against a
  * filesystem whose rename throws. Data files are staged through the
  * normal writer; on object stores that path pairs with a store-native
  * committer (magic/EMRFS).
  *
  * Single-writer assumption, like the reference's one ETL loader:
  * concurrent publishers do not corrupt (staging dirs are unique, a
  * writer losing the slot race retries the next slot, so the last slot
  * wins) but the loser's generation is silently superseded. One caveat
  * the code does not show: Hadoop's local `RawLocalFileSystem.create(p,
  * false)` calls `exists` and then opens the file — check-then-create,
  * not an atomic create — so two concurrent LOCAL writers can, rarely,
  * both write one slot. The slot then names whichever writer wrote last,
  * and the loser is superseded, as above. (Should the data and its
  * checksum sidecar come from different writers, the slot reads as torn
  * and readers stay on the previous commit until the next one.) Either
  * way readers see one complete generation. Retention keeps the live
  * generation plus its predecessor, so readers that resolved the live
  * commit just before a newer one finish their scan against intact
  * files.
  */
object Publish {

  private def fs(s: SparkSession, p: Path) =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  private def genDir(root: String, gen: String) =
    new Path(s"$root/generations/$gen")

  private def logDir(root: String) = new Path(s"$root/_log")

  private val Json = new ObjectMapper()

  private val CommitRe = "^c-(\\d{8})\\.commit$".r

  /** The [[stageGeneration]] name format — `gen-NNNNNN-xxxxxxxx` (uuid
    * prefix is lowercase hex). Commit content must match in full. */
  private val GenRe = "^gen-\\d{6}-[0-9a-f]{8}$".r

  /** All commits, highest slot first, SKIPPING unreadable/empty entries:
    * on a real object store an interrupted conditional PUT leaves no
    * object; the simulated-store twin (an empty or torn local file) must
    * read the same way — as not-yet-committed. */
  private def readCommits(s: SparkSession, root: String): Seq[(Int, String)] = {
    val dir = logDir(root)
    val f = fs(s, dir)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .flatMap(st => st.getPath.getName match {
        case CommitRe(n) => Some((n.toInt, st.getPath))
        case _ => None
      })
      .sortBy(-_._1)
      .flatMap { case (slot, p) =>
        val txt = try {
          val in = f.open(p)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        } catch { case _: java.io.IOException => "" }
        // Torn NON-empty commits (ADVICE r16): a real object store never
        // exposes a partial PUT, but the local/simulated twin can crash
        // mid-write leaving a truncated generation name — which would
        // then fail readGeneration on a nonexistent dir. Only a content
        // matching the staged-name format is a commit; anything else
        // reads as not-yet-committed, same as empty.
        if (GenRe.findFirstIn(txt).isEmpty) None else Some((slot, txt))
      }
  }

  // ---- the read side -------------------------------------------------

  /** The live generation name — the highest readable commit — if any
    * generation was ever published. */
  def currentGen(s: SparkSession, root: String): Option[String] =
    readCommits(s, root).headOption.map(_._2)

  /** The generation the previous commit named — what retention protects
    * for in-flight readers of the old live generation: the second-highest
    * readable commit. Inferring the predecessor from directory order
    * instead is wrong: a staged-but-never-committed orphan (writer crash
    * between stage and commit) sorts newer than the real predecessor and
    * would get kept in its place while the real one is deleted under
    * live readers (ADVICE r15). */
  def previousGen(s: SparkSession, root: String): Option[String] =
    readCommits(s, root).lift(1).map(_._2)

  /** Stage a complete generation (all tables + manifest) WITHOUT making
    * it live — the crash-window half PublishSpec kills between.
    * Returns the staged generation name. */
  def stageGeneration(s: SparkSession, root: String,
                      tables: Seq[(String, DataFrame)]): String = {
    require(tables.nonEmpty, "a generation must carry at least one table")
    val n = currentGen(s, root)
      .flatMap(_.split("-").lift(1)).flatMap(_.toIntOption).getOrElse(0) + 1
    val gen = f"gen-$n%06d-${java.util.UUID.randomUUID.toString.take(8)}"
    val dir = genDir(root, gen)
    // mode "error": the uuid makes the dir fresh by construction; a
    // collision is a bug worth dying on, not overwriting through.
    // The per-table writes are INDEPENDENT jobs over disjoint output
    // directories — submit them concurrently (optimization guide §2.6:
    // actions are only sequential because the driver calls them
    // sequentially) so each table's job tail back-fills the others'
    // idle executors. Staging semantics are unchanged: the manifest is
    // still written only after EVERY table write returned, so a failed
    // or torn table write leaves an orphan (no manifest), never a
    // half-manifest generation. Measured (sf-independent, the fixture
    // lifecycle is fixture-sized): 3 sequential writes per generation
    // were pure job-dispatch latency stacked end to end.
    locally {
      import scala.concurrent.{Await, Future, ExecutionContext}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(tables.size, 4))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(
        Future.sequence(tables.map { case (name, df) => Future {
          df.write.mode("error").parquet(new Path(dir, name).toString)
        }}), Duration.Inf)
      finally pool.shutdown()
    }
    val manifest = Json.createObjectNode()
    manifest.put("generation", gen)
    val list = manifest.putArray("tables")
    tables.foreach { case (name, df) =>
      list.addObject().put("name", name)
        .set[JsonNode]("schema", Json.readTree(df.schema.json))
    }
    val out = fs(s, dir).create(new Path(dir, "_MANIFEST.json"), false)
    out.write(Json.writeValueAsBytes(manifest)); out.close()
    gen
  }

  /** Make a staged generation live: create-if-absent on the next log
    * slot — the conditional-put CAS. Losing the race (slot already
    * taken) re-lists and retries the NEXT slot, so concurrent publishers
    * serialize and the last slot wins. No rename anywhere on this path. */
  def commit(s: SparkSession, root: String, gen: String): Unit = {
    require(fs(s, genDir(root, gen)).exists(new Path(genDir(root, gen), "_MANIFEST.json")),
      s"generation $gen has no manifest — stage before committing")
    val dir = logDir(root)
    val f = fs(s, dir)
    if (!f.exists(dir)) f.mkdirs(dir)
    var attempts = 0
    var done = false
    while (!done) {
      attempts += 1
      require(attempts <= 16,
        s"lost the commit-slot race 16 times under $root — a live writer storm")
      val slot = readCommitSlotMax(s, root) + 1
      val p = new Path(dir, f"c-$slot%08d.commit")
      try {
        val out = f.create(p, false) // create-if-absent: the CAS
        out.write(gen.getBytes("UTF-8")); out.close()
        done = true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => // retry next slot
        case _: java.io.IOException if f.exists(p) => // local FS maps the collision to plain IOE
      }
    }
  }

  /** Highest slot NUMBER present, readable or not — a torn commit still
    * owns its slot (its creator holds the name), so writers must skip
    * past it rather than collide forever. */
  private def readCommitSlotMax(s: SparkSession, root: String): Int = {
    val dir = logDir(root)
    val f = fs(s, dir)
    if (!f.exists(dir)) 0
    else f.listStatus(dir).flatMap(st => st.getPath.getName match {
      case CommitRe(n) => Some(n.toInt)
      case _ => None
    }).foldLeft(0)(math.max)
  }

  /** Stage + commit + retention sweep: the multi-table atomic commit. */
  def publishGeneration(s: SparkSession, root: String,
                        tables: Seq[(String, DataFrame)]): String = {
    val gen = stageGeneration(s, root, tables)
    commit(s, root, gen)
    sweep(s, root)
    gen
  }

  /** Resolve the live generation once and return every table of it —
    * the all-or-nothing read view. Resolving per-table instead would
    * re-open the very mixed-generation window the log closes. Each table
    * is read with the schema its manifest records, so this runs no Spark
    * job. A manifest entry without a schema is refused: there is no
    * inference fallback, since no publish root outlives the run that
    * created it. */
  def readGeneration(s: SparkSession, root: String): Map[String, DataFrame] = {
    val gen = currentGen(s, root).getOrElse(
      throw new IllegalStateException(s"no generation published under $root"))
    val dir = genDir(root, gen)
    val f = fs(s, dir)
    val in = f.open(new Path(dir, "_MANIFEST.json"))
    val manifest = try Json.readTree(in) finally in.close()
    manifest.get("tables").elements.asScala.map { t =>
      val schema = t.path("schema")
      if (!schema.isObject) throw new IllegalStateException(
        s"the manifest of generation $gen lists a table without a schema: $t")
      val name = t.get("name").asText
      name -> s.read.schema(DataType.fromJson(schema.toString).asInstanceOf[StructType])
        .parquet(new Path(dir, name).toString)
    }.toMap
  }

  /** Retention: keep the live generation and the generation the previous
    * commit named (in-flight readers of the old live generation).
    * Everything else goes ONE AGE GRACE LATER
    * (`spark.graft.publish.orphanGraceMs`, default 15 min — the
    * vacuum-retention discipline), including staged-but-never-committed
    * orphans from crashed writers: no reader can be scanning a generation
    * no commit ever named, and they are NOT predecessors however new they
    * sort (ADVICE r15). The grace exists for CONCURRENT writers (r17,
    * PUBLISHLAB): a peer's staged-but-not-yet-committed generation is
    * indistinguishable from a crashed writer's orphan at sweep time, and
    * deleting it inside the peer's stage→commit window would turn the
    * peer's commit into a lost publish. */
  def sweep(s: SparkSession, root: String): Unit = {
    val gens = new Path(s"$root/generations")
    val f = fs(s, gens)
    val commits = readCommits(s, root)
    if (f.exists(gens)) {
      val keep = commits.take(2).map(_._2).toSet
      val graceMs = s.conf.getOption("spark.graft.publish.orphanGraceMs")
        .map(_.toLong).getOrElse(15L * 60 * 1000)
      val now = System.currentTimeMillis()
      f.listStatus(gens)
        .filter(st => !keep(st.getPath.getName))
        .filter(st => now - st.getModificationTime > graceMs)
        .foreach(st => f.delete(st.getPath, true))
    }
    // Log trim: drop commits below the predecessor's slot. Deleting an
    // immutable old commit is reader-safe (readers resolve the TOP
    // readable slot; anything below pred is at least two generations
    // stale) and keeps each publish's slot re-list O(recent). Torn
    // commits ABOVE pred stay until they age below it — they still own
    // their slot number for the writer CAS.
    if (commits.size > 1) {
      val keepFrom = commits(1)._1
      val dir = logDir(root)
      val lf = fs(s, dir)
      lf.listStatus(dir).map(_.getPath).foreach(p => p.getName match {
        case CommitRe(n) if n.toInt < keepFrom => lf.delete(p, false)
        case _ =>
      })
    }
  }
}
