package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Lineage
import graft.sources.Tables

/** Near-dup cluster formation — the step AFTER candidate generation and
  * verification in a dedup pipeline: verified pairs form a graph, its
  * connected components are the duplicate clusters, and each cluster
  * keeps one canonical document (min doc_id). The reference's dedup is
  * row-level keyed (`drop_duplicates`, /root/reference/src/etl.py:33);
  * this is its corpus-level analog for training data, where "duplicate"
  * is a relation (A~B, B~C) that must be closed transitively before
  * anything can be dropped.
  *
  * Algorithm: iterative min-label propagation (the hash-join form of
  * connected components — the same dataflow GraphX's
  * `ConnectedComponents` lowers to, re-expressed as DataFrame joins so
  * Catalyst/AQE own the physical plan). Each iteration is one keyed
  * join + one min-aggregate; iteration count = graph diameter, and
  * near-dup graphs are shallow (clusters are cliques-ish: diameter 2-4)
  * so the loop terminates in a handful of rounds. The convergence probe
  * is an `isEmpty` on the checkpointed labels — a driver-side boolean,
  * not a data collect (the standard Pregel driver loop).
  *
  * Scale notes: the edge list is |verified pairs| — orders of magnitude
  * smaller than the corpus (only near-dups appear); labels are one row
  * per CLUSTERED doc. Both are checkpointed per iteration, so plans stay
  * O(1) and the candidate pipeline upstream is evaluated exactly once.
  * At extreme diameters (adversarial chains) the loop degrades
  * automatically to [[connectedComponentsStars]] — the alternating
  * large-star/small-star variant with O(log n) rounds and the same join
  * shape. Determinism: min over a total order — the same labels on any
  * partitioning.
  */
object Cluster {
  val MaxIter = 15

  /** Connected components of an (a, b) edge list: one row per vertex,
    * `canonical_id` = min vertex id reachable. Vertices are the edge
    * endpoints (isolated docs are not duplicates of anything — they
    * don't need a row).
    *
    * `maxIter` is a RUNAWAY GUARD, not a quality knob: propagation needs
    * `eccentricity(min-id vertex)` rounds. If the cap is hit while
    * improvements are still outstanding (verified by one final probe
    * round — the last improvement may legitimately land exactly on the
    * cap), the labels are NOT a fixpoint and returning them would
    * silently split true clusters; the loop then hands the (already
    * checkpointed) edge set to [[connectedComponentsStars]], whose
    * round count is logarithmic in component size instead of linear in
    * diameter — correct-by-completion on adversarially deep graphs.
    * Superseded label generations are small (one row per clustered doc)
    * and reclaimed by Spark's ContextCleaner once unreferenced —
    * checkpoint blocks have no public eager-release API.
    *
    * Fault tolerance: every per-round truncation goes through
    * [[Lineage.cut]] — RELIABLE `checkpoint()` when the session has a
    * checkpoint dir (a lost executor re-reads from the shared store),
    * executor-local otherwise (local mode, where executors and driver
    * share fate). ClusterSpec runs the loop both ways and pins identical
    * output. */
  def connectedComponents(edges: DataFrame, maxIter: Int = MaxIter): DataFrame = {
    // symmetric closure, checkpointed: every iteration reuses it without
    // replaying the (expensive) candidate pipeline that produced it
    val sym = Lineage.cut(edges.select(col("a"), col("b"))
      .unionByName(edges.select(col("b").as("a"), col("a").as("b")))
      .distinct())
    // Per-round convergence is read through `observe` metrics collected
    // DURING the (eager) checkpoint action — zero extra jobs — instead of
    // the r16 `filter(chg).isEmpty` probe, which re-launched one job per
    // round purely to ask a boolean the round's own materialization
    // already knew (guide §2.4: remove whole passes, not just shuffle
    // bytes; the probe was ~1 driver job/round of pure dispatch).
    def cutCounting(df: DataFrame): (DataFrame, Long) = {
      val obs = org.apache.spark.sql.Observation()
      val cut = Lineage.cut(df.observe(obs, count(when(col("chg"), 1)).as("chg_n")))
      (cut, obs.get("chg_n").asInstanceOf[Long])
    }
    // Fused init+first-round: with identity labels, round 1's
    // `min(label(b), min over neighbors a of label(a))` is just
    // `min(v, min neighbor id)` — ONE aggregation over sym, no identity
    // label table to checkpoint and no join (two fewer jobs and one
    // fewer exchange than init-then-iterate; same labels by definition).
    var (labels, changed) = cutCounting(
      sym.groupBy(col("b").as("v")).agg(min("a").as("nl"))
        .select(col("v"), least(col("v"), col("nl")).as("label"),
          (col("nl") < col("v")).as("chg")))
    // min over neighbors a of label(a), keyed by b
    def nbrMin(cur: DataFrame): DataFrame =
      sym.withColumnRenamed("a", "v")
        .join(cur.select("v", "label"), "v")
        .groupBy(col("b").as("v"))
        .agg(min("label").as("nl"))
    var it = 1
    var done = changed == 0
    while (!done && it < maxIter) {
      // label(b) <- min(label(b), neighbor min)
      val (next, nChanged) = cutCounting(
        labels.drop("chg").join(nbrMin(labels), Seq("v"), "left")
          .select(col("v"),
            least(col("label"), coalesce(col("nl"), col("label"))).as("label"),
            (col("nl") < col("label")).as("chg")))
      done = nChanged == 0
      labels = next
      it += 1
    }
    // fencepost: the LAST improvement may land exactly on round maxIter
    // with the fixpoint already reached — one probe round distinguishes
    // "converged on the final round" from "genuinely truncated"
    if (!done)
      done = nbrMin(labels).join(labels.select("v", "label"), "v")
        .filter(col("nl") < col("label")).isEmpty
    if (done)
      labels.select(col("v").as("doc_id"), col("label").as("canonical_id"))
    else
      // graph deeper than the propagation guard (an adversarial chain):
      // degrade to the O(log n)-round star variant instead of throwing —
      // correct-by-completion, same output contract. Restarting from the
      // (checkpointed) edge set is safe: the star rounds are logarithmic
      // in component size, so the discarded propagation progress costs
      // less than one extra diameter-length round would.
      connectedComponentsStars(sym)
  }

  /** Round cap for [[connectedComponentsStars]]. The alternation
    * contracts every component toward its minimum in O(log n) rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14); vertex ids are longs, so components can't exceed 2^63
    * members and ~63 rounds is the analytical worst case. This is a
    * RUNAWAY GUARD like [[MaxIter]], not a tuning knob. */
  val StarMaxRounds = 80

  /** Connected components via alternating large-star/small-star — the
    * O(log n)-round variant the propagation loop's scaladoc names, used
    * automatically when [[connectedComponents]] hits its round cap on a
    * deep graph. Same contract: one row per edge-endpoint vertex,
    * `canonical_id` = min reachable id.
    *
    * Each round is two grouped-min aggregates + two keyed joins over the
    * CURRENT edge set (which only ever shrinks toward one edge per
    * non-root vertex) — the same dataflow shape per round as
    * propagation, but the star moves label mass exponentially:
    *   large-star: every neighbor v > u re-attaches to
    *               m = min(N(u) ∪ {u});
    *   small-star: every smaller-or-self member of u's group attaches
    *               to m = min of that group.
    * Both preserve connectivity and never lose a vertex (every group
    * member reappears as a source or as the target m).
    *
    * Convergence detection is STRUCTURAL, not count-based: the edge set
    * is a union of depth-1 stars iff every source has exactly one parent
    * and no parent is itself a source. Returning only on that condition
    * makes correctness independent of the round-complexity argument —
    * the cap is just a runaway guard. Edges directed u > v throughout,
    * so each star's root is smaller than all members; at the fixpoint
    * the root is the component minimum (a smaller member would need an
    * edge (root, member) violating the direction invariant). */
  def connectedComponentsStars(edges: DataFrame,
                               maxRounds: Int = StarMaxRounds): DataFrame = {
    // emptiness read from an observe metric during the init checkpoint —
    // not a separate isEmpty job (same fold as connectedComponents)
    val obs0 = org.apache.spark.sql.Observation()
    var e = Lineage.cut(edges
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .observe(obs0, count(lit(1)).as("n")))
    var converged = obs0.get("n").asInstanceOf[Long] == 0
    var round = 0
    while (!converged && round < maxRounds) {
      // large-star over the symmetric neighborhood: (v, m) for v > u
      val sym = e.select(col("u"), col("v"))
        .unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val m1 = sym.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      // NO distinct here (r17): duplicate (v, m) rows — two parents u of
      // v sharing one m — cannot change m2's min or the final distinct'd
      // edge set, and the dedup exchange cost one full AQE stage job per
      // round (guide §2.4). Row inflation is bounded by |sym|.
      val large = sym.join(m1, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      // small-star over the (u > v)-directed edges: group u's smaller
      // neighbors N, m = min(N); emit (u, m) and (v, m) for v in N \ {m}
      val m2 = large.groupBy("u").agg(min(col("v")).as("m"))
      val small = large.join(m2, "u").filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(m2.select(col("u"), col("m").as("v")))
        .distinct()
      val next = Lineage.cut(small)
      // stars ⟺ functional parents (one per source) ∧ flat (no parent is
      // a source). ONE driver-side boolean probe per round, and since r17
      // ONE exchange: tag each vertex occurrence with its role and group
      // once — `s` counts appearances as a source (s > 1 ⟺ multi-parent,
      // since `next` is distinct), `p` as a parent (s ≥ 1 ∧ p ≥ 1 ⟺ a
      // parent is itself a source). The r16 shape (groupBy + self
      // left-semi, unioned) asked the same question through two exchanges
      // (r10 used ~3 whole jobs/round; CCLAB_r11 sizes that fold).
      val roles = next.select(col("u").as("x"), lit(1L).as("s"), lit(0L).as("p"))
        .unionByName(next.select(col("v").as("x"), lit(0L).as("s"), lit(1L).as("p")))
      converged = roles.groupBy("x")
        .agg(sum("s").as("s"), sum("p").as("p"))
        .filter(col("s") > 1 || (col("s") >= 1 && col("p") >= 1))
        .isEmpty
      e = next
      round += 1
    }
    require(converged, s"connectedComponentsStars did not reach a star " +
      s"fixpoint in $maxRounds rounds — impossible for long vertex ids " +
      "unless the alternation is broken; refusing to return a non-fixpoint")
    e.select(col("u").as("doc_id"), col("v").as("canonical_id"))
      .unionByName(e.select(col("v").as("doc_id"), col("v").as("canonical_id")).distinct())
  }

  /** Declared query: clusters over the Jaccard-VERIFIED near-dup pairs
    * (candidates alone would cluster false positives), with per-cluster
    * member counts. */
  def qClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.jaccardOverCandidates(Tables.documents(s, dir))
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val cc = connectedComponents(pairs)
    val csize = cc.groupBy("canonical_id").agg(count(lit(1)).as("n_members"))
    cc.join(csize, "canonical_id")
      .select("doc_id", "canonical_id", "n_members")
      .orderBy("doc_id")
  }

  /** Shared CTE chain (verified pairs -> `cc(doc_id, canonical_id)`),
    * reused by the curation-pipeline oracle. Must run under
    * `WITH RECURSIVE`. */
  private[operators] def ccCtes: String =
    s"""${Dedup.jaccardVerifiedCtes},
       |cedges AS (SELECT doc_a AS a, doc_b AS b FROM verified
       |           UNION SELECT doc_b, doc_a FROM verified),
       |cnodes AS (SELECT DISTINCT a AS v FROM cedges),
       |reach AS (
       |  SELECT v AS src, v AS dst FROM cnodes
       |  UNION
       |  SELECT r.src, e.b AS dst FROM reach r JOIN cedges e ON e.a = r.dst),
       |cc AS (SELECT src AS doc_id, MIN(dst) AS canonical_id FROM reach GROUP BY src)""".stripMargin

  /** DuckDB oracle: the same verified pairs (shared CTEs with qJaccard),
    * transitive closure via a recursive CTE (UNION dedup keeps it
    * finite), canonical = min reachable id. */
  def qClustersSql: String =
    s"""WITH RECURSIVE $ccCtes,
       |csize AS (SELECT canonical_id, COUNT(*) AS n_members FROM cc GROUP BY canonical_id)
       |SELECT doc_id, canonical_id, n_members
       |FROM cc JOIN csize USING (canonical_id) ORDER BY doc_id""".stripMargin
}
