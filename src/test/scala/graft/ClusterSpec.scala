package graft

import graft.operators.Cluster
import org.apache.spark.sql.functions._

/** Connected-components semantics on hand-built graphs: transitive
  * closure across chains (multi-iteration propagation), component
  * isolation, determinism across partitionings, and empty input. */
class ClusterSpec extends SparkSpec {
  private lazy val sp = spark
  import sp.implicits._

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Cluster.connectedComponents(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("chain needs > 1 propagation round: 5-4-3-2-1 all label to 1") {
    // worst-case direction: labels must flow the full chain length
    val labels = cc(Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L)))
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("two components stay separate; isolated docs absent") {
    val labels = cc(Seq((10L, 20L), (20L, 30L), (7L, 8L)))
    assert(labels == Map(10L -> 10L, 20L -> 10L, 30L -> 10L, 7L -> 7L, 8L -> 7L))
  }

  test("deterministic across partitionings") {
    val edges = Seq((1L, 9L), (9L, 4L), (6L, 2L), (2L, 9L), (11L, 12L))
    val one = Cluster.connectedComponents(edges.toDF("a", "b").repartition(1))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val many = Cluster.connectedComponents(edges.toDF("a", "b").repartition(7))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(one == many)
    assert(one.map(_._2) == Set(1L, 11L))
  }

  test("cap exhaustion falls back to the star variant, never split clusters") {
    // a 6-chain needs 5 propagation rounds; maxIter = 2 forces the
    // automatic large-star/small-star fallback, which must return the
    // SAME fixpoint (previously this threw)
    val chain = (1L to 6L).sliding(2).map(s => (s(1), s(0))).toSeq
    val labels = cc(chain) // default cap, converges by propagation
    val viaFallback = Cluster.connectedComponents(chain.toDF("a", "b"), maxIter = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaFallback == labels && labels.values.toSet == Set(1L))
  }

  test("adversarial chain deeper than the default cap completes correctly") {
    // diameter 39 > MaxIter 15: propagation alone cannot converge; the
    // star fallback must close the whole chain to its minimum in
    // O(log n) rounds (this exact shape hard-failed before round 10)
    val chain = (1L to 40L).sliding(2).map(s => (s(1), s(0))).toSeq
    val labels = cc(chain)
    assert(labels.size == 40 && labels.values.toSet == Set(1L))
  }

  test("star round law: a 1,000-vertex chain reaches its fixpoint in exactly 10 rounds") {
    // propagation would need 999 rounds; the star loop is deterministic
    // and CCLAB_r10/r11/r12 each measured 10 at n = 1000 (20 at 10^6),
    // so a cap of 10 must return the fixpoint and a cap of 9 must refuse
    val chain = spark.range(0, 999).select(col("id").as("a"), (col("id") + 1).as("b"))
    val labels = Cluster.connectedComponentsStars(chain, maxRounds = 10)
      .agg(count(lit(1)), sum(when(col("canonical_id") =!= 0L, 1L).otherwise(0L)))
      .collect()(0)
    assert(labels.getLong(0) == 1000 && labels.getLong(1) == 0,
      s"every vertex must label 0: rows=${labels.getLong(0)} wrong=${labels.getLong(1)}")
    val refused = intercept[IllegalArgumentException] {
      Cluster.connectedComponentsStars(chain, maxRounds = 9)
    }
    assert(refused.getMessage.contains("did not reach a star fixpoint"))
  }

  test("star variant alone matches propagation on a mixed multi-component graph") {
    val edges = Seq((1L, 9L), (9L, 4L), (6L, 2L), (2L, 9L), (11L, 12L),
      (20L, 21L), (21L, 22L), (23L, 22L), (5L, 4L))
    val prop = cc(edges)
    val stars = Cluster.connectedComponentsStars(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stars == prop, s"star=$stars prop=$prop")
  }

  test("star variant alone gives connectedComponents' labels on the verified near-dup pairs") {
    // the real dedup_clusters input: Jaccard-verified pairs of documents.
    // connectedComponents is oracle-gated through dedup_clusters, and
    // the star loop is the path it falls back to on deep graphs
    val pairs = graft.operators.Dedup.jaccardOverCandidates(
        graft.sources.Tables.documents(spark, sf))
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prop = labels(Cluster.connectedComponents(pairs))
    assert(prop.size >= 2, s"the spec corpus must carry verified pairs, got $prop")
    assert(labels(Cluster.connectedComponentsStars(pairs)) == prop)
  }

  test("star variant: empty input, single edge, already-star input") {
    assert(Cluster.connectedComponentsStars(
      Seq.empty[(Long, Long)].toDF("a", "b")).isEmpty)
    val one = Cluster.connectedComponentsStars(Seq((2L, 1L)).toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == Map(1L -> 1L, 2L -> 1L))
    val star = Cluster.connectedComponentsStars(
      Seq((2L, 1L), (3L, 1L), (4L, 1L)).toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("fencepost: last improvement landing exactly on the cap is accepted") {
    // chain 5-4-3-2-1 needs exactly 4 propagation rounds; with
    // maxIter = 4 the final round still changes labels but the fixpoint
    // IS reached — the probe round must accept, not throw
    val labels = Cluster.connectedComponents(
      Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L)).toDF("a", "b"), maxIter = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.values.toSet == Set(1L))
  }

  test("empty edge list yields empty labels, no iteration") {
    assert(Cluster.connectedComponents(
      Seq.empty[(Long, Long)].toDF("a", "b")).isEmpty)
  }

  test("reliable-checkpoint mode (checkpoint dir set) yields identical labels") {
    // Lineage.cut switches to fault-tolerant checkpoint() when the
    // context has a checkpoint dir — the cluster deployment mode. Same
    // fixpoint, and checkpoint data actually lands in the dir.
    val edges = Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L), (7L, 8L))
    val expected = cc(edges)
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "suite assumes no ambient checkpoint dir")
    val dir = SparkSpec.tempDir("graft_ckpt")
    sc.setCheckpointDir(dir)
    try {
      assert(cc(edges) == expected)
      // setCheckpointDir nests a UUID subdir (and getCheckpointDir
      // returns a file: URI) — probe the dir we created for content
      assert(new java.io.File(dir).listFiles.nonEmpty,
        "reliable path must write checkpoint data")
    } finally {
      // restore the no-dir default so later suites keep the local path
      // (private[spark] var — public in bytecode; best-effort)
      try sc.getClass.getMethod("checkpointDir_$eq", classOf[Option[String]])
        .invoke(sc, None)
      catch { case _: Throwable => () }
    }
  }

  test("cluster query shape: every member maps into its cluster, sizes consistent") {
    val out = Cluster.qClusters(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    if (out.nonEmpty) {
      val byCluster = out.groupBy(_._2)
      // n_members agrees with actual membership; canonical is the min member
      byCluster.foreach { case (canon, members) =>
        assert(members.forall(_._3 == members.length))
        assert(members.map(_._1).min == canon)
      }
      assert(out.forall(_._3 >= 2), "clusters come from pairs: size >= 2")
    }
  }
}
