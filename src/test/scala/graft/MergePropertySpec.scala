package graft

import graft.operators.Merge
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** SURVEY §5 item 4: algebraic properties of the merge primitives over
  * ScalaCheck-generated batches. The scalatest<->scalacheck bridge module
  * is not on the (offline) classpath, so cases are drawn directly from
  * `Gen` with a FIXED seed — deterministic, still adversarial (generators
  * bias toward dense key collisions). Each case is a real Spark job, so
  * counts stay modest. */
class MergePropertySpec extends SparkSpec {
  private lazy val sp = spark
  import sp.implicits._

  private val Cases = 8

  // few distinct keys -> dense collisions
  private val rowGen = for {
    k <- Gen.choose(0, 5)
    v <- Gen.choose(-1000, 1000)
    ord <- Gen.choose(0, 100)
  } yield (k, v, ord)
  private val batchGen = Gen.listOfN(12, rowGen)

  private def draw(seed: Long): List[(Int, Int, Int)] =
    batchGen.apply(Gen.Parameters.default, Seed(seed)).getOrElse(Nil)

  private def df(rows: List[(Int, Int, Int)]) = rows.toDF("k", "v", "ord")
  private def rowSet(d: org.apache.spark.sql.DataFrame) =
    d.collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSet

  test("upsert: idempotent, incoming wins, key-complete (8 generated cases)") {
    (0 until Cases).foreach { i =>
      val (e0, i0) = (draw(1000 + i), draw(2000 + i))
      val existing = Merge.keepFirst(df(e0), Seq("k"), col("ord"))
      val incoming = Merge.keepFirst(df(i0), Seq("k"), col("ord"))
      val once = rowSet(Merge.upsert(existing, incoming, Seq("k")))
      val twice = rowSet(Merge.upsert(
        Merge.upsert(existing, incoming, Seq("k")), incoming, Seq("k")))
      assert(once == twice, s"case $i: idempotent")
      assert(once.map(_._1) == (e0.map(_._1) ++ i0.map(_._1)).toSet, s"case $i: key-complete")
      assert(rowSet(incoming).subsetOf(once), s"case $i: incoming wins")
    }
  }

  test("upsert: a NULL key never matches; unmatched duplicate existing keys all survive") {
    val existing = Seq((None, 1), (Some(1), 2), (Some(2), 3), (Some(2), 4))
      .toDF("k", "v")
    val incoming = Seq((None, 9), (Some(1), 5)).toDF("k", "v")
    val out = Merge.upsert(existing, incoming, Seq("k")).collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Int]), r.getInt(1))).sorted.toSeq
    assert(out == Seq((None, 1), (None, 9), (Some(1), 5), (Some(2), 3), (Some(2), 4)),
      s"got $out")
  }

  test("insertIfAbsent: existing rows never change; only new keys added (8 cases)") {
    (0 until Cases).foreach { i =>
      val (e0, i0) = (draw(3000 + i), draw(4000 + i))
      val existing = Merge.keepFirst(df(e0), Seq("k"), col("ord"))
      val incoming = Merge.keepFirst(df(i0), Seq("k"), col("ord"))
      val out = rowSet(Merge.insertIfAbsent(existing, incoming, Seq("k")))
      val exRows = rowSet(existing)
      assert(exRows.subsetOf(out), s"case $i: existing intact")
      val exKeys = exRows.map(_._1)
      assert((out -- exRows).forall(r => !exKeys.contains(r._1)),
        s"case $i: added rows only for absent keys")
    }
  }

  test("keepFirst: unique keys, minimal ord per key, partitioning-invariant (8 cases)") {
    (0 until Cases).foreach { i =>
      val rows = draw(5000 + i)
      val parts = 1 + (i % 5)
      val out = Merge.keepFirst(df(rows).repartition(parts), Seq("k"), col("ord"))
        .collect().map(r => (r.getInt(0), r.getInt(2)))
      assert(out.map(_._1).distinct.length == out.length, s"case $i: one row per key")
      val minOrd = rows.groupBy(_._1).map { case (k, rs) => k -> rs.map(_._3).min }
      out.foreach { case (k, ord) => assert(ord == minOrd(k), s"case $i: key $k kept $ord") }
    }
  }
}
