package graft

import graft.functions.ScalableMedian
import graft.operators.{Similarity, Skew, Text}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Algebraic properties of the newest primitives over ScalaCheck-drawn
  * inputs (fixed seeds — deterministic, adversarially dense). Each case
  * runs a real Spark job, so counts stay modest. */
class KernelPropertySpec extends SparkSpec {
  private lazy val sp = spark
  import sp.implicits._

  private val Cases = 6

  private def draw[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  test("property: ScalableMedian == builtin median on random groups with nulls") {
    val rowGen = for {
      grp <- Gen.choose(0, 3)
      v <- Gen.option(Gen.choose(-1e6, 1e6))
    } yield (grp, v)
    (1 to Cases).foreach { s =>
      val rows = draw(Gen.listOfN(40, rowGen), s.toLong)
      val df = rows.toDF("dept", "net")
      val builtin = df.groupBy("dept").agg(median(col("net")).as("med"))
        .collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
      val scalable = ScalableMedian.median(df, Seq("dept"), "net", "med")
        .collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
      // all-null groups: builtin yields a NULL row, the order-statistics
      // variant yields no row — compare over the non-null results
      val nonNull = builtin.filter(_._2 != null)
      assert(scalable == nonNull, s"seed $s: $scalable != $nonNull")
    }
  }

  test("property: native as-of exec == composed union+window on random logs") {
    // adversarially dense: few users, coarse timestamps -> co-timestamp
    // ties, empty sides, keys present on only one side all occur
    val rowGen = for {
      user <- Gen.choose(1L, 4L)
      t <- Gen.choose(0L, 12L)
      isLeft <- Gen.oneOf(true, false)
    } yield (user, t, isLeft)
    (1 to Cases).foreach { s =>
      val rows = draw(Gen.listOfN(30, rowGen), 1000L + s)
        .zipWithIndex.map { case ((u, t, side), i) => (i.toLong, u, new java.sql.Timestamp(t * 1000), side) }
      val left = rows.filter(_._4).map(r => (r._1, r._2, r._3))
        .toDF("event_id", "user_id", "ts")
      val right = rows.filterNot(_._4).map(r => (r._1, r._2, r._3))
        .toDF("click_id", "c_user", "click_ts")
      val native = graft.plans.AsOfJoin(left, right, "user_id", "c_user",
          "ts", "click_ts", "click_id")
        .select("event_id", "click_id").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1))).toMap
      val composed = KernelRefs.asOfJoin(
          left, right.withColumnRenamed("c_user", "user_id"), Seq("user_id"),
          leftTime = "ts", rightTime = "click_ts",
          leftTie = "event_id", rightTie = "click_id",
          rightPayload = Seq("click_id"), prefix = "m_")
        .select("event_id", "m_click_id").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1))).toMap
      assert(native == composed, s"seed $s: $native != $composed")
    }
  }

  test("property: connectedComponents == driver-side union-find on random graphs") {
    val edgeGen = for {
      a <- Gen.choose(0L, 19L)
      b <- Gen.choose(0L, 19L)
      if a != b
    } yield (a, b)
    (1 to Cases).foreach { s =>
      val edges = draw(Gen.listOfN(25, edgeGen), 100L + s)
      // reference: plain union-find with min-root canonicalization
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = parent.keys.map(v => v -> find(v)).toMap
      val got = graft.operators.Cluster.connectedComponents(edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect, s"seed $s: $got != $expect")
    }
  }

  test("property: snapshotDiff == driver-side map diff on random keyed snapshots") {
    val rowGen = for {
      k <- Gen.choose(0, 15)
      v <- Gen.option(Gen.choose(0, 3))
    } yield (k.toString, v)
    (1 to Cases).foreach { s =>
      val old = draw(Gen.listOfN(12, rowGen), 200L + s).distinctBy(_._1)
      val neu = draw(Gen.listOfN(12, rowGen), 300L + s).distinctBy(_._1)
      val om = old.toMap; val nm = neu.toMap
      val expect = (om.keySet ++ nm.keySet).flatMap { k =>
        (om.get(k), nm.get(k)) match {
          case (None, Some(_)) => Some(k -> "added")
          case (Some(_), None) => Some(k -> "removed")
          case (Some(a), Some(b)) if a != b => Some(k -> "updated")
          case _ => None
        }
      }.toMap
      val got = graft.operators.Etl.snapshotDiff(
          old.toDF("k", "v"), neu.toDF("k", "v"), Seq("k"), Seq("v"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got == expect, s"seed $s: $got != $expect")
    }
  }

  test("property: saltedJoin == plain join across random salt counts") {
    val rowGen = for {
      k <- Gen.choose(0L, 4L)
      p <- Gen.choose(0, 1000)
    } yield (k, p)
    (1 to Cases).foreach { s =>
      val big = draw(Gen.listOfN(30, rowGen), s.toLong).toDF("k", "payload")
      val small = draw(Gen.listOfN(6, rowGen), (s + 100).toLong).distinct.toDF("k", "v")
      val salts = 1 + s % 7
      val plain = big.join(small, Seq("k"), "inner")
      val salted = Skew.saltedJoin(big, small, "k", salts)
      assert(salted.count() == plain.count(), s"seed $s count")
      assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty, s"seed $s rows")
    }
  }

  test("property: rolling hash respects the incremental-append identity") {
    val wordGen = Gen.listOfN(10, Gen.alphaLowerStr.map(_.take(6)).suchThat(_.nonEmpty))
    (1 to Cases).foreach { s =>
      val ws = draw(wordGen, s.toLong)
      val full = Seq(Tuple1(ws.mkString(" "))).toDF("text")
        .select(Text.rollingHash(split(col("text"), " ")).as("h")).as[Long].head()
      val prefix = Seq(Tuple1(ws.init.mkString(" "))).toDF("text")
        .select(Text.rollingHash(split(col("text"), " ")).as("h")).as[Long].head()
      val md = java.security.MessageDigest.getInstance("MD5")
      val lastH = java.lang.Long.parseLong(
        md.digest(ws.last.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15), 16) % Text.RollM
      assert(full == (prefix * Text.RollB + lastH) % Text.RollM, s"seed $s")
    }
  }

  test("property: native dot is symmetric, linear in scalars, and Cauchy-Schwarz-bounded") {
    val vecGen = Gen.listOfN(16, Gen.choose(-10000000L, 10000000L))
    (1 to Cases).foreach { s =>
      val a = draw(vecGen, s.toLong)
      val b = draw(vecGen, (s + 50).toLong)
      val df = Seq((a, b)).toDF("a", "b")
      val dot = Similarity.dot(spark) _
      val Array(ab, ba, aa, bb) = df.select(
        dot(col("a"), col("b")), dot(col("b"), col("a")),
        dot(col("a"), col("a")), dot(col("b"), col("b"))).collect()(0)
        .toSeq.map(_.asInstanceOf[Long]).toArray
      assert(ab == ba, s"seed $s: symmetry")
      assert(aa >= 0 && bb >= 0, s"seed $s: self-dot nonneg")
      // Cauchy-Schwarz in BigInt (ab^2 overflows long)
      assert(BigInt(ab) * BigInt(ab) <= BigInt(aa) * BigInt(bb), s"seed $s: C-S")
    }
  }

  test("property: kmeans assignment never decreases mean self-cluster cosine vs seeds") {
    // deterministic end-to-end: same data -> same codebooks -> same means
    val vecs = Similarity.prepared(spark, sf)
    def meanAssignedCos(codebook: org.apache.spark.sql.DataFrame): Double = {
      val d = Similarity.dot(spark) _
      vecs.crossJoin(broadcast(codebook))
        .withColumn("ccos", d(col("ie"), col("se")).cast("double") / (col("nrm") * col("sn")))
        .groupBy("vec_id").agg(max("ccos").as("best"))
        .agg(avg("best")).as[Double].head()
    }
    val seedCos = meanAssignedCos(Similarity.seedCodebook(vecs))
    val kmCos = meanAssignedCos(Similarity.kmeansCodebook(spark, vecs))
    info(f"mean best-cluster cosine: seeds=$seedCos%.4f kmeans=$kmCos%.4f")
    assert(kmCos >= seedCos - 1e-12,
      s"Lloyd iterations must not worsen the k-means objective: $kmCos < $seedCos")
  }
}
