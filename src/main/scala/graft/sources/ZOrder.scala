package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Num.{dbl, dec}
import graft.plans.GraftExtensions

/** Multi-dimensional clustering (Z-order) — the data-skipping layout for
  * the predicate shape a single sort column cannot serve: a box over TWO
  * dimensions (cohort × time window, tenant × date, key range × event
  * window). The reference's answer to "make this predicate cheap" is a
  * B-tree per column (`/root/reference/src/models.py:41-45`); Parquet has
  * no index, but every row group carries min/max stats per column, and
  * the scan-level row-group filter prunes on them. Stats only prune when
  * the layout CLUSTERS the data: a linear sort gives one column tight
  * ranges and leaves every other column's min/max spanning the whole
  * domain. Interleaving the bit representations of both columns (the
  * Z-order space-filling curve — the same lever as Delta/Iceberg
  * `OPTIMIZE ZORDER BY`) makes each file a TILE in (a, b) space, so a
  * box predicate over either or both dimensions prunes to the tiles it
  * intersects: O(perimeter) of the box instead of O(full span of the
  * unsorted dimension).
  *
  * 100 TB shape: one range shuffle on the z-value at WRITE time — the
  * same pay-once discipline as every layout in this package (the month
  * partitioning, the bucketed band index, the bucketed as-of sides).
  * Every later box query prunes at the footer level before any row I/O.
  * Z-order (bit interleave) over Hilbert: Hilbert has ~2× better worst-
  * case tile locality but needs a stateful curve transform; Z's
  * interleave is a pure per-row expression that whole-stage codegen
  * compiles inline, and the skipping bound is the same O(perimeter)
  * class — the standard engineering trade (Delta made the same one).
  *
  * Quantization: each column maps to a `bits`-wide integer rank by
  * linear min/max scaling. The min/max pass rides a 1-row broadcast
  * aggregate (the package's broadcast-scalar idiom — never a driver
  * collect): a column-pruned 2-column scan-speed pre-pass, then the
  * layout job proper is one read + one range shuffle. Linear scaling (vs.
  * equi-depth ranks) keeps the z expression stateless; heavy skew in a
  * clustered column degrades tile balance, at which point the cuts from
  * the catalog's equi-depth histogram (`catalog_histogram_depth`) slot
  * in as the quantizer with no change to the interleave. `bits`=16 per
  * dimension: 4 G distinct tiles — far below µs-timestamp resolution,
  * far above any realistic file count, so the file splits, not the
  * quantizer, bound pruning granularity.
  */
object ZOrder {

  /** Quantizer width per dimension (also the registered
    * `graft_hilbert` order — the two curves index the same grid). */
  val QuantBits = 16

  /** Round-robin bit-interleave of N `bits`-wide non-negative longs:
    * bit i of column j lands at position i·N + j (for N = 2 this is the
    * classic a→2i / b→2i+1 interleave). Pure column expression —
    * 2·N·bits bitwise ops, inlined by codegen; no UDF, no state. The
    * result must fit a long, so N·bits ≤ 63 (3-D at the default 16-bit
    * quantizer uses 48 bits — comfortably inside). This is the same N-D
    * generalization Delta/Iceberg `OPTIMIZE ZORDER BY` expose: each
    * added dimension halves (per bit round) every dimension's
    * resolution share, so pruning per dimension softens as N grows —
    * the standard trade, measured in ZORDERLAB_r11's `arm_3d`. */
  def interleaveBitsN(cols: Seq[Column], bits: Int): Column = {
    val n = cols.size
    require(n >= 2, s"interleave needs >= 2 columns, got $n")
    require(n * bits <= 63, s"interleaved index must fit a long: $n x $bits bits")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      cols.zipWithIndex.foldLeft(acc) { case (a, (c, j)) =>
        a.bitwiseOR(shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * n + j))
      }
    }
  }

  /** 2-D [[interleaveBitsN]] (the original signature, kept for callers
    * and specs pinning the classic bit positions). */
  def interleaveBits(a: Column, b: Column, bits: Int): Column =
    interleaveBitsN(Seq(a, b), bits)

  /** Integer image of a clustering column: timestamps → epoch µs,
    * integrals pass through, strings → first-7-UTF-8-bytes packed
    * big-endian into the low 56 bits (order-preserving for the byte-wise
    * ordering, which matches lexicographic on ASCII — enough to rank a
    * categorical third dimension like event_type/tenant/region; a layout
    * may change cost, never an answer, so quantizer fidelity is a
    * pruning-quality knob, not a correctness one). Doubles/decimals
    * would need the IEEE sign-flip trick; the clustering columns here
    * are keys, categories, and timestamps, so it is deliberately not
    * generalized further. */
  private def asLong(df: DataFrame, c: String): Column = df.schema(c).dataType match {
    case org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType => unix_micros(col(c))
    case org.apache.spark.sql.types.StringType =>
      // NUL-rpad to >=7 chars BEFORE encoding so "ab" < "b" survives the
      // left-aligned big-endian packing (zero-filled low bytes)
      conv(hex(substring(encode(rpad(col(c), 7, "\u0000"), "UTF-8"), 1, 7)),
        16, 10).cast("long")
    case _ => col(c).cast("long")
  }

  /** Curve dispatch shared by every quantizer (linear [[withZN]] and
    * equi-depth [[withZEquiDepth]]): both carry the SAME guards, so a
    * non-default order surfaces as the explanatory message on either
    * path. Hilbert is 2-D via the planar rotate-fold kernel and N-D (up
    * to 63/[[QuantBits]] dims) via the Skilling transpose form over an
    * `array` of ranks (r16 — VERDICT r15 #7); Z covers N dimensions as
    * before. */
  private def curveIndex(df: DataFrame, ranks: Seq[Column], bits: Int,
                         curve: String): Column = curve match {
    case "z" => interleaveBitsN(ranks, bits)
    case "hilbert" =>
      require(ranks.size * bits <= 63,
        s"hilbert index must fit a long: ${ranks.size} dims x $bits bits")
      require(bits == QuantBits,
        s"hilbert curve is registered at order $QuantBits, got bits=$bits")
      val s = df.sparkSession
      if (ranks.size == 2) GraftExtensions.call(s, GraftExtensions.HilbertName, ranks: _*)
      else GraftExtensions.call(s, GraftExtensions.HilbertNName, array(ranks: _*))
    case other => throw new IllegalArgumentException(
      s"unknown curve '$other' (z|hilbert)")
  }

  /** `df` with a `z` column indexing the min/max-scaled ranks of `ca`
    * and `cb` on a space-filling curve. The stats side is a 1-row
    * aggregate broadcast onto every row; rank scaling runs in double
    * (spans up to 2^53 — a µs month is ~2.6e12 — stay exact; the
    * quantizer needs no more). `curve` = "z" (default: pure-expression
    * bit interleave) or "hilbert" (the boundary-continuous native
    * expression `graft_hilbert` — see [[graft.functions.HilbertIndex]]
    * for the trade). */
  def withZ(df: DataFrame, ca: String, cb: String, bits: Int = QuantBits,
            curve: String = "z"): DataFrame = withZN(df, Seq(ca, cb), bits, curve)

  /** N-column [[withZ]] (separate name: Scala allows default arguments
    * on only one overload). Each column contributes a `bits`-wide rank;
    * the curve index round-robins them, so a box predicate on ANY
    * subset of the clustering columns prunes. */
  def withZN(df: DataFrame, cs: Seq[String], bits: Int = QuantBits,
             curve: String = "z"): DataFrame = {
    require(cs.nonEmpty && cs.distinct.size == cs.size,
      s"clustering columns must be distinct: ${cs.mkString(",")}")
    val longs = cs.map(asLong(df, _))
    val aggs = longs.zipWithIndex.flatMap { case (l, i) =>
      Seq(min(l).as(s"__min$i"), max(l).as(s"__max$i")) }
    val stats = df.agg(aggs.head, aggs.tail: _*)
    val hi = (1L << bits) - 1
    def rank(v: Column, lo: Column, up: Column): Column = {
      val span = greatest(up - lo, lit(1L)).cast("double")
      least(lit(hi), floor(((v - lo).cast("double") / span) * hi).cast("long"))
    }
    val ranks = longs.zipWithIndex.map { case (l, i) =>
      rank(l, col(s"__min$i"), col(s"__max$i")) }
    val drops = cs.indices.flatMap(i => Seq(s"__min$i", s"__max$i"))
    df.crossJoin(broadcast(stats))
      .withColumn("z", curveIndex(df, ranks, bits, curve))
      .drop(drops: _*)
  }

  /** Equi-depth variant of [[withZ]] for SKEWED clustering columns —
    * the slot-in the linear quantizer's scaladoc names. Failure mode it
    * fixes: under heavy skew (90% of keys in a sliver of the domain),
    * linear min/max scaling maps the dense mass to a handful of RANKS;
    * rows tied on one z value cannot be split into distinct tiles, so
    * the OTHER dimension's pruning resolution collapses for exactly the
    * data that matters. Equi-depth ranks (bucket index among 2^cutBits
    * approx-quantile cuts) spread the dense mass across the grid and
    * restore both dimensions' selectivity (measured in ZOrderSpec on a
    * 90%-skewed fixture).
    *
    * Costs, stated plainly: the cut arrays come from one
    * `percentile_approx` pass (same scan-speed pre-pass shape as
    * min/max); the per-row rank is the codegen'd
    * [[graft.functions.BucketRank]] binary search over the broadcast
    * 2^cutBits-element cut array (ZORDERLAB_r11 measured the interpreted
    * `aggregate` HOF it replaced at ~5-7× the linear quantizer's build;
    * ZOrderSpec keeps that HOF as the kernel's reference). cutBits=8
    * (256 buckets/dim, 65k tiles) out-resolves any realistic file
    * count. Cut placement is approximate ⇒ tile balance is approximate;
    * correctness never depends on it (footer stats are exact regardless
    * of how rows were binned). */
  def withZEquiDepth(df: DataFrame, ca: String, cb: String,
                     bits: Int = QuantBits, cutBits: Int = 8,
                     curve: String = "z"): DataFrame =
    withZEquiDepthN(df, Seq(ca, cb), bits, cutBits, curve)

  /** N-column [[withZEquiDepth]] — the skew quantizer composed with the
    * r11 N-D curve (separate name: Scala allows default arguments on
    * only one overload). Each dimension gets its own approx-quantile
    * cut array from the ONE stats pass; a skewed tenant column no
    * longer collapses the other N-1 dimensions' pruning. */
  def withZEquiDepthN(df: DataFrame, cs: Seq[String],
                      bits: Int = QuantBits, cutBits: Int = 8,
                      curve: String = "z"): DataFrame = {
    require(cutBits >= 1 && cutBits <= bits, s"cutBits in [1,$bits]")
    require(cs.nonEmpty && cs.distinct.size == cs.size,
      s"clustering columns must be distinct: ${cs.mkString(",")}")
    val longs = cs.map(asLong(df, _))
    val probs = (1 until (1 << cutBits)).map(_.toDouble / (1 << cutBits)).toArray
    val aggs = longs.zipWithIndex.map { case (l, i) =>
      percentile_approx(l, lit(probs), lit(10000)).as(s"__cuts$i") }
    val stats = df.agg(aggs.head, aggs.tail: _*)
    def rank(v: Column, cuts: Column): Column = shiftleft(
      GraftExtensions.call(df.sparkSession, GraftExtensions.BucketRankName, v, cuts),
      bits - cutBits)
    val ranks = longs.zipWithIndex.map { case (l, i) =>
      rank(l, col(s"__cuts$i")) }
    df.crossJoin(broadcast(stats))
      .withColumn("z", curveIndex(df, ranks, bits, curve))
      .drop(cs.indices.map(i => s"__cuts$i"): _*)
  }

  /** The layout plan: curve-index → ONE range shuffle on z → in-file
    * sort by z → original schema. Executing `.write.parquet` on this
    * frame yields `files` parquet files, each a contiguous curve range
    * = a tile in (ca, cb) space with tight min/max footer stats on BOTH
    * columns. */
  def zOrdered(df: DataFrame, ca: String, cb: String,
               files: Int = 64, bits: Int = QuantBits,
               curve: String = "z"): DataFrame =
    layoutPlan(df, withZ(df, ca, cb, bits, curve), files)

  /** N-column [[zOrdered]] — the Delta/Iceberg `OPTIMIZE ZORDER BY
    * (c1, ..., cn)` shape (tenant × key × time being the canonical
    * third-dimension ask). Same one-range-shuffle cost as 2-D. */
  def zOrderedN(df: DataFrame, cs: Seq[String], files: Int = 64,
                bits: Int = QuantBits, curve: String = "z"): DataFrame =
    layoutPlan(df, withZN(df, cs, bits, curve), files)

  /** [[zOrdered]] with the equi-depth quantizer (skewed key domains). */
  def zOrderedEquiDepth(df: DataFrame, ca: String, cb: String,
                        files: Int = 64, bits: Int = QuantBits,
                        cutBits: Int = 8, curve: String = "z"): DataFrame =
    layoutPlan(df, withZEquiDepth(df, ca, cb, bits, cutBits, curve), files)

  /** N-column [[zOrderedEquiDepth]] (skewed domains × N-D curve). */
  def zOrderedEquiDepthN(df: DataFrame, cs: Seq[String],
                         files: Int = 64, bits: Int = QuantBits,
                         cutBits: Int = 8, curve: String = "z"): DataFrame =
    layoutPlan(df, withZEquiDepthN(df, cs, bits, cutBits, curve), files)

  private def layoutPlan(df: DataFrame, withIdx: DataFrame, files: Int): DataFrame =
    withIdx
      .repartitionByRange(files, col("z"))
      .sortWithinPartitions("z")
      .select(df.columns.map(col).toIndexedSeq: _*)

  // -------------------------------------------------------------------
  // Layout maintenance under append (the OPTIMIZE pattern)
  // -------------------------------------------------------------------

  /** Append a batch INTO an existing z-ordered layout directory without
    * rewriting it: the batch is z-ordered on its own and lands as
    * additional part files. Pruning degrades gracefully, not
    * catastrophically — each appended file is still a TILE (of the
    * batch), so footer stats keep both dimensions selective; what grows
    * is tile OVERLAP between generations, not scan width per file. The
    * quantizer runs on the batch's own min/max: at crawl scale a
    * batch's domain matches the table's (ids and time only extend at
    * the edges), and overlap from drift is exactly what [[compact]]
    * reclaims. This is the write-cheap half of the maintenance cycle —
    * one range shuffle of the BATCH, never of the table (the same
    * batch-vs-corpus asymmetry as the band index's streaming ingest).
    */
  def appendBatch(batch: DataFrame, path: String, ca: String, cb: String,
                  files: Int = 8, curve: String = "z"): Unit =
    zOrdered(batch, ca, cb, files, curve = curve)
      .write.mode("append").parquet(path)

  /** Fold the accumulated generations back into one `files`-file layout
    * — the amortized full re-cluster that bounds tile overlap and the
    * small-files count (the maintenance twin of
    * [[Sinks.compactBandIndex]]).
    *
    * Durability: the re-cluster writes to a STAGING path and publishes
    * by rename — the same stage-then-rename discipline as
    * [[Artifacts.cached]] — so a crash, disk-full, or executor loss
    * mid-write never destroys the only durable copy (a naive
    * `mode("overwrite")` onto the same path deletes the directory
    * before writing). The old generation is moved aside before the
    * swap and deleted only after the new one is fully visible; a
    * failed swap restores it. Reading from `path` while writing to the
    * staging path also removes the read-overwrite conflict that
    * previously forced a lineage cut — compact is now one streaming
    * read → range-shuffle → write job with no materialization.
    *
    * Durability scope: the stage-then-rename publish assumes directory
    * rename is ATOMIC, which holds on HDFS and local filesystems but
    * NOT on object stores (S3/GCS "rename" is copy+delete, leaving a
    * visible mixed state mid-swap) — there, atomic publish is
    * commit-protocol / table-format territory (an S3A committer or a
    * Delta/Iceberg snapshot swap), not a filesystem rename. */
  def compact(s: SparkSession, path: String, ca: String, cb: String,
              files: Int = 64, curve: String = "z"): Unit = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    val id = java.util.UUID.randomUUID
    val tmp = new org.apache.hadoop.fs.Path(s"$path.compact-$id")
    val old = new org.apache.hadoop.fs.Path(s"$path.old-$id")
    zOrdered(s.read.parquet(path), ca, cb, files, curve = curve)
      .write.mode("overwrite").parquet(tmp.toString)
    require(fs.rename(hp, old), s"compact: could not move $path aside")
    if (!fs.rename(tmp, hp)) {
      fs.rename(old, hp) // restore the previous generation
      fs.delete(tmp, true)
      throw new java.io.IOException(s"compact: publish rename failed for $path")
    }
    fs.delete(old, true)
  }

  // -------------------------------------------------------------------
  // Declared query: the box predicate the layout exists for
  // -------------------------------------------------------------------

  /** Cohort × window box bounds — chosen inside every sf's domain
    * (user_id 0..14 exists at sf0.001; events span 2024-01). */
  val UserLo = 3L
  val UserHi = 11L
  val TsLo = "2024-01-08 00:00:00"
  val TsHi = "2024-01-15 00:00:00"

  /** Box query over the z-ordered events layout: activity of a user
    * cohort inside a time window, per event type. The layout is built
    * once per source fingerprint through [[Artifacts.cached]] (the
    * persist-and-reuse discipline of the codebook/band index); the
    * query plan is a scan of the clustered copy with BOTH predicates
    * pushed to the footer level, then a |event_type|-sized aggregate.
    * Correctness gate: the oracle runs on the ORIGINAL table — a layout
    * may never change an answer, only its cost. */
  def qZOrder(s: SparkSession, dir: String): DataFrame = {
    val layout = Artifacts.cached(s, "zorder_events", s"$dir/events.parquet") {
      zOrdered(Tables.events(s, dir), "user_id", "ts")
    }
    layout
      .filter(col("user_id").between(UserLo, UserHi) &&
        col("ts") >= lit(TsLo).cast("timestamp") &&
        col("ts") < lit(TsHi).cast("timestamp"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        dbl(sum(dec(col("value")))).as("sum_value"))
      .orderBy("event_type")
  }

  def qZOrderSql: String =
    s"""SELECT event_type, COUNT(*) AS n,
       |       COUNT(DISTINCT user_id) AS n_users,
       |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
       |FROM events
       |WHERE user_id BETWEEN $UserLo AND $UserHi
       |  AND ts >= TIMESTAMP '$TsLo' AND ts < TIMESTAMP '$TsHi'
       |GROUP BY 1 ORDER BY event_type""".stripMargin

  /** Third-dimension box bounds: a lexicographic range over the
    * categorical event_type ('click' ≤ t ≤ 'error' selects click+error
    * of the five types at every sf — the generator's type set is
    * scale-invariant). */
  val TypeLo = "click"
  val TypeHi = "error"

  /** 3-D box query over the N-column z-ordered events layout
    * (user_id × event_type × ts) — the Delta/Iceberg `ZORDER BY
    * (tenant, category, time)` shape. Same discipline as [[qZOrder]]:
    * layout built once per source fingerprint, all THREE predicates
    * pushed to the footer level, oracle on the ORIGINAL table. */
  def qZOrder3(s: SparkSession, dir: String): DataFrame = {
    val layout = Artifacts.cached(s, "zorder3_events", s"$dir/events.parquet") {
      zOrderedN(Tables.events(s, dir), Seq("user_id", "event_type", "ts"))
    }
    layout
      .filter(col("user_id").between(UserLo, UserHi) &&
        col("event_type").between(TypeLo, TypeHi) &&
        col("ts") >= lit(TsLo).cast("timestamp") &&
        col("ts") < lit(TsHi).cast("timestamp"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        dbl(sum(dec(col("value")))).as("sum_value"))
      .orderBy("event_type")
  }

  def qZOrder3Sql: String =
    s"""SELECT event_type, COUNT(*) AS n,
       |       COUNT(DISTINCT user_id) AS n_users,
       |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
       |FROM events
       |WHERE user_id BETWEEN $UserLo AND $UserHi
       |  AND event_type BETWEEN '$TypeLo' AND '$TypeHi'
       |  AND ts >= TIMESTAMP '$TsLo' AND ts < TIMESTAMP '$TsHi'
       |GROUP BY 1 ORDER BY event_type""".stripMargin

  /** [[qZOrder3]] with the N-D HILBERT curve as the clustering index
    * (the Skilling-transpose `graft_hilbert_n` expression, r16): same
    * 3-D box, same aggregate, same oracle on the ORIGINAL table — the
    * gate claim is "swapping the space-filling curve may change scan
    * cost, never an answer". ZORDERLAB_r16_sf1.json's `arm_hilbert3d`
    * carries the measured scan-row ladder vs N-D Z on the same layouts. */
  def qHilbert3(s: SparkSession, dir: String): DataFrame = {
    val layout = Artifacts.cached(s, "hilbert3_events", s"$dir/events.parquet") {
      zOrderedN(Tables.events(s, dir), Seq("user_id", "event_type", "ts"),
        curve = "hilbert")
    }
    layout
      .filter(col("user_id").between(UserLo, UserHi) &&
        col("event_type").between(TypeLo, TypeHi) &&
        col("ts") >= lit(TsLo).cast("timestamp") &&
        col("ts") < lit(TsHi).cast("timestamp"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        dbl(sum(dec(col("value")))).as("sum_value"))
      .orderBy("event_type")
  }
}
