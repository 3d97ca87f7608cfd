package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
import graft.operators.Dedup

/** Reference forms of the operators' one implementation. No operator
  * uses them; the specs pin operator == reference on these:
  *  - higher-order-function forms of the native kernels (interpreted:
  *    Spark's HOFs are `CodegenFallback`);
  *  - the sequential greedy BPE trainer, reference for
  *    `Text.bpeTrainBatched`;
  *  - the union+window as-of join, reference for `graft.plans.AsOfJoin`.
  */
object KernelRefs {
  /** Exact integer dot product — reference for `graft_dot_long`. */
  def dotL(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, _ * _), lit(0L), _ + _)

  /** In-row argmax-cosine cell id — reference for `graft_argmax_cell`:
    * identical arithmetic (exact int dot, one double divide) and
    * identical (ccos desc, cluster asc) winner. Order-independent over
    * `cb`, so the non-deterministic collect_list order is harmless. */
  def argmaxCellL(cb: Column, ie: Column, nrm: Column): Column =
    aggregate(cb,
      struct(lit(Double.NegativeInfinity).as("c"), lit(Long.MaxValue).as("cl")),
      (acc, e) => {
        val ccos = dotL(ie, e("se")).cast("double") / (nrm * e("sn"))
        when(ccos > acc("c") || (ccos === acc("c") && e("cluster") < acc("cl")),
          struct(ccos.as("c"), e("cluster").as("cl"))).otherwise(acc)
      })("cl")

  /** `vecs` plus a `bands` column — reference for
    * [[graft.functions.SignBands]]: per-hyperplane dot → sign bit
    * (projected ONCE — no CSE inside HOF lambdas), then MSB-first
    * bit-pack per band. */
  def hofBands(vecs: DataFrame,
               matrix: Seq[Seq[Long]] = Dedup.hyperplanes,
               bandBits: Int = Dedup.RpBandBits): DataFrame = {
    val nBands = matrix.length / bandBits
    vecs
      .withColumn("bits",
        transform(typedLit(matrix), h => (dotL(col("ie"), h) >= 0).cast("long")))
      .withColumn("bands",
        transform(sequence(lit(0), lit(nBands - 1)),
          k => aggregate(slice(col("bits"), k * lit(bandBits) + lit(1), lit(bandBits)),
            lit(0L), (acc, x) => acc * 2 + x)))
  }

  /** Count of cut values <= `v` — reference for `graft_bucket_rank`. */
  def bucketRankL(v: Column, cuts: Column): Column =
    aggregate(cuts, lit(0L), (acc, c) => acc + when(v >= c, 1L).otherwise(0L))

  /** Sequential greedy BPE training over `docs.text` — reference for
    * `Text.bpeTrainBatched`. Normalizes like the operators, counts
    * distinct words, then per merge one vocab-sized pair-count shuffle,
    * a 1-row (count desc, x asc, y asc) argmax collect and a rewrite of
    * every occurrence; stops early when no adjacent pair remains. The
    * per-merge checkpoint caps the replace-chain plan depth (a cut-free
    * loop measured slower: each iteration compiles a growing codegen
    * source). */
  def bpeTrain(docs: DataFrame, nMerges: Int): Seq[(String, String)] = {
    val (d1, d2) = ("\u0001", "\u0002")
    var wf = docs
      .select(explode(split(graft.functions.Hashes.normText(col("text")), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(regexp_replace(col("w"), "(.)", d1 + "$1" + d2).as("sq"), col("n"))
      .localCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var done = false
    while (!done && out.size < nMerges) {
      val top = wf
        .select(col("n"), split(regexp_replace(col("sq"),
          "^" + d1 + "|" + d2 + "$", ""), d2 + d1).as("syms"))
        .where(size(col("syms")) >= 2)
        .select(col("n"), explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> struct(syms[i - 1] AS x, syms[i] AS y))")).as("p"))
        .groupBy(col("p.x"), col("p.y")).agg(sum("n").as("cnt"))
        .orderBy(col("cnt").desc, col("x"), col("y"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (x, y) = (top.head.getString(0), top.head.getString(1))
        out += ((x, y))
        wf = wf.select(replace(col("sq"), lit(d1 + x + d2 + d1 + y + d2),
            lit(d1 + x + y + d2)).as("sq"), col("n"))
          .localCheckpoint()
      }
    }
    out.toSeq
  }

  /** Union+window point-in-time join — reference for
    * `graft.plans.AsOfJoin`: for each `left` row, the most recent `right`
    * row with `rightTime <= leftTime` on the same `key`, left-outer. Tag
    * both sides, union, and carry the last right row forward with a
    * running `last(ignoreNulls)` window ordered (time, side, tie), right
    * sorting before left, so a right row at exactly `leftTime` matches
    * and the greatest `rightTie` wins among co-timestamped rows. Output:
    * all left columns ++ `prefix`-ed `rightTime` and `rightPayload`. */
  def asOfJoin(left: DataFrame, right: DataFrame, key: Seq[String],
               leftTime: String, rightTime: String,
               leftTie: String, rightTie: String,
               rightPayload: Seq[String], prefix: String): DataFrame = {
    // the tie rule rides on cast("long"), which would NULL a string id
    Seq(left -> leftTie, right -> rightTie).foreach { case (df, c) =>
      val dt = df.schema(c).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"asOfJoin tie column '$c' must be an integral type, got $dt")
    }
    val payloadCols = (rightTime +: rightPayload).distinct
    val rStruct = struct(payloadCols.map(col): _*)
    val rStructType = right.select(rStruct).schema.head.dataType
    val l = left.select(
      key.map(col) ++ Seq(
        unix_micros(col(leftTime)).as("__t"),
        lit(1).as("__side"),
        col(leftTie).cast("long").as("__tie"),
        lit(null).cast(rStructType).as("__r"),
        struct(left.columns.map(col).toSeq: _*).as("__l")): _*)
    val r = right.select(
      key.map(col) ++ Seq(
        unix_micros(col(rightTime)).as("__t"),
        lit(0).as("__side"),
        col(rightTie).cast("long").as("__tie"),
        rStruct.as("__r"),
        lit(null).cast(l.schema("__l").dataType).as("__l")): _*)
    val w = Window.partitionBy(key.map(col): _*)
      .orderBy(col("__t"), col("__side"), col("__tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = l.unionByName(r)
      .withColumn("__m", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    val outLeft = left.columns.map(c => col(s"__l.$c").as(c))
    val outRight = payloadCols.map(c => col(s"__m.$c").as(prefix + c))
    matched.select((outLeft ++ outRight).toSeq: _*)
  }
}
