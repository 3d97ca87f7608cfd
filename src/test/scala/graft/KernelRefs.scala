package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Higher-order-function reference forms of the native kernels. They are
  * interpreted (Spark's HOFs are `CodegenFallback`), so no operator uses
  * them; the kernel specs pin kernel == reference on these. */
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
}
