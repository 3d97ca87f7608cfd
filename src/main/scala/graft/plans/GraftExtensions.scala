package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.call_function
import graft.functions.{ArgmaxCell, BpeCount, BucketRank, DotLong, HilbertIndex, HilbertIndexN, SignBands}

/** The engine's one install routine: the native codegen'd expressions go
  * into the session's function registry and [[AsOfJoinStrategy]] goes in
  * front of `experimental.extraStrategies` — the Pathling
  * `SqlStrategy.setup(session)` pattern (SNIPPETS [1]).
  *
  * Install is on demand, so it works in any `SparkSession` a caller
  * passes in, with no session config: every kernel call site goes
  * through [[call]] and the as-of builder through [[ensure]], and each
  * kernel has exactly one code path. SQL users call `ensure(spark)` once
  * and then get the functions by name (`SELECT graft_dot_long(a, b)`).
  */
object GraftExtensions {
  val DotLongName = "graft_dot_long"
  val SignBandsName = "graft_sign_bands"
  val SignBandsWideName = "graft_sign_bands_wide"
  val SignBandsXWideName = "graft_sign_bands_xwide"
  val HilbertName = "graft_hilbert"
  val HilbertNName = "graft_hilbert_n"
  val BucketRankName = "graft_bucket_rank"
  val BpeCountName = "graft_bpe_count"
  val ArgmaxCellName = "graft_argmax_cell"

  private def fn(name: String, cls: Class[_], usage: String = null)(
      build: Seq[Expression] => Expression): (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, null, name, usage, ""), build)

  /** The one list of native functions [[ensure]] registers. */
  private lazy val functions = Seq(
    fn(DotLongName, classOf[DotLong])(args => DotLong(args(0), args(1))),
    // the sign-LSH matrix is engine configuration (fixed per deployment),
    // so the SQL surface stays a one-argument function
    fn(SignBandsName, classOf[SignBands])(args => SignBands(args(0),
      graft.operators.Dedup.hyperplanes, graft.operators.Dedup.RpBandBits)),
    // production-scale signature (128-bit, 16-bit bands): same expression
    // class, wider fixed matrix — see Dedup.ScaledRpBits scaladoc
    fn(SignBandsWideName, classOf[SignBands])(args => SignBands(args(0),
      graft.operators.Dedup.hyperplanesWide, graft.operators.Dedup.ScaledBandBits)),
    // the corpus-growth re-cut: SAME 128-bit signature, 32-bit bands —
    // the band-width ladder rung that keeps random collisions (n²/2^w)
    // below true-dup mass as n grows (see Dedup.XWideBandBits scaladoc)
    fn(SignBandsXWideName, classOf[SignBands])(args => SignBands(args(0),
      graft.operators.Dedup.hyperplanesWide, graft.operators.Dedup.XWideBandBits)),
    // Hilbert 2-D curve index at the ZOrder quantizer width — the
    // boundary-continuous clustering alternative (see CurveExprs)
    fn(HilbertName, classOf[HilbertIndex])(args => HilbertIndex(args(0), args(1),
      graft.sources.ZOrder.QuantBits)),
    // N-D Hilbert (Skilling transpose form) over an array<bigint> of
    // quantized coordinates — same fixed order as the 2-D kernel, so
    // n_dims <= 3 at the 16-bit quantizer (n*order must fit a long;
    // checked per row against the actual array length)
    fn(HilbertNName, classOf[HilbertIndexN],
      s"$HilbertNName(coords) - Hilbert curve index of an array<bigint> " +
        s"of quantized coordinates at order ${graft.sources.ZOrder.QuantBits} " +
        "(n_dims * order must be <= 63). NULL array or element -> NULL.")(
      args => HilbertIndexN(args(0), graft.sources.ZOrder.QuantBits)),
    // equi-depth quantizer kernel: rank of a value among the sorted cut
    // array (binary search; the ZOrder.withZEquiDepth write-time hot
    // path). Session-wide SQL function, so the usage string carries the
    // PRECONDITION any external caller must honor (ADVICE r12): cuts
    // must be sorted non-decreasing — an unsorted array silently
    // mis-ranks (the binary search's upper-bound contract equals the
    // linear count only on sorted input). Nullable-element arrays are
    // rejected at analysis (BucketRank.checkInputDataTypes).
    fn(BucketRankName, classOf[BucketRank],
      s"$BucketRankName(x, cuts) - rank of bigint `x` in `cuts` " +
        "(array<bigint>, MUST be sorted non-decreasing with non-null " +
        "elements; unsorted input silently mis-ranks). Returns the " +
        "count of cut values <= x via upper-bound binary search.")(
      args => BucketRank(args(0), args(1))),
    // BPE tokenizer apply at production vocab scale: token count of a
    // pre-normalized text under a TRAINED merges list bound as a foldable
    // array<struct<x,y>> constant — the rank-map kernel whose cost is
    // independent of vocabulary size (replaces the per-merge replace
    // chain past ~24 merges; see functions.BpeCount)
    fn(BpeCountName, classOf[BpeCount],
      s"$BpeCountName(text, merges) - BPE token count of pre-normalized " +
        "`text` (lowercase, single spaces) under the constant merges " +
        "list `merges` (array<struct<x string, y string>>, rank order, " +
        "must be foldable).")(
      args => BpeCount(args(0), args(1))),
    // in-row argmax-cosine cell assignment against a broadcast codebook
    // array — the kernel that keeps k-means assignment / IVF membership
    // a narrow map instead of a corpus-wide groupBy shuffle (r17; see
    // functions.ArgmaxCell)
    fn(ArgmaxCellName, classOf[ArgmaxCell],
      s"$ArgmaxCellName(ie, nrm, cb) - cluster id of `cb` " +
        "(array<struct<cluster bigint, se array<bigint>, sn double>>) " +
        "maximizing double(ie*se)/(nrm*sn); ties to the lowest cluster id.")(
      args => ArgmaxCell(args(0), args(1), args(2))))

  /** The strategy doubles as the installed marker: a session clone
    * copies its strategies and its function registry together. */
  private def installed(spark: SparkSession): Boolean =
    spark.experimental.extraStrategies.contains(AsOfJoinStrategy)

  /** Install the functions and the as-of strategy into `spark`, once per
    * session. Safe to call from several threads and on every query
    * build: after the first call it is one list lookup. */
  def ensure(spark: SparkSession): Unit =
    if (!installed(spark)) synchronized {
      if (!installed(spark)) {
        val registry = spark.sessionState.functionRegistry
        functions.foreach { case (id, info, build) => registry.registerFunction(id, info, build) }
        // strategy last: it is the marker the unlocked check reads
        spark.experimental.extraStrategies =
          AsOfJoinStrategy +: spark.experimental.extraStrategies
      }
    }

  /** A native kernel applied to `args`: the one call path every operator
    * uses, so the kernel runs in whatever session `spark` is. */
  def call(spark: SparkSession, name: String, args: Column*): Column = {
    ensure(spark)
    call_function(name, args: _*)
  }
}
