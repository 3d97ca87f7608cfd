package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.WholeStageCodegenExec
import graft.operators.Similarity
import graft.plans.GraftExtensions

/** The native `graft_dot_long` expression: value-equivalence with the
  * higher-order-function form it replaces ([[KernelRefs]]), null
  * semantics, and proof that it actually lands inside a WholeStageCodegen
  * stage (the whole point — the HOF form is CodegenFallback). */
class VectorExprsSpec extends SparkSpec {
  private lazy val sp = spark
  import sp.implicits._

  // the kernels are called by name below: the SQL-user contract is to
  // install them once, then call them
  override def beforeAll(): Unit = {
    super.beforeAll()
    GraftExtensions.ensure(spark)
  }

  private val rnd = new scala.util.Random(42)
  private def vec(n: Int): Seq[Long] = Seq.fill(n)(rnd.nextInt(20000001).toLong - 10000000L)

  test("native dot == HOF dot on random 64-dim integerized vectors") {
    val rows = Seq.fill(50)((vec(64), vec(64))).toDF("a", "b")
    val both = rows.select(
      call_function("graft_dot_long", col("a"), col("b")).as("native"),
      KernelRefs.dotL(col("a"), col("b")).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    // and against a driver-side ground truth
    val first = Seq((vec(64), vec(64))).toDF("a", "b")
    val Array(g) = first.select(call_function("graft_dot_long", col("a"), col("b"))).as[Long].collect()
    val Array((a, b)) = first.as[(Seq[Long], Seq[Long])].collect()
    assert(g == a.zip(b).map { case (x, y) => x * y }.sum)
  }

  test("null array -> null; empty arrays -> 0") {
    val df = Seq[(Option[Seq[Long]], Option[Seq[Long]])](
      (Some(Seq(1L, 2L)), None),
      (Some(Seq.empty[Long]), Some(Seq.empty[Long]))).toDF("a", "b")
    val out = df.select(call_function("graft_dot_long", col("a"), col("b"))).collect()
    assert(out(0).isNullAt(0))
    assert(out(1).getLong(0) == 0L)
  }

  test("interpreted eval (codegen off) matches codegen eval") {
    val rows = Seq.fill(20)((vec(64), vec(64))).toDF("a", "b")
    val expr = call_function("graft_dot_long", col("a"), col("b")).as("d")
    val withCg = rows.select(expr).as[Long].collect().toSeq
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val noCg = rows.select(expr).as[Long].collect().toSeq
      assert(withCg == noCg)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("the projection compiles into a WholeStageCodegen stage") {
    // non-foldable input (range), so the dot survives into the physical
    // plan instead of being constant-folded into a LocalTableScan
    val rows = spark.range(100)
      .withColumn("a", transform(sequence(lit(0), lit(63)), i => col("id") + i))
      .withColumn("b", transform(sequence(lit(0), lit(63)), i => col("id") - i))
    val q = rows.select(call_function("graft_dot_long", col("a"), col("b")).as("d"))
    val plan = q.queryExecution.executedPlan
    assert(plan.exists(_.isInstanceOf[WholeStageCodegenExec]),
      s"expected WholeStageCodegen in:\n$plan")
    // and the stage actually computes the right numbers
    val expect = (0L until 64L).map(i => (7L + i) * (7L - i)).sum
    assert(q.filter(col("d") === expect).count() >= 1)
  }

  test("native sign-bands == composed HOF form on real embeddings") {
    val vecs = Similarity.prepared(spark, sf)
    val native = vecs.select(col("vec_id"),
      call_function("graft_sign_bands", col("ie")).as("bands"))
    val hof = KernelRefs.hofBands(vecs).select("vec_id", "bands")
    assert(native.except(hof).isEmpty && hof.except(native).isEmpty,
      "band values must be identical between the codegen'd and HOF paths")
    // shape: RpBands values, each within [0, 2^RpBandBits)
    val bounds = native.select(explode(col("bands")).as("bv"))
      .agg(min("bv"), max("bv")).collect()(0)
    assert(bounds.getLong(0) >= 0L &&
      bounds.getLong(1) < (1L << graft.operators.Dedup.RpBandBits))
  }

  test("argmax-cell kernel == HOF fallback == the r16 relational max_by form") {
    val vecs = Similarity.prepared(spark, sf)
    val seeds = Similarity.seedCodebook(vecs)
    val cb = Similarity.cbArr(seeds)
    val native = vecs.crossJoin(broadcast(cb)).select(col("vec_id"),
      call_function("graft_argmax_cell", col("ie"), col("nrm"), col("cb")).as("cluster"))
    val hof = vecs.crossJoin(broadcast(cb)).select(col("vec_id"),
      KernelRefs.argmaxCellL(col("cb"), col("ie"), col("nrm")).as("cluster"))
    // the shape this kernel replaced: explode ×|codebook|, shuffle,
    // max_by argmax — kept here as the equivalence oracle
    val relational = vecs.crossJoin(broadcast(seeds))
      .withColumn("ccos", KernelRefs.dotL(col("ie"), col("se")).cast("double") /
        (col("nrm") * col("sn")))
      .groupBy("vec_id")
      .agg(max_by(col("cluster"), struct(col("ccos"), -col("cluster"))).as("cluster"))
    assert(native.except(relational).isEmpty && relational.except(native).isEmpty,
      "kernel must pick the identical (ccos desc, cluster asc) winner")
    assert(native.except(hof).isEmpty && hof.except(native).isEmpty,
      "HOF reference must match the kernel")
  }

  test("argmax-cell kernel runs inside WholeStageCodegen and matches interpreted eval") {
    val vecs = Similarity.prepared(spark, sf)
    val cb = Similarity.cbArr(Similarity.seedCodebook(vecs))
    val q = vecs.crossJoin(broadcast(cb)).select(col("vec_id"),
      call_function("graft_argmax_cell", col("ie"), col("nrm"), col("cb")).as("cluster"))
    val withCg = q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // inspect the FINAL adaptive plan (after execution), descending
    // through query-stage shells — the Skew.finalPlanNodes discipline
    assert(graft.operators.Skew.finalPlanNodes(q.queryExecution.executedPlan)
        .exists(_.isInstanceOf[WholeStageCodegenExec]),
      s"expected WholeStageCodegen in:\n${q.queryExecution.executedPlan}")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val noCg = q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(withCg == noCg)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("SQL surface: SELECT graft_dot_long(...) works via the extension") {
    val g = spark.sql("SELECT graft_dot_long(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d")
      .as[Long].collect()
    assert(g.toSeq == Seq(32L))
  }
}
