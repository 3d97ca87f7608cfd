package bench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Canary, GraftSession}
import graft.operators.{Etl, Kpi, Merge}
import graft.sources.Publish

/** The JVM side of the benchmark: runs one workload's plan (written by
  * `run.py` from the seed) against the program's public functions, times
  * every operation, and writes what it saw as JSON for `run.py` to check
  * against the oracle and summarize.
  *
  * Usage: `Harness <plan.json> <result.json> [<spans.json>]`; the spans
  * file is written by traced runs only.
  */
object Harness {
  private val json = new ObjectMapper()

  /** One timed call into the program. Times are seconds since harness
    * start; `result` is what the oracle check reads. */
  final class Op(val id: String, val name: String, val sched: Double) {
    @volatile var start, built, end = 0.0
    @volatile var error: String = null
    @volatile var result: AnyRef = null
    @volatile var oracle: String = null
    @volatile var traced = false
    /** (start, end) of the publish and read-back calls, month_close only. */
    @volatile var publish, readGen: (Double, Double) = null
  }

  private val t0 = System.nanoTime()
  val epochAt0: Long = System.currentTimeMillis()
  def now(): Double = (System.nanoTime() - t0) / 1e9
  def progress(msg: String): Unit = System.err.println(f"[harness ${now()}%.1fs] $msg")

  def main(args: Array[String]): Unit = {
    val plan = json.readTree(new java.io.File(args(0)))
    val workload = plan.get("workload").asText
    val dataDir = plan.get("data").asText
    val cpus = plan.get("cpus").asText
    val traced = plan.get("trace").asBoolean

    val w: Workload = workload match {
      case "kpi_api" => new KpiApi(plan, dataDir)
      case "month_close" => new MonthClose(plan)
    }
    // Set-up: JVM start to the end of warm-up.
    val jvmStart = (ManagementFactory.getRuntimeMXBean.getStartTime - epochAt0) / 1e3
    val spark = GraftSession.build(defaultCpus = cpus, logLevel = "ERROR")
    val built = now()
    w.warmup(spark)
    val warm = now() - built
    val heap = new OldGen
    heap.collect()
    progress(f"warmed up; old gen ${heap.peakMb}%.1f MB")

    // A traced run traces only the operations the plan marks, interleaved
    // with untraced ones, so the tracing overhead compares like operations
    // of one run.
    val tracer = if (traced) Some(new Tracer) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    heap.sampleEvery(100)
    val ops = w.measure(spark, tracer)
    heap.stopSampling()
    tracer.foreach(_.drain())
    heap.collect()
    progress(f"measured ${ops.size} ops; old gen peak ${heap.peakMb}%.1f MB")
    // Machine canaries, so cross-round drift can be divided out. They run
    // after the timed window, where they are warm and cannot disturb it;
    // the first epoch rep compiles its plan.
    Canary.epochOnce(spark)
    val canary = Map(
      "epoch_ms" -> Canary.epochOnce(spark),
      "shuffle_ms" -> Canary.shuffleOnce(spark))
    progress(s"canaries $canary")
    spark.stop()

    val out = new java.util.LinkedHashMap[String, AnyRef]()
    out.put("session_build_s", Double.box(built - jvmStart))
    out.put("warmup_s", Double.box(warm))
    out.put("canary", canary.asJava)
    out.put("heap_peak_mb", Double.box(heap.peakMb))
    out.put("cpus", cpus)
    out.put("ops", ops.map { o =>
      val m = new java.util.LinkedHashMap[String, AnyRef]()
      m.put("id", o.id); m.put("name", o.name)
      m.put("sched", Double.box(o.sched)); m.put("start", Double.box(o.start))
      m.put("built", Double.box(o.built)); m.put("end", Double.box(o.end))
      m.put("error", o.error); m.put("result", o.result); m.put("oracle", o.oracle)
      if (o.publish != null) {
        m.put("publish_ms", Double.box((o.publish._2 - o.publish._1) * 1e3))
        m.put("read_generation_ms", Double.box((o.readGen._2 - o.readGen._1) * 1e3))
      }
      if (o.traced) tracer.foreach(t => m.put("trace", t.opSummary(o)))
      m
    }.asJava)
    json.writeValue(new java.io.File(args(1)), out)
    tracer.foreach(t => json.writeValue(new java.io.File(args(2)), t.spans(ops.filter(_.traced))))
  }

  /** Run `body` as operation `op`: its Spark jobs carry the op id as job
    * group, so the tracer ties them (and their stages and tasks) to it. */
  def timed(spark: SparkSession, op: Op, tracer: Option[Tracer] = None)(body: Op => Unit): Op = {
    val sc = spark.sparkContext
    if (op.traced) tracer.foreach(_.follow(op.id))
    sc.setJobGroup(op.id, op.name, interruptOnCancel = false)
    op.start = now()
    try body(op)
    catch { case e: Throwable => op.error = s"${e.getClass.getName}: ${e.getMessage}" }
    finally {
      op.end = now()
      sc.clearJobGroup()
    }
    op
  }

  /** Collected rows with their schema, as the oracle check reads them. */
  def rowsJson(df: DataFrame, rows: Array[Row]): AnyRef = {
    val m = new java.util.LinkedHashMap[String, AnyRef]()
    m.put("schema", df.schema.fields.map(f =>
      java.util.List.of(f.name, f.dataType.typeName)).toSeq.asJava)
    m.put("rows", rows.map(r =>
      (0 until r.length).map(i => r.get(i).asInstanceOf[AnyRef]).asJava).toSeq.asJava)
    m
  }

  trait Workload {
    def warmup(spark: SparkSession): Unit
    /** The timed operations; `tracer` traces those the plan marks. */
    def measure(spark: SparkSession, tracer: Option[Tracer]): Seq[Op]
  }

  /** Dashboard callers: an open loop replays the seeded arrival schedule;
    * at most `threads` requests are in flight, later ones queue. */
  final class KpiApi(plan: JsonNode, dir: String) extends Workload {
    private def call(s: SparkSession, ep: String, m1: String, m2: String): (DataFrame, String) =
      ep match {
        case "summary" => (Kpi.summary(s, dir, m1), Kpi.summarySql(m1))
        case "by_dept" => (Kpi.byDept(s, dir, m1), Kpi.byDeptSql(m1))
        case "delta_company" =>
          (Kpi.deltaCompany(s, dir, m1, m2), Kpi.deltaCompanySql(m1, m2))
        case "delta_by_dept" =>
          (Kpi.deltaByDept(s, dir, m1, m2), Kpi.deltaByDeptSql(m1, m2))
      }

    private def request(s: SparkSession, op: Op, r: JsonNode, tracer: Option[Tracer]): Op =
      timed(s, op, tracer) { o =>
        val (df, sql) = call(s, r.get(1).asText, r.get(2).asText, r.get(3).asText)
        o.built = now()
        o.result = rowsJson(df, df.collect())
        o.oracle = sql
      }

    private def schedule(key: String) = plan.get(key).elements.asScala.toIndexedSeq

    /** Warm-up replays its own schedule the same way, so the concurrent
      * paths are warm too. */
    def warmup(spark: SparkSession): Unit =
      replay(spark, schedule("warmup"), "w", None)
        .foreach(o => require(o.error == null, s"warm-up request failed: ${o.error}"))

    /** Replays the request schedule, which the plan sized to the window. */
    def measure(spark: SparkSession, tracer: Option[Tracer]): Seq[Op] =
      replay(spark, schedule("requests"), "r", tracer)

    /** Sends each request `[due s, endpoint, month, next month, traced]`
      * when due to a pool of `threads`; returns when all have finished. */
    private def replay(spark: SparkSession, reqs: Seq[JsonNode], tag: String,
                       tracer: Option[Tracer]): Seq[Op] = {
      val pool = Executors.newFixedThreadPool(plan.get("threads").asInt)
      val done = new ConcurrentLinkedQueue[Op]()
      val start = now()
      reqs.zipWithIndex.foreach { case (r, i) =>
        val due = start + r.get(0).asDouble
        val wait = due - now()
        if (wait > 0) Thread.sleep((wait * 1000).toLong, ((wait * 1e9) % 1e6).toInt)
        val op = new Op(s"$tag$i", r.get(1).asText, due)
        op.traced = tracer.isDefined && r.get(4).asBoolean
        pool.submit(new Runnable { def run(): Unit = done.add(request(spark, op, r, tracer)) })
      }
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.HOURS)
      done.asScala.toSeq.sortBy(_.sched)
    }
  }

  /** Monthly payroll closes: each reads one raw batch, cleanses it, upserts
    * dims, employees and facts against the published generation, publishes
    * the next generation and reads it back with a KPI summary per month. */
  final class MonthClose(plan: JsonNode) extends Workload {
    private val batches = plan.get("batches").elements.asScala.map(_.asText).toIndexedSeq
    private val warmBatches = plan.get("warmup_batches").asInt
    private val root = plan.get("publish_root").asText

    private def close(spark: SparkSession, k: Int, traced: Boolean = false,
                      tracer: Option[Tracer] = None): Op = {
      val op = new Op(s"c$k", "close", now())
      op.traced = traced
      timed(spark, op, tracer) { o =>
        val clean = Etl.cleanse(Etl.readRaw(spark, batches(k)))
        val prev = if (k == 0) None else Some(Publish.readGeneration(spark, root))
        val dims = prev.fold(Etl.dimDept(clean))(p => Etl.dimUpsert(p("dept"), clean))
        val empIn = Etl.employees(clean)
          .join(broadcast(dims), col("dept") === col("dept_name"))
          .select("emp_id", "dept_id", "job_grade", "location")
        val emps = prev.fold(empIn)(p => Merge.upsert(p("employees"), empIn, Seq("emp_id")))
        val facts = prev.fold(Etl.facts(clean))(p => Etl.factUpsert(p("facts"), Etl.facts(clean)))
        o.built = now()
        Publish.publishGeneration(spark, root,
          Seq("dept" -> dims, "employees" -> emps, "facts" -> facts))
        val r0 = now()
        o.publish = (o.built, r0)
        val g = Publish.readGeneration(spark, root)
        o.readGen = (r0, now())
        // Read-back: per-month, per-department KPIs over the published
        // fact joined to its dims, as a dashboard would read them.
        def dec(c: String) = sum(col(c).cast("decimal(18,2)")).cast("string").as(c)
        val kpis = g("facts").join(g("employees"), "emp_id").join(g("dept"), "dept_id")
          .groupBy(date_format(col("month"), "yyyy-MM").as("month"),
            col("dept_id"), col("dept_name"))
          .agg(count(lit(1)).as("n"), countDistinct("emp_id").as("headcount"),
            countDistinct("job_grade").as("grades"), countDistinct("location").as("locations"),
            dec("gross"), dec("net"), dec("taxes"), dec("fte"), dec("hours_worked"))
        o.result = rowsJson(kpis, kpis.collect())
      }
    }

    def warmup(spark: SparkSession): Unit =
      (0 until warmBatches).foreach { k =>
        val op = close(spark, k)
        require(op.error == null, s"warm-up close $k failed: ${op.error}")
      }

    /** Closes every remaining batch: a fixed number, which the plan sized
      * to the window, so every run closes the same months however fast the
      * closes are. A close costs more as the published tables grow, and a
      * time-bounded window would time later, dearer months on a faster
      * program. */
    def measure(spark: SparkSession, tracer: Option[Tracer]): Seq[Op] = {
      val traced = plan.get("traced").elements.asScala.map(_.asBoolean).toIndexedSeq
      traced.indices.map(i => close(spark, warmBatches + i, tracer.isDefined && traced(i), tracer))
    }
  }

  /** Old-generation heap in use after collections (JMX collection usage),
    * read after forced full GCs and sampled in between: `peakMb` is the
    * largest reading. */
  final class OldGen {
    private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getName.matches(".*(Old|Tenured).*")).toSeq
    @volatile var peakMb = 0.0
    @volatile private var sampler: Thread = null

    private def read(): Unit = {
      val mb = pools.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum / 1048576.0
      if (mb > peakMb) peakMb = mb
    }

    /** Reads after two full GCs. The second one, after a pause, also frees
      * the blocks the first let Spark's context cleaner release. */
    def collect(): Unit = {
      System.gc()
      Thread.sleep(500)
      System.gc()
      read()
    }

    def sampleEvery(ms: Long): Unit = {
      sampler = new Thread(() =>
        try while (true) { read(); Thread.sleep(ms) }
        catch { case _: InterruptedException => })
      sampler.setDaemon(true)
      sampler.start()
    }

    def stopSampling(): Unit = { sampler.interrupt(); sampler.join() }
  }
}
