package graft

import com.fasterxml.jackson.core.`type`.TypeReference
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins the harness-side session plumbing that has no oracle: the
  * local-cluster executor-memory derivation. The bracket memory in
  * `local-cluster[n,cores,memMB]` sizes only the WORKER's advertised
  * pool; executors launch at the `spark.executor.memory` default (1g)
  * unless the session sets it — found r11 when the "8 GB" bench
  * executors turned out to be `-Xmx1024M` and died on the four
  * heaviest queries. This spec keeps the parser honest so no future
  * harness main re-introduces the silent 8× under-provisioning. It also
  * pins the correctness dump's JSON, the declared-query list it is
  * derived from, the env-knob inventory, the absence of hand-rolled
  * listeners and FaultLab's kill filter — none of these cases needs a
  * Spark session. */
class HarnessSpec extends AnyFunSuite {
  test("local-cluster masters derive spark.executor.memory from the bracket") {
    assert(ExecutorDrain.executorMemoryFor("local-cluster[4,8,8192]")
      .contains("8192m"))
    assert(ExecutorDrain.executorMemoryFor("local-cluster[ 3, 8, 1024 ]")
      .contains("1024m"))
  }

  test("non-cluster masters derive nothing (local defaults untouched)") {
    assert(ExecutorDrain.executorMemoryFor("local[32]").isEmpty)
    assert(ExecutorDrain.executorMemoryFor("local[*]").isEmpty)
    assert(ExecutorDrain.executorMemoryFor("spark://host:7077").isEmpty)
  }

  test("between-query cleanup drains executors only for multi-process masters") {
    // the drain waits on executor storage in other JVMs; under a
    // single-JVM master it only sleeps out its grace period
    Seq("local", "local[4]", "local[*]", "local[4,2]").foreach { m =>
      assert(!ExecutorDrain.multiProcess(m), m)
    }
    Seq("local-cluster[2,2,2048]", "spark://host:7077", "yarn",
        "k8s://https://host:6443").foreach { m =>
      assert(ExecutorDrain.multiProcess(m), m)
    }
  }

  // --- GraftSession's pure resolvers: the fold every harness main now
  // builds through (r12 VERDICT #4). These pins make the 1 GB-executor
  // class of trap impossible BY CONSTRUCTION: a main that uses
  // GraftSession.build cannot skip the bracket derivation, and these
  // tests keep the derivation itself honest.

  test("GraftSession master resolution: fixed > env > local[cpus]") {
    assert(GraftSession.resolveMaster(Map.empty, "32", None) == "local[32]")
    assert(GraftSession.resolveMaster(
      Map("SPARK_GRAFT_MASTER" -> "local-cluster[4,8,16384]"), "32", None)
      == "local-cluster[4,8,16384]")
    // a lab's fixed master wins over the env (StreamRestartLab's two
    // deliberately-sized sessions must not drift with gate envs)
    assert(GraftSession.resolveMaster(
      Map("SPARK_GRAFT_MASTER" -> "local[4]"), "32", Some("local[8]"))
      == "local[8]")
  }

  test("GraftSession executor memory: explicit env wins on any master; " +
       "bracket is the local-cluster fallback") {
    assert(GraftSession.resolveExecutorMemory(
      Map("SPARK_GRAFT_EXECUTOR_MEM" -> "12g"), "spark://host:7077")
      .contains("12g"))
    assert(GraftSession.resolveExecutorMemory(
      Map("SPARK_GRAFT_EXECUTOR_MEM" -> "12g"), "local-cluster[4,8,8192]")
      .contains("12g"))
    assert(GraftSession.resolveExecutorMemory(Map.empty, "local-cluster[4,8,8192]")
      .contains("8192m"))
    assert(GraftSession.resolveExecutorMemory(Map.empty, "local[32]").isEmpty)
  }

  // --- The dump the oracle gate reads: Verify.json writes
  // oracle_sql.json and waivers.json, and SparkEntry.declared is the one
  // list every contract map is derived from.

  private def parse(json: String): Map[String, String] =
    new ObjectMapper().readValue(json,
      new TypeReference[java.util.Map[String, String]] {}).asScala.toMap

  test("Verify.json round-trips quotes, backslashes and control chars") {
    val m = Map(
      "q\"k\\" -> "SELECT '\"a\"' AS \"x\\y\"",
      "ctl" -> "line1\nline2\r\n\tindented\u0001end",
      "plain" -> "")
    assert(parse(Verify.json(m)) == m)
    // the short escapes for tab, newline and CR; the rest by code point
    assert(Verify.json(Map("k" -> "a\tb\nc\rd\u0001")) ==
      "{\"k\": \"a\\tb\\nc\\rd\\u0001\"}")
  }

  test("the oracle dump carries exactly the declared queries, one oracle each") {
    assert(SparkEntry.declared.map(_.name).distinct.size == SparkEntry.declared.size,
      "a query name is declared twice")
    val dumped = parse(Verify.json(SparkEntry.oracleSql))
    assert(dumped.keySet == SparkEntry.queries.keySet)
    assert(dumped == SparkEntry.oracleSql)
    // the declared surface (ROADMAP north star): a query added or
    // dropped must move this pin on purpose
    assert(dumped.size == 127)
  }

  test("the sf10 sweep script names exactly the declared queries") {
    // tools/sf10_verify.sh hands each CHUNKS line to Verify, which fails
    // the whole chunk on one undeclared name and skips an unlisted one
    val script = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/sf10_verify.sh")), "UTF-8")
    val chunks = script.substring(script.indexOf("CHUNKS=("))
    val listed = "\"([^\"]*)\"".r
      .findAllMatchIn(chunks.substring(0, chunks.indexOf("\n)")))
      .flatMap(_.group(1).split("\\s+")).filter(_.nonEmpty).toSeq
    assert(listed.distinct.size == listed.size, "a query is listed twice")
    val undeclared = listed.toSet -- SparkEntry.queries.keySet
    val unlisted = SparkEntry.queries.keySet -- listed
    assert(undeclared.isEmpty && unlisted.isEmpty,
      s"undeclared: ${undeclared.toSeq.sorted}; unlisted: ${unlisted.toSeq.sorted}")
  }

  test("the SPARK_GRAFT_* env knobs named under src/main are exactly the pinned set") {
    // a knob added or retired must move this list on purpose
    val knob = "SPARK_GRAFT_[A-Z0-9_]+".r
    val src = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    val named = try src.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => knob.findAllIn(new String(java.nio.file.Files.readAllBytes(p), "UTF-8")))
      .toSet
    finally src.close()
    val pinned = Set(
      "ANNLAB_NPROBE", "ANNLAB_OUT", "ANNLAB_PROBES", "AQE", "ARTIFACTS",
      "BENCH_ONLY", "BENCH_OUT", "BENCH_REPS", "BPELAB_OUT",
      "CANARYLAB_OUT", "CANARYLAB_RUNS", "CHECKPOINT_DIR", "CPUS",
      "EXECUTOR_CLASSPATH", "EXECUTOR_MEM", "FAULTLAB_OUT",
      "LOG_LEVEL", "MASTER", "MEDIALAB_KS", "MEDIALAB_OUT",
      "PUBLISHLAB_ITERS", "PUBLISHLAB_OUT", "SF_DIR", "STREAMRESTART_OUT",
      "VERIFY_NATURAL").map("SPARK_GRAFT_" + _)
    assert(pinned.size == 25)
    assert(named == pinned,
      s"new: ${(named -- pinned).toSeq.sorted}; gone: ${(pinned -- named).toSeq.sorted}")
  }

  test("no SparkListener is subclassed or added under src/main") {
    // the labs and the bench profile read Spark's status store
    // (StorageBridge.groupTotals)
    val listener = raw"(extends|with|new)\s+([\w.]+\.)?SparkListener\b|addSparkListener".r
    assert(listener.findFirstIn("new org.apache.spark.scheduler.SparkListener {").nonEmpty)
    assert(listener.findFirstIn("sc.addSparkListener(l)").nonEmpty)
    assert(listener.findFirstIn("import org.apache.spark.scheduler.SparkListenerTaskEnd").isEmpty)
    // the bench's handle on the plan a write ran is not a SparkListener
    assert(listener.findFirstIn("final class LastRun extends QueryExecutionListener {").isEmpty)
    val src = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    val files = try src.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally src.close()
    val hits = files.flatMap { p =>
      listener.findAllIn(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
        .map(m => s"$p: $m")
    }
    assert(files.size > 50 && hits.isEmpty, hits.mkString("; "))
  }

  test("FaultLab kills only an executor of its own application") {
    val app = "app-20261018231900-0000"
    def executor(appId: String) = "java -cp classes -Xmx2g " +
      "org.apache.spark.executor.CoarseGrainedExecutorBackend --driver-url " +
      "spark://CoarseGrainedScheduler@10.0.0.1:40000 --executor-id 1 " +
      s"--hostname 10.0.0.1 --cores 8 --app-id $appId " +
      "--worker-url spark://Worker@10.0.0.1:40001 --resourceProfileId 0"
    assert(FaultLab.isExecutorOf(app, executor(app)))
    // another application's executor, including one whose id extends ours
    assert(!FaultLab.isExecutorOf(app, executor("app-20261018231900-0001")))
    assert(!FaultLab.isExecutorOf(app, executor(app + "1")))
    // a process that only names the app id is not an executor
    assert(!FaultLab.isExecutorOf(app, s"java graft.FaultLab --app-id $app"))
  }

  test("value waivers name declared queries only: the one designed HLL waiver") {
    assert(SparkEntry.valueWaived.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.valueWaived.keySet == Set("kpi_headcount_approx"))
    assert(parse(Verify.json(SparkEntry.valueWaived)) == SparkEntry.valueWaived)
  }

  test("select: no names is every query, a typo fails and lists the valid names") {
    assert(SparkEntry.select(Nil).keySet == SparkEntry.queries.keySet)
    assert(SparkEntry.select(Seq("kpi_summary", "etl_publish")).keySet ==
      Set("kpi_summary", "etl_publish"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("kpi_summary", "kpi_sumary"), "BENCH names"))
    assert(e.getMessage.contains("BENCH names not declared in SparkEntry.queries: kpi_sumary;"))
    assert(e.getMessage.contains("valid: ") && e.getMessage.contains("kpi_summary"))
  }

  test("tools/bench_ab.py's self-test passes on its canned result lines") {
    // the parent/change verdicts (pair wins, quartile gap, bounds), no benchmark run
    val p = new ProcessBuilder("python3", "tools/bench_ab.py", "--self-test")
      .redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor() == 0 && out.contains("self-test ok"), out)
  }
}
