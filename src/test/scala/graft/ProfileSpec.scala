package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.graftbridge.StorageBridge

/** Pins the per-query profile `graft.Bench` writes to `profile.json`: its
  * node metrics come from the plan the timed write ran, its totals are
  * its own rep's job group, and the file carries the fields
  * `tools/shuffle_ratio.py` reads. */
class ProfileSpec extends SparkSpec {
  /** One timed rep of a declared query, as Bench runs it. */
  private def profile(name: String, group: String): Bench.Profile = {
    val last = new Bench.LastRun
    spark.listenerManager.register(last)
    try {
      val (_, p) = Bench.timedRep(spark, last, group)(SparkEntry.queries(name)(spark, sf))
        .getOrElse(fail(s"$name threw"))
      p.fold(e => fail(s"no profile for $name: $e"), identity)
    } finally spark.listenerManager.unregister(last)
  }

  test("every scan in kpi_by_dept's profile reports its table's row count") {
    // a plan that never ran (the built frame's own, not the write's)
    // reads 0 on every node
    val p = profile("kpi_by_dept", "profile_spec_scans")
    val scans = p.nodes.collect { case (n, m) if n.startsWith("Scan parquet") => m("numOutputRows") }
    val tables = Seq("lineitem", "orders", "customer", "nation")
      .map(t => spark.read.parquet(s"$sf/$t.parquet").count())
    assert(scans.sorted == tables.sorted, s"scan rows $scans, table rows $tables")
  }

  test("a profile leaves out the push-based merge counters by name, and only those") {
    val names = profile("kpi_by_dept", "profile_spec_names").nodes.flatMap(_._2.keys).toSet
    assert(names.intersect(Bench.PushMergeMetrics).isEmpty, names)
    // shuffle-read counters that move under a cluster master, and spill
    assert(Set("fetchWaitTime", "remoteBytesRead", "remoteBlocksFetched", "spillSize")
      .subsetOf(names), names)
  }

  test("a profile's totals are its own rep's group: the warm-up is not counted") {
    val sc = spark.sparkContext
    val warm = profile("kpi_by_dept", "profile_spec_rep_1")
    val rep = profile("kpi_by_dept", "profile_spec_rep_2")
    assert(warm.totals == StorageBridge.groupTotals(sc, "profile_spec_rep_1"))
    assert(rep.totals == StorageBridge.groupTotals(sc, "profile_spec_rep_2"))
    assert(rep.totals.sum.tasks > 0 && rep.totals.byStage.nonEmpty)
    assert(rep.totals.byStage.map(_._1).toSet.intersect(warm.totals.byStage.map(_._1).toSet).isEmpty,
      s"stages counted twice: warm-up ${warm.totals.byStage.map(_._1)}, rep ${rep.totals.byStage.map(_._1)}")
  }

  test("profile.json parses and carries the fields tools/shuffle_ratio.py reads") {
    val p = profile("kpi_by_dept", "profile_spec_json")
    val reason = "group x was partly evicted: \"job 7\""
    val root = new ObjectMapper().readTree(
      Bench.profileJson(sf, Seq("kpi_by_dept" -> Right(p), "broken" -> Left(reason))))
    // the per-query fields the merge script divides, read from its source
    val script = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/shuffle_ratio.py")), "UTF-8")
    val read = raw"""ratio\("(\w+)"\)""".r.findAllMatchIn(script).map(_.group(1)).toSet
    assert(read == Set("shuffle_write_bytes", "shuffle_read_bytes", "input_bytes", "wall_sec"))
    assert(root.get("sf").asText == sf)
    val q = root.get("queries").get("kpi_by_dept")
    (read + "shuffle_records").foreach(f => assert(q.hasNonNull(f) && q.get(f).isNumber, f))
    val t = p.totals.sum
    assert(q.get("wall_sec").asDouble == p.wallSec)
    assert(Seq("shuffle_write_bytes", "shuffle_read_bytes", "shuffle_records", "input_bytes",
        "jobs", "tasks", "spill_bytes").map(q.get(_).asLong) ==
      Seq(t.shuffleWriteBytes, t.shuffleReadBytes, t.shuffleWriteRecords, t.inputBytes,
        p.totals.jobs.toLong, t.tasks, t.spillBytes))
    assert(q.get("stages").size == p.totals.byStage.size && q.get("nodes").size == p.nodes.size)
    assert(root.get("profile_errors").get("broken").asText == reason)
    assert(!root.get("queries").has("broken"))
  }
}
