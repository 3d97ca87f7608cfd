package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each selected SparkEntry query's result →
  * `<outDir>/<name>/` parquet, plus the FULL oracle_sql.json and
  * waivers.json, for the DuckDB compare.
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [name ...]
  * With no names it dumps every declared query; with names, only those
  * (an undeclared name fails before any query runs). The two JSON files
  * always carry every query: tools/check.py reads them for whatever it is
  * asked to gate, and a subset dump into a dir produced by a full run
  * must not clobber the other queries' oracle entries. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query ...]")
    val (sfDir, outDir) = (args(0), args(1))
    val selected = SparkEntry.select(args.drop(2).toSeq)
    // Gate knobs (master / executor classpath+memory / AQE / checkpoint /
    // log level, all driver-contract-neutral — the driver's invocation
    // sets none of them) come from the shared session fold: GraftSession
    // documents each env and derives the local-cluster executor heap so
    // no main can re-introduce the r11 1 GB-executor trap.
    val spark = GraftSession.build(defaultCpus = "4", logLevel = "WARN")
    new java.io.File(outDir).mkdirs()
    // Single-file dumps by default, via repartition(1) NOT coalesce(1):
    // coalesce narrows the whole post-shuffle stage to ONE task, so a
    // query whose last stage is wide (a 10 M-row window at sf10) computes
    // serially in the write task — measured 12+ min/query with a spilling
    // single-partition sort. repartition keeps the computation wide and
    // only funnels the finished rows. The compare (driver and check.py)
    // is row-order-insensitive, so the extra exchange is free semantics-
    // wise; SPARK_GRAFT_VERIFY_NATURAL=1 skips the funnel entirely for
    // big self-gate sfs (check.py globs the part files).
    val natural = sys.env.contains("SPARK_GRAFT_VERIFY_NATURAL")
    // Dump-boundary timestamp discipline: the session writes INT64 µs
    // (INT96 is deprecated and stats-blind — see SparkSpec), but a µs
    // INSTANT column reads as TIMESTAMPTZ in DuckDB/pandas while every
    // oracle emits naive TIMESTAMP. Cast top-level timestamps to NTZ at
    // the dump boundary — value-identity under the UTC session tz (the
    // exact move ScaleUp makes for events.ts).
    def naiveTs(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.foldLeft(df) { (d, f) =>
        if (f.dataType == org.apache.spark.sql.types.TimestampType)
          d.withColumn(f.name, org.apache.spark.sql.functions.col(f.name)
            .cast(org.apache.spark.sql.types.TimestampNTZType))
        else d
      }
    selected.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      val status = try {
        val df = naiveTs(fn(spark, sfDir))
        (if (natural) df else df.repartition(1)).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        "ok"
      } catch { case e: Throwable => s"FAILED: ${e.getMessage}" }
      println(f"VERIFY $name ${(System.nanoTime() - t0) / 1e9}%.2fs $status")
      ExecutorDrain.betweenQueries(spark)
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json(SparkEntry.oracleSql))
    // Designed value waivers, dumped beside the oracle so every gate
    // artifact self-describes "waived-by-design" vs "failing" (check.py
    // folds these into each record as waived/waive_reason).
    Files.writeString(Paths.get(s"$outDir/waivers.json"), json(SparkEntry.valueWaived))
    spark.stop()
  }

  /** A string map as one JSON object. The escape covers backslash, quote
    * and ALL control chars (<0x20) — a tab or CR in an oracle statement
    * would otherwise make the gate's json.load fail and silently zero
    * every query's correctness. */
  def json(m: Map[String, String]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
