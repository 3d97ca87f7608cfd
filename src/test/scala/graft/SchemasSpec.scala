package graft

import graft.sources.{Schemas, Tables}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Declared StructTypes must match the driver's parquet files — if the
  * testdata schema ever drifts, fail here, loudly, not in a query. */
class SchemasSpec extends SparkSpec {

  test("declared schemas read every table (analysis + one row materialized)") {
    Schemas.byName.keys.foreach { name =>
      val df = spark.read.schema(Schemas.byName(name)).parquet(s"$sf/$name.parquet")
      // head(1) materializes every declared column through the vectorized
      // reader — a type mismatch (e.g. the events ns-timestamp) throws here
      assert(df.select(df.columns.map(org.apache.spark.sql.functions.col): _*).head(1).nonEmpty, name)
    }
  }

  test("declared schemas match parquet footers exactly (names + order)") {
    Schemas.byName.foreach { case (name, schema) =>
      val inferred = spark.read.parquet(s"$sf/$name.parquet").schema
      assert(inferred.fieldNames.toSeq == schema.fieldNames.toSeq, s"$name field names/order")
    }
  }

  test("events.ts: driver file reads as µs TimestampType, value-exact") {
    import org.apache.spark.sql.functions.{col, unix_micros}
    val e = Tables.events(spark, sf)
    assert(e.schema("ts").dataType == TimestampType)
    val got = e.orderBy("event_id")
      .select(unix_micros(col("ts"))).head.getLong(0)
    // expected µs from the file's own inferred encoding (the driver has
    // shipped both TIMESTAMP(NANOS) and µs NTZ across generations)
    val raw = spark.read.parquet(s"$sf/events.parquet").orderBy("event_id")
    val want = raw.schema("ts").dataType match {
      case LongType => raw.select("ts").head.getLong(0) / 1000L
      case _ => raw.select(unix_micros(col("ts").cast(TimestampType)))
        .head.getLong(0)
    }
    assert(got == want, s"µs=$got want=$want")
  }

  test("events.ts legacy ns-long encoding converts ns -> µs exactly") {
    // The driver's current files are µs, so pin the ns branch with a
    // synthesized raw-INT64 events table (what a NANOS file reads as
    // under nanosAsLong, and what pre-r9 ScaleUp outputs contain).
    import org.apache.spark.sql.{functions => F}
    val dir = SparkSpec.tempDir("graft_evns")
    val ns = 1704067798778549123L // 2024-01-01T00:09:58.778549123Z
    val row = new org.apache.spark.sql.catalyst.expressions.GenericRow(
      Array[Any](1L, ns, 5L, "click", 1.0, "{}"))
    spark.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row.fromSeq(row.toSeq)),
        Schemas.events)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = Tables.events(spark, dir)
    assert(e.schema("ts").dataType == TimestampType)
    val us = e.select(F.unix_micros(F.col("ts"))).head.getLong(0)
    assert(us == ns / 1000L, s"ns=$ns µs=$us")
  }

  test("profile: one pass, hand-checkable stats, nulls counted") {
    val sp = spark
    import sp.implicits._
    val df = Seq((1L, Some("a")), (2L, Some("a")), (3L, None), (10L, Some("b")))
      .toDF("id", "v")
    val out = graft.sources.Catalog.profile(df, Seq("id", "v"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))).toMap
    assert(out("id") == ((4L, 4L, 4L, "1", "3")),
      s"lexicographic min/max on the string form ('10' < '2'): got ${out("id")}")
    assert(out("v") == ((4L, 3L, 2L, "a", "b")), s"nulls excluded: ${out("v")}")
  }
}
