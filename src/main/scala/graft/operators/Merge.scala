package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed merge primitives — the Spark expression of the reference's
  * Postgres upsert semantics (`/root/reference/src/etl.py:21-77`,
  * `scripts/load_once.py:46-70`):
  *
  *   - `ON CONFLICT (k) DO NOTHING`  -> [[insertIfAbsent]]
  *   - `ON CONFLICT (k) DO UPDATE`   -> [[upsert]] (incoming wins)
  *   - pandas `drop_duplicates(k)`   -> [[keepFirst]]
  *
  * Scale design: each primitive is one keyed pass — at 100 TB both sides
  * shuffle-partition on the merge key once (for [[insertIfAbsent]] the
  * small side may instead broadcast under AQE); no driver-side
  * collection anywhere.
  * The reference's staging tables disappear: Spark plans compose lazily.
  * Cross-table transactionality is NOT preserved (Parquet has no
  * multi-table commit) — the observable guarantee that survives is the
  * reference's real contract: idempotent re-runs (load twice == load once),
  * which all three primitives provide and the tests pin.
  */
object Merge {

  /** `INSERT … ON CONFLICT DO NOTHING`: keep every existing row, add only
    * incoming rows whose key is absent. Idempotent. */
  def insertIfAbsent(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame =
    existing.unionByName(incoming.join(existing, keys, "left_anti"))

  /** `INSERT … ON CONFLICT DO UPDATE` (last-write-wins by key): incoming
    * replaces existing on key collision. Incoming must be key-unique —
    * enforce upstream with [[keepFirst]] (Postgres would reject a batch
    * that updates the same row twice). Idempotent.
    *
    * One keyed pass over existing ∪ incoming, each row tagged by its
    * side, so `incoming` is planned and computed once (an anti-join plus
    * a union would reference it twice). An existing row survives when no
    * incoming row shares its key, or when a key column is NULL: exactly
    * `existing LEFT ANTI JOIN incoming UNION ALL incoming`, where a NULL
    * key never matches and existing rows with a duplicate key absent from
    * `incoming` all survive. The cost at scale: the existing side is
    * hash-shuffled and sorted on the key, where a broadcast anti-join
    * against a small batch left it in place. */
  def upsert(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame = {
    val anyNullKey = keys.map(col(_).isNull).reduce(_ || _)
    existing.withColumn("__upsert_in", lit(0))
      .unionByName(incoming.withColumn("__upsert_in", lit(1)))
      .withColumn("__upsert_hit",
        max("__upsert_in").over(Window.partitionBy(keys.map(col): _*)))
      .filter(col("__upsert_in") === 1 || col("__upsert_hit") === 0 || anyNullKey)
      .drop("__upsert_in", "__upsert_hit")
  }

  /** pandas `drop_duplicates(keys)` keep-first, made deterministic: "first"
    * is defined by `ord` (an explicit ingest-sequence column; plain
    * columns sort ascending, or pass `.desc` for keep-latest), not by
    * file or partition order — the only definition that is stable across
    * Spark partitionings AND reproducible in a SQL oracle. */
  def keepFirst(df: DataFrame, keys: Seq[String], ord: Column): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
