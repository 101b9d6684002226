package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Global contiguous id assignment — the operator every training
  * pipeline needs the moment examples get stable numeric ids (shard
  * indexing, epoch shuffles, resumable dataloaders).
  *
  * The naive formulation — `row_number() OVER (ORDER BY key)` — is a
  * scale-killer: an empty-partition window collapses the ENTIRE corpus
  * into one task. The scalable shape is a prefix sum of 1 over the key
  * order, so it is [[TwoPass.cumsum]]: rows bucketed on sampled key
  * bounds, within-bucket running counts plus per-bucket offsets.
  *
  * The assigned ids depend ONLY on the total order of the (unique) key
  * — never on the sampled bounds or the partition count — so the
  * result is layout-invariant (pinned in PartitionInvarianceSpec).
  */
object Ids {

  /** Contiguous zero-based row ids over `documents` ordered by doc_id,
    * surfaced for a deterministic sample of docs. Oracle twin is the
    * naive `row_number() OVER (ORDER BY doc_id) - 1` — same ids, but
    * the plan here never funnels the corpus through one task. */
  def idsContiguous(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ones = Tables(spark, sfDir, "documents")
      .select($"doc_id", lit(1L).as("one"))
    TwoPass.cumsum(ones, "doc_id", Seq("one"))
      .select($"doc_id", ($"cum_one" - 1L).as("row_id"))
      .filter($"doc_id" % 37 === 0)
      .orderBy($"doc_id")
  }

  /** HASH SURROGATE keys — the other id-assignment strategy at scale:
    * instead of a total order (coordination), each natural key derives
    * its id content-locally as a 48-bit md5 slice, so two clusters
    * assign identical ids with zero shuffles — at the price of a
    * collision probability this query AUDITS (the birthday bound at
    * 48 bits: ~50 % only past 2^24 ≈ 16.7 M keys; a production run at
    * larger cardinality widens the slice). Output: key/id cardinality,
    * colliding-id count, and rows trapped in collisions — plus the
    * checksum over ids so the oracle proves the exact assignment.
    *
    * Scale posture: one projection (row-local md5) + one partial-agged
    * census on the id; no total order anywhere — this is why hash
    * surrogates beat sequence surrogates on a 1000-executor ingest. */
  def idsHashSurrogate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sk = Tables(spark, sfDir, "customer")
      .select($"c_name".as("nk"),
        expr("cast(conv(substr(md5(c_name), 1, 12), 16, 10) as bigint)")
          .as("sk"))
    val census = sk.groupBy($"sk").agg(count(lit(1)).as("n"))
    census.agg(
      sum($"n").cast("long").as("n_keys"),
      count(lit(1)).as("n_ids"),
      count(when($"n" > 1, 1)).as("n_colliding_ids"),
      coalesce(sum(when($"n" > 1, $"n")), lit(0L)).cast("long")
        .as("n_rows_in_collisions"),
      expr("bit_xor(sk)").as("id_checksum"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ids_contiguous" -> idsContiguous,
    "q_ids_hash_surrogate" -> idsHashSurrogate
  )
}
