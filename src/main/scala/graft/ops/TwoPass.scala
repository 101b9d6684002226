package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Distributed PREFIX SUMS without a corpus-wide window — the shared
  * machinery behind every global running total in this repo (KS CDFs,
  * the sweep-line concurrency net, byte-offset sharding). The naive
  * `sum() OVER (ORDER BY k)` collapses the relation into ONE task; the
  * scalable shape is RDD `zipWithIndex`'s two-pass trick on the
  * DataFrame API (the [[Ids.idsContiguous]] discipline generalized to
  * arbitrary long-sum columns):
  *
  *   1. range-partition + sort by the key → P sorted runs;
  *   2. partition-local running sums (one codegen'd stateful
  *      expression per column — round 14: previously a whole-Row
  *      `mapPartitions` fold, whose Deserialize/Serialize pair broke
  *      whole-stage codegen in the middle of 12 consumer keys; see
  *      [[graft.functions.RunningLongSum]]);
  *   3. per-partition TOTALS → exclusive prefix offsets (P rows —
  *      metadata scale, so the single-partition window over it is
  *      free);
  *   4. broadcast the offsets back: cum = local + offset.
  *
  * The cumulative values depend only on the TOTAL ORDER of the key —
  * never on sampled range boundaries or partition count — so results
  * are layout-invariant (the consumers are pinned in
  * PartitionInvarianceSpec; OpsRound21Spec pins this formulation
  * against a plain `sum() OVER (ORDER BY k)` running sum).
  */
private[graft] object TwoPass {

  /** `df` + one `cum_<c>` INCLUSIVE running-sum column per `sumCols`
    * entry (all LongType), ordered by `orderCol`. Callers must
    * pre-aggregate to ONE ROW PER KEY (every consumer here does — the
    * census IS the reduction), so within-key order cannot matter. */
  def cumsum(df: DataFrame, orderCol: String, sumCols: Seq[String],
      nParts: Int = 8): DataFrame = {
    val spark = df.sparkSession
    val withPid = df
      .repartitionByRange(nParts, col(orderCol))
      .sortWithinPartitions(col(orderCol))
      .withColumn("__pid", spark_partition_id())
    require(sumCols.forall(c => withPid.columns.contains(c)),
      s"missing sum column in ${withPid.columns.toSeq}")
    require(sumCols.forall(c => withPid.schema(c).dataType == LongType),
      "cumsum columns must be LongType")
    // partition-local running sums INSIDE the codegen'd pipeline: the
    // stateful expression evaluates once per row in the sorted order
    // the sort above establishes (its nondeterministic marking fences
    // every optimizer rule that could reorder or duplicate it)
    val piped = sumCols.foldLeft(withPid) { (d, c) =>
      d.withColumn(s"__l_$c",
        graft.functions.RunningSum.runningSumLong(spark)(col(c)))
    }
    // TRUNCATE before fanning out to the two consumers (totals + the
    // offset join). `piped` is consumed twice, and the range exchange's
    // partition boundaries are SAMPLED per execution: the retired
    // Row-fold was an opaque barrier that kept both consumer subtrees
    // byte-identical, so AQE always reused ONE exchange and the
    // __pid ↔ offset agreement held by accident. The codegen'd pipeline
    // is transparent — column pruning specializes the two branches into
    // DIFFERENT exchange subtrees whose independently sampled
    // boundaries can disagree, which mis-keys every offset (measured:
    // q_intervals_concurrency flipped answers run-to-run at sf0.01
    // until this checkpoint). Materializing the census-sized relation
    // once makes the partitioning single-execution by construction —
    // and is what the 100 TB shape does anyway (compute the pass-2
    // relation once, attach offsets to the materialized result).
    val local = graft.Tables.truncate(piped)
    // P rows of per-partition totals → exclusive prefix offsets; the
    // unpartitioned window spans partition-count rows, not data
    val totals = local.groupBy(col("__pid"))
      .agg(sum(col(sumCols.head)).as(s"__t_${sumCols.head}"),
        sumCols.tail.map(c => sum(col(c)).as(s"__t_$c")): _*)
    val w = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sumCols.foldLeft(totals) { (d, c) =>
      d.withColumn(s"__o_$c",
        coalesce(sum(col(s"__t_$c")).over(w), lit(0L)))
    }.select(col("__pid") +: sumCols.map(c => col(s"__o_$c")): _*)
    val joined = local.join(broadcast(offsets), "__pid")
    sumCols.foldLeft(joined) { (d, c) =>
      d.withColumn(s"cum_$c", col(s"__l_$c") + col(s"__o_$c"))
    }.drop("__pid" +: sumCols.flatMap(c => Seq(s"__l_$c", s"__o_$c")): _*)
  }
}
