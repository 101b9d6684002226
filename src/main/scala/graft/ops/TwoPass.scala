package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Distributed PREFIX SUMS without a corpus-wide window — the one
  * machinery behind every global running total in this repo (KS CDFs,
  * the sweep-line concurrency net, byte-offset sharding, contiguous
  * ids). The naive `sum() OVER (ORDER BY k)` collapses the relation
  * into ONE task; the scalable shape is RDD `zipWithIndex`'s two-pass
  * trick on the DataFrame API, in ONE plan:
  *
  *   1. a scalar subquery range-partitions the key and sum columns
  *      into P partitions and returns, in partition (= key) order,
  *      each partition's max key and the exclusive prefix of the
  *      partitions' totals — one row of ≤ P entries;
  *   2. a row's bucket `__b` counts the partitions wholly below its
  *      key, and its offset is the prefix at `__b`;
  *   3. within-bucket running sums: the built-in
  *      `sum() OVER (PARTITION BY __b ORDER BY key)` on one hash
  *      exchange of the rows, plus the offset.
  *
  * A range partition holds every row of its keys, so bucket i holds
  * exactly the rows of the i-th partition and its offset is the total
  * of the buckets before it. The subquery runs once per execution and
  * every task of that execution, retries included, reads the same
  * value, so buckets and offsets agree; another execution may draw
  * other bounds, which moves work between tasks, never a sum. No
  * checkpoint pins an execution (the retired form keyed offsets on a
  * range exchange's partition ids, which two consumers could sample
  * differently), and under AQE the subquery reuses the input's
  * exchanges, so those shuffles run once. Results depend only on the
  * TOTAL ORDER of the key, never on the partition count (the consumers
  * are pinned in PartitionInvarianceSpec; OpsRound21Spec pins this
  * formulation against a plain `sum() OVER (ORDER BY k)` running sum).
  */
private[graft] object TwoPass {

  /** `df` + one `cum_<c>` INCLUSIVE running-sum column per `sumCols`
    * entry (all LongType; nulls add nothing), ordered by `orderCol`
    * (any orderable type). Callers must pre-aggregate to ONE ROW PER
    * KEY (every consumer here does — the census IS the reduction), so
    * within-key order cannot matter; `df` must be deterministic, as
    * the subquery and the main branch each read it. */
  def cumsum(df: DataFrame, orderCol: String, sumCols: Seq[String],
      nParts: Int = 8): DataFrame = {
    require(sumCols.forall(c => df.columns.contains(c)),
      s"missing sum column in ${df.columns.toSeq}")
    require(sumCols.forall(c => df.schema(c).dataType == LongType),
      "cumsum columns must be LongType")
    val key = col(orderCol)
    // per non-empty range partition, by partition id: max key, then
    // one exclusive prefix of the totals per sum column
    val ts = sumCols.indices.map(j => s"t$j")
    val parts = df.select(key.as("__k") +: sumCols.map(col): _*)
      .repartitionByRange(nParts, col("__k"))
      .groupBy(spark_partition_id().as("p"))
      .agg(max(col("__k")).as("m"), sumCols.indices.map(j =>
        coalesce(sum(col(sumCols(j))), lit(0L)).as(ts(j))): _*)
      .agg(sort_array(collect_list(struct("p", "m" +: ts: _*))).as("s"))
      .select(struct(col("s") +: ts.map { t =>
        val tot = transform(col("s"), _(t))
        transform(tot, (_, i) => aggregate(slice(tot, lit(1), i), lit(0L),
          (a, x) => a + x)).as(t)
      }: _*)).scalar()
    // a row's bucket counts the partitions wholly below its key (nulls
    // sort first, so a partition of nulls only is below every other
    // key); its offsets are picked before the shuffle
    val below = (0 until nParts).map { i =>
      val p = get(col("__parts.s"), lit(i))
      (p.isNotNull && coalesce(p("m") < key, key.isNotNull)).cast("int")
    }
    val tagged = df.withColumn("__parts", parts)
      .withColumn("__b", below.reduce(_ + _))
    val bucketed = ts.foldLeft(tagged)((d, t) => d.withColumn(s"__$t",
      element_at(col(s"__parts.$t"), col("__b") + 1))).drop("__parts")
    val within = Window.partitionBy(col("__b")).orderBy(key)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sumCols.indices.foldLeft(bucketed) { (d, j) =>
      d.withColumn(s"cum_${sumCols(j)}",
        coalesce(sum(col(sumCols(j))).over(within), lit(0L)) +
          col(s"__${ts(j)}"))
    }.drop("__b" +: ts.map("__" + _): _*)
  }
}
