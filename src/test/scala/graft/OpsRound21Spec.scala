package graft

import org.apache.spark.sql.functions._

/** Round-14 optimization wave (the second OPTIMIZATION round): every
  * rewrite here changes an operator's PHYSICAL shape (or relocates a
  * pure derivation into the memoized-artifact layer) while the declared
  * result must stay bit-identical — so each test pins the new shape
  * against a formulation run side by side on the same corpus that
  * shares none of the rewritten logic, so it cannot share its bug.
  *
  *  - q_dedup_containment_prefix: the priced-mass census as a memoized
  *    corpus artifact (ctp-census) vs the inline per-execution census
  *    it replaces (VERDICT r13 #2) — both the final pair set and the
  *    census relation itself.
  *  - TwoPass.cumsum: the codegen'd RunningLongSum pass-2 (VERDICT r13
  *    #3, replacing a whole-Row mapPartitions fold) vs a plain
  *    `sum() OVER (ORDER BY k)` running sum — a referee independent of
  *    the range-partition/offset logic — across partition counts and
  *    multi-column sums, plus the plan-shape pin that the serde pair is
  *    gone.
  */
class OpsRound21Spec extends SparkSpec {
  import spark.implicits._

  test("containment prefix: memoized ctp-census key is bit-identical" +
    " to the retired inline-census formulation") {
    val got = ops.LlmOps.dedupContainmentPrefix(spark, sfDir)
      .as[(Long, Long, Double)].collect().toSeq
    // the r13 timed shape: same memoized shingles + dup-groups, census
    // derived inline inside the plan (censusOpt defaults to None)
    val ref = ops.LlmOps.dedupContainmentPrefixScreened(
      ops.LlmOps.shingleIndex(spark, sfDir),
      ops.LlmOps.dupGroupsMemo(spark, sfDir))
      .as[(Long, Long, Double)].collect().toSeq
    assert(got === ref)
    assert(got.nonEmpty)
  }

  test("ctp-census memo relation equals the inline census relation") {
    val memo = ops.LlmOps.ctpCensusMemo(spark, sfDir)
      .select($"f", $"m", $"cum_m").as[(Long, Long, Long)]
      .collect().toSeq.sorted
    val memb = ops.LlmOps.dupGroupsMemo(spark, sfDir)
    val reps = memb.filter($"rep_id" === $"doc_id").select($"doc_id")
    val inline = ops.LlmOps.ctpMassCensus(ops.LlmOps.rankedShingles(
      ops.LlmOps.shingleIndex(spark, sfDir).join(reps, "doc_id")))
      .select($"f", $"m", $"cum_m").as[(Long, Long, Long)]
      .collect().toSeq.sorted
    assert(memo === inline)
    assert(memo.nonEmpty)
    // the census must stay cumulative and level-keyed: strictly
    // increasing df levels, cum_m the running sum of m
    assert(memo.map(_._1) === memo.map(_._1).distinct.sorted)
    assert(memo.scanLeft(0L)(_ + _._2).tail === memo.map(_._3))
  }

  /** Deterministic pseudo-random census: one row per key (the cumsum
    * contract), values spanning negatives/zeros/larges. */
  private def cumsumWorkload(n: Int) = {
    spark.range(n.toLong).toDF("k")
      .withColumn("a", xxhash64($"k") % 1000L)
      .withColumn("b", (xxhash64($"k", lit(7)) % 50L) * (xxhash64($"k") % 3L))
  }

  test("TwoPass.cumsum: codegen'd running sum equals a plain window" +
    " running sum across partition counts and sum columns") {
    val w = org.apache.spark.sql.expressions.Window.orderBy($"k")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val ref = cumsumWorkload(5000)
      .select($"k", sum($"a").over(w), sum($"b").over(w))
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    for (nParts <- Seq(1, 3, 8)) {
      val got = ops.TwoPass.cumsum(cumsumWorkload(5000), "k",
          Seq("a", "b"), nParts)
        .select($"k", $"cum_a", $"cum_b")
        .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
      assert(got === ref, s"nParts=$nParts")
      assert(got.size === 5000)
    }
  }

  test("TwoPass.cumsum: the Deserialize/Serialize serde pair is gone" +
    " from the executed plan") {
    val (df, truncated) = truncatedPlans(
      ops.TwoPass.cumsum(cumsumWorkload(1000), "k", Seq("a")))
    val plan = finalPlan(df)
    // the running sum executes in the pre-truncate plan (the
    // checkpoint's own execution); the outer plan only attaches offsets
    assert(truncated.size === 1, truncated.mkString("\n"))
    val pass2 = truncated.head
    assert(pass2.contains("running_sum_long"), pass2.take(1200))
    assert(!plan.contains("running_sum_long"), plan.take(1200))
    for (p <- Seq(pass2, plan)) {
      assert(!p.contains("DeserializeToObject"), p.take(1200))
      assert(!p.contains("SerializeFromObject"), p.take(1200))
    }
  }

  test("TwoPass.cumsum: running sums are exact on a real consumer" +
    " census (single global recheck)") {
    // q_stats_ks's pooled-score census shape: cum over ~n distinct keys
    // must end at the global total (an end-to-end identity the
    // broadcast-offset attach cannot fake)
    val df = cumsumWorkload(2000)
    val total = df.agg(sum($"a")).as[Long].collect()(0)
    val last = ops.TwoPass.cumsum(df, "k", Seq("a"))
      .orderBy($"k".desc).limit(1).select($"cum_a").as[Long].collect()(0)
    assert(last === total)
  }
}
