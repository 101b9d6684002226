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
  *  - TwoPass.cumsum: running sums within key buckets whose bounds and
  *    offsets one scalar subquery computes per execution (so no
  *    checkpoint pins an execution) vs a plain `sum() OVER (ORDER BY
  *    k)` running sum — a referee independent of the bucket/offset
  *    logic — across partition counts, multi-column sums, a string
  *    key, null keys and sums and an empty input, plus the plan-shape
  *    pin: no checkpoint, no serde pair, no unpartitioned window, one
  *    bucket-partitioned running-sum window.
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

  /** q_quality_ccnet's census shape: one row per string (lang, score)
    * key, built the way that key builds its composite `sk`. */
  private def stringKeyedWorkload(n: Int) = {
    val langs = array(Seq("de", "en", "zh", "zh-tw").map(lit): _*)
    cumsumWorkload(n)
      .select(element_at(langs, (pmod($"k", lit(4L)) + 1).cast("int"))
        .as("lang"), ($"a" * 7L).as("nlp"))
      .groupBy($"lang", $"nlp").agg(count(lit(1)).as("a"))
      .withColumn("b", $"nlp")
      .withColumn("k", concat($"lang", lit("\u0001"),
        when($"nlp" >= 0, concat(lit("1"), lpad($"nlp".cast("string"), 14, "0")))
          .otherwise(concat(lit("0"),
            lpad(($"nlp" + lit(100000000000000L)).cast("string"), 14, "0")))))
  }

  /** The null key sorts first; null sums add nothing. */
  private def withNulls(n: Int) = cumsumWorkload(n)
    .withColumn("k", when($"k" =!= 0, $"k"))
    .withColumn("b", when($"k" % 5 =!= 1, $"b"))

  test("TwoPass.cumsum: codegen'd running sum equals a plain window" +
    " running sum across partition counts and sum columns") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy($"k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val workloads = Seq(
      ("long key", () => cumsumWorkload(5000), (n: Int) => n == 5000),
      ("string key (ccnet census)", () => stringKeyedWorkload(5000),
        (n: Int) => n > 1000),
      ("empty input", () => cumsumWorkload(5000).where(lit(false)),
        (n: Int) => n == 0),
      ("null key and null sums", () => withNulls(5000), (n: Int) => n == 5000),
      // few rows: the null key gets a range partition of its own
      ("null key, 3 rows", () => withNulls(3), (n: Int) => n == 3))
    for ((name, df, sized) <- workloads) {
      val ref = rows(df().select($"k", coalesce(sum($"a").over(w), lit(0L)),
        coalesce(sum($"b").over(w), lit(0L))))
      assert(sized(ref.size), s"$name: ${ref.size} rows")
      for (nParts <- Seq(1, 3, 8)) {
        val got = rows(ops.TwoPass.cumsum(df(), "k", Seq("a", "b"), nParts)
          .select($"k", $"cum_a", $"cum_b"))
        assert(got === ref, s"$name, nParts=$nParts")
      }
    }
  }

  test("TwoPass.cumsum: the Deserialize/Serialize serde pair is gone" +
    " from the executed plan") {
    val (df, truncated) = truncatedPlans(
      ops.TwoPass.cumsum(cumsumWorkload(1000), "k", Seq("a")))
    // the bucket is a pure function of the key: nothing is pinned by
    // a checkpoint, so the whole prefix sum runs in the final plan
    assert(truncated.isEmpty, truncated.mkString("\n"))
    assertTwoPassShape(df, finalPlan(df))
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
