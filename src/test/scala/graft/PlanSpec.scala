package graft

import graft.ops._
import org.apache.spark.sql.functions._

/** SURVEY §4 — the optimizer story is Catalyst's; these tests pin the
  * plan shapes we rely on at scale, so a regression that silently
  * de-optimizes (losing pushdown, falling into a cartesian join,
  * full-sorting a top-k) fails the build rather than the cluster. */
class PlanSpec extends SparkSpec {

  test("filter predicates are pushed to the parquet scan") {
    val plan = finalPlan(Relational.filterPredicates(spark, sfDir))
    assert(plan.contains("PushedFilters: ["), plan.take(500))
    assert(plan.contains("GreaterThanOrEqual(l_quantity,10.0)")
      || plan.contains("In(l_returnflag"), plan.take(500))
  }

  test("column pruning reaches the scan (ReadSchema is the projection)") {
    val plan = finalPlan(Relational.scanProject(spark, sfDir))
    val readSchema = plan.split("ReadSchema: ").last
    assert(readSchema.contains("l_orderkey") && !readSchema.contains("l_tax"),
      readSchema.take(200))
  }

  test("wide catalog: 300-col scan prunes to the 4 used columns + pushed flags") {
    val plan = finalPlan(graft.sources.Sources.scanWidePrune(spark, sfDir))
    // the wide_catalog scan section (not the part scan that built it)
    val scan = plan.split("Location:").find(_.contains("wide_catalog"))
      .orElse(plan.split("ReadSchema: ").find(_.contains("mag_007")))
      .getOrElse(plan)
    val readSchema = plan.split("ReadSchema: ")
      .map(_.takeWhile(_ != '\n')) // schema struct is one line
      .find(_.contains("mag_007")).getOrElse("")
    // exactly the consumed columns — a 300-wide ReadSchema means
    // pruning regressed and the scan reads ~100x the bytes at 100 TB
    assert(readSchema.contains("objid") && readSchema.contains("flags")
      && readSchema.contains("mag_007") && readSchema.contains("mag_233"),
      readSchema.take(300))
    assert(!readSchema.contains("mag_001") && !readSchema.contains("ra:")
      && !readSchema.contains("mag_296"), readSchema.take(300))
    // the flags cut reaches the parquet reader as a pushed filter
    assert(plan.contains("PushedFilters: [IsNotNull(flags), EqualTo(flags,0)]")
      || plan.contains("EqualTo(flags,0)"), scan.take(600))
  }

  test("small-dim star join broadcasts") {
    val plan = finalPlan(Relational.joinBroadcast(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("global top-k plans as TakeOrderedAndProject, not a full sort") {
    val plan = finalPlan(Relational.topkGlobal(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
  }

  test("5-way star join avoids cartesian products") {
    val plan = finalPlan(Relational.joinMultiwayStar(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
  }

  test("theta join keeps its equi key (hash/sort-merge, not BNL)") {
    val plan = finalPlan(Relational.joinTheta(spark, sfDir))
    assert(!plan.contains("BroadcastNestedLoopJoin") || {
      // equi-key present: a BHJ/SMJ node must exist for the key
      plan.contains("HashJoin") || plan.contains("SortMergeJoin")
    }, plan.take(800))
  }

  test("custom FloatVectorDot participates in whole-stage codegen") {
    import spark.implicits._
    graft.functions.VectorExpressions.register(spark)
    val df = Tables(spark, sfDir, "embeddings")
      .select(expr("vec_dot(embedding, embedding)").as("d"))
    val plan = finalPlan(df)
    // "*(n)" prefixes mark WholeStageCodegen stages in the plan string
    assert(plan.contains("*(1) Project [floatvectordot"), plan.take(500))
    // and the kernel agrees with the builtin higher-order formulation
    val both = Tables(spark, sfDir, "embeddings").select(
      expr("vec_dot(embedding, embedding)").as("fast"),
      aggregate(zip_with($"embedding", $"embedding",
          (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x).as("slow"))
      .filter($"fast" =!= $"slow")
    assert(both.count() === 0)
  }

  test("RewriteVectorDot: builtin zip_with dot product becomes the kernel") {
    import spark.implicits._
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.RewriteVectorDot
    try {
      val builtinForm = Tables(spark, sfDir, "embeddings").select($"vec_id",
        aggregate(zip_with($"embedding", $"embedding",
            (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (acc, x) => acc + x).as("d"))
      val plan = finalPlan(builtinForm)
      assert(plan.contains("floatvectordot"), plan.take(600))
      // and bit-equal to the unrewritten evaluation
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ == graft.plans.RewriteVectorDot)
      val raw = Tables(spark, sfDir, "embeddings").select($"vec_id",
        aggregate(zip_with($"embedding", $"embedding",
            (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (acc, x) => acc + x).as("d"))
      assert(builtinForm.collect().toSeq === raw.collect().toSeq)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ == graft.plans.RewriteVectorDot)
    }
  }

  test("RewriteSetOverlap: builtin size(array_intersect) becomes the kernel") {
    import spark.implicits._
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.RewriteSetOverlap
    try {
      val builtinForm = Tables(spark, sfDir, "documents")
        .select($"doc_id", split($"text", " ").as("a"),
          split(reverse($"text"), " ").as("b"))
        .select($"doc_id", size(array_intersect($"a", $"b")).as("n"))
      val plan = finalPlan(builtinForm)
      assert(plan.contains("stringarrayoverlap"), plan.take(600))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ == graft.plans.RewriteSetOverlap)
      val raw = Tables(spark, sfDir, "documents")
        .select($"doc_id", split($"text", " ").as("a"),
          split(reverse($"text"), " ").as("b"))
        .select($"doc_id", size(array_intersect($"a", $"b")).as("n"))
      assert(builtinForm.collect().toSeq === raw.collect().toSeq)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ == graft.plans.RewriteSetOverlap)
    }
  }

  test("array_overlap_count matches size(array_intersect) incl. nulls and dups") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    graft.functions.SetExpressions.register(spark)
    // small alphabet forces collisions, duplicates, and null elements
    val elemGen = Gen.frequency(
      (8, Gen.oneOf("a", "b", "c", "d").map(Option(_))),
      (1, Gen.const(Option.empty[String])))
    val arrGen = Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, elemGen))
    val prop = Prop.forAll(Gen.listOfN(12, Gen.zip(arrGen, arrGen))) { rows =>
      val df = rows.toDF("a", "b")
        .select(expr("array_overlap_count(a, b)").as("fast"),
          size(array_intersect($"a", $"b")).as("builtin"))
      df.collect().forall(r => r.getInt(0) == r.getInt(1))
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
    // NULL arrays: both forms are NULL
    val n = Seq((Option.empty[Seq[String]], Option(Seq("a"))))
      .toDF("a", "b")
      .select(expr("array_overlap_count(a, b)").as("fast"),
        size(array_intersect($"a", $"b")).as("builtin"))
      .collect()(0)
    assert(n.isNullAt(0) && n.isNullAt(1))
  }

  test("Observation hook reports pipeline metrics without a second scan") {
    import spark.implicits._
    val obs = new org.apache.spark.sql.Observation()
    val df = Tables(spark, sfDir, "lineitem")
      .observe(obs, count(lit(1)).as("rows"),
        sum($"l_quantity").cast("long").as("qty"))
      .filter($"l_quantity" > 0)
    df.collect()
    val metrics = obs.get
    assert(metrics("rows") === Tables(spark, sfDir, "lineitem").count())
    assert(metrics("qty").asInstanceOf[Long] > 0)
  }

  test("aggregations run partial (map-side) before the shuffle") {
    val plan = finalPlan(Aggregates.q1(spark, sfDir))
    assert(plan.contains("HashAggregate"), plan.take(500))
    assert("HashAggregate".r.findAllIn(plan).size >= 2, "expected partial+final")
  }

  /** The AQE plan string prints Final AND Initial sections — node
    * COUNTS must look at the final section only. */
  private def finalSection(plan: String): String =
    plan.split("== Initial Plan ==").head

  test("sessionize_gap: both window passes share one user_id exchange") {
    val plan = finalSection(finalPlan(
      graft.ops.Analytics.sessionizeGap(spark, sfDir)))
    // the lag pass and the running-sum pass have the same partitioning
    // and ordering — they must stack on ONE user_id exchange; the only
    // other hash exchanges are the two downstream aggregations
    assert("Window".r.findAllIn(plan).size === 2, plan.take(1200))
    val userExchanges =
      "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).size
    assert(userExchanges === 1, s"expected 1 user_id exchange:\n" +
      plan.take(1200))
  }

  test("pack_chunks runs on ONE data shuffle (source partitioning reused)") {
    val plan = finalSection(finalPlan(LlmOps.packChunks(spark, sfDir)))
    // window by source, then groupBy (source, chunk): the aggregation's
    // required distribution is satisfied by a hash partitioning on a
    // SUBSET column only when Catalyst reuses the window's exchange —
    // count the data-path exchanges (the final orderBy range exchange
    // is presentation-only)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 1, s"expected 1 hash exchange, plan:\n${plan.take(1200)}")
  }

  test("join_dpp prunes fact partitions through a runtime subquery") {
    val plan = finalSection(finalPlan(
      graft.ops.Relational.joinDpp(spark, sfDir)))
    // the point of the key: the fact scan's PartitionFilters must hold
    // a dynamicpruning expression (runtime subquery over the broadcast
    // dim), not just the static isnotnull — otherwise every partition
    // directory is read and the dim filter only drops rows post-scan
    assert(plan.toLowerCase.contains("dynamicpruning"), plan.take(1200))
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("runtime bloom-filter pruning injects might_contain on the fact side") {
    // DPP's row-level sibling: when the dim side of a SHUFFLE join is
    // filtered and small, Spark builds a bloom filter over its join
    // keys and semi-filters the fact scan before the exchange —
    // the lever for non-partition-aligned join keys at 100 TB. The
    // injection thresholds are sized for real clusters (10 GB scan
    // floor), so the test scopes cluster-like values and restores.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = Tables(spark, sfDir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      val dim = Tables(spark, sfDir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val plan = finalSection(finalPlan(
        fact.join(dim, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("q"))))
      assert(plan.contains("might_contain"), plan.take(1200))
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        plan.take(800))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("interval_bucketed plans a hash join, never a nested loop") {
    val plan = finalSection(finalPlan(
      graft.ops.Relational.joinIntervalBucketed(spark, sfDir)))
    // the whole point of the bucket decomposition: the pure range
    // predicate must NOT fall back to BroadcastNestedLoop / Cartesian
    assert(!plan.contains("BroadcastNestedLoop")
      && !plan.contains("CartesianProduct"), plan.take(800))
    assert(plan.contains("HashJoin"), plan.take(800))
  }

  test("late_drop joins the batch->watermark map as a broadcast") {
    val plan = finalSection(finalPlan(
      graft.ops.StreamingOps.queries("q_stream_late_drop")(spark, sfDir)))
    // the watermark table is microbatch METADATA (n/batch rows) — it
    // must come back as a broadcast, never a corpus-sized shuffle join
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("embed_centroids runs on two partial-agged hash exchanges") {
    val plan = finalSection(finalPlan(
      LlmOps.queries("q_embed_centroids")(spark, sfDir)))
    // (label, pos) means then per-label fold: both aggregations must be
    // partial->final (map-side combine on the 64x posexplode fan-out);
    // the trailing orderBy range exchange is presentation-only
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 2, s"expected 2 hash exchanges:\n${plan.take(1200)}")
    assert("HashAggregate".r.findAllIn(plan).size >= 4, plan.take(1200))
  }

  test("despath_multi keeps the template expansion codegen'd (no UDF)") {
    val plan = finalPlan(DesFiles.udfDespathMulti(spark, sfDir))
    assert(!plan.contains("UDF") && !plan.contains("ScalaUDF"), plan.take(800))
  }

  test("jaccard_prefix dedups candidates BEFORE the set-verify joins") {
    val plan = finalSection(
      finalPlan(LlmOps.queries("q_dedup_jaccard_prefix")(spark, sfDir)))
    // the (doc_a, doc_b) distinct is a HashAggregate whose output feeds
    // the two ShuffledHashJoins; if the distinct drifted back below the
    // joins, the aggregate keys would include the jaccard column
    val shj = "ShuffledHashJoin".r.findAllIn(plan).size
    assert(shj === 2, s"expected both set-verify joins shuffled-hash:\n${plan.take(1000)}")
    assert("HashAggregate\\(keys=\\[doc_a#\\d+L?, doc_b#\\d+L?\\]".r
      .findFirstIn(plan).isDefined,
      s"expected a (doc_a, doc_b) distinct aggregate:\n${plan.take(1500)}")
  }

  test("exact-miner verify joins stay shuffled-hash (never broadcast)") {
    // VERDICT r11 #6: the hashed-set verify joins carry wide array
    // payloads, and a driver-side broadcast build of them measured
    // 5 s → 18 s under a long session's heap pressure — the
    // SHUFFLE_HASH hint is load-bearing, and nothing but this pin
    // stops an AQE/hint regression from re-introducing the broadcast.
    // The verify joins are the ONLY joins in these plans keyed on
    // doc_a/doc_b (candidate generation keys on shingle/h/text), so
    // the pin is keyed to the join columns, not a global node count.
    for (key <- Seq("q_dedup_ngram_jaccard", "q_dedup_ngram_capped",
        "q_dedup_containment", "q_dedup_containment_prefix")) {
      val plan = finalSection(
        finalPlan(LlmOps.queries(key)(spark, sfDir)))
      for (k <- Seq("doc_a", "doc_b")) {
        assert(s"ShuffledHashJoin \\[$k#".r.findFirstIn(plan).isDefined,
          s"$key: expected the $k set-verify join shuffled-hash:\n" +
            plan.take(1200))
        assert(s"(BroadcastHashJoin|SortMergeJoin) \\[$k#".r
          .findFirstIn(plan).isEmpty,
          s"$key: $k verify join regressed off shuffled-hash:\n" +
            plan.take(1200))
      }
    }
  }

  test("decontamination broadcasts the benchmark shingle set") {
    val plan = finalSection(
      finalPlan(LlmOps.textDecontaminate(spark, sfDir)))
    // the held-out set is tiny by nature; the overlap probe must be a
    // broadcast join on shingle, never a corpus-sized shuffle pair-up
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the banned-shingle probe broadcast:\n${plan.take(1200)}")
  }

  test("temperature mixing broadcasts the one-row normalizer") {
    val plan = finalSection(
      finalPlan(LlmOps.mixTemperature(spark, sfDir)))
    assert(plan.contains("BroadcastNestedLoopJoin")
      || plan.contains("BroadcastHashJoin"),
      s"expected a broadcast for the normalizer:\n${plan.take(1200)}")
  }

  test("bounded funnel runs on ONE data exchange (secondary sort)") {
    val plan = finalSection(finalPlan(
      Analytics.funnelStagesBounded(Tables(spark, sfDir, "events"))))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 1,
      s"expected exactly the user_id repartition, got $exchanges:\n" +
        plan.take(1200))
    // and the per-partition sort carries no exchange of its own
    assert(plan.contains("Sort ["), s"expected the secondary sort:\n" +
      plan.take(1200))
  }

  test("window top-k gets the builtin rank-limit pushdown (WindowGroupLimit)") {
    val plan = finalSection(
      finalPlan(Windows.queries("q_win_topk_per_group")(spark, sfDir)))
    // InferWindowGroupLimit bounds each group's sorted buffer to k
    // BEFORE the full window evaluation — the builtin complement to
    // our topk_agg (which additionally shrinks the SHUFFLE to
    // k·groups pairs); if this stops firing, per-group top-k
    // silently degrades to full-group sorts
    assert(plan.contains("WindowGroupLimit"),
      s"expected the rank-limit pushdown:\n${plan.take(1200)}")
  }

  test("native as-of join plans like a sort-merge join (2 exchanges, sorted children)") {
    val plan = finalSection(
      finalPlan(Relational.joinAsofNative(spark, sfDir)))
    assert(plan.contains("AsOfJoin "),
      s"expected the native operator:\n${plan.take(1200)}")
    // EnsureRequirements gives each side ONE co-clustered hash
    // exchange; the only other exchange is the presentation orderBy's
    // range partitioning
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx === 2, s"expected 2 hash exchanges, got $hashEx:\n" +
      plan.take(1500))
    assert("Sort \\[".r.findAllIn(plan).size >= 2,
      s"expected both children sorted on (key, time):\n${plan.take(1500)}")
  }

  test("zones crossmatch joins on the zone equi key, never a nested loop") {
    val plan = finalSection(finalPlan(
      Spatial.spatialZonesJoin(spark, sfDir)))
    // the entire point of the zones decomposition: the radius predicate
    // must ride an EQUI join on zone (pair space = Σ band occupancy
    // products), not a BNL/cartesian over |A|×|B|
    assert(!plan.contains("BroadcastNestedLoopJoin")
      && !plan.contains("CartesianProduct"), plan.take(1000))
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"expected an equi join on zone:\n${plan.take(1000)}")
  }

  test("best-match argmin is ONE partial+final min_by agg, no rank window") {
    val plan = finalSection(finalPlan(
      Spatial.spatialBestMatch(spark, sfDir)))
    // per-a_id nearest neighbor must reduce via min_by partials (per-key
    // shuffle state = one (d2, id) pair) — a Window/rank formulation
    // would buffer whole match groups per key
    assert(!plan.contains("Window"), s"expected no window:\n${plan.take(1000)}")
    val aggs = "HashAggregate\\(keys=\\[a_id".r.findAllIn(plan).size +
      "SortAggregate\\(key=\\[a_id".r.findAllIn(plan).size
    assert(aggs >= 2, s"expected partial+final argmin aggregate:\n" +
      plan.take(1500))
    // and exactly one data exchange feeds the final agg (zone join's
    // exchanges aside, the argmin itself must not re-shuffle twice)
    assert("Exchange hashpartitioning\\(a_id".r.findAllIn(plan).size === 1,
      s"expected one a_id exchange:\n${plan.take(1500)}")
  }

  // ---- round 11 plan pins --------------------------------------------------

  test("agg_filtered: the ship-year cut reaches the lineitem scan") {
    val plan = finalPlan(Relational.aggFiltered(spark, sfDir))
    assert(plan.contains("PushedFilters: ["), plan.take(600))
    assert(plan.contains("GreaterThanOrEqual(l_shipdate")
      && plan.contains("LessThan(l_shipdate"),
      s"ship-year range not pushed:\n${plan.take(800)}")
  }

  test("promo_share: part joins as a broadcast dim") {
    val plan = finalSection(finalPlan(
      Relational.joinPromoShare(spark, sfDir)))
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("parts_suppliers: distinct pairs shuffle BEFORE any string column") {
    val plan = finalSection(finalPlan(
      Relational.aggPartsSuppliers(spark, sfDir)))
    // the blacklist anti join must never be a BNL; at sf0.001 the
    // negative-balance list is EMPTY and AQE's PropagateEmptyRelation
    // (correctly) erases the LeftAnti node altogether, so only the
    // negative is pinned here
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
    // the first data exchange carries only the two long keys: it hash-
    // partitions on l_partkey/l_suppkey, not on brand/type strings
    assert(plan.contains("Exchange hashpartitioning(l_partkey"),
      s"expected the pair-distinct exchange first:\n${plan.take(1500)}")
  }

  test("min_cost_supplier argmin: aggregates only, no rank window") {
    val plan = finalSection(finalPlan(
      Relational.joinMinCostSupplier(spark, sfDir)))
    assert(!plan.contains("Window"),
      s"argmin must not rank-window:\n${plan.take(1000)}")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-15 must heap, not full-sort:\n${plan.take(1000)}")
  }

  test("ts_ema: the bounded explode replaces windows AND range joins") {
    val plan = finalSection(finalPlan(Analytics.tsEma(spark, sfDir)))
    assert(!plan.contains("Window"), plan.take(1000))
    assert(plan.contains("Generate explode"),
      s"expected the 20-way fan-out generate:\n${plan.take(1000)}")
    assert(!plan.contains("BroadcastNestedLoopJoin")
      && !plan.contains("CartesianProduct"), plan.take(1000))
  }

  test("asof_forward: union + ONE user_id exchange, no join operator") {
    val plan = finalSection(finalPlan(
      Relational.joinAsofForward(spark, sfDir)))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("HashJoin"),
      s"as-of must not join:\n${plan.take(1000)}")
    assert(plan.contains("Union"), plan.take(1000))
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(plan).size === 1,
      s"expected exactly one user_id exchange:\n${plan.take(1200)}")
  }

  test("frame_range_time: the frame is a RANGE frame on the day index") {
    val plan = finalSection(finalPlan(
      Windows.winFrameRangeTime(spark, sfDir)))
    assert(plan.contains("RangeFrame"),
      s"expected a RANGE (value) frame, not ROWS:\n${plan.take(1200)}")
    assert(plan.contains("Window"), plan.take(600))
  }

  test("bucketed join is exchange-free (co-located sort-merge)") {
    val plan = finalSection(finalPlan(Relational.bucketedJoin(spark, sfDir)))
    assert(plan.contains("SortMergeJoin"),
      s"expected a sort-merge join:\n${plan.take(1000)}")
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges === 0,
      s"bucketed scans must satisfy the join distribution, got " +
        s"$exchanges exchanges:\n${plan.take(1500)}")
    // the SMJ's per-side Sorts are bucket-LOCAL (no exchange under
    // them): Spark 3+ deliberately doesn't propagate bucket sortBy
    // order from the scan (spark.sql.legacy.bucketedTableScan.
    // outputOrdering), so a local re-sort remains — the scale win is
    // the absent shuffle, and both scans must come up bucketed
    assert("Bucketed: true".r.findAllIn(plan).size === 2,
      s"both scans should be bucketed:\n${plan.take(1500)}")
  }

  test("weighted percentiles: both windows share one source exchange") {
    val plan = finalSection(finalPlan(
      Aggregates.aggWeightedPercentile(spark, sfDir)))
    // cumulative + total windows both partition by source — they must
    // STACK on one shared source-only exchange; the census groupBy
    // keeps its own (source, n_chars) exchange (hashing on a superset
    // does NOT satisfy a subset-key window requirement)
    assert("Window".r.findAllIn(plan).size === 2, plan.take(1200))
    assert(
      "hashpartitioning\\(source#\\d+, \\d+\\)".r.findAllIn(plan).size === 1,
      s"expected 1 shared source-only exchange:\n${plan.take(1500)}")
    assert(
      "hashpartitioning\\(source#\\d+, n_chars".r.findAllIn(plan).size === 1,
      s"expected the census exchange on (source, n_chars):\n" +
        plan.take(1500))
  }

  test("auc: census partial-agged; no unpartitioned window") {
    val (df, truncated) =
      truncatedPlans(graft.ops.Quality.statsAuc(spark, sfDir))
    // TwoPass.cumsum checkpoints nothing: the census, the running sum
    // and the AUC fold all execute in the final plan
    assert(truncated.isEmpty, truncated.mkString("\n"))
    val plan = finalSection(finalPlan(df))
    // the distinct-score census must combine map-side, and the global
    // cumsum must ride TwoPass (a running sum per key bucket plus its
    // literal offset, a built-in window, no Row-encoder fold), not
    // a corpus-wide `ORDER BY score` window over the census rows
    assert("HashAggregate\\(keys=\\[score#\\d+\\]".r.findAllIn(plan).size >= 2,
      plan.take(1500))
    assertTwoPassShape(df, plan)
  }

  test("whiten: the 64-row dim stats broadcast back onto the stream") {
    val plan = finalSection(finalPlan(
      LlmOps.embedWhiten(spark, sfDir)))
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the stats side broadcast:\n${plan.take(1200)}")
    assert(!plan.contains("SortMergeJoin"),
      s"64-row stats must never shuffle the exploded stream:\n" +
        plan.take(1200))
  }
}
