package graft

import org.apache.spark.sql.functions._

/** Round-13 wave: the ADAPTIVE containment-prefix screen (VERDICT r12
  * #1 — price Σ(prefix-df·df) before launching the verify, walk the
  * cap down the df spectrum when the priced mass overflows the
  * declared budget, never below the flat-64 floor). The spec pins the
  * three load-bearing properties the x30 measurement relies on:
  * the census itself is hand-checkable, the budget rule loses EXACTLY
  * the fragments whose df level it prices out (nothing more), and the
  * floor clamp keeps the cap-64 rung's recall as the structural lower
  * bound.
  */
class OpsRound19Spec extends SparkSpec {
  import spark.implicits._

  private def pairsOf(cand: org.apache.spark.sql.DataFrame,
      sh: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    graft.ops.LlmOps.verify(graft.ops.LlmOps.Containment, cand.distinct(),
      sh)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet

  test("ctp mass census: hand-computed levels on a 3-doc corpus") {
    // each doc: 3 shingles, two private (df 1) + the shared "a b c"
    // (df 3). Prefix bound = n_sh - ceil(0.7*3) + 1 = 1, tie-generous
    // rank puts BOTH df-1 shingles of each doc at rf 1 — so the census
    // is one level: f=1 with 6 prefix rows, mass 6. The df-3 shingle
    // ranks 3 in every doc and prices nothing.
    val docs = Seq((1L, "a b c d e"), (2L, "a b c x y"), (3L, "a b c p q"))
      .toDF("doc_id", "text")
    val ranked = graft.ops.LlmOps.rankedShingles(
      graft.ops.LlmOps.shingleDf(docs).transform(Tables.truncate))
    val census = graft.ops.LlmOps.ctpMassCensus(ranked)
      .select($"f", $"m", $"cum_m").as[(Long, Long, Long)]
      .collect().toSeq.sortBy(_._1)
    assert(census === Seq((1L, 6L, 6L)))
  }

  test("variant shred: string and variant pipelines agree everywhere; " +
    "null and empty docs keep the roundtrip conventions") {
    val rows = ops.Generators.variantShred(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // the whole point of the key: the VARIANT path must reproduce the
    // pinned-schema string path row-for-row
    assert(rows.forall(r => r.getBoolean(r.fieldIndex("shred_ok"))),
      "variant_get/variant_explode diverged from the from_json path")
    val absent = rows.filter(!_.getBoolean(1))
    assert(absent.nonEmpty, "fixture lost its null-doc rows")
    absent.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("cust")) &&
        r.getLong(r.fieldIndex("n_items")) == 0L &&
        r.isNullAt(r.fieldIndex("qty_sum")))
    }
    // empty item lists (the %50 rule, which wins over %97): doc
    // present, typed header still extractable, no items
    val empty = rows.filter(r => r.getLong(0) % 50 == 0)
    assert(empty.nonEmpty)
    empty.foreach { r =>
      assert(r.getBoolean(1) && !r.isNullAt(r.fieldIndex("cust")) &&
        r.getLong(r.fieldIndex("n_items")) == 0L &&
        r.isNullAt(r.fieldIndex("qty_sum")))
    }
    // one populated order's shredded sum against a direct recompute
    val li = Tables(spark, sfDir, "lineitem")
      .groupBy($"l_orderkey")
      .agg(sum($"l_quantity".cast("int")).as("q"), count(lit(1)).as("n"))
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    val populated = rows.filter(r => r.getBoolean(1) &&
      r.getLong(r.fieldIndex("n_items")) > 0)
    assert(populated.nonEmpty)
    populated.take(20).foreach { r =>
      val (q, n) = li(r.getLong(0))
      assert(r.getLong(r.fieldIndex("qty_sum")) == q &&
        r.getLong(r.fieldIndex("n_items")) == n)
    }
  }

  test("adaptive screen: budget walks the cap down the df spectrum, " +
    "losing exactly the priced-out fragments; the floor clamp holds") {
    // three popularity tiers: fragment A quoted by 3 hosts (pure-
    // fragment shingle df 4 incl. the bare doc), B by 6 (df 7), C by
    // 9 (df 10). True containment pairs are exactly bare×hosts per
    // tier (hosts share only 4 of their 9 shingles pairwise — under
    // the 0.7 threshold). The pair's only candidate witnesses are the
    // pure-fragment shingles, so each tier lives at one df level and
    // the budget rule's loss is exactly predictable.
    def tier(base: Long, frag: String, hosts: Int): Seq[(Long, String)] =
      (base, frag) +: (0 until hosts).map(i =>
        (base + 10 + i, s"$frag p${base}_${i}_a p${base}_${i}_b" +
          s" p${base}_${i}_c p${base}_${i}_d p${base}_${i}_e"))
    val fragA = "a1 a2 a3 a4 a5 a6"
    val fragB = "b1 b2 b3 b4 b5 b6"
    val fragC = "c1 c2 c3 c4 c5 c6"
    val docs = (tier(100, fragA, 3) ++ tier(200, fragB, 6) ++
      tier(300, fragC, 9)).toDF("doc_id", "text")
    val sh = graft.ops.LlmOps.shingleDf(docs).transform(Tables.truncate)
    val ranked = graft.ops.LlmOps.rankedShingles(sh)
    val cum = graft.ops.LlmOps.ctpMassCensus(ranked)
      .select($"f", $"cum_m").as[(Long, Long)].collect().toMap
    assert(Seq(4L, 7L, 10L).forall(cum.contains),
      s"fragment df levels missing from census: ${cum.keys.toSeq.sorted}")
    val aPairs = (0 until 3).map(i => (100L, 110L + i)).toSet
    val bPairs = (0 until 6).map(i => (200L, 210L + i)).toSet
    val cPairs = (0 until 9).map(i => (300L, 310L + i)).toSet
    def mined(budget: Long, floor: Double = 2.0): Set[(Long, Long)] =
      pairsOf(graft.ops.LlmOps.containmentPrefixCandScreened(
        sh, docs, capFloor = floor, capFrac = 10.0,
        massBudget = budget), sh)
    // unlimited budget: every tier found (gencap is non-binding)
    assert(mined(Long.MaxValue) === aPairs ++ bPairs ++ cPairs)
    // budget priced to level 7: tier C (df 10) is lost, nothing else
    assert(mined(cum(7L)) === aPairs ++ bPairs)
    // budget priced to level 4: only tier A survives
    assert(mined(cum(4L)) === aPairs)
    // zero budget at floor 2: every witness is above the cap
    assert(mined(0L) === Set.empty)
    // the DEFAULT floor (64) clamps the zero-budget cap back above
    // every df here — the structural "never below cap-64" recall bound
    assert(mined(0L, floor = 64.0) === aPairs ++ bPairs ++ cPairs)
  }
}
