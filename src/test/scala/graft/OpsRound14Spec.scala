package graft

import org.apache.spark.sql.functions._

/** Round-9-session keys: the MAXDF-capped shingle miner (the
  * stop-shingle mitigation the BENCH_sf1 measurement motivates).
  * The file-materialization key's resume/repair behavior lives in
  * SourcesSpec; the DuckDB oracle gate covers both keys' value-level
  * hashes. */
class OpsRound14Spec extends SparkSpec {
  import spark.implicits._

  // ---- q_dedup_ngram_capped ----------------------------------------------

  test("capped miner: subset of uncapped pairs with identical exact jaccard") {
    // round-10: the declared key IS capped, so the uncapped reference
    // comes from the retained probe formulation
    val uncapped = Referees.dedupNgramJaccardFromShingles(
        ops.LlmOps.shingleIndex(spark, sfDir))
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val capped = ops.LlmOps.queries("q_dedup_ngram_capped")(spark, sfDir)
      .as[(Long, Long, Double)].collect()
    assert(capped.nonEmpty)
    // candidate pruning can only DROP pairs, never add or distort:
    // every capped pair exists uncapped with the same exact jaccard
    capped.foreach { case (a, b, j) =>
      assert(uncapped.contains((a, b)), s"pair ($a,$b) not in uncapped")
      assert(uncapped((a, b)) === j, s"pair ($a,$b) jaccard drifted")
    }
    // and on this corpus the cap costs no recall at J >= 0.6 (real
    // near-dups share tail shingles; the head-only-overlap pair the
    // cap could miss sits far below threshold)
    assert(capped.length === uncapped.size,
      s"recall loss: ${uncapped.size - capped.length} of ${uncapped.size}")
  }

  test("capped miner drops head shingles from candidate generation") {
    // adversarial corpus: 40 "tail" docs where pairs (2k, 2k+1) are
    // true near-dups sharing replica-private tail shingles, plus 10
    // DISTINCT "head-only" docs whose SHARED shingles are all
    // corpus-frequent (df > the max(5, 0.001*N) cap) — each also
    // carries one private shingle so the exact-dup rescue cannot fire
    // and the only discovery route is the capped-out head shingles.
    // Uncapped mining pairs the head-only docs all-to-all at J = 0.8
    // (the Σdf² blow-up in miniature); the cap removes exactly those
    // candidates and keeps every true tail-sharing near-dup — the
    // documented, deliberate tradeoff.
    val head = "x y z w"
    val tailDocs = (0L until 40L).map { i =>
      val tail = (0 until 11).map(j => s"t${i / 2}_$j").mkString(" ")
      (i, s"$head $tail")
    }
    // 11 tokens -> 9 shingles: 8 shared (df = 10 > cap 5), 1 private
    // ("i j u<i>", df = 1); pairwise J = 8 / (9 + 9 - 8) = 0.8
    val headOnly = (100L until 110L).map(i =>
      (i, s"a b c d e f g h i j u$i"))
    val docs = (tailDocs ++ headOnly).toDF("doc_id", "text")
    val uncapped = Referees.dedupNgramJaccardOn(docs)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    val capped = Referees.dedupNgramCappedOn(docs)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    val trueDups = (0L until 40L by 2).map(i => (i, i + 1)).toSet
    val headPairs = (for {
      a <- 100L until 110L; b <- (a + 1) until 110L
    } yield (a, b)).toSet
    assert(uncapped === trueDups ++ headPairs,
      "uncapped must pair the head-only docs all-to-all")
    assert(capped === trueDups,
      "cap must drop head-only pairs and keep every tail near-dup")
  }

  test("exact-dup rescue readmits identical docs replicated past the cap") {
    // 20 copies of one text (every shingle df = 20 > cap) + 30 unique
    // fillers: the capped index alone would return ZERO pairs for the
    // copies; the rescue restores all C(20,2) at jaccard 1.0
    val copies = (0L until 20L).map(i => (i, "p q r s t u v w"))
    val fillers = (100L until 130L).map(i =>
      (i, (0 until 9).map(j => s"f${i}_$j").mkString(" ")))
    val docs = (copies ++ fillers).toDF("doc_id", "text")
    val capped = Referees.dedupNgramCappedOn(docs)
      .as[(Long, Long, Double)].collect()
    assert(capped.length === 20 * 19 / 2)
    assert(capped.forall(_._3 === 1.0))
  }
}
