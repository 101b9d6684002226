package graft

import graft.ops.LlmOps
import graft.ops.LlmOps.{Containment, Jaccard}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Referee formulations of the exact near-dup miners: slower, uncapped
  * or unscreened rungs of the declared keys, kept only so the specs can
  * run them side by side with the shapes the keys execute (OpsRound3,
  * OpsRound14, OpsRound18 specs). No query path reaches them. The
  * `…On(docs)` forms rebuild a miner's plan over an arbitrary documents
  * relation, so adversarial corpora can be mined without a corpus dir.
  */
object Referees {

  private def shingled(docs: DataFrame): DataFrame =
    LlmOps.shingleDf(docs).transform(Tables.truncate)

  /** Exact overlap census over FULL shingle sets for a given candidate
    * pair set: (doc_a, doc_b, common, na, nb) through the exploded
    * inverted-index join, string-exact. No miner verifies through this
    * shape since round 12: the explode mass (Σ|A| shingle rows
    * re-shuffled and re-aggregated per candidate) made the capped
    * miners the three slowest x10 sweep keys, while the hashed-set
    * kernel ([[LlmOps.verify]]) counts the same overlaps in seconds. */
  def overlapFor(candidates: DataFrame, sh: DataFrame): DataFrame = {
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val a = sh.select(col("doc_id").as("doc_a"), col("shingle"))
    val b = sh.select(col("doc_id").as("doc_b"), col("shingle"))
    candidates
      .join(a, "doc_a").join(b, Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("common"))
      .join(sz.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_sh", "na"), "doc_a")
      .join(sz.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_sh", "nb"), "doc_b")
  }

  /** The UNCAPPED single-pass Jaccard miner (the same join that
    * discovers a pair also counts its common shingles) — the recall-loss
    * reference the capped default is differentially tested against.
    * Its stop-shingle blow-up is measured in SCALE.md. Same exact
    * threshold and quantization as the key ([[LlmOps.Jaccard]]), so the
    * differentials stay value-identical on shared pairs. */
  def dedupNgramJaccardFromShingles(sh: DataFrame): DataFrame = {
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    LlmOps.shinglePairCounts(sh)
      .join(sz.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), "doc_b")
      .filter(Jaccard.keep)
      .select(col("doc_a"), col("doc_b"), Jaccard.value)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def dedupNgramJaccardOn(docs: DataFrame): DataFrame =
    dedupNgramJaccardFromShingles(shingled(docs))

  /** The declared capped Jaccard miner over an arbitrary corpus. */
  def dedupNgramCappedOn(docs: DataFrame): DataFrame =
    LlmOps.cappedJaccard(shingled(docs), docs)
      .orderBy(col("doc_a"), col("doc_b"))

  /** The declared screened containment-prefix miner over an arbitrary
    * corpus (dup groups and the priced-mass census derived inline). */
  def dedupContainmentPrefixOn(docs: DataFrame): DataFrame =
    LlmOps.dedupContainmentPrefixScreened(shingled(docs),
      LlmOps.dupGroups(docs))

  /** The round-10 LOSSLESS containment-prefix formulation: result EQUALS
    * the uncapped reference by the prefix theorem (the index side keeps
    * ALL shingles), at a measured superlinear cost on head-heavy corpora
    * (tail α ≈ 2.1 at x10 — why the key runs the screened form). The
    * recall referee for the screen (OpsRound3Spec, SCALE.md). */
  def dedupContainmentPrefixLossless(sh: DataFrame): DataFrame =
    LlmOps.verify(Containment, containmentPrefixCandLossless(sh).distinct(), sh)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Lossless candidate stage: the screened stage without the screen. */
  def containmentPrefixCandLossless(sh: DataFrame): DataFrame = {
    val ranked = LlmOps.rankedShingles(sh)
    val probe = ranked
      .filter(col("rn") <= Containment.prefix("n_sh"))
      .select(col("doc_id").as("pa"), col("h"), col("n_sh").as("na"))
    val index = ranked.select(col("doc_id").as("pb"), col("h"),
      col("n_sh").as("nb"), col("rn").as("rnb"))
    probe.join(index, "h")
      .filter(col("na") < col("nb") ||
        (col("na") === col("nb") && col("pa") < col("pb")))
      .filter(LlmOps.posFilter)
      .select(least(col("pa"), col("pb")).as("doc_a"),
        greatest(col("pa"), col("pb")).as("doc_b"))
  }
}
