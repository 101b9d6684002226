package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-query plan/timing inspector (not part of the driver contract).
  *
  * Usage: runMain graft.Profile <sfDir> <queryKey>
  * Prints the formatted physical plan once, then each rep
  * [[Bench.floor]] took and the floor — the same protocol Bench uses,
  * so a number here is directly comparable to a BENCH_r{N}.json entry.
  */
object Profile {
  /** Probe sub-plans an open measurement still cites (not part of the
    * driver contract). Probes REUSE the production builders (never
    * copy-paste them) so they measure the shipped plan.
    *
    * ANN pair-mining stage decomposition (round 12, VERDICT r11 #7:
    * ann-pairs is the dominant memo-warmup artifact at x10):
    * candidate distinct alone vs the full mine (candidates + two
    * SHUFFLE_HASH array joins + exact dot verify). */
  private val adhoc: Map[String, (SparkSession, String) => DataFrame] =
    Map(
      "x_ann_cand" -> ((s, dir) =>
        graft.ops.LlmOps.annBandCandidates(s, dir)),
      "x_ann_full" -> ((s, dir) =>
        graft.ops.LlmOps.mineAnnPairs(s, dir)))

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val key = args(1)
    val spark = Session.local(32)
    try {
      val fn = adhoc.getOrElse(key, SparkEntry.queries(key))
      // formatted explain is pathologically slow on some plans with
      // deeply-nested HOF lambdas through Generate (q_dedup_winnow
      // hung here even at 100 rows while EXECUTING fine) — skippable
      // so the timing protocol still works on those keys
      if (!sys.env.contains("SPARK_GRAFT_NOEXPLAIN"))
        fn(spark, sfDir).explain("formatted")
      val (sec, reps) = Bench.floor(spark, fn, sfDir)
      reps.zipWithIndex.foreach { case (r, i) => println(f"rep ${i + 1}: $r%.3f s") }
      println(f"floor: $sec%.3f s")
    } finally spark.stop()
  }
}
