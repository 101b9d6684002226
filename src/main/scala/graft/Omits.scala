package graft

import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Driver-visible verification artifact for the contract OMITS — the
  * sketch/hash/iterative keys whose outputs are engine-specific by
  * design (no DuckDB oracle possible). Each omit's differential /
  * property evidence lives in the ScalaTest suites; this main re-runs
  * the MEASUREMENT (recall vs brute force, error vs exact twin,
  * invariant replays) outside ScalaTest and writes one JSON file next
  * to bench_full.json, so the driver/judge can see the numbers without
  * a 20-minute test run (VERDICT r7 task 7).
  *
  * Every `.collect()` here is measurement harness, not engine dataflow:
  * it pulls the omit key's own (small, declared-bounded) output or a
  * per-group census to compare driver-side — the operators under test
  * keep their distributed plans.
  *
  * Usage: runMain graft.Omits [sfDir] [outPath]
  */
object Omits {
  private def r4d(s: Double): Double = java.math.BigDecimal.valueOf(s)
    .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val outPath = if (args.length > 1) args(1) else "/root/repo/OMITS_r8.json"
    val spark = Session.local(8)
    import spark.implicits._
    import graft.ops._

    // each entry: key -> (fields json, ok); fields are flat name->num/bool
    val out = scala.collection.mutable.LinkedHashMap[String, String]()
    def put(key: String, check: String, ok: Boolean,
        fields: (String, Any)*): Unit = {
      val fs = fields.map {
        case (k, v: Double) => f""""$k":$v%.6f"""
        case (k, v: Boolean) => s""""$k":$v"""
        case (k, v) => s""""$k":$v"""
      }.mkString(",")
      out(key) = s"""{"check":"$check","ok":$ok${if (fs.nonEmpty) "," + fs else ""}}"""
    }
    def attempt(key: String)(body: => Unit): Unit =
      try body catch {
        case NonFatal(e) =>
          out(key) = s"""{"check":"measurement failed","ok":false,"err":"${
            String.valueOf(e.getMessage).replaceAll("[\"\\\\\n\r\t]", " ").take(200)}"}"""
      }

    // q_agg_hll / q_agg_hll_rollup: HLL estimate vs the exact distinct
    // the same row carries (rsd 0.05 default; 3-sigma acceptance)
    attempt("q_agg_hll") {
      val rows = Aggregates.aggHll(spark, sfDir)
        .select($"approx_parts", $"exact_parts").as[(Long, Long)].collect()
      val err = rows.map { case (a, e) => math.abs(a - e).toDouble / e }.max
      put("q_agg_hll", "max relative error vs exact distinct <= 0.15 (3x rsd)",
        err <= 0.15, "max_rel_err" -> err, "n_groups" -> rows.length)
    }
    attempt("q_agg_hll_rollup") {
      val rows = Aggregates.aggHllRollup(spark, sfDir)
        .select($"est_users", $"exact_users").as[(Long, Long)].collect()
      val err = rows.map { case (a, e) => math.abs(a - e).toDouble / e }.max
      put("q_agg_hll_rollup",
        "max relative error (incl. sketch-union ALL row) <= 0.15",
        err <= 0.15, "max_rel_err" -> err, "n_rows" -> rows.length)
    }

    // q_agg_countmin: CMS never undercounts; overcount bounded by eps*N
    attempt("q_agg_countmin") {
      val rows = Aggregates.aggCountmin(spark, sfDir)
        .select($"n_exact", $"n_est").as[(Long, Long)].collect()
      val n = rows.map(_._1).sum
      val noUnder = rows.forall { case (e, s) => s >= e }
      val maxOver = rows.map { case (e, s) => s - e }.max
      val bound = (0.001 * n).ceil.toLong
      put("q_agg_countmin",
        "est >= exact for every key AND max overcount <= eps*N (eps=0.001)",
        noUnder && maxOver <= bound, "no_undercount" -> noUnder,
        "max_overcount" -> maxOver, "eps_n_bound" -> bound)
    }

    // q_agg_percentile_approx: GK rank error <= n/accuracy per group
    attempt("q_agg_percentile_approx") {
      val approx = LlmOps.aggPercentileApprox(spark, sfDir)
        .select($"lang", $"p50_approx", $"p95_approx")
        .as[(String, Long, Long)].collect()
      val byLang = Tables(spark, sfDir, "documents")
        .select($"lang", $"n_chars").as[(String, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      val errs = approx.flatMap { case (lang, p50, p95) =>
        val vs = byLang(lang); val n = vs.length
        Seq(0.5 -> p50, 0.95 -> p95).map { case (p, v) =>
          // rank error: distance from the observed value's rank
          // interval [#(<v), #(<=v)] to the target rank p*(n-1)
          val lo = vs.count(_ < v); val hi = vs.count(_ <= v)
          val target = p * (n - 1)
          val d = if (target < lo) lo - target
            else if (target > hi) target - hi else 0.0
          (d, n)
        }
      }
      val worst = errs.map { case (d, n) => d / n }.max
      val boundFrac = 1.0 / 10000 + errs.map(1.0 / _._2).max // +1 discreteness
      put("q_agg_percentile_approx",
        "GK rank error <= n/accuracy (accuracy=10000) + 1 per group",
        worst <= boundFrac, "max_rank_err_frac" -> worst,
        "bound_frac" -> boundFrac)
    }

    // q_dedup_minhash / q_dedup_simhash: recall vs the exact-Jaccard
    // strong (j>=0.9) pair set; minhash pairs are also verified-exact.
    // Two SEPARATE attempt blocks (ADVICE r8): nesting simhash inside
    // the minhash attempt meant a simhash failure overwrote the
    // already-recorded minhash entry and silently dropped the simhash
    // key from the artifact. The exact pair mine is computed once in a
    // lazy val both blocks share; if IT fails, both report the error.
    lazy val exactJaccardPairs = LlmOps.dedupNgramJaccard(spark, sfDir)
      .select($"doc_a", $"doc_b", $"jaccard")
      .as[(Long, Long, Double)].collect()
    attempt("q_dedup_minhash") {
      val exact = exactJaccardPairs
      val strong = exact.filter(_._3 >= 0.9).map(t => (t._1, t._2)).toSet
      val found = LlmOps.dedupMinhash(spark, sfDir)
        .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
      val subset = found.subsetOf(exact.map(t => (t._1, t._2)).toSet)
      val recall =
        if (strong.isEmpty) 1.0 else strong.count(found).toDouble / strong.size
      put("q_dedup_minhash",
        "pairs subset-of exact-Jaccard pairs (precision 1) AND recall@j>=0.9 >= 0.9",
        subset && recall >= 0.9, "precision_subset" -> subset,
        "recall_strong" -> recall, "n_strong" -> strong.size)
    }
    attempt("q_dedup_simhash") {
      val strong = exactJaccardPairs.filter(_._3 >= 0.9)
        .map(t => (t._1, t._2)).toSet
      val sim = LlmOps.dedupSimhash(spark, sfDir)
        .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
      val sRecall =
        if (strong.isEmpty) 1.0 else strong.count(sim).toDouble / strong.size
      put("q_dedup_simhash", "recall over exact j>=0.9 pairs >= 0.85",
        sRecall >= 0.85, "recall_strong" -> sRecall, "n_strong" -> strong.size)
    }

    // q_sim_ann_ivf / q_sim_ann_pq: recall@5 vs the exact brute-force
    // top-5 (q_sim_cosine_topk, itself hash-verified); PQ sims must be
    // the exact cosine (re-rank leaves nothing approximate in output).
    // Separate attempt blocks for the same reason as minhash/simhash
    // above; the exact top-k is shared via a lazy val.
    lazy val exactTopk = LlmOps.simCosineTopk(spark, sfDir)
      .as[(Long, Double)].collect().toSeq
    attempt("q_sim_ann_ivf") {
      val truth = exactTopk.take(5).map(_._1).toSet
      val ivf = LlmOps.simAnnIvf(spark, sfDir)
        .select($"vec_id").as[Long].collect().toSet
      val ivfRecall = (truth intersect ivf).size / 5.0
      put("q_sim_ann_ivf", "recall@5 vs exact top-5 >= 0.6",
        ivfRecall >= 0.6, "recall_at_5" -> ivfRecall)
    }
    attempt("q_sim_ann_pq") {
      val truth = exactTopk.take(5).map(_._1).toSet
      val pq = LlmOps.simAnnPq(spark, sfDir).as[(Long, Double)].collect().toSeq
      val exactMap = exactTopk.toMap
      // the lookup alone was vacuously true for an id OUTSIDE the exact
      // top-k map (ADVICE r8): require every emitted id to be present in
      // the truth map AND carry the exact cosine — a PQ result that
      // re-ranked its way to an out-of-truth id now fails loudly
      val idsKnown = pq.forall(p => exactMap.contains(p._1))
      val simsExact = idsKnown && pq.forall { case (id, s) =>
        exactMap(id) == s }
      val pqRecall = pq.take(5).map(_._1).count(truth) / 5.0
      put("q_sim_ann_pq",
        "emitted ids within exact top-k, sims exact cosines, recall@5 >= 0.6",
        simsExact && pqRecall >= 0.6, "ids_in_truth" -> idsKnown,
        "sims_exact" -> simsExact, "recall_at_5" -> pqRecall)
    }

    // q_embed_pq: Lloyd iterations never increase the total residual
    attempt("q_embed_pq") {
      def residual(i: Int): Double = LlmOps.embedPqAssigned(spark, sfDir, i)
        .agg(sum($"d2")).as[Double].collect()(0)
      val (r0, r1, r2) = (residual(0), residual(1), residual(2))
      val eps = 1e-6
      val mono = r1 <= r0 * (1 + eps) + eps && r2 <= r1 * (1 + eps) + eps
      put("q_embed_pq",
        "k-means residual non-increasing over Lloyd iters AND iter2 < iter0",
        mono && r2 < r0, "residual_iter0" -> r0, "residual_iter1" -> r1,
        "residual_iter2" -> r2)
    }

    // q_pack_bestfit: nothing lost, oversized bins are singletons,
    // bins used close to the ceil(tokens/cap) lower bound
    attempt("q_pack_bestfit") {
      val cap = 256
      val bins = LlmOps.packBestfit(spark, sfDir)
        .select($"source", $"bin", $"n_docs", $"n_tokens")
        .as[(String, Int, Long, Long)].collect()
      val totals = Tables(spark, sfDir, "documents")
        .groupBy($"source").agg(count(lit(1)).as("n"),
          sum(size(split($"text", " "))).as("tok"))
        .as[(String, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      var conserved = true; var singletons = true
      var nBins = 0L; var lowerBound = 0L
      bins.groupBy(_._1).foreach { case (src, rows) =>
        val (nDocs, nTok) = totals(src)
        conserved &&= rows.map(_._3).sum == nDocs &&
          rows.map(_._4).sum == nTok
        val (over, regular) = rows.partition(_._4 > cap)
        singletons &&= over.forall(_._3 == 1L)
        nBins += regular.length
        lowerBound += math.ceil(
          regular.map(_._4).sum.toDouble / cap).toLong
      }
      val ratio = nBins.toDouble / math.max(1L, lowerBound)
      put("q_pack_bestfit",
        "docs+tokens conserved, oversized bins singleton, bins <= 2x lower bound",
        conserved && singletons && ratio <= 2.0,
        "conserved" -> conserved, "oversized_singletons" -> singletons,
        "bins_vs_lower_bound" -> ratio)
    }

    // q_sample_hash: rate near the 10% target (binomial tolerance)
    attempt("q_sample_hash") {
      val n = LlmOps.sampleHash(spark, sfDir).count()
      val total = Tables(spark, sfDir, "documents").count()
      val rate = n.toDouble / total
      put("q_sample_hash", "|rate - 0.10| <= 0.02 (xxhash64 uniformity)",
        math.abs(rate - 0.10) <= 0.02, "rate" -> rate, "n_sampled" -> n)
    }

    // q_bpe_train: consecutive steps, positive pair frequencies
    attempt("q_bpe_train") {
      val merges = LlmOps.bpeTrain(spark, sfDir)
        .select($"step", $"left", $"right", $"pair_freq")
        .as[(Int, String, String, Long)].collect().sortBy(_._1)
      val steps = merges.map(_._1).toSeq == (1 to merges.length)
      val freqs = merges.forall(_._4 > 0)
      put("q_bpe_train", "steps consecutive from 1, all pair freqs > 0",
        merges.nonEmpty && steps && freqs, "n_merges" -> merges.length)
    }

    // q_bpe_encode: per-doc token count bounded by chars (merges only
    // shrink) and words (>= 1 token per word); corpus compresses
    attempt("q_bpe_encode") {
      val got = LlmOps.bpeEncode(spark, sfDir)
        .as[(Long, Int, Int, Int)].collect()
      val bounds = got.forall { case (_, nw, nc, nt) =>
        nt <= nc && (nw == 0 || nt >= nw) }
      val totC = got.map(_._3.toLong).sum
      val totT = got.map(_._4.toLong).sum
      put("q_bpe_encode",
        "per doc: words <= tokens <= chars; corpus-wide compression < 1",
        bounds && totT < totC, "bounds_hold" -> bounds,
        "compression" -> totT.toDouble / totC)
    }

    // q_sim_rerank_mmr: the emitted rows must satisfy the MMR identity
    // score = r4(lambda*rel - (1-lambda)*maxSimToSelected), pen_1 = 0
    attempt("q_sim_rerank_mmr") {
      val rows = Eval.simRerankMmr(spark, sfDir)
        .as[(Int, Long, Double, Double, Double)].collect().sortBy(_._1)
      val lambda = 0.7
      val identity = rows.forall { case (_, _, rel, pen, score) =>
        score == r4d(lambda * rel - (1 - lambda) * pen) }
      val firstPen = rows.headOption.forall(_._4 == 0.0)
      val distinct = rows.map(_._2).distinct.length == rows.length
      put("q_sim_rerank_mmr",
        "MMR identity holds per step, first penalty 0, selections distinct",
        identity && firstPen && distinct && rows.nonEmpty,
        "n_steps" -> rows.length, "identity_ok" -> identity)
    }

    val body = out.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    val nOk = out.values.count(_.contains("\"ok\":true"))
    val json = s"""{"sf":"$sfDir","n_omits":${out.size},"n_ok":$nOk,"omits":{$body}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"# omits artifact: ${out.size} keys, $nOk ok -> $outPath")
    spark.stop()
  }
}
