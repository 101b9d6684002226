package graft.ops

import graft.{Det, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, StringType}

/** Declarative data-quality constraint suite — the validation gate a
  * corpus passes before training (the Deequ/expectations pattern):
  * uniqueness, referential integrity, null/emptiness, domain
  * membership, consistency and range checks, each reported as
  * (check_name, n_checked, n_violations).
  *
  * Scale posture: all single-table constraints on the same table are
  * FUSED into ONE aggregate pass — 5,000 or 5 billion rows, the
  * documents table is scanned once for its three checks, not three
  * times (the optimization that makes constraint suites affordable at
  * 100 TB). Referential checks are conditional counts over a left
  * join, so Catalyst/AQE pick broadcast for dimension-sized right
  * sides; nothing ever materializes a violation row set — counts only.
  */
object Quality {

  private def fused(df: DataFrame, checks: (String, Column)*): DataFrame = {
    val agg0 = count(lit(1)).cast("long").as("n_checked")
    val aggs = checks.zipWithIndex.map { case ((_, viol), i) =>
      count(when(viol, lit(1))).cast("long").as(s"c$i")
    }
    // unpivot the one aggregated row into one row per check — a
    // single subtree, so the table is provably scanned exactly once
    df.agg(agg0, aggs: _*)
      .select(explode(array(checks.zipWithIndex.map { case ((n, _), i) =>
        struct(lit(n).as("check_name"), col("n_checked"),
          col(s"c$i").as("n_violations"))
      }: _*)).as("c"))
      .select(col("c.check_name"), col("c.n_checked"),
        col("c.n_violations"))
  }

  /** The declared suite over documents / events / orders / lineitem /
    * customer. Zero violations expected on the generated corpus except
    * where the check is deliberately strict (ts upper bound). */
  def qualityConstraints(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, sfDir, "documents")
    val events = Tables(spark, sfDir, "events")
    val orders = Tables(spark, sfDir, "orders")

    val docChecks = fused(docs,
      "documents.lang_accepted" ->
        !$"lang".isin("de", "en", "es", "fr", "zh"),
      "documents.nchars_consistent" -> (length($"text") =!= $"n_chars"),
      "documents.text_nonempty" ->
        ($"text".isNull || length($"text") === 0))

    val eventChecks = fused(events,
      "events.ts_in_range" ->
        ($"ts" < to_timestamp(lit("2024-01-01")) ||
          $"ts" >= to_timestamp(lit("2024-02-01"))),
      "events.type_accepted" ->
        !$"event_type".isin("view", "click", "purchase", "signup",
          "error"),
      "events.value_nonneg" -> ($"value" < 0.0))

    // PK uniqueness = rows minus distinct keys, still one pass
    val ordersPk = orders
      .agg(count(lit(1)).cast("long").as("n_checked"),
        (count(lit(1)) - countDistinct($"o_orderkey")).cast("long")
          .as("n_violations"))
      .select(lit("orders.pk_unique").as("check_name"), $"n_checked",
        $"n_violations")

    // FK: every lineitem must resolve to an order; count-only left join
    val liFk = Tables(spark, sfDir, "lineitem").select($"l_orderkey")
      .join(orders.select($"o_orderkey").distinct(),
        $"l_orderkey" === $"o_orderkey", "left")
      .agg(count(lit(1)).cast("long").as("n_checked"),
        count(when($"o_orderkey".isNull, lit(1))).cast("long")
          .as("n_violations"))
      .select(lit("lineitem.fk_orders").as("check_name"), $"n_checked",
        $"n_violations")

    val custFk = Tables(spark, sfDir, "customer").select($"c_nationkey")
      .join(Tables(spark, sfDir, "nation").select($"n_nationkey"),
        $"c_nationkey" === $"n_nationkey", "left")
      .agg(count(lit(1)).cast("long").as("n_checked"),
        count(when($"n_nationkey".isNull, lit(1))).cast("long")
          .as("n_violations"))
      .select(lit("customer.fk_nation").as("check_name"), $"n_checked",
        $"n_violations")

    docChecks.unionAll(eventChecks).unionAll(ordersPk).unionAll(liFk)
      .unionAll(custFk)
      .orderBy($"check_name")
  }

  /** Gopher-style per-document QUALITY RULES (Rae et al. 2021 §A1.1,
    * adapted to this corpus's ranges): word count in [20, 90], mean
    * word length in [4.0, 5.0], ≥ 1 stopword, type-token ratio ≥ 0.4
    * — the heuristic row-level filter every pretraining curation
    * pipeline runs before the statistical stages. Emits the per-doc
    * feature values, each rule verdict, and the conjunction, so
    * downstream can both filter and audit WHY a doc fell.
    *
    * Determinism: every feature is a ratio of exact integers (token
    * count, char count via whitespace-stripped length, stopword and
    * distinct-token counts) — identical doubles in both engines; r4
    * only for display stability. Scale posture: entirely row-local
    * codegen'd HOFs over the token array — zero shuffles, scan-speed
    * map stage, same posture as q_text_quality; the ORDER BY is the
    * only exchange. */
  def qualityGopher(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, sfDir, "documents")
      .select($"doc_id",
        expr("filter(split(text, ' '), t -> t <> '')").as("toks"),
        length(regexp_replace($"text", " ", "")).as("chars"))
      .select($"doc_id",
        size($"toks").as("n_words"),
        // greatest(…, 1): an empty doc divides by 1 (ratios 0.0, every
        // rule false) instead of by 0, where Spark (NULL) and DuckDB
        // (NaN under IEEE division) would disagree
        ($"chars".cast("double") / greatest(size($"toks"), lit(1)))
          .as("mwl"),
        expr("size(filter(toks, t -> t = 'a' OR t = 'the'))").as("n_stop"),
        (size(array_distinct($"toks")).cast("double")
          / greatest(size($"toks"), lit(1))).as("ttr"))
      .select($"doc_id", $"n_words", graft.Det.r4($"mwl").as("mean_word_len"),
        $"n_stop", graft.Det.r4($"ttr").as("ttr"),
        ($"n_words" >= 20 && $"n_words" <= 90).as("ok_wordcount"),
        ($"mwl" >= 4.0 && $"mwl" <= 5.0).as("ok_meanwordlen"),
        ($"n_stop" >= 1).as("ok_stopword"),
        ($"ttr" >= 0.4).as("ok_ttr"))
      .withColumn("passes",
        $"ok_wordcount" && $"ok_meanwordlen" && $"ok_stopword" && $"ok_ttr")
      .orderBy($"doc_id")
  }

  /** Order-independent table fingerprint — the cheap equality check a
    * pipeline runs after a migration/backfill/compaction to prove two
    * copies of a table hold the SAME ROWS without sorting or moving
    * either one. Canonical row string → 48-bit md5 slice → exact
    * decimal SUM + XOR (both commutative, so file layout, partitioning
    * and row order cannot move the fingerprint; any inserted, deleted
    * or edited row does, up to hash collision). Engine-portable by
    * construction: integer/string rendering is identical in Spark and
    * DuckDB, timestamps go through a pinned 6-digit-fraction format,
    * and doubles are EXCLUDED from the canonical string (their text
    * rendering is engine-specific).
    *
    * Scale posture: one full scan per table, all-commutative partial
    * aggregation — the 100 TB fingerprint is one map-side-combined agg
    * job per table, output is 3 numbers. */
  /** (n_rows, fp_sum, fp_xor) of a one-column canonical-string
    * relation `s` — the commutative md5-slice pipeline shared by
    * [[tableFingerprint]] and [[fingerprintIncremental]] (ONE
    * definition, so the merge-equals-recompute guarantee can't drift
    * from the direct fingerprint). */
  /** Modulus for the additive fingerprint component: 2^62. The raw
    * Σ md5-slice sum exceeds int64 once the table passes ~2^15 rows
    * (each slice averages 2^47), and a DECIMAL(38,0) above 2^63 is
    * exactly the value class that downstream comparators normalizing
    * through int64/float64 silently mangle. Folding mod 2^62 keeps
    * the fingerprint (a) commutative/mergeable — (a+b) mod m ≡
    * ((a mod m)+(b mod m)) mod m — and (b) always a plain BIGINT on
    * both engines, so the output is comparator-proof by construction.
    * Collision odds are unchanged in practice: 62 bits of additive
    * state alongside the 48-bit XOR channel. */
  private val FpMod = 4611686018427387904L // 2^62

  private def md5Parts(canon: DataFrame): DataFrame =
    canon
      .select(expr("cast(conv(substr(md5(s), 1, 12), 16, 10) as bigint)")
        .as("h"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("h").cast(
          org.apache.spark.sql.types.DecimalType(38, 0))).as("fp_wide"),
        expr("bit_xor(h)").as("fp_xor"))
      .select(col("n_rows"),
        expr(s"cast(fp_wide % ${FpMod}L as bigint)").as("fp_sum"),
        col("fp_xor"))

  /** The pinned orders canonical string (doubles excluded, 6-digit
    * timestamp format) — shared for the same no-drift reason. */
  private def ordersCanon(o: DataFrame): DataFrame = {
    import o.sparkSession.implicits._
    o.select(concat_ws("|", $"o_orderkey", $"o_custkey",
      $"o_orderstatus",
      date_format($"o_orderdate", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
      $"o_orderpriority").as("s"))
  }

  def tableFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    def fp(name: String, canon: DataFrame): DataFrame =
      md5Parts(canon)
        .select(lit(name).as("table_name"), col("n_rows"), col("fp_sum"),
          col("fp_xor"))
    import spark.implicits._
    val docs = fp("documents", Tables(spark, sfDir, "documents")
      .select(concat_ws("|", $"doc_id", $"lang", $"source", $"n_chars",
        $"text").as("s")))
    val orders = fp("orders", ordersCanon(Tables(spark, sfDir, "orders")))
    val li = fp("lineitem", Tables(spark, sfDir, "lineitem")
      .select(concat_ws("|", $"l_orderkey", $"l_partkey", $"l_suppkey",
        $"l_linenumber", $"l_returnflag", $"l_linestatus",
        date_format($"l_shipdate", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .as("s")))
    docs.unionAll(orders).unionAll(li).orderBy($"table_name")
  }

  /** INCREMENTAL fingerprint maintenance — [[tableFingerprint]]'s
    * commutativity turned into the refresh job: yesterday's snapshot
    * stores only the (n_rows, fp_sum, fp_xor) partials (landed to
    * parquet exactly as a stats store would hold them), today's delta
    * fingerprints alone, and the served fingerprint is the MERGE
    * (+, +, XOR) — history is never re-scanned. The oracle computes
    * the fingerprint DIRECTLY over the full table, so the hash match
    * IS the proof that merge ≡ recompute (the q_agg_incremental
    * pattern applied to integrity checking). At 100 TB this is how a
    * daily-ingest table keeps a live fingerprint for replication
    * checks at delta cost. */
  def fingerprintIncremental(spark: SparkSession,
      sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = s"${Relational.scratchRoot}/fp_incremental"
    val o = Tables(spark, sfDir, "orders")
    def parts(df: DataFrame) = md5Parts(ordersCanon(df))
    parts(o.filter($"o_orderkey" % 10 < 8))
      .write.mode("overwrite").parquet(dir)
    val snapshot = spark.read.schema(
      "n_rows BIGINT, fp_sum BIGINT, fp_xor BIGINT").parquet(dir)
    // partials are already folded mod 2^62; the merge re-folds after a
    // DECIMAL-widened sum so ANY number of daily partials (365 × <2^62
    // would overflow a bare int64 sum) merges exactly
    snapshot.unionByName(parts(o.filter($"o_orderkey" % 10 >= 8)))
      .agg(sum($"n_rows").cast("long").as("n_rows"),
        expr(s"cast(sum(cast(fp_sum as decimal(38,0))) % ${FpMod}L" +
          " as bigint)").as("fp_sum"),
        expr("bit_xor(fp_xor)").as("fp_xor"))
      .select(lit("orders").as("table_name"), $"n_rows", $"fp_sum",
        $"fp_xor")
  }

  /** COLUMN PROFILING — the `ANALYZE`/data-profiler pass every
    * warehouse and curation pipeline runs on landing a new table:
    * per column, row count, null count, exact distinct count, and
    * canonical min/max. All five documents columns profile in ONE
    * fused aggregate pass over ONE scan (the
    * [[qualityConstraints]] stance), then the single aggregated row
    * unpivots into one row per column.
    *
    * Determinism: longs render identically as strings in both
    * engines; string min/max is binary collation in both (Spark
    * UTF8String, DuckDB bytewise); counts are exact.
    *
    * Scale posture: one partial-agged scan. The exact
    * `countDistinct`s expand the scan ×(columns profiled) — the
    * declared-exact profiler contract; a 100 TB profiler swaps them
    * for `approx_count_distinct` (same plan shape, HLL partials,
    * no expand) — the sketch family's q_agg_hll covers that path. */
  def profileColumns(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cols = Seq("doc_id", "lang", "source", "n_chars", "text")
    val aggs = count(lit(1)).cast("long").as("n_rows") +:
      cols.flatMap { c =>
        Seq(count(when(col(c).isNull, lit(1))).cast("long").as(s"${c}_nulls"),
          countDistinct(col(c)).cast("long").as(s"${c}_distinct"),
          min(col(c)).cast("string").as(s"${c}_min"),
          max(col(c)).cast("string").as(s"${c}_max"))
      }
    Tables(spark, sfDir, "documents")
      .agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map { c =>
        struct(lit(c).as("column_name"), $"n_rows",
          col(s"${c}_nulls").as("n_nulls"),
          col(s"${c}_distinct").as("n_distinct"),
          col(s"${c}_min").as("min_s"), col(s"${c}_max").as("max_s"))
      }: _*)).as("p"))
      .select($"p.column_name", $"p.n_rows", $"p.n_nulls",
        $"p.n_distinct", $"p.min_s", $"p.max_s")
      .orderBy($"column_name")
  }

  /** DISTRIBUTION DRIFT via the Population Stability Index — the
    * ML-monitoring gate that compares a feature's distribution between
    * a reference window and the current one (here: events.value over
    * the first vs second half of January). Both halves bin on ONE
    * SHARED 10-bucket equi-width basis from the GLOBAL min/max (a
    * 1-row broadcast — the q_agg_histogram machinery), per-bin shares
    * p (reference) and q (current) divide exact integer counts, and
    * PSI_i = (p−q)·ln(p/q) — zero by convention when either side is
    * empty (the standard epsilon-free treatment, documented rather
    * than hidden behind an arbitrary epsilon). PSI total > 0.25 is the
    * conventional "significant drift" alarm.
    *
    * Determinism: identical exact-count quotients ⇒ identical IEEE
    * ln/product in both engines; the per-bin term is r4'd for
    * display, and the TOTAL sums those displayed terms through an
    * exact decimal cast (a 4-decimal double is never tie-adjacent at
    * scale 6) so bin addition order cannot move it.
    *
    * Scale posture: two scans (global min/max, then one binning agg
    * fused over both halves via a split column), everything
    * partial-agged; the bin grid is 10 rows. */
  def statsDriftPsi(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables(spark, sfDir, "events")
      .select($"value",
        when($"ts" < lit("2024-01-16").cast("timestamp"), "ref")
          .otherwise("cur").as("half"))
    val st = e.agg(min($"value").as("vmin"), max($"value").as("vmax"))
    val binned = e.crossJoin(broadcast(st))
      .select($"half",
        least(floor(($"value" - $"vmin") / (($"vmax" - $"vmin") / 10.0)),
          lit(9)).cast("int").as("bin"))
      .groupBy($"bin")
      .agg(count(when($"half" === "ref", 1)).as("n_ref"),
        count(when($"half" === "cur", 1)).as("n_cur"))
    val tot = binned.agg(sum($"n_ref").as("t_ref"),
      sum($"n_cur").as("t_cur"))
    val terms = binned.crossJoin(broadcast(tot))
      .select($"bin", $"n_ref", $"n_cur",
        ($"n_ref".cast("double") / $"t_ref").as("p"),
        ($"n_cur".cast("double") / $"t_cur").as("q"))
      .withColumn("psi_term",
        when($"n_ref" > 0 && $"n_cur" > 0,
          graft.Det.r4(($"p" - $"q") * log($"p" / $"q")))
          .otherwise(0.0))
    val total = terms.agg(sum($"psi_term".cast(
      org.apache.spark.sql.types.DecimalType(18, 6)))
      .cast("double").as("psi_total"))
    terms.crossJoin(broadcast(total))
      .select($"bin", $"n_ref", $"n_cur", graft.Det.r4($"p").as("p"),
        graft.Det.r4($"q").as("q"), $"psi_term", $"psi_total")
      .orderBy($"bin")
  }

  /** LINEAR CLASSIFIER INFERENCE via the hashing trick — the
    * quality-classifier scoring pass (the fastText/logistic-gate shape
    * of DCLM/FineWeb-style curation) run as pure SQL: each token hashes
    * into one of 64 weight buckets (48-bit md5 slice — the engine's
    * established cross-engine hash), the "model" is a deterministic
    * integer weight per bucket (a real deployment broadcasts the
    * trained weight array; the arithmetic stand-in keeps the oracle
    * exact), and a document's score is the tf-weighted INTEGER weight
    * sum normalized by token count. label = score > 0.
    *
    * Determinism: the score sum is integer arithmetic inside a
    * row-local fold — no float accumulation anywhere; the normalized
    * score divides exact longs.
    *
    * Scale posture: entirely row-local codegen'd HOFs (hash + weight
    * lookup + fold fused into the scan) — ZERO shuffles beyond the
    * output ORDER BY; at 100 TB this runs at scan speed per partition,
    * which is exactly why production curation pushes classifier
    * inference into the engine instead of a sidecar service. */
  def classifyLinear(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    classifierScores(spark, sfDir)
      .select($"doc_id", $"n_tokens", $"score_int", $"score", $"label")
      .orderBy($"doc_id")
  }

  /** The shared classifier-inference pass behind [[classifyLinear]],
    * [[statsAuc]] and [[Eval.evalConfusion]]: per-document hashed
    * linear score (exact integer fold — see [[classifyLinear]]),
    * normalized score, thresholded label, plus `lang` as the
    * evaluation ground truth. Unordered; row-local; zero shuffles. */
  private[graft] def classifierScores(
      spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val weightExpr =
      "(((cast(conv(substr(md5(t), 1, 12), 16, 10) as bigint) % 64)" +
        " * 2654435761) % 201) - 100"
    Tables(spark, sfDir, "documents")
      .select($"doc_id", $"lang",
        expr("filter(split(text, ' '), t -> t <> '')").as("toks"))
      .select($"doc_id", $"lang", size($"toks").as("n_tokens"),
        expr(s"aggregate(toks, cast(0 as bigint)," +
          s" (acc, t) -> acc + ($weightExpr))").as("score_int"))
      .select($"doc_id", $"lang", $"n_tokens", $"score_int",
        ($"score_int".cast("double") / greatest($"n_tokens", lit(1)))
          .as("score"),
        ($"score_int" > 0).as("label"))
  }

  /** ROC AUC of the [[classifierScores]] ranking against the `lang =
    * 'en'` ground truth — the threshold-free discrimination metric a
    * curation pipeline reports for every quality scorer before
    * picking an operating point ([[Eval.evalConfusion]] is the
    * at-threshold twin). Computed by the grouped rank-sum identity
    * with exact tie handling: census the corpus per DISTINCT score,
    * run ONE global cumulative sum of negatives in score order, and
    * fold AUC = Σ n_pos(s)·(cum_neg_below(s) + n_neg(s)/2) / (P·N) —
    * kept in integers as Σ n_pos·(2·cum_neg_incl − n_neg) / (2·P·N),
    * so the only float op is the final division (identical IEEE
    * divide both engines; Det.r4 on top).
    *
    * Scale posture: the census partial-aggs map-side to one row per
    * distinct score; the running total uses [[TwoPass.cumsum]]
    * (within-bucket running sums + per-bucket offsets), never
    * a corpus-wide `sum() OVER (ORDER BY …)` single-task window; the
    * final fold is a partial-agged scalar. Ties across documents
    * collapse into one census row, so tie handling is exact, not
    * rank-average-approximated. */
  def statsAuc(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val census = classifierScores(spark, sfDir)
      .select($"score",
        when($"lang" === "en", 1L).otherwise(0L).as("pos"))
      .groupBy($"score")
      .agg(sum($"pos").as("n_pos"), sum(lit(1L) - $"pos").as("n_neg"))
    // num2 accumulates in DECIMAL(38,0), mirroring the oracle's
    // int128 intermediate: at census scale the per-term product
    // n_pos·(2·cum_neg − n_neg) approaches P·2N ≈ 1e26 ≫ Long.Max,
    // where a long sum would wrap silently while DuckDB's HUGEINT
    // doesn't — an engine divergence this cast removes (theoretical
    // at tested SFs, real at 100 TB)
    TwoPass.cumsum(census, "score", Seq("n_neg"))
      .agg(sum($"n_pos").cast("long").as("n_pos"),
        sum($"n_neg").cast("long").as("n_neg"),
        sum($"n_pos".cast(DecimalType(38, 0))
            * (lit(2L) * $"cum_n_neg" - $"n_neg").cast(DecimalType(38, 0)))
          .as("num2"))
      .select($"n_pos", $"n_neg",
        when($"n_pos" > 0 && $"n_neg" > 0,
          Det.r4($"num2".cast("double")
            / (lit(2.0) * ($"n_pos" * $"n_neg").cast("double"))))
          .as("auc"))
  }

  /** LEXICON SAFETY FILTER — the blocklist gate every curation
    * pipeline runs alongside the statistical quality rules (here a
    * stand-in term list drawn from the corpus vocabulary; a real
    * deployment broadcasts its maintained blocklist — same plan):
    * per document, total blocklisted occurrences, distinct matched
    * terms, and the flag; reported per language with flag rates so
    * the gate's bite is auditable before it drops anything.
    *
    * Scale posture: matching is row-local HOF set arithmetic against
    * a literal (broadcast-sized) lexicon at scan speed; one
    * lang-keyed partial-agged rollup. Rates divide exact longs. */
  def qualityLexicon(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val lex = "array('dup', 'stream', 'hash')"
    Tables(spark, sfDir, "documents")
      .select($"lang",
        expr("filter(split(text, ' '), t -> t <> '')").as("toks"))
      .select($"lang",
        expr(s"size(filter(toks, t -> array_contains($lex, t)))")
          .as("n_hits"),
        expr(s"size(array_intersect(array_distinct(toks), $lex))")
          .as("n_terms"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        count(when($"n_hits" > 0, 1)).as("n_flagged"),
        sum($"n_hits").cast("long").as("total_hits"),
        max($"n_terms").cast("long").as("max_distinct_terms"))
      .withColumn("flag_rate",
        $"n_flagged".cast("double") / $"n_docs")
      .orderBy($"lang")
  }

  /** k-ANONYMITY audit (k = 5) over the quasi-identifier tuple
    * (nation, market segment, account-balance band of 1000): how many
    * equivalence classes are smaller than k, how many ROWS those
    * classes expose, and the dataset's actual k (the smallest class).
    * The release gate a privacy-conscious pipeline runs before
    * publishing user-derived aggregates.
    *
    * Determinism: the band divides an exact-2-decimal double by a
    * power-of-ten literal and floors — both engines perform the same
    * IEEE division on the same operand, so the band is bit-identical
    * (Det.scala rules); everything else is integer counting.
    *
    * Scale posture: one partial-agged groupBy on the QI tuple, then a
    * single-row rollup over the class census (bounded by the QI
    * domain, not the table). */
  def anonymizeKanon(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val k = 5
    val classes = Tables(spark, sfDir, "customer")
      .select($"c_nationkey", $"c_mktsegment",
        floor($"c_acctbal" / 1000.0).cast("long").as("bal_band"))
      .groupBy($"c_nationkey", $"c_mktsegment", $"bal_band")
      .agg(count(lit(1)).as("cls_n"))
    classes.agg(
      count(lit(1)).as("n_classes"),
      count(when($"cls_n" < k, 1)).as("n_small_classes"),
      coalesce(sum(when($"cls_n" < k, $"cls_n")), lit(0L)).cast("long")
        .as("n_rows_at_risk"),
      min($"cls_n").as("min_k"),
      sum($"cls_n").cast("long").as("n_rows"))
  }

  /** l-DIVERSITY audit (l = 3) — the [[anonymizeKanon]] companion:
    * k-anonymity bounds re-identification but a small-k class whose
    * SENSITIVE attribute is uniform still leaks it; per equivalence
    * class on the (nation, segment) quasi-identifiers, count DISTINCT
    * sensitive values (the 1000-wide balance band) and report the
    * classes below l, the rows they expose, and the dataset's actual
    * l. Integer counting end to end.
    *
    * Scale posture: one partial-agged two-level distinct aggregation
    * on the QI tuple (the distinct expand's rows are bounded by
    * QI × sensitive domains), then a single-row rollup over the
    * class census. */
  def anonymizeLdiversity(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val l = 3
    val classes = Tables(spark, sfDir, "customer")
      .select($"c_nationkey", $"c_mktsegment",
        floor($"c_acctbal" / 1000.0).cast("long").as("bal_band"))
      .groupBy($"c_nationkey", $"c_mktsegment")
      .agg(count(lit(1)).as("cls_n"),
        countDistinct($"bal_band").as("cls_l"))
    classes.agg(
      count(lit(1)).as("n_classes"),
      count(when($"cls_l" < l, 1)).as("n_low_diversity"),
      coalesce(sum(when($"cls_l" < l, $"cls_n")), lit(0L)).cast("long")
        .as("n_rows_at_risk"),
      min($"cls_l").as("min_l"),
      sum($"cls_n").cast("long").as("n_rows"))
  }

  /** Chi-square INDEPENDENCE test over the order-priority × status
    * contingency table — the categorical-drift / association monitor
    * (is priority distributed independently of status?). Observed
    * counts are exact longs; expected = row_total × col_total / N is
    * one IEEE division of exact longs (bit-identical cross-engine);
    * the χ² total sums the ~15 cell contributions — the one
    * order-dependent accumulation — under r4 (the Det stddev/corr
    * regime).
    *
    * Scale posture: one partial-agged cell census (bounded by the
    * category domain product, not the table), margins via two tiny
    * re-aggregations of the CELL table, single-row rollup. */
  def statsChi2(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables(spark, sfDir, "orders")
      .groupBy($"o_orderpriority".as("r"), $"o_orderstatus".as("c"))
      .agg(count(lit(1)).as("obs"))
    val rowTot = cells.groupBy($"r").agg(sum($"obs").cast("long").as("rt"))
    val colTot = cells.groupBy($"c").agg(sum($"obs").cast("long").as("ct"))
    val n = cells.agg(sum($"obs").cast("long").as("n"))
    // full margin grid (|rows|×|cols| — domain-bounded, not
    // table-bounded): absent combinations still contribute their
    // expected count with obs = 0, the textbook χ² definition
    rowTot.crossJoin(broadcast(colTot))
      .join(cells, Seq("r", "c"), "left")
      .crossJoin(broadcast(n))
      .select(coalesce($"obs", lit(0L)).as("obs"), $"n", $"rt", $"ct",
        (($"rt" * $"ct").cast("double") / $"n").as("exp"))
      .agg(max($"n").as("n"),
        count(lit(1)).as("n_cells"),
        graft.Det.r4(sum(($"obs" - $"exp") * ($"obs" - $"exp") / $"exp"))
          .as("chi2"))
  }

  /** Two-sample KOLMOGOROV–SMIRNOV drift statistic over order totals
    * (even vs odd orderkeys — the holdout-vs-production split shape):
    * D = max |F_A(x) − F_B(x)| over the pooled support, the
    * distribution-shape companion to [[statsDriftPsi]] (PSI needs a
    * binning choice; KS is binning-free and catches shifts PSI's 10
    * equi-width buckets smear out).
    *
    * Exactness: prices quantize to integer CENTS (2-decimal money is
    * exact), per-value counts and cumulatives are longs, and the max
    * gap is found on |cumA·nB − cumB·nA| — INTEGER cross-
    * multiplication, so the argmax value is exact; only the reported
    * D divides once (IEEE on identical operands). The value at the
    * max gap (min such value on ties) is reported — the "where did
    * the distributions split" answer a drift triage wants.
    *
    * Scale posture: the naive cumsum is `sum() OVER (ORDER BY v)` —
    * a corpus-wide single-partition window. This plan uses the
    * two-pass zipWithIndex shape instead ([[TwoPass.cumsum]] on the
    * VALUE census): the per-value census bucketed on sampled key
    * bounds, within-bucket running sums plus per-bucket offsets. The
    * census is ≤ |distinct values| rows — already a reduction — and
    * every stage partial-aggs before shuffling. */
  def statsKs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val census = Tables(spark, sfDir, "orders")
      .select(round($"o_totalprice" * 100).cast("long").as("cents"),
        ($"o_orderkey" % 2 === 0).as("is_a"))
      .groupBy($"cents")
      .agg(count(when($"is_a", 1)).as("da"),
        count(when(!$"is_a", 1)).as("db"))
    // the totals are the census sums, and the widest gap with the
    // least value at it is the max of (gap, −cents): the cumsum is
    // read once
    val tot = census.agg(sum($"da").as("na"), sum($"db").as("nb"))
    TwoPass.cumsum(census, "cents", Seq("da", "db"))
      .crossJoin(broadcast(tot))
      .groupBy($"na", $"nb")
      .agg(max(struct(abs($"cum_da" * $"nb" - $"cum_db" * $"na").as("gap"),
        (-$"cents").as("neg"))).as("m"))
      .select($"na", $"nb", $"m.gap".as("max_gap"),
        (-$"m.neg").as("at_cents"))
      .select($"na".as("n_a"), $"nb".as("n_b"),
        ($"max_gap".cast("double")
          / ($"na" * $"nb").cast("double")).as("ks_d"),
        ($"at_cents".cast("double") / 100.0).as("at_value"))
  }

  /** GINI COEFFICIENT of per-customer revenue — the inequality /
    * concentration summary ("do 20% of customers carry 80% of
    * revenue?") every marketplace health dashboard reports.
    *
    * Exactness: revenue quantizes to integer cents; the rank-weighted
    * sum Σ rank·x is computed on the VALUE census (one row per
    * distinct cents value) — a tied block at cumulative count c with
    * previous cumulative p contributes x·(c(c+1)−p(p+1))/2, an exact
    * integer identity, so no per-row rank assignment (and no rank
    * order ambiguity on ties) exists at all. Accumulated in
    * DECIMAL(38,0) (Σ rank·x ≈ n·max_rank·cents overflows int64 past
    * ~sf1), cast to double once, two IEEE divisions on identical
    * operands → bit-identical G = 2S/(nT) − (n+1)/n.
    *
    * Scale posture: customer-revenue census (one partial-agged pass
    * over orders), then the VALUE census (≤ distinct cents values),
    * then [[TwoPass.cumsum]] for the cumulative counts — no
    * corpus-wide window anywhere; the final fold is a single-row
    * aggregation. */
  def statsGini(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val custRev = Tables(spark, sfDir, "orders")
      .groupBy($"o_custkey")
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("cents"))
    val census = custRev.groupBy($"cents").agg(count(lit(1)).as("cnt"))
    val cum = TwoPass.cumsum(census, "cents", Seq("cnt"))
    // 2× block rank sum = c(c+1) − p(p+1) with p = c − cnt — keeping
    // the DOUBLED sum avoids any decimal division (2S replaces 2·S in
    // the gini numerator); all integer decimal arithmetic, exact
    val d38 = "decimal(38,0)"
    val blocks = cum.select($"cents", $"cnt", $"cum_cnt",
      (($"cum_cnt".cast(d38) * ($"cum_cnt" + 1)
        - ($"cum_cnt" - $"cnt").cast(d38) * ($"cum_cnt" - $"cnt" + 1))
        * $"cents").as("rank_x2"))
    blocks.agg(
      sum($"cnt").as("n_customers"),
      sum($"cents".cast(d38) * $"cnt").as("total"),
      sum($"rank_x2").as("s2"))
      .select($"n_customers",
        ($"total".cast(DoubleType) / 100.0).as("total_revenue"),
        ($"s2".cast(DoubleType)
          / ($"n_customers".cast(d38) * $"total").cast(DoubleType)
          - ($"n_customers" + 1).cast(DoubleType)
            / $"n_customers".cast(DoubleType)).as("gini"))
  }

  /** Two-sample MANN–WHITNEY U (rank-sum) test over order totals,
    * even- vs odd-orderkey split — the nonparametric location-shift
    * companion to [[statsKs]] (KS answers "any distributional
    * difference?", U answers "is one arm systematically larger?").
    *
    * Exactness: ranks are midranks on the pooled VALUE census —
    * a tied block spanning pooled positions (p, c] has midrank
    * (p+c+1)/2, so 2·ΣR_A = Σ da·(p+c+1) is an exact integer and U_A
    * = ΣR_A − n_A(n_A+1)/2 surfaces as an exact double. The normal
    * z uses the no-tie σ (documented; ties only shrink σ) — sqrt and
    * one division on identical operands, bit-identical.
    *
    * Scale posture: identical to [[statsKs]] — per-value census,
    * [[TwoPass.cumsum]] for pooled cumulative counts, single-row
    * fold. */
  def statsMannWhitney(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val census = Tables(spark, sfDir, "orders")
      .select(round($"o_totalprice" * 100).cast("long").as("cents"),
        ($"o_orderkey" % 2 === 0).as("is_a"))
      .groupBy($"cents")
      .agg(count(when($"is_a", 1)).as("da"),
        count(when(!$"is_a", 1)).as("db"))
      .withColumn("dn", $"da" + $"db")
    val cum = TwoPass.cumsum(census, "cents", Seq("da", "dn"))
    val agg = cum.agg(
      max($"cum_da").as("n_a"),
      (max($"cum_dn") - max($"cum_da")).as("n_b"),
      // 2·ΣR_A: block pooled span (cum_dn − dn, cum_dn]
      sum($"da" * (($"cum_dn" - $"dn") + $"cum_dn" + 1)).as("r2"))
    agg.select($"n_a", $"n_b",
      (($"r2" - $"n_a" * ($"n_a" + 1)).cast(DoubleType) / 2.0).as("u_a"))
      .withColumn("mu", $"n_a".cast(DoubleType) * $"n_b" / 2.0)
      .withColumn("z",
        ($"u_a" - $"mu") / sqrt($"n_a".cast(DoubleType) * $"n_b"
          * ($"n_a" + $"n_b" + 1) / 12.0))
  }

  /** BENFORD first-digit audit of order totals — the classic
    * fabricated-data screen: observed leading-digit frequencies vs
    * the log10(1+1/d) law, with per-digit deviation and the χ²
    * distance.
    *
    * Determinism: the leading digit comes from the DECIMAL STRING of
    * integer cents (same text on both engines — no float log10 whose
    * libm could flip a power-of-ten boundary); expected counts touch
    * libm log10 once per digit → every derived double is r4.
    *
    * Scale posture: one partial-agged census bounded by the digit
    * domain (9 rows); everything after is constant work. */
  def statsBenford(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val obs = Tables(spark, sfDir, "orders")
      .select(substring(round($"o_totalprice" * 100).cast("long")
        .cast(StringType), 1, 1).cast("int").as("digit"))
      .groupBy($"digit").agg(count(lit(1)).as("observed"))
    val tot = obs.agg(sum($"observed").as("n"))
    // r4 only at the surface: chi2_term folds over the UNROUNDED
    // expected count (rounding the intermediate perturbs the term)
    val expRaw = $"n" * log10(lit(1.0) + lit(1.0) / $"digit")
    obs.crossJoin(broadcast(tot))
      .select($"digit", $"observed", Det.r4(expRaw).as("expected"),
        Det.r4(($"observed" - expRaw) * ($"observed" - expRaw)
          / expRaw).as("chi2_term"))
      .orderBy($"digit")
  }

  /** MUTUAL INFORMATION between order priority and order status — the
    * information-theoretic dependence summary on the same cell census
    * as [[statsChi2]] (χ² asks "independent?", MI answers "how many
    * bits does one column reveal about the other?").
    *
    * Determinism: cell/margin counts are exact longs; each cell's
    * p·log₂(p/(p_r·p_c)) term touches libm log once → the ~15-term
    * sum is r4 (the chi2 discipline).
    *
    * Scale posture: identical to [[statsChi2]] — domain-bounded cell
    * census, two tiny margin re-aggregations, single-row rollup. */
  def statsMutualInfo(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables(spark, sfDir, "orders")
      .groupBy($"o_orderpriority".as("r"), $"o_orderstatus".as("c"))
      .agg(count(lit(1)).as("obs"))
    val rowTot = cells.groupBy($"r").agg(sum($"obs").as("rt"))
    val colTot = cells.groupBy($"c").agg(sum($"obs").as("ct"))
    val n = cells.agg(sum($"obs").as("n"))
    cells.join(broadcast(rowTot), "r").join(broadcast(colTot), "c")
      .crossJoin(broadcast(n))
      .select((($"obs".cast(DoubleType) / $"n")
        * log2($"obs".cast(DoubleType) * $"n"
          / ($"rt".cast(DoubleType) * $"ct"))).as("term"),
        $"n")
      .agg(max($"n").as("n"), count(lit(1)).as("n_cells"),
        Det.r4(sum($"term")).as("mi_bits"))
  }

  /** WELCH'S t-TEST over order totals, even- vs odd-orderkey split —
    * the parametric companion to [[statsKs]]/[[statsMannWhitney]]
    * (unequal-variance means comparison, the A/B readout when the
    * metric is roughly symmetric).
    *
    * Exactness: prices quantize to integer cents; per-arm count and
    * Σcents are exact longs, Σcents² accumulates in DECIMAL(38,0)
    * (5e7-cent rows square to 2.5e15 — int64 dies within ~4k rows).
    * Means/variances/t/df derive from those exact sums through ONE
    * fixed double expression tree, identical in the SQL twin, so
    * every IEEE op sees bit-identical operands; t and the Welch–
    * Satterthwaite df surface under r4.
    *
    * Scale posture: a single partial-agged pass to ONE census row —
    * the 100 TB plan is the sf0.001 plan. */
  def statsTtest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val d38 = "decimal(38,0)"
    val c = Tables(spark, sfDir, "orders")
      .select(round($"o_totalprice" * 100).cast("long").as("cents"),
        ($"o_orderkey" % 2 === 0).as("is_a"))
      .agg(
        count(when($"is_a", 1)).as("na"),
        count(when(!$"is_a", 1)).as("nb"),
        sum(when($"is_a", $"cents")).as("sa"),
        sum(when(!$"is_a", $"cents")).as("sb"),
        sum(when($"is_a", $"cents".cast(d38) * $"cents")).as("ssa"),
        sum(when(!$"is_a", $"cents".cast(d38) * $"cents")).as("ssb"))
    val na = $"na".cast(DoubleType); val nb = $"nb".cast(DoubleType)
    val sa = $"sa".cast(DoubleType); val sb = $"sb".cast(DoubleType)
    val va = ($"ssa".cast(DoubleType) - sa * sa / na) / (na - 1)
    val vb = ($"ssb".cast(DoubleType) - sb * sb / nb) / (nb - 1)
    val sea = va / na; val seb = vb / nb
    val se2 = sea + seb
    c.select($"na".as("n_a"), $"nb".as("n_b"),
      (sa / na / 100.0).as("mean_a"),
      (sb / nb / 100.0).as("mean_b"),
      // t is scale-invariant — computed directly on the cents lattice
      Det.r4((sa / na - sb / nb) / sqrt(se2)).as("t_welch"),
      Det.r4(se2 * se2
        / (sea * sea / (na - 1) + seb * seb / (nb - 1))).as("df_welch"))
  }

  /** IQR-FENCE OUTLIER AUDIT per market segment — Tukey's 1.5·IQR
    * rule over customer balances: the robust univariate outlier
    * screen a data-quality gate runs before fitting anything. Q1/Q3
    * are exact interpolated percentiles (deterministic order
    * statistics — partitioning cannot move them); the fences and the
    * per-row comparisons happen on the engine's own percentile
    * values, and the REPORTED fences surface under r4 while the
    * counts are exact integers (a fence-straddling value would need
    * the two engines' interpolation to differ, which
    * q_agg_percentile pins as bit-equal).
    *
    * Scale posture: percentile is a single-pass sorted-merge
    * aggregate per segment (5-row domain); the outlier count is a
    * second pass joined against the broadcast 5-row fence table —
    * two scans, zero corpus-wide windows. */
  def statsIqrOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables(spark, sfDir, "customer")
      .select($"c_mktsegment", $"c_acctbal")
    val fences = cust.groupBy($"c_mktsegment")
      .agg(expr("percentile(c_acctbal, 0.25)").as("q1"),
        expr("percentile(c_acctbal, 0.75)").as("q3"))
      .select($"c_mktsegment".as("seg"), $"q1", $"q3",
        ($"q1" - ($"q3" - $"q1") * 1.5).as("lo"),
        ($"q3" + ($"q3" - $"q1") * 1.5).as("hi"))
    cust.join(broadcast(fences), $"c_mktsegment" === $"seg")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"),
        count(when($"c_acctbal" < $"lo" || $"c_acctbal" > $"hi", 1))
          .as("n_outliers"),
        Det.r4(max($"lo")).as("fence_lo"),
        Det.r4(max($"hi")).as("fence_hi"))
      .orderBy($"c_mktsegment")
  }

  /** SPEARMAN RANK CORRELATION between quantity and price — the
    * monotone-association readout that survives outliers and
    * nonlinearity (the robust companion to [[statsTtest]]'s means and
    * q_agg_corr's Pearson). Ranks are DOUBLED MIDRANKS
    * (2·cum − n + 1 on each variable's value census — integers, so
    * tie handling is exact and layout-free); Pearson on doubled ranks
    * equals Pearson on ranks (scale invariance). Moment sums are
    * exact (long / DECIMAL(38,0) for the squares — doubled ranks
    * square past int64 beyond ~sf2); rho derives through one fixed
    * double tree, r4.
    *
    * Scale posture: ONE corpus scan folds to the joint (quantity,
    * cents) PAIR census; both marginal censuses derive from it (no
    * second scan), TwoPass bucketed cumsums rank the
    * marginals (no corpus-wide window anywhere), and the rank joins +
    * count-weighted moment pass all run at census scale — corpus size
    * enters only through the first aggregation. */
  def statsSpearman(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val d38 = "decimal(38,0)"
    val pairs = Tables(spark, sfDir, "lineitem")
      .select($"l_quantity".cast("long").as("qv"),
        round($"l_extendedprice" * 100).cast("long").as("pv"))
      .groupBy($"qv", $"pv").agg(count(lit(1)).as("np"))
    def doubledRanks(census: DataFrame, c: String,
        out: String): DataFrame =
      TwoPass.cumsum(census, c, Seq("n"))
        .select(col(c), (col("cum_n") * 2 - col("n") + 1).as(out))
    val qr = doubledRanks(
      pairs.groupBy($"qv").agg(sum($"np").as("n")), "qv", "drq") // ≤50
    val pr = doubledRanks(
      pairs.groupBy($"pv").agg(sum($"np").as("n")), "pv", "drp")
    val m = pairs
      .join(broadcast(qr), "qv")
      .join(pr, "pv")
      .agg(sum($"np").as("n"),
        sum($"np" * $"drq").as("sq"), sum($"np" * $"drp").as("sp"),
        sum($"np" * ($"drq".cast(d38) * $"drq")).as("sqq"),
        sum($"np" * ($"drp".cast(d38) * $"drp")).as("spp"),
        sum($"np" * ($"drq".cast(d38) * $"drp")).as("sqp"))
    val nd = $"n".cast(DoubleType)
    val (sq, sp) = ($"sq".cast(DoubleType), $"sp".cast(DoubleType))
    val (sqq, spp, sqp) = ($"sqq".cast(DoubleType),
      $"spp".cast(DoubleType), $"sqp".cast(DoubleType))
    m.select($"n",
      Det.r4((nd * sqp - sq * sp)
        / sqrt((nd * sqq - sq * sq) * (nd * spp - sp * sp)))
        .as("rho_spearman"))
  }

  /** KENDALL'S τ-b rank correlation between quantity and price band —
    * the concordance twin of [[statsSpearman]] (τ is the metric to
    * report when the pair count, not the rank difference, is the
    * story; it is also the one robust to the heavy ties a banded
    * domain produces). Computed WITHOUT any pair join: census the
    * corpus onto the bounded (quantity, price-band) grid, densify the
    * grid (distinct quantities × the band range — generator explode,
    * not a data crossJoin), and count dominances with three KEYED
    * windows over the ≤|Q|·|B|-cell grid:
    * cumx(x,y) = Σ_{x'<x} n(x',y), then concordant-below
    * Σ_{y'<y} cumx and discordant-above Σ_{y'>y} cumx. Every pair of
    * cells with x1<x2, y1≠y2 is counted exactly once, at the
    * larger-x cell. Ties enter only the τ-b denominator through the
    * marginal censuses: τ-b = (C−D) / √((n0−n1)(n0−n2)) with
    * n0 = n(n−1)/2, n1/n2 = Σ t(t−1)/2 over x/y marginals.
    *
    * Determinism: every count folds in DECIMAL(38,0) (pair counts
    * square the corpus size — long wraps at ~10⁹·10⁹ while DuckDB's
    * HUGEINT doesn't); the only float ops are one √ (IEEE correctly
    * rounded — identical everywhere) and one divide, under r4.
    *
    * Scale posture: the census partial-aggs map-side onto the
    * value-domain grid (quantity ≤ 50 distinct, band range bounded by
    * the price domain — never corpus-sized); the windows partition by
    * grid axes, so no partition exceeds the axis domain; the fold is
    * one scalar agg. The corpus is scanned twice (cell census +
    * marginals derive from it), shuffled never. */
  def statsKendall(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    statsKendallOn(Tables(spark, sfDir, "lineitem")
      .select($"l_quantity".cast("long").as("qv"),
        floor($"l_extendedprice" / 1000).cast("long").as("pb")))
  }

  /** Grid core over an arbitrary (qv, pb) long-pair relation — the
    * monotone-fixture probe in OpsRound16Spec drives the SAME plan on
    * constructed inputs (all-concordant ⇒ τ = 1, reversed ⇒ −1). */
  private[graft] def statsKendallOn(pts: DataFrame): DataFrame = {
    val spark = pts.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val d38 = DecimalType(38, 0)
    val cells = pts
      .groupBy($"qv", $"pb").agg(count(lit(1)).as("n"))
    val bounds = cells.agg(min($"pb").as("lo"), max($"pb").as("hi"))
    val grid = cells.select($"qv").distinct()
      .crossJoin(broadcast(bounds))
      .select($"qv", explode(sequence($"lo", $"hi")).as("pb"))
    val dense = grid.join(cells, Seq("qv", "pb"), "left")
      .select($"qv", $"pb", coalesce($"n", lit(0L)).as("n"))
    val wx = Window.partitionBy($"pb").orderBy($"qv")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wyBelow = Window.partitionBy($"qv").orderBy($"pb")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wyAbove = Window.partitionBy($"qv").orderBy($"pb")
      .rowsBetween(1, Window.unboundedFollowing)
    val dom = dense
      .withColumn("cumx", coalesce(sum($"n").over(wx), lit(0L)))
      .withColumn("below", coalesce(sum($"cumx").over(wyBelow), lit(0L)))
      .withColumn("above", coalesce(sum($"cumx").over(wyAbove), lit(0L)))
      .agg(sum($"n").as("n"),
        sum($"n".cast(d38) * $"below").as("c"),
        sum($"n".cast(d38) * $"above").as("d"))
    // ties kept DOUBLED (Σ t(t−1), not /2) so no division ever touches
    // a decimal: τ-b = 2(C−D) / √((n(n−1) − Σtx(tx−1))(n(n−1) − Σty(ty−1)))
    def tieSum(marg: DataFrame): DataFrame = marg
      .agg(sum($"t".cast(d38) * ($"t" - 1)).cast(d38).as("ties"))
    val tx = tieSum(cells.groupBy($"qv").agg(sum($"n").as("t")))
    val ty = tieSum(cells.groupBy($"pb").agg(sum($"n").as("t")))
    dom
      .crossJoin(broadcast(tx.select($"ties".as("n1"))))
      .crossJoin(broadcast(ty.select($"ties".as("n2"))))
      .select($"n".cast("long").as("n"),
        $"c".cast("long").as("n_concordant"),
        $"d".cast("long").as("n_discordant"),
        Det.r4(lit(2.0) * ($"c" - $"d").cast(DoubleType)
          / sqrt((($"n".cast(d38) * ($"n" - 1)).cast(d38) - $"n1")
              .cast(DoubleType)
            * (($"n".cast(d38) * ($"n" - 1)).cast(d38) - $"n2")
              .cast(DoubleType))).as("tau_b"))
  }

  /** KRUSKAL–WALLIS H (rank-based one-way ANOVA) of quantity across
    * the three return-flag populations — the k-group generalization
    * of [[statsMannWhitney]], the distribution-free "did these groups
    * come from the same population?" gate run before trusting a
    * per-group difference. Same pooled-census discipline: one value
    * census with per-group counts, ONE [[TwoPass.cumsum]] for the
    * pooled doubled midranks (2·cum − n + 1 — integer, tie-exact),
    * per-group doubled rank sums Σ n_g·dr folded exactly in
    * DECIMAL(38,0), then H = 12/(n(n+1))·Σ D_g²/(4n_g) − 3(n+1) and
    * the tie correction 1 − Σ(t³−t)/(n³−n) as ONE fixed double tree
    * (r4) — group sums are exact, so both engines divide identical
    * doubles.
    *
    * Scale posture: census partial-aggs onto the ≤50-value quantity
    * domain; the cumsum is domain-bounded; the fold is a scalar agg.
    * Corpus scanned once, shuffled never beyond the census. */
  def statsKruskal(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val d38 = DecimalType(38, 0)
    val census = Tables(spark, sfDir, "lineitem")
      .select($"l_quantity".cast("long").as("qv"), $"l_returnflag")
      .groupBy($"qv")
      .agg(count(when($"l_returnflag" === "A", 1)).as("na"),
        count(when($"l_returnflag" === "N", 1)).as("nn"),
        count(when($"l_returnflag" === "R", 1)).as("nr"))
      .withColumn("dn", $"na" + $"nn" + $"nr")
    val agg = TwoPass.cumsum(census, "qv", Seq("dn"))
      .withColumn("dr", lit(2L) * $"cum_dn" - $"dn" + 1)
      .agg(sum($"na").cast("long").as("n_a"),
        sum($"nn").cast("long").as("n_n"),
        sum($"nr").cast("long").as("n_r"),
        sum($"na".cast(d38) * $"dr").as("sa"),
        sum($"nn".cast(d38) * $"dr").as("sn"),
        sum($"nr".cast(d38) * $"dr").as("sr"),
        sum($"dn".cast(d38) * $"dn" * $"dn" - $"dn").as("tie3"))
    val n = ($"n_a" + $"n_n" + $"n_r").cast(DoubleType)
    def term(s: Column, ng: Column): Column =
      s.cast(DoubleType) * s.cast(DoubleType) /
        (lit(4.0) * ng.cast(DoubleType))
    val h = lit(12.0) / (n * (n + 1)) *
      (term($"sa", $"n_a") + term($"sn", $"n_n") + term($"sr", $"n_r")) -
      lit(3.0) * (n + 1)
    val tieCorr = lit(1.0) - $"tie3".cast(DoubleType) / (n * n * n - n)
    agg.select($"n_a", $"n_n", $"n_r",
      Det.r4(h).as("h"), Det.r4(h / tieCorr).as("h_tie_adj"))
  }

  /** BROWN–FORSYTHE test (Levene with group MEDIANS) for variance
    * homogeneity of quantity across the return-flag groups — the
    * robust "can I even pool these variances?" gate run before any
    * pooled-variance inference ([[statsTtest]] and ANOVA both assume
    * it). Group medians come EXACTLY off the domain census (doubled
    * two-middle-values form, so even counts never divide); absolute
    * deviations Z = |2x − med2| are pure integers, their group sums
    * exact, and W's between/within sums-of-squares expand to one
    * fixed double tree over those integers (the doubling cancels in
    * the ratio), r4.
    *
    * Scale posture: one census partial-agg onto the ≤50-value
    * quantity domain per flag; medians from domain-bounded keyed
    * cumsum windows; one scalar fold. No row-level second pass — the
    * census IS the data. */
  def statsLevene(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val d38 = DecimalType(38, 0)
    val census = Tables(spark, sfDir, "lineitem")
      .select($"l_returnflag".as("flag"), $"l_quantity".cast("long").as("qv"))
      .groupBy($"flag", $"qv").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"flag").orderBy($"qv")
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = census.groupBy($"flag").agg(sum($"n").as("n_g"))
    val cum = census.join(broadcast(tot), "flag")
      .withColumn("cum", sum($"n").over(w))
    // doubled median = value at ⌈n/2⌉ + value at ⌊n/2⌋+1 (equal when odd)
    val med = cum.groupBy($"flag")
      .agg(min(when($"cum" * 2 >= $"n_g", $"qv")).as("m_lo"),
        min(when($"cum" * 2 > $"n_g", $"qv")).as("m_hi"))
      .select($"flag", ($"m_lo" + $"m_hi").as("med2"))
    val z = census.join(broadcast(med), "flag")
      .select($"flag", $"n", abs(lit(2) * $"qv" - $"med2").as("z"))
    // per-flag sums pivoted into ONE row so every double op below is a
    // FIXED tree over exact integers (a sum() over the 3 group rows
    // would add doubles in engine-chosen order — the kruskal rule)
    def forFlag(f: String, c: Column): Column = sum(when($"flag" === f, c))
    val agg = z.agg(
      forFlag("A", $"n").cast("long").as("na"),
      forFlag("N", $"n").cast("long").as("nn"),
      forFlag("R", $"n").cast("long").as("nr"),
      forFlag("A", $"n" * $"z").cast("long").as("sza"),
      forFlag("N", $"n" * $"z").cast("long").as("szn"),
      forFlag("R", $"n" * $"z").cast("long").as("szr"),
      forFlag("A", $"n".cast(d38) * $"z" * $"z").as("szza"),
      forFlag("N", $"n".cast(d38) * $"z" * $"z").as("szzn"),
      forFlag("R", $"n".cast(d38) * $"z" * $"z").as("szzr"))
    // between = Σ sz²/n − (Σsz)²/N ; within = Σ(szz − sz²/n);
    // W = ((N−k)/(k−1)) · between / within — one double tree
    def d(c: Column): Column = c.cast(DoubleType)
    val b1 = d($"sza") * d($"sza") / d($"na") +
      d($"szn") * d($"szn") / d($"nn") + d($"szr") * d($"szr") / d($"nr")
    val within = (d($"szza") - d($"sza") * d($"sza") / d($"na")) +
      (d($"szzn") - d($"szn") * d($"szn") / d($"nn")) +
      (d($"szzr") - d($"szr") * d($"szr") / d($"nr"))
    val szt = d($"sza") + d($"szn") + d($"szr")
    val n = d($"na") + d($"nn") + d($"nr")
    agg.select(($"na" + $"nn" + $"nr").as("n"), lit(3).as("k"),
      Det.r4(((n - 3.0) / 2.0) * ((b1 - szt * szt / n) / within))
        .as("w_bf"))
  }

  /** COHEN'S κ agreement between two independent curation gates —
    * the linear classifier's `score_int > 0` label and the Gopher
    * word-count rule (token count ∈ [20, 90]) — the chance-corrected
    * inter-rater statistic a pipeline reports before treating two
    * cheap gates as redundant (raw agreement flatters whenever both
    * gates mostly say "keep"). Full 2×2 census surfaced alongside
    * observed/expected agreement and κ.
    *
    * Determinism: both gates are row-local integer decisions; the
    * census is one fused conditional-count aggregate; po/pe/κ are one
    * fixed double tree over exact longs, r4.
    *
    * Scale posture: scan-speed inference, ONE partial-agged scalar
    * agg — a 4-long record per partition crosses the wire. */
  def statsCohensKappa(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val agg = classifierScores(spark, sfDir)
      .select(($"score_int" > 0).as("a"),
        ($"n_tokens" >= 20 && $"n_tokens" <= 90).as("b"))
      .agg(count(when($"a" && $"b", 1)).cast("long").as("n11"),
        count(when($"a" && !$"b", 1)).cast("long").as("n10"),
        count(when(!$"a" && $"b", 1)).cast("long").as("n01"),
        count(when(!$"a" && !$"b", 1)).cast("long").as("n00"))
    val n = ($"n11" + $"n10" + $"n01" + $"n00").cast(DoubleType)
    val po = ($"n11" + $"n00").cast(DoubleType) / n
    val pe = (($"n11" + $"n10").cast(DoubleType)
        * ($"n11" + $"n01").cast(DoubleType)
      + ($"n01" + $"n00").cast(DoubleType)
        * ($"n10" + $"n00").cast(DoubleType)) / (n * n)
    agg.select($"n11", $"n10", $"n01", $"n00",
      Det.r4(po).as("po"), Det.r4(pe).as("pe"),
      Det.r4((po - pe) / (lit(1.0) - pe)).as("kappa"))
  }

  /** HERFINDAHL–HIRSCHMAN INDEX of revenue concentration across
    * customer nations — the market-concentration census (10 000 ·
    * Σ share² in the antitrust convention; 1/HHI is the "effective
    * number of markets"). Per-nation revenue is an exact decimal sum;
    * HHI = Σv² / (Σv)² needs NO share division per group — both
    * reductions fold over the ≤25-row nation census in one final agg
    * (decimal squares, so the 25-row fold is order-free), with one
    * double division at the end, r4.
    *
    * Scale posture: fact join shuffles once on custkey, census is
    * nation-domain-bounded; no crossJoin, no window. */
  def statsHhi(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val custNation = Tables(spark, sfDir, "customer")
      .join(broadcast(Tables(spark, sfDir, "nation")
        .select($"n_nationkey", $"n_name")),
        $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"n_name")
    // per-nation revenue folded to EXACT integer cents (a decimal²
    // would overflow precision 38 at scale; long cents square exactly
    // inside DECIMAL(38,0))
    val census = Tables(spark, sfDir, "orders")
      .select($"o_custkey", round($"o_totalprice" * 100).cast("long")
        .as("cents"))
      .join(custNation, $"o_custkey" === $"c_custkey")
      .groupBy($"n_name")
      .agg(sum($"cents").as("v"))
    census
      .agg(count(lit(1)).as("n_groups"),
        sum($"v".cast("decimal(38,0)") * $"v").as("s2"),
        sum($"v").as("s1"))
      .select($"n_groups",
        Det.r4(lit(10000.0) * $"s2".cast(DoubleType)
          / ($"s1".cast(DoubleType) * $"s1".cast(DoubleType)))
          .as("hhi"),
        Det.r4($"s1".cast(DoubleType) * $"s1".cast(DoubleType)
          / $"s2".cast(DoubleType)).as("effective_n"))
  }

  /** SKEWNESS / EXCESS KURTOSIS per return flag from EXACT integer
    * moment sums — built-in `skewness`/`kurtosis` aggregates differ
    * across engines in bias correction (Spark: population moments;
    * DuckDB: sample-corrected), so the engine-agnostic form sums
    * Σq¹..Σq⁴ exactly (q ≤ 50 ⇒ Σq⁴ ≤ 6.25e6·rows — int64 safe past
    * sf100) and derives population skew/kurtosis through ONE fixed
    * double tree, r4. The same technique is how any cross-engine
    * metric contract should pin higher moments.
    *
    * Scale posture: one partial-agged hash agg, 3-row flag domain. */
  def statsMoments(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val q = $"l_quantity".cast("long")
    val m = Tables(spark, sfDir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), sum(q).as("m1"),
        sum(q * q).as("m2"), sum(q * q * q).as("m3"),
        sum(q * q * q * q).as("m4"))
    val nd = $"n".cast(DoubleType)
    val mu = $"m1".cast(DoubleType) / nd
    val e2 = $"m2".cast(DoubleType) / nd
    val e3 = $"m3".cast(DoubleType) / nd
    val e4 = $"m4".cast(DoubleType) / nd
    val v = e2 - mu * mu
    m.select($"l_returnflag", $"n",
      Det.r4(mu).as("mean_qty"),
      Det.r4(v).as("var_pop"),
      Det.r4((e3 - lit(3.0) * mu * e2 + lit(2.0) * mu * mu * mu)
        / (v * sqrt(v))).as("skew_pop"),
      Det.r4((e4 - lit(4.0) * mu * e3 + lit(6.0) * mu * mu * e2
        - lit(3.0) * mu * mu * mu * mu) / (v * v) - lit(3.0))
        .as("kurt_excess"))
      .orderBy($"l_returnflag")
  }

  /** CRAMÉR'S V — the EFFECT-SIZE companion to [[statsChi2]] (χ² says
    * "dependent", V says "how much" on a 0..1 scale comparable across
    * table shapes): V = √(χ² / (n · (min(r,c) − 1))) over the same
    * priority × status margin grid. The χ² fold runs UNROUNDED inside
    * (r4 only at the surface, like every derived statistic here); the
    * category counts come from the same grid.
    *
    * Scale posture: identical to χ² — one domain-bounded cell census,
    * two tiny margin re-aggregations, single-row rollup. */
  def statsCramersV(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables(spark, sfDir, "orders")
      .groupBy($"o_orderpriority".as("r"), $"o_orderstatus".as("c"))
      .agg(count(lit(1)).as("obs"))
    val rowTot = cells.groupBy($"r").agg(sum($"obs").cast("long").as("rt"))
    val colTot = cells.groupBy($"c").agg(sum($"obs").cast("long").as("ct"))
    val n = cells.agg(sum($"obs").cast("long").as("n"))
    val grid = rowTot.crossJoin(broadcast(colTot))
      .join(cells, Seq("r", "c"), "left")
      .crossJoin(broadcast(n))
      .select($"r", $"c", coalesce($"obs", lit(0L)).as("obs"), $"n",
        (($"rt" * $"ct").cast("double") / $"n").as("exp"))
    val agg = grid.agg(max($"n").as("n"),
      countDistinct($"r").as("nr"), countDistinct($"c").as("nc"),
      sum(($"obs" - $"exp") * ($"obs" - $"exp") / $"exp").as("chi2raw"))
    agg.select($"n", (($"nr" - 1) * ($"nc" - 1)).as("dof"),
      Det.r4($"chi2raw").as("chi2"),
      Det.r4(sqrt($"chi2raw"
        / ($"n" * (least($"nr", $"nc") - 1)).cast(DoubleType)))
        .as("cramers_v"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stats_cramers_v" -> statsCramersV,
    "q_stats_spearman" -> statsSpearman,
    "q_stats_kendall" -> statsKendall,
    "q_stats_kruskal" -> statsKruskal,
    "q_stats_cohens_kappa" -> statsCohensKappa,
    "q_stats_levene" -> statsLevene,
    "q_stats_hhi" -> statsHhi,
    "q_stats_moments" -> statsMoments,
    "q_stats_ttest" -> statsTtest,
    "q_stats_iqr_outliers" -> statsIqrOutliers,
    "q_anonymize_ldiversity" -> anonymizeLdiversity,
    "q_stats_gini" -> statsGini,
    "q_stats_mannwhitney" -> statsMannWhitney,
    "q_stats_benford" -> statsBenford,
    "q_stats_mutual_info" -> statsMutualInfo,
    "q_stats_ks" -> statsKs,
    "q_stats_chi2" -> statsChi2,
    "q_anonymize_kanon" -> anonymizeKanon,
    "q_profile_columns" -> profileColumns,
    "q_stats_drift_psi" -> statsDriftPsi,
    "q_classify_linear" -> classifyLinear,
    "q_stats_auc" -> statsAuc,
    "q_quality_lexicon" -> qualityLexicon,
    "q_fingerprint_incremental" -> fingerprintIncremental,
    "q_quality_constraints" -> qualityConstraints,
    "q_quality_gopher" -> qualityGopher,
    "q_table_fingerprint" -> tableFingerprint
  )
}
