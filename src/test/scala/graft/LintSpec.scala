package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: driver-side materialization is the one scale-killer a
  * plan inspection can miss (it is invisible in `.explain`), so every
  * `.collect()`-family call in ENGINE code must be on the whitelist
  * below — each entry is a bounded artifact, not a dataflow edge. A
  * new operator that quietly collects an unbounded intermediate fails
  * this suite with the offending file:line (VERDICT r8 ask #7).
  *
  * Round-11 (VERDICT r10 ask #5): entries are pinned to the
  * ENCLOSING SYMBOL, not a per-file count — a count-only whitelist
  * let a NEW unbounded collect hide behind a removed old one, and its
  * scaladoc line numbers went stale silently. Each whitelisted
  * (file, nearest preceding `def`) pair carries the number of allowed
  * sites inside that def; the suite requires the observed site map to
  * EQUAL the declared one, so both a new site (anywhere) and a stale
  * entry (site removed or def renamed) fail with the exact location.
  *
  * Why each site is bounded:
  *  - LlmOps.dedupEdit — ONE max-doc-length scalar (banded-DP width).
  *  - LlmOps.assign — 16 k-means centroid rows per Lloyd round.
  *  - LlmOps.collectCb / pqCodebook — IVF centroids / 128-row PQ
  *    codebook (broadcast model state).
  *  - LlmOps.bpeMerges / bpeEncode — BPE distinct-pair head and the
  *    ≤8-row merge table.
  *  - LlmOps.graphKcore — ONE min-degree scalar: the k-core
  *    convergence guard (a 7th peel must remove nothing).
  *  - Eval.simRerankMmr — the 20-candidate MMR pool; MMR selection is
  *    sequential by definition.
  *  - Sources.deleteCompact — flagged file-group ids, O(file groups),
  *    the same driver-side planning every table-format compactor does.
  *
  * Harness files (measurement/CLI, not engine dataflow) are exempt by
  * name: Omits (omit measurements), Query (CLI printer, limit-bounded),
  * Scale (ScaleGen's 100-row head-token collect). The oracle twins
  * (graft/oracle) contain SQL strings, not Spark calls.
  *
  * Session policy: every main builds its session through
  * `Session.local`, so `SparkSession.builder()` appears in `src/main`
  * only in Session.scala — a second builder is a copy of the policy
  * that drifts from it.
  *
  * Prefix-sum policy: a global running total goes through
  * `TwoPass.cumsum`, so `spark_partition_id` and `repartitionByRange`
  * appear in `src/main` only in TwoPass.scala — a second copy of the
  * two-pass trick is a second place for its exactness to break.
  *
  * Referee policy: a `private[graft]` def or val that no `src/main`
  * code reaches is a formulation only tests run — it belongs in
  * `src/test` (see `Referees`), not on the engine's surface.
  */
class LintSpec extends AnyFunSuite {

  private val root = {
    val f = new java.io.File("src/main/scala/graft")
    assert(f.isDirectory, s"source root not found from ${new java.io.File(".").getAbsolutePath}")
    f
  }

  /** (file name, enclosing def) -> allowed driver-materialization
    * sites inside that def. */
  private val whitelist: Map[(String, String), Int] = Map(
    ("LlmOps.scala", "dedupEdit") -> 1,
    // r13: 1-row d²-bounded Gram census (64·64 cells ≈ 32 KB, corpus-
    // size-independent) — the PQ-codebook class; feeds the driver-side
    // 64×64 power iteration
    ("LlmOps.scala", "embedPcaPower") -> 1,
    ("LlmOps.scala", "assign") -> 1,
    ("LlmOps.scala", "collectCb") -> 1,
    ("LlmOps.scala", "pqCodebook") -> 1,
    ("LlmOps.scala", "bpeMerges") -> 1,
    ("LlmOps.scala", "bpeEncode") -> 1,
    // r13: graphKcore's min-degree collect survives only on the
    // unconverged path (6 changing rounds) — the early-exit loop's
    // exact block counts subsume it everywhere else
    ("LlmOps.scala", "graphKcore") -> 1,
    // r13: 1-row max(id) — derives the doubling-round bound from the
    // div-10 edge law (digits of the max id), same bounded-threshold
    // class as dedupEdit's max(length)
    ("DesFiles.scala", "hierarchySrclistDoubling") -> 1,
    ("Eval.scala", "simRerankMmr") -> 1,
    ("Sources.scala", "deleteCompact") -> 1)

  private val harnessExempt = Set("Omits.scala", "Query.scala", "Scale.scala")

  // .rdd.collect / collectPartitions cover the RDD-level driver
  // primitives the pre-r11 lint banned outright (ADVICE r11: the
  // site-pinned rewrite silently dropped them — .rdd.collect() was
  // only caught incidentally via .collect(), collectPartitions( not
  // at all)
  private val patterns = Seq(".collect()", "collectAsList(",
    "toLocalIterator", "collectPartitions(", ".rdd.collect")

  private val defRe = """\bdef\s+([A-Za-z_][A-Za-z0-9_]*)""".r

  private def scalaFiles(dir: java.io.File): Seq[java.io.File] = {
    val (dirs, files) = dir.listFiles.toSeq.partition(_.isDirectory)
    files.filter(_.getName.endsWith(".scala")) ++ dirs.flatMap(scalaFiles)
  }

  test("no driver-side collect outside the site-pinned whitelist") {
    val observed =
      scala.collection.mutable.Map[(String, String), Int]().withDefaultValue(0)
    val locations =
      scala.collection.mutable.Map[(String, String), String]()
    scalaFiles(root).filterNot(f => harnessExempt(f.getName)).foreach { f =>
      val lines = java.nio.file.Files.readAllLines(f.toPath)
      (0 until lines.size()).foreach { i =>
        val code = lines.get(i).trim
        // strip doc/comment lines so prose mentioning collect() doesn't count
        val isComment = code.startsWith("*") || code.startsWith("//") ||
          code.startsWith("/*")
        if (!isComment && patterns.exists(code.contains)) {
          // nearest preceding `def` = the enclosing symbol the entry
          // is pinned to (local defs count: they are the closest
          // stable name and rename with their logic)
          val enclosing = (i to 0 by -1).iterator
            .flatMap(j => defRe.findFirstMatchIn(lines.get(j)))
            .map(_.group(1)).toSeq.headOption.getOrElse("<toplevel>")
          val key = (f.getName, enclosing)
          observed(key) += 1
          locations(key) = s"${f.getPath}:${i + 1}: $code"
        }
      }
    }
    val extra = observed.toSeq
      .filter { case (k, n) => n > whitelist.getOrElse(k, 0) }
      .map { case (k, n) =>
        s"$k: $n site(s), whitelist allows ${whitelist.getOrElse(k, 0)}" +
          s" — last at ${locations(k)}"
      }
    assert(extra.isEmpty,
      "driver-materialization outside the site-pinned whitelist:\n" +
        extra.mkString("\n"))
    // a whitelist entry larger than reality is stale — tighten it:
    // a retired site must leave the list so it can't mask a new one
    val stale = whitelist.toSeq
      .filter { case (k, n) => observed(k) < n }
      .map { case (k, n) => s"$k: allows $n but found ${observed(k)}" }
    assert(stale.isEmpty,
      "stale whitelist entries (site removed or enclosing def renamed):\n" +
        stale.mkString("\n"))
  }

  test("SparkSession.builder() appears in src/main only in Session.scala") {
    val sites = scalaFiles(new java.io.File("src/main")).flatMap { f =>
      val lines = java.nio.file.Files.readAllLines(f.toPath)
      (0 until lines.size()).collect {
        case i if lines.get(i).contains("SparkSession.builder()") =>
          s"${f.getPath}:${i + 1}"
      }
    }
    val outside = sites.filterNot(_.contains("/Session.scala:"))
    assert(outside.isEmpty,
      "build sessions through Session.local, not a new builder:\n" +
        outside.mkString("\n"))
    assert(sites.nonEmpty, "Session.scala no longer builds the session")
  }

  test("spark_partition_id and repartitionByRange appear in src/main" +
    " only in TwoPass.scala") {
    val sites = scalaFiles(new java.io.File("src/main")).flatMap { f =>
      val lines = java.nio.file.Files.readAllLines(f.toPath)
      (0 until lines.size()).collect {
        case i if Seq("spark_partition_id", "repartitionByRange")
            .exists(lines.get(i).contains) => s"${f.getPath}:${i + 1}"
      }
    }
    val outside = sites.filterNot(_.contains("/TwoPass.scala:"))
    assert(outside.isEmpty,
      "take global running totals through TwoPass.cumsum:\n" +
        outside.mkString("\n"))
    assert(sites.nonEmpty, "TwoPass.scala no longer range-partitions")
  }

  test("every private[graft] def/val in src/main is reached from src/main") {
    val declRe = ("""private\[graft\]\s+(?:final\s+)?(?:lazy\s+)?""" +
      """(?:def|val)\s+([A-Za-z_][A-Za-z0-9_]*)""").r
    // code lines only: doc and comment lines (and trailing // comments)
    // may mention a name without reaching it
    val code = scalaFiles(new java.io.File("src/main")).flatMap { f =>
      val lines = java.nio.file.Files.readAllLines(f.toPath)
      (0 until lines.size()).map(i => (f.getPath, i, lines.get(i)))
        .filterNot { case (_, _, l) =>
          val t = l.trim
          t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")
        }
        .map { case (p, i, l) => (p, i, l.replaceAll("//.*$", "")) }
    }
    val unreached = for {
      (p, i, l) <- code
      name <- declRe.findAllMatchIn(l).map(_.group(1))
      ref = s"\\b$name\\b".r
      if !code.exists { case (p2, j, l2) =>
        (p2 != p || j != i) && ref.findFirstIn(l2).isDefined }
    } yield s"$name ($p:${i + 1})"
    assert(unreached.isEmpty,
      "private[graft] members only tests reach — move them to src/test:\n" +
        unreached.mkString("\n"))
  }
}
