package graft

import org.apache.spark.sql.functions._

/** Scale-growth harness (VERDICT r8 ask #1): derive corpora K× larger
  * than sf0.1 for the three tables the LLM-pipeline families consume
  * (documents / embeddings / events), run the heaviest dedup / ANN /
  * CC / text keys at each scale, and measure the growth exponent per
  * key — so the "Σdf² candidate mass, not corpus²" and LSH-band
  * claims are MEASURED, not argued in scaladoc.
  *
  * Derivation design (the part a skeptical reader should check):
  * each replica r of the corpus must (a) preserve the ORIGINAL's
  * internal duplicate/neighbor structure exactly, so per-document
  * work stays constant as the corpus grows, and (b) not introduce
  * cross-replica near-duplicates, which would make the WORKLOAD
  * itself quadratic in K and say nothing about the engine.
  *
  *  - documents: replica r keeps the 100 most frequent tokens (the
  *    stop-token head, whose shingle df grows ~K× with the corpus —
  *    the realistic web-corpus shape the PPJoin prefix filter exists
  *    for) and suffixes every other token with `~r`. Tail shingles
  *    are replica-private (constant df); within a replica the text is
  *    an exact token-level isomorphism of the original, so every
  *    planted near-dup pair recurs once per replica — the true
  *    near-dup count grows K×, linearly.
  *  - embeddings: replica r multiplies each dimension by a
  *    deterministic ±1 pattern from hash(r, dim). A sign flip is an
  *    isometry — within-replica dot products (hence all cosines, ANN
  *    structure, cluster geometry) are EXACTLY preserved — while
  *    cross-replica similarity collapses toward 0 (random sign
  *    agreement), so no new near-neighbors appear.
  *  - events: replica r offsets user_id / event_id and keeps
  *    timestamps, so per-user session structure recurs per replica.
  *
  * Non-scaled tables (lineitem &c.) are symlinked from the source
  * corpus; keys that consume only those (hierarchy, spatial) are out
  * of scope here — their inputs do not grow with K by construction.
  */
object ScaleGen {
  /** Replica id stride: far above any source id so replicas never
    * collide; kept stable so re-generation is bit-identical. */
  val IdStride = 10000000L

  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val k = if (args.length > 1) args(1).toInt else 10
    val out = if (args.length > 2) args(2) else s"/tmp/graft_scale/x$k"
    val spark = Session.local(32)
    val cpus = spark.conf.get("spark.sql.shuffle.partitions").toInt
    import spark.implicits._

    val outPath = java.nio.file.Paths.get(out)
    java.nio.file.Files.createDirectories(outPath)
    // non-scaled tables ride along as symlinks (same bytes, no copy)
    val scaled = Set("documents", "embeddings", "events")
    Tables.names.filterNot(scaled).foreach { t =>
      val link = outPath.resolve(s"$t.parquet")
      java.nio.file.Files.deleteIfExists(link)
      java.nio.file.Files.createSymbolicLink(
        link, java.nio.file.Paths.get(s"$src/$t.parquet"))
    }
    val reps = broadcast(spark.range(k).select($"id".cast("int").as("r")))

    // documents: head tokens shared (df grows with corpus), tail
    // tokens replica-suffixed (df constant). Bounded collect: the 100
    // head tokens only.
    val docs = Tables(spark, src, "documents")
    val headTokens = docs
      .select(explode(split($"text", " ")).as("t"))
      .groupBy($"t").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"t").limit(100)
      .select($"t").as[String].collect().toSeq.sorted
    val headLit = typedlit(headTokens)
    docs.crossJoin(reps)
      .select(
        ($"doc_id" + $"r".cast("long") * IdStride).as("doc_id"),
        when($"r" === 0, $"text").otherwise(
          array_join(transform(split($"text", " "),
            t => when(array_contains(headLit, t), t)
              .otherwise(concat(t, lit("~"), $"r"))), " ")).as("text"),
        $"lang", $"source")
      .withColumn("n_chars", length($"text").cast("long"))
      .repartition(cpus)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    // embeddings: deterministic per-replica ±1 isometry
    Tables(spark, src, "embeddings").crossJoin(reps)
      .select(
        ($"vec_id" + $"r".cast("long") * IdStride).as("vec_id"),
        transform($"embedding", (x, i) =>
          when($"r" === 0, x).otherwise(
            when(pmod(hash($"r", i), lit(2)) === 0, x).otherwise(-x))
        ).cast("array<float>").as("embedding"),
        $"label")
      .repartition(cpus)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // events: id-offset replicas, identical per-user timelines
    Tables(spark, src, "events").crossJoin(reps)
      .select(
        ($"event_id" + $"r".cast("long") * IdStride).as("event_id"),
        $"ts",
        ($"user_id" + $"r".cast("long") * IdStride).as("user_id"),
        $"event_type", $"value", $"props")
      .repartition(cpus)
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    val counts = scaled.toSeq.sorted.map { t =>
      t -> spark.read.parquet(s"$out/$t.parquet").count()
    }
    println(s"# scalegen k=$k out=$out " +
      counts.map { case (t, n) => s"$t=$n" }.mkString(" "))
    spark.stop()
  }
}

/** Runs the heavy dedup/ANN/CC/text keys over a list of corpora and
  * writes a growth artifact: per-corpus per-key seconds plus the
  * fitted growth exponent α (t ∝ N^α between the smallest and largest
  * corpus, N = the consumed table's row count). α ≈ 1 is the linear
  * scale-out story every scaladoc claims; α ≈ 2 is the all-pairs
  * failure mode; the brute-force twins (q_dedup_embedding,
  * q_sim_cosine_topk is single-query linear) are included precisely
  * because their α SHOULD be ~2 / ~1 — they calibrate the
  * measurement. Each key's time is its [[Bench.floor]]; a key's first
  * rep builds the memo artifacts it reads, so a filtered run
  * (`SPARK_GRAFT_SCALE_KEYS`) times the same reuse state a full one
  * does, with no trigger list to keep in step with the memo chains.
  *
  * Usage: runMain graft.ScaleBench <outJson> <label=dir> [label=dir]…
  */
object ScaleBench {
  /** key -> table whose row count is the N in the α fit */
  val keys: Seq[(String, String)] = Seq(
    "q_dedup_exact" -> "documents",
    "q_dedup_ngram_jaccard" -> "documents",
    "q_dedup_ngram_capped" -> "documents",
    "q_dedup_jaccard_prefix" -> "documents",
    "q_dedup_containment" -> "documents",
    "q_dedup_winnow" -> "documents",
    "q_dedup_edit" -> "documents",
    "q_dedup_minhash" -> "documents",
    "q_dedup_simhash" -> "documents",
    "q_text_novelty" -> "documents",
    "q_dedup_cluster" -> "documents",
    "q_split_leakage_safe" -> "documents",
    "q_dedup_embedding" -> "embeddings",
    "q_dedup_embedding_ann" -> "embeddings",
    "q_dedup_semantic_keep" -> "embeddings",
    "q_sim_cosine_topk" -> "embeddings",
    "q_sim_ann_ivf" -> "embeddings",
    "q_knn_graph_bucketed" -> "embeddings",
    // graph family (VERDICT r9 ask #3): all consume the kNN graph,
    // whose embedding input grows with the derived corpora — the
    // level-synchronous/bounded-round claims get measured α here
    "q_graph_pagerank" -> "embeddings",
    "q_graph_bfs" -> "embeddings",
    "q_graph_label_prop" -> "embeddings",
    "q_graph_triangles" -> "embeddings",
    "q_graph_clustering" -> "embeddings",
    "q_graph_degree_stats" -> "embeddings",
    "q_sessionize_gap" -> "events",
    "q_events_funnel_windowed" -> "events",
    // round-10 wave A-D keys whose inputs grow in the derived corpora:
    // the perplexity-join terciles, the multi-distinct hashing census,
    // the banded image-hash miner, the peel cascade + hub-weighted
    // link prediction on the kNN graph, the hour-grid interpolation
    "q_quality_ccnet" -> "documents",
    "q_text_hashing_trick" -> "documents",
    "q_dedup_phash_hamming" -> "documents",
    "q_graph_kcore" -> "embeddings",
    "q_graph_adamic_adar" -> "embeddings",
    "q_ts_interpolate" -> "events",
    // round-11 (VERDICT r10 ask #4): the remaining growing-input keys
    // ≥1 s at sf0.1 that had no measured α — the screened containment
    // prefix join (the round-10 scale-weak key, now behind the
    // df ≤ max(64, 1%·N) index screen), the composite-key crossfield
    // miner, and degree assortativity over the kNN graph
    "q_dedup_containment_prefix" -> "documents",
    "q_dedup_crossfield" -> "documents",
    "q_graph_assortativity" -> "embeddings")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleBench <outJson> <label=dir>…")
    val outJson = args(0)
    val corpora = args.drop(1).toSeq.map { a =>
      val Array(l, d) = a.split("=", 2); (l, d)
    }
    // optional key filter (VERDICT r11 #3: probe the df-capped miners
    // one rung past x10 without paying the full 35-key sweep at x30)
    val keys = sys.env.get("SPARK_GRAFT_SCALE_KEYS") match {
      case Some(f) =>
        val want = f.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val sel = ScaleBench.keys.filter { case (k, _) => want(k) }
        require(sel.map(_._1).toSet == want,
          s"unknown keys: ${(want -- sel.map(_._1)).mkString(",")}")
        sel
      case None => ScaleBench.keys
    }
    val spark = Session.local(32)

    // JIT/codegen warmup on the smallest SF, untimed (Bench protocol)
    val w = "/root/testdata/sf0.001"
    keys.foreach { case (k, _) => Bench.rep(spark, SparkEntry.queries(k), w) }

    val perCorpus = corpora.map { case (label, dir) =>
      val nRows = Seq("documents", "embeddings", "events")
        .map(t => t -> Tables(spark, dir, t).count()).toMap
      // no memo phase: a key's first rep builds the artifacts it reads
      // and its floor discards that rep (Bench scaladoc); memo_sec is
      // the sum of this corpus's builds — itself a growth number
      val memoBuilds = graft.ops.Memo.trackBuilds()
      val times = keys.map { case (k, fam) =>
        val sec = Bench.floor(spark, SparkEntry.queries(k), dir)._1
        println(f"# scalebench $label $k $sec%.2f s")
        (k, fam, sec)
      }
      // per-artifact decomposition at THIS corpus (VERDICT r11 #7):
      // cache hits record nothing, and the warmup's builds are not
      // this corpus's
      val builds = memoBuilds()
      builds.foreach { case (kind, v) =>
        println(f"# scalebench $label memo build $kind $v%.2f s")
      }
      (label, dir, nRows, builds.map(_._2).sum, times)
    }

    val first = perCorpus.head
    val last = perCorpus.last
    val growth = keys.map { case (k, fam) =>
      val t1 = first._5.find(_._1 == k).get._3
      val tK = last._5.find(_._1 == k).get._3
      val n1 = first._3(fam).toDouble
      val nK = last._3(fam).toDouble
      val alpha =
        if (t1 > 0 && tK > 0 && nK > n1)
          math.log(tK / t1) / math.log(nK / n1)
        else Double.NaN
      (k, fam, nK / n1, if (t1 > 0) tK / t1 else Double.NaN, alpha)
    }

    def q(s: String) = "\"" + s + "\""
    val corpusJson = perCorpus.map { case (label, dir, n, memoSec, times) =>
      val qs = times.map { case (k, _, s) => f"${q(k)}:$s%.3f" }
        .mkString("{", ",", "}")
      f"""{"label":${q(label)},"dir":${q(dir)},"n_documents":${n("documents")},"n_embeddings":${n("embeddings")},"n_events":${n("events")},"memo_sec":$memoSec%.3f,"queries":$qs}"""
    }.mkString("[", ",", "]")
    val growthJson = growth.map { case (k, fam, nr, tr, a) =>
      val aS = if (a.isNaN) "null" else f"$a%.3f"
      val tS = if (tr.isNaN) "null" else f"$tr%.3f"
      f"""${q(k)}:{"family":${q(fam)},"n_ratio":$nr%.1f,"t_ratio":$tS,"alpha":$aS}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"scale_growth","corpora":$corpusJson,"growth":$growthJson}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    growth.foreach { case (k, fam, nr, tr, a) =>
      println(f"# growth $k%-28s $fam%-10s n_ratio=$nr%5.1f t_ratio=${tr}%7.2f alpha=${a}%5.2f")
    }
    spark.stop()
  }
}
