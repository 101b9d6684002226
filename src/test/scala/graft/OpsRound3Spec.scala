package graft

import org.apache.spark.sql.functions._

/** Round-3 additions: sequence packing differential + the fused
  * fixpoint-probe helper. */
class OpsRound3Spec extends SparkSpec {
  import spark.implicits._

  test("q_pack_chunks matches an in-driver concat-and-chunk replay") {
    val budget = 256
    val docs = Tables(spark, sfDir, "documents")
      .select($"doc_id", $"source", size(split($"text", " ")).as("n"))
      .as[(Long, String, Int)].collect()
    val expected = docs.groupBy(_._2).toSeq.flatMap { case (src, ds) =>
      var cum = 0L
      ds.sortBy(_._1).map { case (id, _, n) =>
        val start = cum
        cum += n
        ((src, start / budget), (id, n))
      }
    }.groupBy(_._1).map { case ((src, chunk), rows) =>
      (src, chunk, rows.size.toLong, rows.map(_._2._2.toLong).sum,
        rows.map(_._2._1).min, rows.map(_._2._1).max)
    }.toSet
    val got = graft.ops.LlmOps.packChunks(spark, sfDir)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(got === expected)
  }

  test("chunk ids are dense per source (no empty context windows)") {
    val chunks = graft.ops.LlmOps.packChunks(spark, sfDir)
      .groupBy($"source")
      .agg(min($"chunk").as("lo"), max($"chunk").as("hi"),
        countDistinct($"chunk").as("n"))
      .as[(String, Long, Long, Long)].collect()
    chunks.foreach { case (src, lo, hi, n) =>
      assert(lo === 0L, s"$src first chunk")
      // concat-and-chunk leaves no gap: every 256-token window that
      // starts inside the concatenated stream contains ≥1 doc start
      // only when docs are shorter than the budget; long docs may skip
      // ids, so assert coverage is monotone-bounded, not exact
      assert(n <= hi + 1, src)
    }
  }

  test("keep-latest dedup equals a driver-side max-per-key replay") {
    implicit val tsOrd: Ordering[java.sql.Timestamp] =
      Ordering.fromLessThan(_.before(_))
    val evs = Tables(spark, sfDir, "events")
      .select($"user_id", $"event_type", $"event_id", $"ts", $"value")
      .as[(Long, String, Long, java.sql.Timestamp, Double)].collect()
    val want = evs.groupBy(e => (e._1, e._2)).map { case (_, g) =>
      g.maxBy(e => (e._4, e._3))
    }.toSet
    val got = graft.ops.LlmOps.queries("q_dedup_latest")(spark, sfDir)
      .as[(Long, String, Long, java.sql.Timestamp, Double)].collect().toSet
    assert(got === want)
  }

  test("resolveUntil equals a driver-side stop walk on random hierarchies") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import graft.ops.DesFiles
    // acyclic by construction: each node's parent has a smaller id
    val hierGen = for {
      parents <- Gen.sequence[List[(Long, Long)], (Long, Long)](
        (1 to 19).toList.map(i =>
          Gen.choose(0L, (i - 1).toLong).map(p => (i.toLong, p))))
      keep <- Gen.listOfN(19, Gen.oneOf(true, false))
      stops <- Gen.listOfN(5, Gen.choose(0L, 19L))
    } yield (parents.zip(keep).collect { case (e, true) => e }, stops.distinct)
    val prop = Prop.forAll(hierGen) { case (edges, stops) =>
      val nodes = (0L to 19L).toDF("id")
      val edgesDf =
        if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("child", "parent")
        else edges.toDF("child", "parent")
      val stopDf =
        if (stops.isEmpty) Seq.empty[Long].toDF("id") else stops.toDF("id")
      val got = DesFiles.resolveUntil(nodes, edgesDf, stopDf, maxDepth = 25)
        .as[(Long, Long, Int)].collect().toSet
      val pmap = edges.toMap
      val stopSet = stops.toSet
      val want = (0L to 19L).map { n =>
        var cur = n
        var d = 0
        while (!stopSet.contains(cur) && pmap.contains(cur)) {
          cur = pmap(cur); d += 1
        }
        (n, cur, d)
      }.toSet
      got == want
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("vec_dot matches builtin null semantics on ragged and null-lane arrays") {
    graft.functions.VectorExpressions.register(spark)
    def builtinDot = aggregate(
      zip_with($"a", $"b", (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val rows = Seq(
      (Array(1f, 2f), Array(1f, 2f, 3f)), // ragged → both NULL
      (Array(1f, 2f), Array(3f, 4f))      // clean → both 11.0
    ).toDF("a", "b")
      .select(expr("vec_dot(a, b)").as("fast"), builtinDot.as("builtin"))
      .collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1), r.toString)
      if (!r.isNullAt(0)) assert(r.getDouble(0) === r.getDouble(1))
    }
    val nullLane = Seq((Seq(Option(1f), None), Seq(Option(1f), Option(2f))))
      .toDF("a", "b")
      .select(expr("vec_dot(a, b)").as("fast"), builtinDot.as("builtin"))
      .collect()(0)
    assert(nullLane.isNullAt(0) && nullLane.isNullAt(1))
  }

  test("truncateCountTrue counts flagged rows inside the checkpoint job and drops the flag") {
    val df = spark.range(10).toDF("id").withColumn("f", $"id" % 3 === 0)
    val (cp, n) = Tables.truncateCountTrue(df, "f")
    assert(n === 4) // ids 0, 3, 6, 9 (single local job — no retries)
    assert(cp.columns.toSeq === Seq("id"))
    assert(cp.count() === 10)
    // null flags do not count
    val dfn = spark.range(4).toDF("id")
      .withColumn("f", when($"id" === 0, lit(true)))
    val (_, m) = Tables.truncateCountTrue(dfn, "f")
    assert(m === 1)
  }

  test("q_win_topk_agg matches the window formulation row for row") {
    val viaAgg = graft.ops.Windows.winTopkAgg(spark, sfDir)
      .select($"l_suppkey".cast("long"), $"l_partkey".cast("long"),
        $"revenue", $"rk".cast("int"))
      .as[(Long, Long, Double, Int)].collect().toSeq
    val viaWin = graft.ops.Windows.winTopkPerGroup(spark, sfDir)
      .select($"l_suppkey".cast("long"), $"l_partkey".cast("long"),
        $"revenue", $"rk".cast("int"))
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(viaAgg === viaWin)
  }

  test("topk_agg runs as an ObjectHashAggregate with a map-side partial") {
    val plan = finalPlan(graft.ops.Windows.winTopkAgg(spark, sfDir))
    assert(plan.contains("ObjectHashAggregate"),
      s"expected ObjectHashAggregate in:\n$plan")
    assert(plan.contains("partial_topkagg"),
      s"expected a partial (map-side) topkagg in:\n$plan")
  }

  test("TopKAgg buffer keeps the k best with (score DESC, id ASC) ties and bounded size") {
    val buf = new graft.functions.TopKAgg.Buffer(3)
    // ties on score resolve to the smaller id; later offers can evict
    Seq((1.0, 10L), (5.0, 7L), (5.0, 3L), (2.0, 1L), (5.0, 9L), (7.0, 2L))
      .foreach { case (s, i) => buf.offer(s, i) }
    assert(buf.sortedDesc.toSeq === Seq((7.0, 2L), (5.0, 3L), (5.0, 7L)))
  }

  test("TopKAgg ordering is total under NaN and -0.0 (Spark DESC semantics)") {
    val buf = new graft.functions.TopKAgg.Buffer(2)
    // NaN ranks GREATEST (like ORDER BY score DESC in Spark); a
    // non-total > / == comparison would reject 2.0 and 3.0 here
    Seq((Double.NaN, 1L), (1.0, 2L), (2.0, 3L), (3.0, 4L))
      .foreach { case (s, i) => buf.offer(s, i) }
    val kept = buf.sortedDesc.toSeq
    assert(kept.head._1.isNaN && kept.head._2 === 1L)
    assert(kept(1) === ((3.0, 4L)))
    // -0.0 ties with 0.0 → smaller id wins, not the sign bit
    val z = new graft.functions.TopKAgg.Buffer(1)
    z.offer(-0.0, 9L)
    z.offer(0.0, 2L)
    assert(z.sortedDesc.toSeq.map(_._2) === Seq(2L))
  }

  test("TopKAgg serde roundtrips and merge respects the bound") {
    val agg = graft.functions.TopKAgg(
      org.apache.spark.sql.catalyst.expressions.Literal(0.0),
      org.apache.spark.sql.catalyst.expressions.Literal(0L), k = 2)
    val a = new graft.functions.TopKAgg.Buffer(2)
    Seq((1.0, 1L), (3.0, 3L)).foreach { case (s, i) => a.offer(s, i) }
    val b = agg.deserialize(agg.serialize(a))
    assert(b.sortedDesc.toSeq === a.sortedDesc.toSeq)
    val c = new graft.functions.TopKAgg.Buffer(2)
    Seq((2.0, 2L), (4.0, 4L)).foreach { case (s, i) => c.offer(s, i) }
    val merged = agg.merge(c, b)
    assert(merged.sortedDesc.toSeq === Seq((4.0, 4L), (3.0, 3L)))
  }

  private def shingles(text: String): Set[String] = {
    val toks = text.split(" ")
    if (toks.length < 3) Set.empty
    else toks.sliding(3).map(_.mkString(" ")).toSet
  }

  test("q_text_decontaminate equals a driver-side shingle-overlap replay") {
    val docs = Tables(spark, sfDir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val banned = docs.filter(_._1 % 97 == 0).flatMap(d => shingles(d._2)).toSet
    val expected = docs.filter(_._1 % 97 != 0).flatMap { case (id, text) =>
      val sh = shingles(text)
      val ov = sh.count(banned.contains)
      if (sh.isEmpty || ov == 0) None
      else Some((id, sh.size.toLong, ov.toLong,
        BigDecimal(ov.toDouble / sh.size)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }.toSet
    val got = graft.ops.LlmOps.textDecontaminate(spark, sfDir)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("q_text_repetition equals a driver-side bigram replay and is ordered") {
    val docs = Tables(spark, sfDir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val expected = docs.flatMap { case (id, text) =>
      val toks = text.split(" ")
      if (toks.length < 2) None
      else {
        val bigrams = toks.sliding(2).map(_.mkString(" ")).toSeq
        val top = bigrams.groupBy(identity).values.map(_.size).max
        Some((id, bigrams.size.toLong, top.toLong,
          BigDecimal(top.toDouble / bigrams.size)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }
    }.sortBy(_._1).toSeq
    val got = graft.ops.LlmOps.textRepetition(spark, sfDir)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got === expected)
  }

  test("q_mix_temperature weights sum to 1 and follow n^0.5 ordering") {
    val got = graft.ops.LlmOps.mixTemperature(spark, sfDir)
      .as[(String, Long, Double)].collect().toSeq
    assert(got.nonEmpty)
    assert(math.abs(got.map(_._3).sum - 1.0) < 1e-2)
    // temperature flattening: weight is monotone in n_docs, and the
    // weight RATIO between extreme sources is compressed vs the raw
    // count ratio (alpha < 1)
    val byN = got.sortBy(_._2)
    assert(byN.map(_._3) === byN.map(_._3).sorted)
    val (lo, hi) = (byN.head, byN.last)
    if (lo._2 < hi._2) {
      assert(hi._3 / lo._3 <= hi._2.toDouble / lo._2 + 1e-9)
    }
  }

  test("bounded funnel equals the fold funnel per user on the corpus") {
    val fold = graft.ops.Analytics
      .funnelStages(Tables(spark, sfDir, "events"))
      .as[(Long, Int)].collect().toMap
    val bounded = graft.ops.Analytics
      .funnelStagesBounded(Tables(spark, sfDir, "events"))
      .as[(Long, Int)].collect().toMap
    assert(bounded === fold)
    assert(bounded.nonEmpty)
  }

  test("bounded funnel agrees with the fold on a tie-heavy hot key") {
    // one hot user holding most of the stream, with equal-timestamp
    // view/click/purchase collisions that exercise the tie ordering
    val rnd = new scala.util.Random(7)
    val types = Array("view", "click", "purchase", "other")
    val rows = (1 to 5000).map { i =>
      val user = if (i % 10 == 0) (i % 7).toLong else 999L
      (user, 1700000000L + rnd.nextInt(50), types(rnd.nextInt(4)))
    }
    val df = rows.toDF("user_id", "sec", "event_type")
      .select($"user_id", timestamp_seconds($"sec").as("ts"), $"event_type")
    val fold = graft.ops.Analytics.funnelStages(df)
      .as[(Long, Int)].collect().toMap
    val bounded = graft.ops.Analytics.funnelStagesBounded(df)
      .as[(Long, Int)].collect().toMap
    assert(bounded === fold)
    assert(bounded(999L) === 3) // the hot key completes the funnel
  }

  test("freq_agg lossy regime: no overcount, bounded undercount, heavy items present") {
    graft.functions.FreqAgg.register(spark)
    val k = 8 // corpus vocabulary is ~31 types — 8 counters force decrements
    val toks = Tables(spark, sfDir, "documents")
      .select(explode(split($"text", " ")).as("token"))
    val exact = toks.groupBy($"token").count()
      .as[(String, Long)].collect().toMap
    val n = exact.values.sum
    assert(exact.size > k, "need distinct >> k to exercise decrements")
    val sketch = toks
      .agg(call_function("freq_agg", $"token", lit(k)).as("hh"))
      .select(explode($"hh").as("kv"))
      .select($"kv.item", $"kv.est").as[(String, Long)].collect().toMap
    val bound = n / (k + 1) + 1
    sketch.foreach { case (item, est) =>
      val truth = exact.getOrElse(item, 0L)
      assert(est <= truth, s"overcount on $item: $est > $truth")
      assert(truth - est <= bound,
        s"undercount beyond n/(k+1) on $item: $truth - $est > $bound")
    }
    exact.filter(_._2 > bound).keys.foreach { heavy =>
      assert(sketch.contains(heavy), s"heavy item $heavy missing")
    }
  }

  test("FreqAgg buffer: MG decrement and mergeable-summaries absorb") {
    val buf = new graft.functions.FreqAgg.Buffer(2)
    Seq("a", "a", "b", "c", "a").foreach(buf.offer)
    // offers: a=1, a=2, b=1; c hits the full buffer -> decrement-all
    // (a=1, b evicted); final a -> a=2
    assert(buf.sortedDesc.toSeq === Seq(("a", 2L)))
    val other = new graft.functions.FreqAgg.Buffer(2)
    Seq("b", "b", "d").foreach(other.offer)
    buf.absorb(other)
    // summed: a=2, b=2, d=1; over k=2 -> subtract 3rd-largest (1):
    // a=1, b=1, d dropped
    assert(buf.sortedDesc.toSeq === Seq(("a", 1L), ("b", 1L)))
  }

  test("freq_agg exact regime survives serde and map-side merge (many partitions)") {
    graft.functions.FreqAgg.register(spark)
    val df = spark.range(0, 10000)
      .repartition(32)
      .select(concat(lit("t"), (col("id") % 7)).as("item"))
    val got = df.agg(call_function("freq_agg", col("item"), lit(64)).as("hh"))
      .select(explode(col("hh")).as("kv"))
      .select(col("kv.item"), col("kv.est")).as[(String, Long)]
      .collect().toMap
    val expect = (0 until 7).map(i =>
      s"t$i" -> (10000 / 7 + (if (i < 10000 % 7) 1 else 0)).toLong).toMap
    assert(got === expect)
  }

  test("weighted sample: driver replay, weight bias, and partition independence") {
    val docs = Tables(spark, sfDir, "documents")
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect()
    val keyed = docs.map { case (id, w) =>
      val u = ((id * 2654435761L) % 2147483647L + 1L) / 2147483648.0
      (id, w, math.pow(u, 1.0 / w))
    }
    val expected = keyed.sortBy { case (id, _, k) => (-k, id) }.take(50)
      .map { case (id, w, k) =>
        (id, w, BigDecimal(k).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)
      }.toSeq
    val got = graft.ops.LlmOps.sampleWeighted(spark, sfDir)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got === expected)
    // A-Res bias: the weighted sample over-represents heavy rows
    val corpusAvgW = docs.map(_._2).sum.toDouble / docs.length
    val sampleAvgW = got.map(_._2).sum.toDouble / got.length
    assert(sampleAvgW > corpusAvgW,
      s"weighted sample should skew heavy: $sampleAvgW vs $corpusAvgW")
    // partition-count independence (the property rand()-based
    // sampling loses): same sample from a different layout
    val re = Tables(spark, sfDir, "documents").repartition(17)
      .select($"doc_id", $"n_chars",
        pow((($"doc_id" * 2654435761L) % 2147483647L + 1L) / 2147483648.0,
          lit(1.0) / $"n_chars").as("k"))
      .orderBy($"k".desc, $"doc_id").limit(50)
      .select($"doc_id").as[Long].collect().toSeq
    assert(re === got.map(_._1))
  }

  test("q_dedup_spans equals a driver-side window replay") {
    val docs = Tables(spark, sfDir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val windows = docs.flatMap { case (id, text) =>
      if (text.length < 40) Seq.empty
      else (0 to (text.length - 40) / 20).map(i =>
        (id, text.substring(i * 20, i * 20 + 40)))
    }
    val expected = windows.groupBy(_._2).collect {
      case (span, occ) if occ.map(_._1).distinct.size >= 2 =>
        (span, occ.map(_._1).distinct.size.toLong, occ.size.toLong)
    }.toSet
    val got = graft.ops.LlmOps.dedupSpans(spark, sfDir)
      .as[(String, Long, Long)].collect().toSet
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("q_bpe_pairs equals a driver-side pair count") {
    val docs = Tables(spark, sfDir, "documents")
      .select($"text").as[String].collect()
    val counts = docs.flatMap(_.split(" "))
      .filter(_.length >= 2)
      .flatMap(t => (0 until t.length - 1).map(i => t.substring(i, i + 2)))
      .groupBy(identity).map { case (p, v) => (p, v.size.toLong) }
    val expected = counts.toSeq
      .sortBy { case (p, n) => (-n, p) }.take(10)
    val got = graft.ops.LlmOps.bpePairs(spark, sfDir)
      .as[(String, Long)].collect().toSeq
    assert(got === expected)
  }

  test("native as-of join equals the union+window formulation on the corpus") {
    val native = graft.ops.Relational.joinAsofNative(spark, sfDir)
      .as[(Long, Long, java.sql.Timestamp, Option[java.sql.Timestamp])]
      .collect().toSeq
    val window = graft.ops.Relational.joinAsof(spark, sfDir)
      .as[(Long, Long, java.sql.Timestamp, Option[java.sql.Timestamp])]
      .collect().toSeq
    assert(native === window)
    assert(native.nonEmpty)
    assert(native.exists(_._4.isEmpty), "expect some unmatched purchases")
  }

  test("native as-of join: ties, no-match keys, and a hot key") {
    import org.apache.spark.sql.DataFrame
    val rnd = new scala.util.Random(13)
    // hot key 7 with 2000 times incl. duplicates; keys 100+ sparse;
    // key 999 exists only on the left (no right rows at all)
    val lRows = (1 to 2500).map { i =>
      val k = if (i % 5 == 0) (100 + i % 13).toLong else 7L
      (i.toLong, k, 1000L + rnd.nextInt(500))
    } :+ (9999L, 999L, 1250L)
    val rRows = (1 to 3000).map { i =>
      val k = if (i % 7 == 0) (100 + i % 13).toLong else 7L
      (k, 1000L + rnd.nextInt(500), s"p$i")
    }
    val l: DataFrame = lRows.toDF("id", "k", "t")
    val r: DataFrame = rRows.toDF("rk", "rt", "payload")
    val got = graft.plans.AsOf.join(l, r, "k", "t", "rk", "rt")
      .select($"id", $"rt").as[(Long, Option[Long])].collect().toMap
    // driver replay: max right time at-or-before, per key
    val byKey = rRows.groupBy(_._1)
    lRows.foreach { case (id, k, t) =>
      val expect = byKey.get(k).flatMap { rs =>
        val ts = rs.map(_._2).filter(_ <= t)
        if (ts.isEmpty) None else Some(ts.max)
      }
      assert(got(id) === expect, s"row $id key $k t $t")
    }
    // bounded lookback: matches further back than `tol` become nulls
    val tol = 5L
    val gotTol = graft.plans.AsOf
      .join(l, r, "k", "t", "rk", "rt", tolerance = Some(tol))
      .select($"id", $"rt").as[(Long, Option[Long])].collect().toMap
    lRows.foreach { case (id, k, t) =>
      val expect = byKey.get(k).flatMap { rs =>
        val ts = rs.map(_._2).filter(x => x <= t && t - x <= tol)
        if (ts.isEmpty) None else Some(ts.max)
      }
      assert(gotTol(id) === expect, s"tol row $id key $k t $t")
    }
  }

  test("zvalue equals a driver-side Morton interleave") {
    val rnd = new scala.util.Random(11)
    val pts = Seq.fill(500)((rnd.nextInt(65536), rnd.nextInt(65536)))
    def morton(x: Int, y: Int): Long =
      (0 until 16).map { i =>
        (((x >> i) & 1).toLong << (2 * i + 1)) |
          (((y >> i) & 1).toLong << (2 * i))
      }.reduce(_ | _)
    val got = pts.toDF("x", "y")
      .select(graft.ops.Layout.zvalue($"x", $"y").as("z"))
      .as[Long].collect().toSeq
    assert(got === pts.map { case (x, y) => morton(x, y) })
  }

  test("z-bucket extents: 64 buckets pin the top 3 bits of BOTH dims") {
    val rows = graft.ops.Layout.layoutZorder(spark, sfDir)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (b, _, minX, maxX, minY, maxY) =>
      // top 6 z-bits = x15 y15 x14 y14 x13 y13 ⇒ within a bucket each
      // dimension varies only in its low 13 bits
      assert(maxX - minX < 8192, s"bucket $b x-span ${maxX - minX}")
      assert(maxY - minY < 8192, s"bucket $b y-span ${maxY - minY}")
      assert((minX >> 13) === (maxX >> 13), s"bucket $b splits x top bits")
      assert((minY >> 13) === (maxY >> 13), s"bucket $b splits y top bits")
    }
  }

  test("topk_agg implicit-casts int ids and decimal scores at analysis") {
    graft.functions.TopKAgg.register(spark)
    val out = Seq((1, 1.5f, 10), (1, 2.5f, 20), (1, 0.5f, 30))
      .toDF("g", "s", "i")
      .groupBy($"g")
      .agg(call_function("topk_agg", $"s", $"i", lit(2)).as("top"))
      .select(explode($"top").as("kv"))
      .select($"kv.score", $"kv.id")
      .as[(Double, Long)].collect().toSeq
    assert(out === Seq((2.5, 20L), (1.5, 10L)))
  }

  // ---- round-3 late additions: containment / edit / split / bpe-train ----

  /** Driver-side replay of shingleDf: distinct word 3-grams per doc. */
  private def shingleSets(): Map[Long, Set[String]] =
    Tables(spark, sfDir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, text) =>
        val toks = text.split(" ", -1)
        id -> toks.sliding(3).filter(_.length == 3)
          .map(_.mkString(" ")).toSet
      }.toMap

  private def r4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("q_dedup_containment matches a driver-side set replay") {
    val sets = shingleSets()
    val ids = sets.keys.toSeq.sorted
    val want = (for {
      a <- ids; b <- ids if a < b
      common = (sets(a) & sets(b)).size
      if common > 0
      c = r4(common.toDouble / math.min(sets(a).size, sets(b).size))
      if c >= 0.7
    } yield (a, b, c)).toSet
    val got = graft.ops.LlmOps.dedupContainment(spark, sfDir)
      .as[(Long, Long, Double)].collect().toSet
    assert(got === want)
    // containment dominates jaccard: every Jaccard>=0.7 pair is here
    val jac = graft.ops.LlmOps.dedupNgramJaccard(spark, sfDir)
      .filter($"jaccard" >= 0.7)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(jac.subsetOf(got.map(t => (t._1, t._2))))
  }

  test("q_dedup_containment_prefix: lossless rung equals the uncapped " +
    "replay; screened default loses nothing on this corpus") {
    // the min-side prefix theorem claims exact equality of the
    // LOSSLESS rung with the full uncapped reference (no cap, no
    // rescue, no recall caveat); the screened DEFAULT (df ≤
    // max(64, 1%·N) index) must then reproduce the same set here —
    // the zero-loss-on-this-corpus check that keeps the plain
    // exact-containment DuckDB oracle green
    val sets = shingleSets()
    val ids = sets.keys.toSeq.sorted
    val want = (for {
      a <- ids; b <- ids if a < b
      common = (sets(a) & sets(b)).size
      if common > 0
      c = r4(common.toDouble / math.min(sets(a).size, sets(b).size))
      if c >= 0.7
    } yield (a, b, c)).toSet
    val sh = Tables.truncate(graft.ops.LlmOps.shingleDf(
      Tables(spark, sfDir, "documents")))
    val lossless = Referees.dedupContainmentPrefixLossless(sh)
      .as[(Long, Long, Double)].collect().toSet
    assert(lossless === want)
    val got = graft.ops.LlmOps.dedupContainmentPrefix(spark, sfDir)
      .as[(Long, Long, Double)].collect().toSet
    assert(got === want)
    assert(want.nonEmpty, "corpus has no containment pairs: vacuous")
  }

  test("containment prefix rule survives an adversarial popular fragment") {
    // the exact case the capped default documents as its recall
    // caveat: a short doc quoted verbatim in MANY hosts — its own
    // popularity pushes every one of its shingles past the df cap.
    // 12 hosts embed the same 6-token fragment plus private padding;
    // fragment shingles have df = 13 > cap (= 5 at N = 13 docs), so
    // the capped miner cannot pair the fragment with its hosts, while
    // the prefix rule (probe = the SHORT doc's rarest shingles against
    // the df ≤ max(64, 1%·N) index — 13 ≤ 64, so the screen keeps
    // every fragment shingle) must find all 12 containment-1.0 pairs.
    val frag = "alpha beta gamma delta epsilon zeta"
    val hosts = (0L until 12L).map(i =>
      (100L + i, s"$frag h${i}_a h${i}_b h${i}_c h${i}_d h${i}_e"))
    val docs = ((0L, frag) +: hosts).toDF("doc_id", "text")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    val wantPairs = hosts.map(h => (0L, h._1)).toSet
    // core-over-arbitrary-docs variants: rebuild both miners' plans
    // on the adversarial corpus through the same private cores
    val sh = graft.ops.LlmOps.shingleDf(docs).transform(Tables.truncate)
    val capped = pairsOf(
      Referees.overlapFor(
        graft.ops.LlmOps.cappedCandidates(sh, docs), sh)
        .select($"doc_a", $"doc_b",
          graft.Det.r4($"common" / least($"na", $"nb")).as("containment"))
        .filter($"containment" >= 0.7))
    assert(capped.intersect(wantPairs).isEmpty,
      "cap must lose the popular-fragment pairs (the documented caveat)")
    val prefix = pairsOf(
      Referees.dedupContainmentPrefixOn(docs))
    assert(wantPairs.subsetOf(prefix),
      "prefix rule must recover every popular-fragment containment pair")
  }

  test("containment screen documents its own loss past the cap; " +
    "the lossless rung is the referee") {
    // the screened default's DECLARED caveat, constructed: a fragment
    // quoted in 70 hosts has every shingle at df = 71 > max(64, 1%·71)
    // — the screen drops them all from the index, the fragment's
    // prefix (all df-71 shingles) probes nothing, and the texts are
    // not identical so the exact-dup rescue does not apply. The
    // screened miner must LOSE the pairs (if this ever starts passing,
    // the screen changed and the scaladoc recall contract is stale);
    // the lossless exactness rung must still find every one.
    val frag = "alpha beta gamma delta epsilon zeta"
    val hosts = (0L until 70L).map(i =>
      (100L + i, s"$frag h${i}_a h${i}_b h${i}_c h${i}_d h${i}_e"))
    val docs = ((0L, frag) +: hosts).toDF("doc_id", "text")
    val wantPairs = hosts.map(h => (0L, h._1)).toSet
    val sh = graft.ops.LlmOps.shingleDf(docs).transform(Tables.truncate)
    val screened = Referees.dedupContainmentPrefixOn(docs)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    assert(screened.intersect(wantPairs).isEmpty,
      "screen must lose the >cap fragment pairs (the documented caveat)")
    val lossless = Referees.dedupContainmentPrefixLossless(sh)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    assert(wantPairs.subsetOf(lossless),
      "lossless rung must recover every >cap fragment pair")
  }

  test("q_dedup_edit matches a driver-side banded-DP replay") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val sets = shingleSets()
    val texts = Tables(spark, sfDir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val ids = sets.keys.toSeq.sorted
    val want = (for {
      a <- ids; b <- ids if a < b
      if (sets(a) & sets(b)).size >= 5
      (ta, tb) = (texts(a), texts(b))
      // the operator's relative length gate, not a hardcoded band —
      // a corpus with longer docs would otherwise diverge spuriously
      if math.abs(ta.length - tb.length) <= math.max(ta.length, tb.length) * 0.05
      d = lev(ta, tb)
      if d <= math.max(ta.length, tb.length) * 0.05
    } yield (a, b, d)).toSet
    val got = graft.ops.LlmOps.dedupEdit(spark, sfDir)
      .as[(Long, Long, Int)].collect().toSet
    assert(got === want)
    assert(want.nonEmpty, "corpus has no edit-near-dups: test is vacuous")
  }

  test("q_split_leakage_safe: no near-dup pair straddles a split boundary") {
    val comp = graft.ops.LlmOps.dedupCluster(spark, sfDir)
      .withColumn("split", graft.ops.LlmOps.splitOf($"component"))
    // the cluster graph's edges ARE the reported shingle-Jaccard
    // near-dup pairs (same J >= 0.6 threshold) — check every one
    val pairs = graft.ops.LlmOps.dedupNgramJaccard(spark, sfDir)
      .select($"doc_a", $"doc_b")
    val straddle = pairs
      .join(comp.select($"id".as("doc_a"), $"split".as("sa")), "doc_a")
      .join(comp.select($"id".as("doc_b"), $"split".as("sb")), "doc_b")
      .filter($"sa" =!= $"sb")
    assert(straddle.count() === 0, "a near-dup pair straddles splits")
    val counts = graft.ops.LlmOps.splitLeakageSafe(spark, sfDir)
      .as[(String, Long, Long)].collect()
    val total = Tables(spark, sfDir, "documents").count()
    assert(counts.map(_._2).sum === total, "split row counts must partition")
    assert(counts.map(_._1).toSet.subsetOf(Set("train", "val", "test")))
  }

  test("q_events_funnel_windowed matches a driver-side windowed replay") {
    val evs = Tables(spark, sfDir, "events")
      .select($"user_id", $"ts", $"event_type")
      .as[(Long, java.sql.Timestamp, String)].collect()
    // MICROsecond precision: Timestamp.getTime truncates to ms, but
    // the Spark fold compares full microsecond timestamps — 999/1000
    // corpus events carry sub-ms digits, so an ms-precision replay is
    // a latent flake at window boundaries and same-ms ties
    def micros(ts: java.sql.Timestamp): Long =
      ts.getTime * 1000 + (ts.getNanos / 1000) % 1000
    val hourUs = 60L * 60 * 1000 * 1000
    val want = evs.groupBy(_._1).map { case (_, g) =>
      val sorted = g.sortBy(e => (micros(e._2), e._3))
      var stage = 0
      var t = 0L
      sorted.foreach { case (_, ts, tp) =>
        val us = micros(ts)
        if (stage == 0 && tp == "view") { stage = 1; t = us }
        else if (stage == 1 && tp == "click" && us > t && us <= t + hourUs) {
          stage = 2; t = us
        } else if (stage == 2 && tp == "purchase" && us > t
            && us <= t + hourUs) {
          stage = 3; t = us
        }
      }
      stage
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = graft.ops.Analytics.eventsFunnelWindowed(spark, sfDir)
      .as[(Int, Long)].collect().toMap
    assert(got === want)
    // the window can only LOWER stages vs the unbounded funnel
    val unbounded = graft.ops.Analytics.queries("q_events_funnel")(
      spark, sfDir).as[(Int, Long)].collect().toMap
    def reached(m: Map[Int, Long], s: Int) =
      m.collect { case (k, v) if k >= s => v }.sum
    (1 to 3).foreach { s =>
      assert(reached(got, s) <= reached(unbounded, s),
        s"window must not increase stage-$s conversions")
    }
  }

  test("q_agg_countmin: estimates overcount-only within the eps*n bound") {
    val rows = graft.ops.Aggregates.aggCountmin(spark, sfDir)
      .as[(String, Long, Long)].collect()
    assert(rows.nonEmpty)
    val total = rows.map(_._2).sum
    rows.foreach { case (t, exact, est) =>
      assert(est >= exact, s"$t: CMS must never undercount")
      assert(est <= exact + math.ceil(0.001 * total).toLong,
        s"$t: est $est exceeds the eps*n bound over exact $exact")
    }
  }

  test("overlap kernel agrees with the builtin on large colliding arrays") {
    graft.functions.SetExpressions.register(spark)
    // 5000-element arrays, heavy duplication, partial overlap — drives
    // the open-addressing table through collisions and mask wraparound
    val a = (0 until 5000).map(i => s"tok${i % 3000}")
    val b = (1500 until 6500).map(i => s"tok${i % 4000}")
    val row = Seq((a, b)).toDF("a", "b")
      .select(expr("array_overlap_count(a, b)").as("fast"),
        size(array_intersect($"a", $"b")).as("builtin"))
      .collect()(0)
    assert(row.getInt(0) === row.getInt(1))
    assert(row.getInt(0) > 0)
  }

  test("embeddings corpus is dense 64-dim with no null lanes (dot/centroid oracle contract)") {
    // q_embed_centroids' and every dotSql twin's hash-parity is stated
    // over this invariant — assert it instead of assuming it
    val bad = Tables(spark, sfDir, "embeddings")
      .filter($"embedding".isNull || size($"embedding") =!= 64
        || exists($"embedding", x => x.isNull))
      .count()
    assert(bad === 0L)
  }

  test("q_agg_percentile_approx respects the GK rank-error bound") {
    val rows = graft.ops.LlmOps.aggPercentileApprox(spark, sfDir)
      .as[(String, Long, Long, Long)].collect()
    val byLang = Tables(spark, sfDir, "documents")
      .select($"lang", $"n_chars").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(rows.nonEmpty)
    rows.foreach { case (lang, p50, p95, n) =>
      val xs = byLang(lang)
      assert(n === xs.length)
      def rankOk(v: Long, p: Double): Unit = {
        assert(xs.contains(v), s"$lang approx value $v not a data element")
        // GK guarantee: rank error <= n/accuracy (+2 for the rank
        // definition's off-by-one latitude at tiny n)
        val lo = xs.count(_ < v)
        val hi = xs.count(_ <= v)
        val slack = n / 10000.0 + 2
        assert(lo - slack <= p * n && p * n <= hi + slack,
          s"$lang p=$p v=$v lo=$lo hi=$hi n=$n")
      }
      rankOk(p50, 0.5)
      rankOk(p95, 0.95)
    }
  }

  test("q_bpe_train matches a driver-side reference BPE trainer") {
    val wordFreq = Tables(spark, sfDir, "documents")
      .select(explode(split($"text", " ")).as("w"))
      .filter(length($"w") >= 1)
      .groupBy($"w").agg(count(lit(1)).as("f"))
      .as[(String, Long)].collect()
    var vocab: Seq[(Vector[String], Long)] =
      wordFreq.toSeq.map { case (w, f) =>
        (w.toCharArray.map(_.toString).toVector, f)
      }
    val want = Seq.newBuilder[(Int, String, String, Long)]
    for (step <- 1 to 8) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        syms.sliding(2).filter(_.length == 2).foreach { p =>
          counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + f
        }
      }
      if (counts.nonEmpty) {
        val ((l, r), n) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        want += ((step, l, r, n))
        vocab = vocab.map { case (syms, f) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          syms.foreach { x =>
            if (out.nonEmpty && out.last == l && x == r)
              out(out.length - 1) = l + r
            else out += x
          }
          (out.toVector, f)
        }
      }
    }
    val got = graft.ops.LlmOps.bpeTrain(spark, sfDir)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(got === want.result())
  }
}
