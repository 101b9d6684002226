package graft

import graft.ops.Memo
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Memo's entry lifecycle: an artifact is built and its schema resolved
  * once; every later read reuses that schema (no listing-and-inference
  * job), and eviction and build races move dir and schema together.
  * The `sfDir` part of each key is a label only — these builders read
  * no corpus.
  *
  * The timing protocol that relies on it ([[Bench.rep]],
  * [[Bench.floor]]): a build paid on first construction stays out of
  * the floor, a failing key reports -1 after one rep, and a rep
  * evaluates every column of the result. */
class MemoSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = "memo-spec"

  private def memoDirs(kind: String): Set[String] = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    Option(tmp.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith(s"graft-$kind-"))
      .map(_.getPath).toSet
  }

  test("a memo hit reads the artifact with no Spark job, same as a" +
    " plain parquet read") {
    val kind = "spec-hit"
    Memo.parquet(spark, corpus, kind) {
      spark.range(100).select($"id", ($"id" % 7).as("m"))
    }.collect()
    val e = Memo.entry(spark, corpus, kind).get
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val df = try {
      val d = Memo.parquet(spark, corpus, kind)(fail("a hit must not rebuild"))
      org.apache.spark.ListenerBusDrain(sc)
      d
    } finally sc.removeSparkListener(listener)
    assert(jobs.get === 0, "the second read ran a Spark job")
    val plain = spark.read.parquet(e.path)
    assert(df.schema === plain.schema)
    assert(df.schema === e.schema)
    assert(df.as[(Long, Long)].collect().sorted ===
      plain.as[(Long, Long)].collect().sorted)
    assert(df.count() === 100)
  }

  test("a raced build returns the winner's dir and schema") {
    val kind = "spec-race"
    val before = memoDirs(kind)
    var winner: Option[Memo.Entry] = None
    val got = Memo.parquet(spark, corpus, kind) {
      // a second builder for the same key registers first
      Memo.parquet(spark, corpus, kind)(spark.range(3).toDF("winner"))
      winner = Memo.entry(spark, corpus, kind)
      spark.range(5).toDF("loser")
    }
    val w = winner.get
    assert(Memo.entry(spark, corpus, kind) === Some(w))
    assert(got.schema === w.schema)
    assert(got.columns.toSeq === Seq("winner"))
    assert(got.inputFiles.nonEmpty && got.inputFiles.forall(_.contains(w.path)))
    assert(got.count() === 3)
    // the loser's dir is deleted; only the winner's is left
    assert(memoDirs(kind) -- before === Set(w.path))
  }

  test("eviction past MaxEntries drops the eldest dir and schema together") {
    val kinds = (0 to Memo.MaxEntries).map(i => s"spec-evict-$i")
    val built = kinds.zipWithIndex.map { case (kind, i) =>
      Memo.parquet(spark, corpus, kind)(spark.range(1).toDF(s"c$i"))
      Memo.entry(spark, corpus, kind).get
    }
    // the first of MaxEntries + 1 inserts is the eldest entry left
    assert(Memo.entry(spark, corpus, kinds.head).isEmpty)
    assert(!new java.io.File(built.head.path).exists)
    kinds.zip(built).tail.foreach { case (kind, e) =>
      assert(Memo.entry(spark, corpus, kind) === Some(e))
      assert(new java.io.File(e.path).isDirectory)
    }
    assert(built.last.schema.fieldNames.toSeq === Seq(s"c${Memo.MaxEntries}"))
  }

  test("a build's seconds leave out the memo builds nested in it") {
    val builds = Memo.trackBuilds()
    val t0 = System.nanoTime()
    Memo.parquet(spark, corpus, "spec-outer") {
      Memo.parquet(spark, corpus, "spec-inner") {
        Thread.sleep(1500)
        spark.range(2).toDF("i")
      }.toDF("o")
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val secs = builds().toMap
    assert(secs.keySet === Set("spec-outer", "spec-inner"))
    assert(secs("spec-inner") >= 1.5)
    assert(secs("spec-outer") + secs("spec-inner") <= wall, s"$secs vs $wall s")
  }

  test("trackBuilds reports only the builds run after it") {
    // a warmup pass over the SAME corpus builds first; the tracked
    // phase then hits that artifact and builds one new kind
    Memo.parquet(spark, corpus, "spec-warm")(spark.range(2).toDF("w"))
    val builds = Memo.trackBuilds()
    Memo.parquet(spark, corpus, "spec-warm")(fail("a hit must not rebuild"))
    Memo.parquet(spark, corpus, "spec-phase")(spark.range(2).toDF("p"))
    assert(builds().map(_._1) === Seq("spec-phase"))
    assert(builds().forall(_._2 > 0))
  }

  test("floor leaves out a build paid on first construction") {
    var built = false
    val fn = (s: org.apache.spark.sql.SparkSession, _: String) => {
      // an eager memo build: paid inside the builder call, once
      if (!built) { built = true; Thread.sleep(2000) }
      s.range(100).toDF("id")
    }
    val (sec, reps) = Bench.floor(spark, fn, corpus)
    assert(sec >= 0 && sec < 2.0, s"floor $sec s over reps $reps")
    assert(reps.head >= 2.0 && reps.length >= 2 && reps.length <= 4, s"$reps")
  }

  test("floor reports -1 after one rep of a failing key") {
    val fn = (_: org.apache.spark.sql.SparkSession, _: String) =>
      throw new IllegalStateException("builder fails")
    assert(Bench.floor(spark, fn, corpus) === ((-1.0, Seq(-1.0))))
  }

  test("a rep evaluates every column, where count() prunes an unread one") {
    import org.apache.spark.sql.functions._
    // row-dependent, so the optimizer cannot fold it away at plan time
    val df = spark.range(100).select($"id",
      when($"id" >= 0, raise_error(lit("evaluated"))).as("boom"))
    assert(df.count() === 100, "count() evaluated the unread column")
    assert(Bench.rep(spark, (_, _) => df, corpus) === -1.0)
  }
}
