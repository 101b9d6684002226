package graft

import org.apache.spark.sql.SparkSession

/** The one session policy of the mains (Bench, Verify, Omits, Query,
  * Profile, ScaleGen, ScaleBench): every setting a main's session
  * carries is set here, once, with its reason. `DesDb` and the
  * operators take the caller's session, so a library user who wants
  * the mains' behavior builds it with [[local]]. The test harness
  * (`SparkSpec`) keeps its own builder (local[4], a per-run warehouse,
  * no `GraftExtensions`): its plan pins are written against that
  * session.
  */
object Session {
  /** A local session on `SPARK_GRAFT_CPUS` cores (else `defaultCpus`),
    * log level WARN with the harness loggers demoted ([[HarnessLog]]). */
  def local(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // one shuffle partition per core: the corpora are sized for a
      // single box, and the 200-partition default turns every small
      // shuffle into mostly-empty tasks
      .config("spark.sql.shuffle.partitions", cpus)
      // wide-catalog keys (300-col scan prune) legitimately exceed the
      // 25-field default when anything stringifies their plan -- the
      // resulting "Truncated the string representation" WARN was the
      // last line keeping artifact tails from being WARN-free (r12)
      .config("spark.sql.debug.maxToStringFields", "2000")
      // launched outside sbt on a non-UTC host, timestamp-literal casts
      // would otherwise select a different workload than the one
      // Verify hash-matches
      .config("spark.sql.session.timeZone", "UTC")
      // RocksDB state store: required by transformWithState (state API
      // v2) and the production-grade choice regardless (off-heap,
      // spill-capable state at scale)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    HarnessLog.quiet()
    spark
  }

  /** Drop every persisted block NOW, synchronously on the driver.
    * localCheckpoint blocks are otherwise only reclaimed when a GC
    * notices the RDD object is unreachable AND the async ContextCleaner
    * gets around to it. A query boundary is a safe point: no declared
    * query reuses another's checkpointed intermediates (the Tables plan
    * cache holds parquet scan plans only, never checkpoints). */
  def unpersistAll(spark: SparkSession): Unit =
    // blocking = true: the async form only enqueues RemoveRdd, so the
    // next query's timed region could still be paying this query's
    // eviction; callers run this in an untimed gap, where waiting is free
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))

  /** [[unpersistAll]], then a full GC — the gap between two TIMED
    * queries (Bench, Profile, ScaleBench): across a 99-query session
    * the un-collected blocks become exactly the heap pressure that
    * inflated the round-2 Bench total 1.42× on unchanged queries
    * (VERDICT r2). An untimed dump (Verify) unpersists only: the
    * collection buys it nothing but wall time. */
  def release(spark: SparkSession): Unit = {
    unpersistAll(spark)
    System.gc()
  }
}
