package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table access for the driver-generated parquet corpus
  * (`/root/testdata/sf*`; see TESTDATA.md / FIXTURES.md).
  *
  * Scale posture: these are plain parquet scans — no `.cache()`, no
  * driver-side materialization — so every query plan starts from a
  * `FileSourceScanExec` that Catalyst can prune columns from and push
  * filters into. On a real cluster the same code reads a partitioned
  * table of any size; nothing here assumes the data fits anywhere.
  */
object Tables {

  /** Lineage truncation for iterative/reused intermediates.
    * `localCheckpoint` (memory-backed, fast) by default; set
    * `spark.graft.checkpointDir` to a durable path on a real cluster
    * and these become fault-tolerant `checkpoint()`s instead.
    *
    * Storage hygiene: reliable checkpoint files are only auto-reclaimed
    * when `spark.cleaner.referenceTracking.cleanCheckpoints` is set in
    * the SparkConf at context construction (ContextCleaner reads it
    * once; a runtime `spark.conf.set` never reaches it), so we delete
    * this run's checkpoint subdir ourselves on JVM exit — otherwise
    * every iterative run (hierarchy resolver, shingle reuse) would leak
    * checkpoint storage forever. And if the context already has a
    * DIFFERENT checkpoint dir we override it rather than silently
    * ignoring the configured `spark.graft.checkpointDir`. */
  def truncate(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption("spark.graft.checkpointDir") match {
      case Some(dir) =>
        val sc = spark.sparkContext
        // path-prefix test (getCheckpointDir is the UUID subdir Spark
        // created under the configured root) — a substring contains()
        // would let any stale dir whose path merely embeds the string win
        def underConfigured(p: String): Boolean = {
          val parent = new org.apache.hadoop.fs.Path(p).getParent
          parent != null && parent.toUri.getPath ==
            new org.apache.hadoop.fs.Path(dir).toUri.getPath
        }
        if (!sc.getCheckpointDir.exists(underConfigured)) {
          if (sc.getCheckpointDir.nonEmpty)
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"overriding checkpoint dir ${sc.getCheckpointDir.get} " +
                s"with configured spark.graft.checkpointDir=$dir")
          sc.setCheckpointDir(dir)
          // setCheckpointDir created a fresh UUID subdir for this run;
          // reclaim exactly that subdir when the JVM exits.
          sc.getCheckpointDir.foreach { cp =>
            if (cleanupRegistered.add(cp)) {
              val hadoopConf = sc.hadoopConfiguration
              Runtime.getRuntime.addShutdownHook(new Thread(() => {
                try reclaimCheckpoint(cp, hadoopConf)
                catch { case _: Throwable => () }
              }))
            }
          }
        }
        df.checkpoint()
      case None => df.localCheckpoint()
    }
  }

  private val cleanupRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Delete one run's UUID checkpoint subdir — the body of the
    * shutdown hook [[truncate]] registers, factored out so the suite
    * can assert the durable-checkpoint path actually RECLAIMS what a
    * multi-round loop wrote (OpsRound17Spec) instead of trusting a
    * hook that only fires at JVM exit. */
  private[graft] def reclaimCheckpoint(cp: String,
      hadoopConf: org.apache.hadoop.conf.Configuration): Unit = {
    val p = new org.apache.hadoop.fs.Path(cp)
    p.getFileSystem(hadoopConf).delete(p, true)
  }

  /** [[truncate]] with a FUSED row count: counts rows whose boolean
    * column `flag` is true during the (eager) checkpoint
    * materialization job via an accumulator, then drops the flag
    * column. One Spark job instead of checkpoint-then-count — the
    * convergence/emptiness probe of every fixpoint loop (connected
    * components, hierarchy resolution) piggybacks on the job those
    * loops already run per round.
    *
    * r13: the count rides a `CollectMetrics` node (`Dataset.observe` +
    * `Observation`, verified to fire on the localCheckpoint job) — the
    * pre-r13 form threaded every row through a `df.map` with a full
    * Row encoder, whose Deserialize/SerializeFromObject pair BROKE
    * whole-stage codegen at the top of every fixpoint round and paid
    * object serde per row. CollectMetrics aggregates inside the
    * codegen'd pipeline and, unlike the accumulator it replaces, is
    * EXACT under task retries (metrics come from the job's committed
    * task set), so callers may now compare counts, not just test
    * zero-vs-nonzero. */
  def truncateCountTrue(df: DataFrame, flag: String): (DataFrame, Long) = {
    import org.apache.spark.sql.functions.{col, count, when}
    val obs = org.apache.spark.sql.Observation()
    // count(when(flag, true)): null-safe — a NULL flag counts as false,
    // matching the old accumulator's isNullAt guard; count never
    // returns null on an empty relation (sum would)
    val observed = df
      .observe(obs, count(when(col(flag), true)).as("n_true"))
      // project the flag away AFTER the metrics node reads it — the
      // stored blocks carry one column less per fixpoint round
      .drop(flag)
    val cp = truncate(observed)
    (cp, obs.getAsJava.get("n_true").asInstanceOf[java.lang.Long].longValue)
  }

  /** Round-robin spread of a small scan across the full core count: a
    * sub-128MB parquet file arrives as ONE input partition, which would
    * serialize every downstream per-row computation onto a single task.
    * The explicit partition count pins a REPARTITION_BY_NUM shuffle
    * origin, which AQE is not allowed to coalesce back down.
    *
    * Guarded for scale, in two layers:
    *  - a plan that already contains a shuffle-producing operator
    *    (join/aggregate/window/sort/repartition) is returned UNCHANGED:
    *    its parallelism is already spark.sql.shuffle.partitions, and
    *    probing such a plan via `.rdd` would materialize its query
    *    stages under AQE;
    *  - a scan-shaped plan (where `.rdd` is a metadata-only split
    *    enumeration — no job) is probed, and only widened when it has
    *    fewer partitions than the target. A 100 TB table arrives as
    *    thousands of splits and passes through untouched — spread can
    *    never become a full-data reshuffle. */
  def spread(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val shuffled = df.queryExecution.optimizedPlan.collectFirst {
      case p @ (_: Join | _: Aggregate | _: Window | _: Sort |
                _: RepartitionOperation | _: Distinct | _: Deduplicate) => p
    }.nonEmpty
    if (shuffled) df
    else {
      val target = df.sparkSession.sessionState.conf.numShufflePartitions
      if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
    }
  }
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Idempotent managed-table replacement: DROP clears a live catalog
    * entry; the defensive location delete clears a LEFTOVER managed
    * directory from a crashed/previous process (a fresh in-memory
    * catalog doesn't know the table, and CTAS refuses a non-empty
    * location since Spark 3.2). Shared by the catalog sink query and
    * the DesDb facade. */
  def replaceManagedTable(df: DataFrame, name: String): Unit = {
    dropAndClean(df.sparkSession, name)
    df.write.mode("overwrite").format("parquet").saveAsTable(name)
  }

  /** Bucketed managed-table replacement: the co-located-join layout.
    * Both sides of a hot join written with the SAME bucket count on
    * the join key never shuffle for that join again — the scan's
    * output partitioning already satisfies the join's required
    * distribution. At 100 TB this turns every repeated fact⨝fact join
    * on the bucketed key from a corpus-wide exchange into a local
    * per-bucket merge. `sortBy` keeps each bucket file sorted on the
    * key; Spark 3+'s scan doesn't propagate that order by default
    * (spark.sql.legacy.bucketedTableScan.outputOrdering), so the SMJ
    * still does a bucket-local re-sort — local CPU, never a shuffle. */
  def replaceBucketedTable(
      df: DataFrame, name: String, nBuckets: Int, key: String): Unit = {
    dropAndClean(df.sparkSession, name)
    df.write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, key).sortBy(key).saveAsTable(name)
  }

  private def dropAndClean(spark: SparkSession, name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), name.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  // Plan-object cache: DataFrames are immutable lazy plans, so reusing
  // one skips the parquet footer read/schema inference that
  // spark.read.parquet pays per call (72 queries × 10 tables adds up in
  // the bench loop). Keyed by session so a stopped session's plans are
  // never resurrected. Memo artifacts avoid the same cost differently:
  // ops.Memo resolves each artifact's schema once, after its write, and
  // reads it back with that schema (see the Memo scaladoc).
  private val cache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    cache.getOrElseUpdate((spark, sfDir, name), load(spark, sfDir, name))

  private def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped in two physical layouts across testdata
      // generations, so normalize BY OBSERVED TYPE rather than assuming
      // one: (a) parquet TIMESTAMP(NANOS), which Spark 4 refuses to read
      // natively — the legacy flag surfaces it as a nanos LONG that we
      // truncate to micros with integer division (`div`, not `/` — ns
      // epoch values exceed 2^53, double division would lose precision),
      // matching DuckDB's `cast(ts_ns as timestamp)` exactly; (b) parquet
      // TIMESTAMP(MICROS, isAdjustedToUTC=false), which arrives as
      // TIMESTAMP_NTZ — cast to the session-zoned type (sessions pin
      // UTC, so the wall-clock instants are unchanged and DuckDB's naive
      // reading of the same file agrees). Every downstream consumer sees
      // one stable shape: TimestampType micros.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$sfDir/events.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", org.apache.spark.sql.functions
            .expr("timestamp_micros(ts div 1000)"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
        case _ => raw
      }
    } else spark.read.parquet(s"$sfDir/$name.parquet")

  /** Register every table as a temp view (for `spark.sql` entry points). */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => apply(spark, sfDir, n).createOrReplaceTempView(n))
}
