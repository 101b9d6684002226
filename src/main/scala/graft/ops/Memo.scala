package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Materialize-once-per-(session, corpus) parquet cache for expensive
  * shared intermediates (the near-dup cluster labels, the shingle
  * inverted index). At 100 TB this IS the pipeline shape — you compute
  * the labels/index once, write them, and every downstream consumer
  * scans the materialized table — so the cache is not a local-bench
  * trick but the production dataflow expressed at test scale.
  *
  * Why a parquet file and not a cached plan: the builders run
  * localCheckpoint-backed loops (connected components) whose blocks the
  * Verify/Bench harnesses unpersist between queries, which would strand
  * a cached plan on freed blocks; a parquet dir is immune and is also
  * exactly what survives executor loss on a real cluster.
  *
  * Lifecycle: an entry is the artifact's dir, the JVM shutdown hook
  * that deletes it, and its SCHEMA, resolved once per artifact right
  * after the write. Every read — the builder's own and every later hit
  * — is then `spark.read.schema(schema).parquet(dir)`: a bare
  * `spark.read.parquet(dir)` would re-list the dir, re-read footers and
  * run a one-task schema-inference job on each consumer's build path.
  * Entries are keyed by the session's identity hash + corpus dir +
  * kind, BOUNDED (eldest entry evicted past [[Memo.MaxEntries]]: its
  * dir is deleted, its hook deregistered and its schema dropped with
  * it), so a long-lived multi-session service no longer accumulates
  * temp dirs and hooks without bound. A stopped session is never
  * pinned (the key holds no session reference, and a StructType holds
  * none either); an identity-hash reuse after GC would only re-share
  * the deterministic, content-identical dir for the same corpus —
  * harmless.
  */
private[graft] object Memo {

  /** Realistic working set is a handful of kinds (shingle index,
    * cluster labels, ANN pairs, semantic labels, …) × (a few corpora);
    * 32 is a service-hygiene backstop, not a tuning knob — eviction of
    * an entry still referenced by an in-flight plan is only possible
    * past 32 live (session, corpus, kind) combinations. */
  private[graft] val MaxEntries = 32

  /** One materialized artifact: its dir, the hook that deletes it at
    * JVM exit, and the schema resolved once after the write. */
  private[graft] final case class Entry(
      path: String, schema: StructType, hook: sys.ShutdownHookThread)

  private val entries = new java.util.LinkedHashMap[(String, String), Entry]

  /** The live entry for (spark, sfDir, kind), if any. */
  private[graft] def entry(spark: SparkSession, sfDir: String,
      kind: String): Option[Entry] =
    entries.synchronized(Option(entries.get(key(spark, sfDir, kind))))

  private def key(spark: SparkSession, sfDir: String, kind: String) =
    (String.valueOf(System.identityHashCode(spark)), s"$kind@$sfDir")

  /** Wall-clock seconds of each artifact BUILD this JVM actually ran
    * (cache hits record nothing) — the decomposition of the
    * `memo_warmup_sec` line every bench artifact carries (VERDICT r11
    * #7: the chain was the largest untimed cost and had never been
    * stage-profiled). A build's seconds EXCLUDE the memo builds it
    * triggers on the same thread (each is recorded under its own
    * kind), so the entries of one phase sum to at most its wall time.
    * Keyed `kind@sfDir`; harnesses print it as comment lines. */
  val buildSeconds: java.util.concurrent.ConcurrentHashMap[String, Double] =
    new java.util.concurrent.ConcurrentHashMap[String, Double]

  /** Seconds of the builds that finished inside the current thread's
    * running build, so its own record can leave them out. */
  private val nestedSeconds = ThreadLocal.withInitial[Double](() => 0.0)

  /** Snapshot [[buildSeconds]] now; the returned function lists the
    * builds run since, as (kind, seconds), slowest first. A harness
    * takes it right before a memo phase, so builds an earlier phase ran
    * for the same corpus (a warmup over the same dir) are not reported
    * as this phase's. */
  def trackBuilds(): () => Seq[(String, Double)] = {
    import scala.jdk.CollectionConverters._
    val before = buildSeconds.asScala.toMap
    () => buildSeconds.asScala.toSeq
      .map { case (k, v) => (k.takeWhile(_ != '@'), v - before.getOrElse(k, 0.0)) }
      .filter(_._2 > 0).sortBy(-_._2)
  }

  private def deleteDir(path: String): Unit =
    try {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(path)
      if (java.nio.file.Files.exists(root)) {
        java.nio.file.Files.walk(root).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    } catch { case _: Throwable => () }

  /** The memoized relation for (spark, sfDir, kind): built + written
    * once, re-read as a plain parquet scan by every consumer.
    *
    * The BUILD runs OUTSIDE the global lock — a build can itself be
    * minutes of Spark jobs and may recursively memoize its own inputs
    * (semantic labels build on ANN pairs), so holding the lock across
    * it would serialize every other session's memo access behind one
    * builder. The cost is that two racing builders for the same key
    * may both materialize; the loser's dir is deleted and the winner's
    * entry (dir and schema) is shared — correctness is unaffected
    * (builds are deterministic). */
  def parquet(spark: SparkSession, sfDir: String, kind: String)
      (build: => DataFrame): DataFrame = {
    val k = key(spark, sfDir, kind)
    val e = entry(spark, sfDir, kind).getOrElse {
      val out = java.nio.file.Files.createTempDirectory(s"graft-$kind-")
      val hook = sys.addShutdownHook(deleteDir(out.toString))
      val outer = nestedSeconds.get
      nestedSeconds.set(0.0)
      val t0 = System.nanoTime()
      val built = try {
        build.write.mode("overwrite").parquet(out.toString)
        buildSeconds.merge(s"$kind@$sfDir",
          (System.nanoTime() - t0) / 1e9 - nestedSeconds.get, (a, b) => a + b)
        // the one schema inference this artifact ever pays — outside
        // its own build_s, and inside what an enclosing build leaves out
        Entry(out.toString, spark.read.parquet(out.toString).schema, hook)
      } finally nestedSeconds.set(outer + (System.nanoTime() - t0) / 1e9)
      entries.synchronized {
        val raced = entries.get(k)
        if (raced != null) {
          try hook.remove() catch { case _: Throwable => () }
          deleteDir(out.toString)
          raced
        } else {
          entries.put(k, built)
          while (entries.size > MaxEntries) {
            val it = entries.entrySet().iterator()
            val eldest = it.next().getValue
            it.remove()
            try eldest.hook.remove() catch { case _: Throwable => () }
            deleteDir(eldest.path)
          }
          built
        }
      }
    }
    spark.read.schema(e.schema).parquet(e.path)
  }
}
