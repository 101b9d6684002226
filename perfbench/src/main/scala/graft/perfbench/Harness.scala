package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.{DesDb, GraftExtensions, HarnessLog, SparkEntry}

/** The benchmark's closed-loop client. `perfbench/run.py` writes the
  * plan (the seeded operation sequence and its SQL text) and reads the
  * result file; this class only executes and times.
  *
  * Usage: Harness <plan.json> <result.json>
  *        Harness --dump-oracle <out.json>
  *
  * Each operation is one user call: a `SparkEntry.queries` builder or
  * `DesDb.quick`, then `collect()` of the rows the user gets.
  * Three spans wrap it — `ops.build` (the builder call), `plans.plan`
  * (forcing `executedPlan`) and `exec.collect`; in a traced pass each
  * runs under its own job group, so the listener can attribute jobs to
  * the phase that started them. Hashing and the per-operation release
  * run outside the spans.
  */
object Harness {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = args match {
    case Array("--dump-oracle", out) =>
      val node = mapper.createObjectNode()
      SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
      mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(out), node)
    case Array(planPath, outPath) =>
      val plan = mapper.readTree(new java.io.File(planPath))
      selfTest(plan.get("canon_vectors").asText)
      val out = new Harness(plan).run()
      mapper.writeValue(new java.io.File(outPath), out)
    case _ =>
      System.err.println("usage: Harness <plan.json> <result.json> | --dump-oracle <out.json>")
      sys.exit(2)
  }

  /** Refuses to run when this side's canonical strings drift from the
    * vectors the Python golden side is tested against. */
  private def selfTest(vectorsPath: String): Unit =
    mapper.readTree(new java.io.File(vectorsPath)).elements().asScala.foreach { v =>
      val got = Canon.value(Canon.parse(v.get("type").asText, v.get("in").asText))
      val want = v.get("out").asText
      require(got == want, s"canon drift on $v: JVM gives '$got'")
    }
}

final class Harness(plan: JsonNode) {
  import Harness.mapper

  private val sf = plan.get("sf").asText
  private val cpus = plan.get("cpus").asInt
  private val traced = plan.get("trace").asBoolean
  private val seconds = plan.get("seconds").asDouble

  private val spark = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("perfbench")
    // the session the shipped mains build (graft.Bench / Verify / Query)
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.debug.maxToStringFields", "2000")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", plan.get("warehouse").asText)
    .config("spark.local.dir", plan.get("local_dir").asText)
    .withExtensions(new GraftExtensions)
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  HarnessLog.quiet()
  private val sc = spark.sparkContext

  // attached for the cold pass and every traced warm pass
  private val trace = if (traced) Some(new Trace) else None
  trace.foreach(sc.addSparkListener)

  private val ops = mapper.createArrayNode()
  private var seq = 0

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  // ms-epoch ↔ nanoTime anchor, so spans line up with listener job times
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  private def epochMs(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6

  private def builder(op: JsonNode, db: DesDb): () => DataFrame = {
    op.get("kind").asText match {
      case "key" =>
        val fn = SparkEntry.queries(op.get("key").asText)
        () => fn(spark, sf)
      case "quick" =>
        val sql = op.get("sql").asText
        () => db.quick(sql)
      case other => sys.error(s"unknown operation kind $other")
    }
  }

  /** Memo artifact kinds a plan reads (Memo writes each artifact to a
    * `graft-<kind>-<n>` directory). */
  private def memoScans(df: DataFrame): Set[String] = {
    val Dir = """.*/graft-(.+)-\d+/?""".r
    df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation =>
          r.location.rootPaths.map(_.toString).collect { case Dir(k) => k }
        case _ => Nil
      }
    }.flatten.toSet
  }

  /** Bytes of the Memo artifact directories on disk. */
  private def memoBytes: Long = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def size(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(size).sum).getOrElse(0L)
      else f.length
    Option(tmp.listFiles).toSeq.flatten.filter(_.getName.startsWith("graft-")).map(size).sum
  }

  private def memoBuilds: Map[String, Double] =
    graft.ops.Memo.buildSeconds.asScala.toMap

  private def graftRuleNs: Long =
    // RuleExecutor keeps one process-wide per-rule meter; its dump is a
    // table of "<rule> <effective ns> / <total ns> ..." lines
    RuleExecutor.dumpTimeSpent().linesIterator
      .filter(_.trim.startsWith("graft.plans."))
      .map(_.trim.split("\\s+").toSeq)
      .flatMap(cols => cols.lift(3).flatMap(_.toLongOption))
      .sum

  /** Drop this operation's persisted blocks and garbage before the
    * next one starts, as graft.Bench does between keys. */
  private def release(): Unit = {
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** Attaches or detaches the traced run's listener, after every event
    * already posted has reached it. */
  private def listen(on: Boolean): Unit = trace.foreach { t =>
    org.apache.spark.BenchBus.drain(sc)
    if (on) sc.addSparkListener(t) else sc.removeSparkListener(t)
  }

  /** Runs one operation and records it. Failures are recorded, never
    * thrown: they count against the run, they do not end it. A recorded
    * operation runs each phase under the job group `op-<seq>-<phase>`,
    * so the listener can attribute jobs to it, and `record_ms` is what
    * its recording added to the operation, outside the three spans. */
  private def runOp(op: JsonNode, db: DesDb, phase: String, record: Boolean): Unit = {
    seq += 1
    val rec = mapper.createObjectNode()
    rec.put("seq", seq).put("id", op.get("id").asText).put("phase", phase)
      .put("traced", record)
    def group(name: String): Unit =
      if (record) sc.setJobGroup(s"op-$seq-$name", op.get("id").asText)
    val r0 = System.nanoTime()
    val memoBefore = if (record) memoBuilds.keySet else Set.empty[String]
    val ruleBefore = if (record) graftRuleNs else 0L
    val gc0 = gcMs
    var df: DataFrame = null
    var rows: Array[org.apache.spark.sql.Row] = null
    val t0 = System.nanoTime()
    var t1, t2, t3 = t0
    try {
      group("build")
      df = builder(op, db)()
      t1 = System.nanoTime()
      group("plan")
      df.queryExecution.executedPlan
      t2 = System.nanoTime()
      group("collect")
      rows = df.collect()
      t3 = System.nanoTime()
    } catch {
      case NonFatal(e) =>
        rec.put("error", s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
    } finally if (record) sc.clearJobGroup()
    val gc1 = gcMs
    rec.put("start_ms", epochMs(t0)).put("build_ms", (t1 - t0) / 1e6)
      .put("plan_ms", (t2 - t1) / 1e6).put("collect_ms", (t3 - t2) / 1e6)
      .put("gc_ms", gc1 - gc0)
    if (record) {
      val r1 = System.nanoTime()
      rec.put("graft_rule_ns", graftRuleNs - ruleBefore)
      if (df != null) {
        val phases = rec.putObject("planning_ms")
        df.queryExecution.tracker.phases.foreach { case (k, v) => phases.put(k, v.durationMs) }
      }
      val built = (memoBuilds.keySet -- memoBefore).map(_.takeWhile(_ != '@'))
      val scanned = if (df != null) memoScans(df) else Set.empty[String]
      val kinds = rec.putArray("memo_built")
      built.toSeq.sorted.foreach(kinds.add)
      rec.put("memo_hits", (scanned -- built).size)
      rec.put("checkpoints", sc.getPersistentRDDs.size)
      rec.put("checkpoint_bytes",
        sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
      rec.put("record_ms", ((t0 - r0) + (System.nanoTime() - r1)) / 1e6)
    }
    if (rows != null) {
      val (n, h) = Canon.hash(rows, df.schema)
      rec.put("rows", n).put("hash", h)
    }
    release()
    ops.add(rec)
  }

  def run(): ObjectNode = {
    val out = mapper.createObjectNode()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def list(name: String) = plan.get(name).elements().asScala.toSeq

    // set-up: the user's session with the corpus views registered
    val db = new DesDb(spark, sf)
    out.put("setup_s", (System.currentTimeMillis() - jvmStartMs) / 1e3)
    heapPools.foreach(_.resetPeakUsage())

    // cold pass: first use in this JVM (JIT, first codegen, first scans);
    // memo builds land here
    list("cold").foreach(op => runOp(op, db, "cold", record = traced))

    // warm passes until the time budget is spent, whole passes only. A
    // traced run alternates untraced passes (listener detached, nothing
    // recorded) with traced ones, so the cost of tracing shows as the
    // latency gap between the two within the run
    val passes = list("passes")
    val minPasses = if (traced) 2 else 1
    val w0 = System.nanoTime()
    var p = 0
    while (p < minPasses || (System.nanoTime() - w0) / 1e9 < seconds) {
      val on = traced && p % 2 == 1
      if (traced) listen(on)
      passes(p % passes.size).elements().asScala.foreach(runOp(_, db, "warm", on))
      p += 1
    }
    out.put("warm_s", (System.nanoTime() - w0) / 1e9)
    out.put("passes", p)

    out.put("peak_heap_mb", heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
    out.put("memo_bytes", memoBytes)
    val memo = out.putObject("memo_build_s")
    memoBuilds.foreach { case (k, v) => memo.put(k.takeWhile(_ != '@'), v) }
    out.set[JsonNode]("ops", ops)
    trace.foreach { t =>
      org.apache.spark.BenchBus.drain(sc)
      t.synchronized {
        val jobs = out.putArray("jobs")
        t.jobs.values.foreach { j =>
          jobs.addObject().put("group", j.group).put("id", j.id)
            .put("start_ms", j.startMs).put("end_ms", j.endMs)
        }
        val groups = out.putObject("groups")
        t.totals.foreach { case (g, x) =>
          groups.putObject(g).put("stages", x.stages).put("tasks", x.tasks)
            .put("task_run_ms", x.taskRunMs).put("task_cpu_ns", x.taskCpuNs)
            .put("sched_delay_ms", x.schedDelayMs)
            .put("shuffle_write_bytes", x.shuffleWriteBytes)
            .put("shuffle_read_bytes", x.shuffleReadBytes)
            .put("spill_bytes", x.spillBytes)
            .put("input_bytes", x.inputBytes).put("input_records", x.inputRecords)
            .put("output_bytes", x.outputBytes).put("output_records", x.outputRecords)
        }
      }
    }
    spark.stop()
    out
  }
}
