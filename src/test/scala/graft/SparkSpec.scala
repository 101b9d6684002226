package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate → one JVM-wide
  * session across the forked test run). sf0.001 keeps suites fast. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    // same provider as the mains: transformWithState requires RocksDB
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir",
      s"/tmp/graft_warehouse_${java.util.UUID.randomUUID()}")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  /** Final (post-AQE) physical plan string, after forcing execution. */
  def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  /** Every WindowExec in `df`'s executed plan, walked through the AQE
    * stage wrappers (run `df` first to see the final plan's). */
  def windowExecs(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.window.WindowExec] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case o => o.children.flatMap(nodes)
    })
    nodes(df.queryExecution.executedPlan).collect { case w: WindowExec => w }
  }

  /** TwoPass.cumsum's executed shape in `df` (whose final plan string
    * is `plan`): no Row-encoder serde pair, no partition-id column, no
    * unpartitioned window (the bucket offsets are literals), and one
    * window only — the running sum partitioned by the key bucket
    * `__b`. */
  def assertTwoPassShape(df: org.apache.spark.sql.DataFrame,
      plan: String): Unit = {
    for (s <- Seq("DeserializeToObject", "SerializeFromObject",
        "spark_partition_id"))
      assert(!plan.contains(s), s"$s in:\n${plan.take(1500)}")
    val specs = windowExecs(df).map(_.partitionSpec.flatMap(_.references.map(_.name)))
    assert(specs === Seq(Seq("__b")), "expected one window, the running" +
      s" sum partitioned by __b, and no unpartitioned one:\n${plan.take(1500)}")
  }

  /** `body`'s result plus the executed plans of the checkpoint actions
    * it ran while building it. [[Tables.truncate]] materializes
    * eagerly, so a truncated subtree never appears in the consumer's
    * final plan — its shape is pinned on these plans instead. */
  def truncatedPlans[T](body: => T): (T, Seq[String]) = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (action == "localCheckpoint" || action == "checkpoint")
          plans.add(qe.executedPlan.toString)
      override def onFailure(action: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      (out, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
