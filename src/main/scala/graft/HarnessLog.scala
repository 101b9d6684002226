package graft

/** Log hygiene for the mains, installed by [[Session.local]]: their
  * per-query [[Session.unpersistAll]] unpersists locally-checkpointed RDDs,
  * and `org.apache.spark.rdd.RDD` WARNs "RDD N was
  * locally checkpointed, its lineage has been truncated and cannot be
  * recomputed after unpersisting" once per block — hundreds of lines
  * that drowned the BENCH_r10.json artifact tail (VERDICT r10 #3).
  * The unpersist is deliberate (a released plan is never re-executed),
  * so the warning carries no signal in these mains; demote that ONE
  * logger to ERROR instead of silencing WARN globally — every other
  * Spark warning still reaches the artifact.
  *
  * Must run AFTER `sc.setLogLevel` (which resets the ROOT level; the
  * per-logger override below survives root-level changes but would be
  * pointless before the root is configured).
  */
object HarnessLog {
  def quiet(): Unit = {
    // the warning is emitted under the CONCRETE RDD subclass logger
    // (MapPartitionsRDD, ShuffledRowRDD, …), so the package logger is
    // the narrowest name that covers it; org.apache.spark.rdd emits
    // nothing else these mains act on
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    // WindowExec's "No Partition Defined" warning fires for every
    // DELIBERATE metadata-scale window in the repo (domain-bounded
    // tie censuses, k-row tops — all documented, all bounded by a
    // value domain or k, never data-sized).
    // The unpartitioned-window-over-DATA regression this warning
    // exists for is gated structurally by PlanSweepSpec's
    // unpartitioned-window allowlist (every global Window in a
    // declared key's final plan must be a known metadata-scale site),
    // so in the harness mains it is pure tail spam.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
  }
}
