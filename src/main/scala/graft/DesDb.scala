package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Reference-API facade: the entry points a desdb user calls, mapped
  * one-to-one onto this engine so switching is a rename, not a rewrite
  * [pub: desdb/desdb.py Connection + desdb/files.py DESFiles — SURVEY
  * §0 citation grades].
  *
  * | reference call                         | here                      |
  * |----------------------------------------|---------------------------|
  * | `desdb.Connection(...)`                | `DesDb(spark, sfDir)`     |
  * | `conn.quick(sql)` → rows               | `quick(sql)` → DataFrame  |
  * | `conn.quickWrite(sql, fmt)` → stdout   | `quickWrite(sql, fmt)`    |
  * | `conn.describe(table)`                 | `describe(table)`         |
  * | `conn.list_tables()`                   | `listTables()`            |
  * | `desdb.files.DESFiles().url(type,...)` | `desUrl(filetype, vars)`  |
  * | `get-coadd-srclist` / `Coadd.load`     | `srclist(nodes, edges)`   |
  *
  * The result type is the upgrade: the reference returns list-of-dicts
  * or a NumPy recarray (driver memory bound); `quick` returns a lazy
  * distributed DataFrame — `.collect()` when small, keep distributed
  * when not. Credentials/DSN have no analogue here (the corpus is
  * parquet; live-Oracle access would come through
  * `graft.sources.Sources.jdbc`, the interface slot).
  *
  * The facade runs in the caller's session and sets nothing on it:
  * build it with [[Session.local]] to get the settings the mains run
  * under (UTC, `GraftExtensions`, shuffle partitions = cores, …).
  */
class DesDb(spark: SparkSession, sfDir: String) {
  Tables.registerViews(spark, sfDir)
  graft.functions.VectorExpressions.register(spark)

  /** `Connection.quick(sql)`: arbitrary SQL over the registered
    * catalog tables. */
  def quick(sql: String): DataFrame = spark.sql(sql)

  /** `Connection.quickWrite(sql, fmt)`: stream the result to stdout
    * (csv | json | pretty), driver memory bounded by one partition. */
  def quickWrite(sql: String, fmt: String): Unit =
    Query.write(quick(sql), fmt)

  /** `Connection.describe(table)`. */
  def describe(table: String): DataFrame =
    graft.sources.Sources.describe(spark, table)

  /** `Connection.list_tables()`. */
  def listTables(): DataFrame = graft.sources.Sources.listTables(spark)

  /** Persistent-catalog slot — the analogue of the reference's durable
    * Oracle catalog (`all_tables` sees every table regardless of which
    * session created it [pub: desdb/desdb.py]): `saveAsTable` registers
    * the data in the EXTERNAL catalog, which is shared across sessions
    * (proven via `newSession()` in DesDbSpec) and metastore-durable on
    * a cluster with Hive/catalog support enabled. Temp views, by
    * contrast, die with the session that registered them. Idempotent
    * across processes: a leftover managed directory from a crashed
    * prior run is cleared before the write (CTAS refuses a non-empty
    * location since Spark 3.2). */
  def saveTable(df: DataFrame, name: String): Unit =
    Tables.replaceManagedTable(df, name)

  /** `DESFiles.url(filetype, **kwargs)` over the full template table
    * (red_image/red_cat/red_bkg/coadd_image/coadd_cat/meds) — vars by
    * template name, e.g. `desUrl("coadd_image", Map("RUN" -> …,
    * "TILENAME" -> …, "BAND" -> "i"))`. DESDATA defaults to the
    * reference's root. */
  def desUrl(filetype: String, vars: Map[String, String]): String =
    ops.DesFiles.desPath(filetype,
      Map("DESDATA" -> "/desdata") ++ vars)

  /** Back-compat red_image shorthand (`DESFiles.url('red_image',
    * run=, expname=, ccd=)`). */
  def desUrl(run: String, expname: String, ccd: Int,
      root: String = "/desdata"): String =
    ops.DesFiles.redImagePath(root, run, expname, ccd)

  /** `get-coadd-srclist`: resolve a parent-id hierarchy to its roots —
    * (leaf, root, depth), one distributed join per level. */
  def srclist(nodes: DataFrame, edges: DataFrame,
      maxDepth: Int = 20): DataFrame =
    ops.DesFiles.resolveToRoots(nodes, edges, maxDepth)

  /** The reference's ACTUAL srclist semantics (`Coadd._get_srclist`
    * walks until `filetype='red'`, not to the absolute root): stop at
    * the first ancestor in `stops`. */
  def srclistUntil(nodes: DataFrame, edges: DataFrame, stops: DataFrame,
      maxDepth: Int = 20): DataFrame =
    ops.DesFiles.resolveUntil(nodes, edges, stops, maxDepth)

  /** The DES image catalog as a first-class Spark source (DataSource
    * V2 connector with partition-pruning pushdown — see
    * `graft.sources.DesCatalogSource`). */
  def catalog(): DataFrame =
    spark.read.format("graft.sources.DesCatalogSource").load()
}
