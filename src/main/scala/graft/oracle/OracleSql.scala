package graft.oracle

import graft.Det.Sql._

/** DuckDB-runnable ANSI SQL twins of every hash-matched query key
  * (SURVEY.md §2, "Oracle? yes" rows). Column aliases MUST match the
  * Spark side exactly — the driver sorts columns by name before hashing.
  */
object OracleSql {

  // greedy latest-at-or-before match — shared by the union+window and
  // the native-operator formulation (proven equal in the suite)
  private val asofSql: String =
    """SELECT p.event_id, p.user_id, cast(p.ts as timestamp) AS ts,
      |  cast((SELECT max(c.ts) FROM events c
      |        WHERE c.user_id = p.user_id AND c.event_type = 'click'
      |          AND c.ts <= p.ts) as timestamp) AS last_click_ts
      |FROM events p WHERE p.event_type = 'purchase'
      |ORDER BY p.event_id""".stripMargin

  private val relational: Map[String, String] = Map(
    "q_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_shipdate""".stripMargin,

    "q_source_range" ->
      """SELECT count(*) AS n_rows, cast(sum(x) as bigint) AS total
        |FROM range(1, 1001) t(x)""".stripMargin,

    "q_sink_csv_roundtrip" ->
      s"""SELECT l_returnflag, count(*) AS n,
         |  ${dsum("l_quantity")} AS sum_qty,
         |  ${dsum("l_extendedprice")} AS sum_price
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_sink_json_roundtrip" ->
      s"""SELECT o_orderstatus, count(*) AS n,
         |  ${dsum("o_totalprice")} AS sum_price
         |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_sink_orc_roundtrip" ->
      s"""SELECT p_brand, count(*) AS n, ${lsum("p_size")} AS sum_size,
         |  ${dsum("p_retailprice")} AS sum_price
         |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q_sink_xml_roundtrip" ->
      s"""SELECT s_nationkey, count(*) AS n,
         |  ${dsum("s_acctbal")} AS sum_bal
         |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    "q_filter_predicates" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_linestatus
        |FROM lineitem
        |WHERE l_quantity BETWEEN 10 AND 30
        |  AND l_returnflag IN ('A', 'N')
        |  AND (l_linestatus LIKE 'F%' OR l_discount < 0.05)
        |  AND NOT (l_tax > 0.07)
        |  AND l_shipdate IS NOT NULL
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag, l_linestatus""".stripMargin,

    "q_project_compute" ->
      """SELECT o_orderkey, o_totalprice,
        |  CASE WHEN o_totalprice > 300000 THEN 'big'
        |       WHEN o_totalprice > 150000 THEN 'mid'
        |       ELSE 'small' END AS bucket,
        |  o_totalprice * 0.1 AS tithe
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_cast_decimal" ->
      """SELECT o_orderkey,
        |  cast(cast(o_totalprice as decimal(12,2)) as double) AS price_dec,
        |  cast(substring(o_orderpriority, 1, 1) as int) AS prio_num,
        |  cast(o_orderdate as date) AS odate
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_join_inner" ->
      s"""SELECT c_mktsegment, count(*) AS n_orders,
         |  ${dsum("o_totalprice")} AS sum_price
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_join_broadcast" ->
      s"""SELECT p_brand, count(*) AS n,
         |  ${dsumDec(s"${dec("l_extendedprice")} * (1 - ${dec("l_discount")})")} AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE p_size <= 10
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q_join_left_outer" ->
      """SELECT c_nationkey,
        |  count(DISTINCT c_custkey) AS n_cust,
        |  count(DISTINCT CASE WHEN o_orderkey IS NULL THEN c_custkey END) AS n_no_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q_join_full_outer" ->
      """SELECT
        |  cast(sum(CASE WHEN a.o_custkey IS NOT NULL AND b.c_custkey IS NOT NULL THEN 1 ELSE 0 END) as bigint) AS n_both,
        |  cast(sum(CASE WHEN b.c_custkey IS NULL THEN 1 ELSE 0 END) as bigint) AS n_orders_only,
        |  cast(sum(CASE WHEN a.o_custkey IS NULL THEN 1 ELSE 0 END) as bigint) AS n_customer_only
        |FROM (SELECT DISTINCT o_custkey FROM orders) a
        |FULL OUTER JOIN customer b ON a.o_custkey = b.c_custkey""".stripMargin,

    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 250000)
        |ORDER BY c_custkey""".stripMargin,

    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 250000)
        |ORDER BY c_custkey""".stripMargin,

    "q_join_cross" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,

    "q_join_theta" ->
      s"""SELECT p_brand, count(*) AS n, ${dsum("l_quantity")} AS sum_qty
         |FROM part JOIN lineitem
         |  ON p_partkey = l_partkey AND l_quantity > p_size
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q_join_range_interval" ->
      s"""SELECT cast(year(l_shipdate) as int) AS yr, count(*) AS n,
         |  ${dsum("l_quantity")} AS sum_qty
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  AND l_shipdate >= o_orderdate
         |  AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
         |GROUP BY 1 ORDER BY yr""".stripMargin,

    // the bucket decomposition is lossless — the oracle is the plain
    // range join the operator re-expresses
    "q_join_interval_bucketed" ->
      """SELECT p.event_id, cast(p.ts as timestamp) AS ts,
        |  count(c.ts) AS n_nearby_clicks
        |FROM events p LEFT JOIN events c
        |  ON c.event_type = 'click'
        |  AND cast(c.ts as timestamp)
        |      >= cast(p.ts as timestamp) - INTERVAL '5 minutes'
        |  AND cast(c.ts as timestamp)
        |      <= cast(p.ts as timestamp) + INTERVAL '5 minutes'
        |WHERE p.event_type = 'purchase'
        |GROUP BY 1, 2
        |ORDER BY p.event_id""".stripMargin,

    "q_join_asof" -> asofSql,
    // native AsOfJoinExec computes the identical result
    "q_join_asof_native" -> asofSql,

    // q_join_bucketed: the bucketed LAYOUT is invisible to the result —
    // the oracle is the plain join+rollup off the source parquet.
    "q_join_bucketed" ->
      s"""SELECT c_mktsegment, count(*) AS n_orders,
         |  ${dsum("o_totalprice")} AS sum_price
         |FROM customer JOIN orders ON c_custkey = o_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_join_multiway_star" ->
      s"""SELECT n_name,
         |  ${dsumDec(s"${dec("l_extendedprice")} * (1 - ${dec("l_discount")})")} AS revenue,
         |  count(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1997-01-01'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin,

    "q_sort_multikey" ->
      """SELECT l_returnflag, l_shipdate, l_orderkey, l_linenumber,
        |  nullif(l_discount, 0.0) AS disc_n
        |FROM lineitem
        |ORDER BY l_returnflag ASC, l_shipdate DESC,
        |  disc_n ASC NULLS FIRST, l_orderkey ASC, l_linenumber ASC""".stripMargin,

    "q_topk_global" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25""".stripMargin,

    "q_union_all" ->
      """SELECT * FROM (
        |  SELECT o_orderkey, 'high' AS tag FROM orders WHERE o_totalprice > 350000
        |  UNION ALL
        |  SELECT o_orderkey, 'low' AS tag FROM orders WHERE o_totalprice < 20000
        |) ORDER BY tag, o_orderkey""".stripMargin,

    "q_union_distinct" ->
      """SELECT * FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  UNION
        |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |) ORDER BY c_custkey""".stripMargin,

    "q_intersect" ->
      """SELECT * FROM (
        |  SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |  INTERSECT
        |  SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
        |) ORDER BY o_custkey""".stripMargin,

    "q_except" ->
      """SELECT * FROM (
        |  SELECT c_custkey FROM customer
        |  EXCEPT
        |  SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 200000
        |) ORDER BY c_custkey""".stripMargin
  )

  private val aggregates: Map[String, String] = Map(
    "q_agg_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_suppkey) AS n_supp,
        |  count(DISTINCT (l_partkey, l_suppkey)) AS n_part_supp,
        |  cast(sum(DISTINCT cast(l_quantity as decimal(27,4))) as double) AS sum_dist_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_agg_rollup" ->
      s"""SELECT r_name, n_name, count(*) AS n_cust, ${dsum("c_acctbal")} AS sum_bal
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY ROLLUP(r_name, n_name)
         |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin,

    "q_agg_cube" ->
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
         |  ${dsum("l_quantity")} AS sum_qty
         |FROM lineitem
         |GROUP BY CUBE(l_returnflag, l_linestatus)
         |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q_agg_grouping_sets" ->
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         |  ${dsum("o_totalprice")} AS sum_price,
         |  cast(grouping(o_orderstatus) as int) * 2
         |    + cast(grouping(o_orderpriority) as int) AS gid
         |FROM orders
         |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
         |  (o_orderstatus), ())
         |ORDER BY gid, o_orderstatus ASC NULLS FIRST,
         |  o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q_agg_stats" ->
      """SELECT l_returnflag,
        |  round(stddev_samp(l_quantity), 4) AS sd_qty,
        |  round(var_samp(l_quantity), 4) AS var_qty,
        |  round(stddev_samp(l_discount), 4) AS sd_disc,
        |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
        |  round(covar_pop(l_quantity, l_discount), 4) AS cov_qty_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_agg_collect_sorted" ->
      """SELECT l_returnflag, l_linestatus,
        |  array_to_string(list_sort(list_distinct(
        |    list(cast(l_quantity as int)))), ',') AS qty_set
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    // full recompute — hash equality against the Spark side's
    // snapshot+delta merge proves merge ≡ recompute
    "q_agg_incremental" ->
      """SELECT source, count(*) AS n_docs,
        |  cast(sum(n_chars) as bigint) AS sum_chars,
        |  cast(cast(sum(n_chars) as bigint) as double) / count(*)
        |    AS avg_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q_agg_percentile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.25), 4) AS p25_qty,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
        |  round(quantile_cont(l_quantity, 0.75), 4) AS p75_qty,
        |  round(median(l_extendedprice), 4) AS med_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // exact-regime twin: k = 64 >= distinct(event_type) makes the
    // Misra-Gries sketch exactly the group count (see FreqAgg scaladoc)
    "q_agg_heavy_hitters" ->
      """SELECT event_type, count(*) AS n_events,
        |  cast(row_number() OVER (ORDER BY count(*) DESC, event_type)
        |       as int) AS rk
        |FROM events GROUP BY event_type ORDER BY rk""".stripMargin
  )

  private val windows: Map[String, String] = Map(
    "q_win_rank" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
        |  row_number() OVER w AS rn
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey ASC)
        |ORDER BY o_custkey, rn""".stripMargin,

    "q_win_lag_lead" ->
      """SELECT event_id, user_id, cast(ts as timestamp) AS ts, value,
        |  cast(lag(ts, 1) OVER w as timestamp) AS prev_ts,
        |  lead(value, 1) OVER w AS next_value,
        |  first_value(value) OVER
        |    (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_value,
        |  last_value(value) OVER
        |    (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_last
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY cast(ts as timestamp), event_id)
        |ORDER BY user_id, ts, event_id""".stripMargin,

    "q_win_frame_rows" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  cast(sum(cast(o_totalprice as decimal(12,2))) OVER
        |    (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as double)
        |    AS running_total,
        |  cast(sum(cast(o_totalprice as decimal(12,2))) OVER
        |    (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) as double)
        |    / count(*) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |    AS moving_avg
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_win_frame_range" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  count(*) OVER w AS n_near,
        |  cast(sum(cast(o_totalprice as decimal(12,2))) OVER w as double)
        |    AS sum_near
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice
        |  RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_win_topk_per_group" ->
      s"""WITH rev AS (
         |  SELECT l_suppkey, l_partkey,
         |    sum(${dec("l_extendedprice")} * (1 - ${dec("l_discount")})) AS rev_dec
         |  FROM lineitem GROUP BY l_suppkey, l_partkey),
         |rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY l_suppkey
         |    ORDER BY rev_dec DESC, l_partkey ASC) AS rk FROM rev)
         |SELECT l_suppkey, l_partkey, cast(rev_dec as double) AS revenue, rk
         |FROM rk WHERE rk <= 3 ORDER BY l_suppkey, rk""".stripMargin,

    // q_win_topk_agg orders inside the heap on the DOUBLE revenue
    // (score DESC, id ASC), so the oracle casts before ranking —
    // unlike q_win_topk_per_group, which ranks on the exact decimal.
    "q_win_topk_agg" ->
      s"""WITH rev AS (
         |  SELECT l_suppkey, l_partkey,
         |    cast(sum(${dec("l_extendedprice")} * (1 - ${dec("l_discount")}))
         |      as double) AS revenue
         |  FROM lineitem GROUP BY l_suppkey, l_partkey),
         |rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY l_suppkey
         |    ORDER BY revenue DESC, l_partkey ASC) AS rk FROM rev)
         |SELECT l_suppkey, l_partkey, revenue, rk
         |FROM rk WHERE rk <= 3 ORDER BY l_suppkey, rk""".stripMargin,

    "q_win_distribution" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |  ntile(4) OVER w AS quartile,
        |  round(percent_rank() OVER w, 4) AS pct_rank,
        |  round(cume_dist() OVER w, 4) AS cume
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_mktsegment, c_custkey""".stripMargin
  )

  private val pivotCols =
    Seq("click", "error", "purchase", "signup", "view")

  private val pivotSql: String =
    s"""SELECT user_id,
       |${pivotCols.map(t => s"  count(CASE WHEN event_type = '$t' THEN 1 END) AS $t").mkString(",\n")}
       |FROM events GROUP BY user_id""".stripMargin

  private val generators: Map[String, String] = Map(
    "q_pivot" -> s"""SELECT * FROM ($pivotSql) ORDER BY user_id""",

    "q_unpivot" ->
      s"""WITH g AS ($pivotSql)
         |SELECT * FROM (
         |${pivotCols.map(t => s"  SELECT user_id, '$t' AS event_type, $t AS n FROM g").mkString("\n  UNION ALL\n")}
         |) ORDER BY user_id, event_type""".stripMargin,

    "q_explode_tokens" ->
      """WITH tok AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (
        |  SELECT lang, token, count(*) AS cnt FROM tok
        |  WHERE token <> '' GROUP BY lang, token),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY lang
        |    ORDER BY cnt DESC, token ASC) AS rk FROM c)
        |SELECT lang, token, cnt, rk FROM r WHERE rk <= 5
        |ORDER BY lang, rk""".stripMargin,

    "q_udtf_shingles" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS sh
        |  FROM t WHERE len(toks) >= 3)
        |SELECT doc_id, cast(len(sh) as bigint) AS n_shingles,
        |  cast(len(list_distinct(sh)) as bigint) AS n_distinct
        |FROM s ORDER BY doc_id""".stripMargin,

    "q_subquery_scalar" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (
        |  SELECT cast(sum(cast(o_totalprice as decimal(27,4))) as double)
        |         / count(*) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,

    "q_subquery_not_in" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_custkey NOT IN (
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,

    "q_lateral_topn" ->
      """SELECT n_name, c.c_custkey, c.c_acctbal
        |FROM nation n, LATERAL (
        |  SELECT c_custkey, c_acctbal FROM customer
        |  WHERE c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
        |ORDER BY n_name, c_acctbal DESC, c_custkey""".stripMargin,

    "q_subquery_in_correlated" ->
      """SELECT c_custkey, n_above FROM (
        |  SELECT c_custkey,
        |    (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey
        |      AND o.o_totalprice > 1.2 * (
        |        SELECT cast(sum(cast(o2.o_totalprice as decimal(27,4))) as double)
        |               / count(*)
        |        FROM orders o2 WHERE o2.o_custkey = o.o_custkey)) AS n_above
        |  FROM customer c)
        |WHERE n_above > 0
        |ORDER BY c_custkey""".stripMargin
  )

  private val scalars: Map[String, String] = Map(
    "q_str_funcs" ->
      """SELECT c_custkey,
        |  substring(c_name, 1, 8) AS name_head,
        |  upper(c_mktsegment) AS seg_upper,
        |  lower(c_name) AS name_lower,
        |  trim('  ' || c_mktsegment || '  ') AS seg_trim,
        |  lpad(cast(c_custkey as varchar), 8, '0') AS key_padded,
        |  concat_ws('-', c_mktsegment, cast(c_custkey as varchar)) AS seg_key,
        |  string_split(c_name, '#')[2] AS name_num,
        |  regexp_extract(c_name, '([0-9]+)', 1) AS digits,
        |  regexp_replace(c_name, '0+', '0', 'g') AS squeezed,
        |  cast(length(c_name) as int) AS name_len
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_date_funcs" ->
      """SELECT o_orderkey,
        |  cast(year(o_orderdate) as int) AS yr,
        |  cast(month(o_orderdate) as int) AS mo,
        |  cast(day(o_orderdate) as int) AS dom,
        |  cast(date_trunc('month', o_orderdate) as timestamp) AS month_start,
        |  cast(o_orderdate as date) + 30 AS plus30,
        |  cast(date_diff('day', cast(o_orderdate as date), DATE '1998-01-01') as int) AS days_to_98,
        |  strftime(o_orderdate, '%Y-%m') AS ym,
        |  cast(epoch(o_orderdate) as bigint) AS epoch_s
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_math_funcs" ->
      """SELECT p_partkey,
        |  abs(p_retailprice - 1000.0) AS abs_off,
        |  cast(floor(p_retailprice) as bigint) AS price_floor,
        |  cast(ceil(p_retailprice) as bigint) AS price_ceil,
        |  cast(pow(p_size, 2) as bigint) AS size_sq,
        |  round(sqrt(p_retailprice), 4) AS price_sqrt,
        |  round(ln(p_retailprice), 4) AS price_ln,
        |  round(log10(p_retailprice), 4) AS price_log10,
        |  p_partkey % 7 AS key_mod7,
        |  cast(sign(p_size - 25) as int) AS size_sign,
        |  greatest(p_size, 25) AS size_hi,
        |  least(p_size, 25) AS size_lo
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_array_funcs" ->
      """SELECT vec_id,
        |  cast(len(embedding) as int) AS n_dims,
        |  round(cast(embedding[1] as double), 4) AS first_elem,
        |  array_to_string(list_transform(embedding[1:4],
        |    x -> cast(floor(cast(x as double) * 10000) as bigint)), ',')
        |    AS head4,
        |  round(list_sum(list_transform(embedding,
        |    x -> cast(x as double) * cast(x as double))), 4) AS norm_sq,
        |  round(list_sum(list_transform(embedding,
        |    x -> cast(x as double))), 4) AS sum_elems,
        |  list_contains(range(1, label + 2), 3) AS label_ge2
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "q_map_json_funcs" ->
      """SELECT event_id,
        |  json_extract_string(props, '$.k') AS k_str,
        |  cast(json_extract_string(props, '$.k') as int) AS k_val,
        |  array_to_string(json_keys(props), ',') AS prop_keys
        |FROM events ORDER BY event_id""".stripMargin,

    "q_conditional_null" ->
      """SELECT c_custkey,
        |  coalesce(nullif(c_mktsegment, 'BUILDING'), '<none>') AS seg_or_none,
        |  nullif(c_mktsegment, 'BUILDING') AS seg_nullif,
        |  ifnull(nullif(c_mktsegment, 'BUILDING'), 'fallback') AS seg_nvl,
        |  CASE WHEN c_acctbal < 0 THEN -1.0 ELSE sqrt(c_acctbal) END AS sqrt_or_neg1,
        |  nullif(c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM
        |    nullif(c_mktsegment, 'AUTOMOBILE') AS ns_eq
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_na_functions" ->
      s"""WITH w AS (
         |  SELECT c_custkey,
         |    coalesce(nullif(c_mktsegment, 'BUILDING'), '<missing>') AS seg,
         |    coalesce(nullif(c_acctbal, 0.0), -1.0) AS bal
         |  FROM customer)
         |SELECT count(*) AS n_total,
         |  cast(sum(CASE WHEN seg = '<missing>' THEN 1 ELSE 0 END) as bigint)
         |    AS n_filled_seg,
         |  ${dsum("bal")} AS sum_bal_filled,
         |  (SELECT count(*) FROM customer
         |   WHERE nullif(c_mktsegment, 'BUILDING') IS NOT NULL) AS n_after_drop
         |FROM w""".stripMargin,

    "q_udf_despath" ->
      """SELECT o_orderkey,
        |  '2013' || lpad(cast(o_orderkey % 500 as varchar), 4, '0') AS run,
        |  'DECam_' || lpad(cast(o_orderkey % 100 as varchar), 8, '0') AS expname,
        |  cast(o_orderkey % 62 + 1 as int) AS ccd,
        |  '/desdata/OPS/red/' || run || '/red/' || expname || '/' || expname
        |    || '_' || lpad(cast(ccd as varchar), 2, '0') || '.fits' AS path_udf,
        |  path_udf AS path_builtin
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_udf_despath_multi" ->
      """WITH c AS (
        |  SELECT o_orderkey,
        |    '2013' || lpad(cast(o_orderkey % 500 as varchar), 4, '0') AS run,
        |    'DECam_' || lpad(cast(o_orderkey % 100 as varchar), 8, '0') AS expname,
        |    lpad(cast(o_orderkey % 62 + 1 as varchar), 2, '0') AS ccd,
        |    'DES' || lpad(cast(o_orderkey % 300 as varchar), 4, '0') || '-5540' AS tilename,
        |    (['g','r','i','z','Y'])[cast(o_orderkey % 5 as int) + 1] AS band
        |  FROM orders)
        |SELECT o_orderkey, filetype,
        |  CASE filetype
        |    WHEN 'coadd_cat' THEN '/desdata/OPS/coadd/' || run || '/coadd/' || tilename || '_' || band || '_cat.fits'
        |    WHEN 'coadd_image' THEN '/desdata/OPS/coadd/' || run || '/coadd/' || tilename || '_' || band || '.fits'
        |    WHEN 'meds' THEN '/desdata/meds/y3v02/' || run || '/' || tilename || '-' || band || '-meds-y3v02.fits'
        |    WHEN 'red_bkg' THEN '/desdata/OPS/red/' || run || '/red/' || expname || '/' || expname || '_' || ccd || '_bkg.fits'
        |    WHEN 'red_cat' THEN '/desdata/OPS/red/' || run || '/red/' || expname || '/' || expname || '_' || ccd || '_cat.fits'
        |    WHEN 'red_image' THEN '/desdata/OPS/red/' || run || '/red/' || expname || '/' || expname || '_' || ccd || '.fits'
        |  END AS path
        |FROM c CROSS JOIN (SELECT unnest(['coadd_cat','coadd_image','meds',
        |  'red_bkg','red_cat','red_image']) AS filetype) f
        |ORDER BY o_orderkey, filetype""".stripMargin,

    "q_udaf_welford" ->
      """SELECT l_returnflag,
        |  round(var_samp(l_quantity), 4) AS welford_var,
        |  round(var_samp(l_quantity), 4) AS builtin_var
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_sink_table_roundtrip" ->
      """SELECT n_regionkey, count(*) AS n, min(n_name) AS first_name
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,

    "q_hierarchy_srclist_stop" ->
      """WITH RECURSIVE walk AS (
        |  SELECT o_orderkey AS leaf, o_orderkey AS cur, 0 AS depth FROM orders
        |  UNION ALL
        |  SELECT w.leaf, w.cur // 10 AS cur, w.depth + 1 AS depth FROM walk w
        |  WHERE w.cur % 7 <> 0
        |    AND w.cur // 10 <> w.cur
        |    AND EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = w.cur // 10))
        |SELECT leaf, cur AS root, cast(depth as int) AS depth
        |FROM walk w
        |WHERE w.cur % 7 = 0
        |   OR w.cur // 10 = w.cur
        |   OR NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = w.cur // 10)
        |ORDER BY leaf""".stripMargin,

    // the pointer-doubling twin resolves the same walk, so it shares
    // the reference formulation verbatim
    "q_hierarchy_srclist_doubling" ->
      """WITH RECURSIVE walk AS (
        |  SELECT o_orderkey AS leaf, o_orderkey AS cur, 0 AS depth FROM orders
        |  UNION ALL
        |  SELECT w.leaf, w.cur // 10 AS cur, w.depth + 1 AS depth FROM walk w
        |  WHERE w.cur // 10 <> w.cur
        |    AND EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = w.cur // 10))
        |SELECT leaf, cur AS root, cast(depth as int) AS depth
        |FROM walk w
        |WHERE w.cur // 10 = w.cur
        |   OR NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = w.cur // 10)
        |ORDER BY leaf""".stripMargin,

    // the native-recursion twin resolves the same walk, so it shares
    // the reference formulation verbatim
    "q_hierarchy_srclist_cte" ->
      """WITH RECURSIVE walk AS (
        |  SELECT o_orderkey AS leaf, o_orderkey AS cur, 0 AS depth FROM orders
        |  UNION ALL
        |  SELECT w.leaf, w.cur // 10 AS cur, w.depth + 1 AS depth FROM walk w
        |  WHERE w.cur // 10 <> w.cur
        |    AND EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = w.cur // 10))
        |SELECT leaf, cur AS root, cast(depth as int) AS depth
        |FROM walk w
        |WHERE w.cur // 10 = w.cur
        |   OR NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = w.cur // 10)
        |ORDER BY leaf""".stripMargin,

    "q_hierarchy_srclist" ->
      """WITH RECURSIVE walk AS (
        |  SELECT o_orderkey AS leaf, o_orderkey AS cur, 0 AS depth FROM orders
        |  UNION ALL
        |  SELECT w.leaf, w.cur // 10 AS cur, w.depth + 1 AS depth FROM walk w
        |  WHERE w.cur // 10 <> w.cur
        |    AND EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = w.cur // 10))
        |SELECT leaf, cur AS root, cast(depth as int) AS depth
        |FROM walk w
        |WHERE w.cur // 10 = w.cur
        |   OR NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = w.cur // 10)
        |ORDER BY leaf""".stripMargin
  )

  private val streaming: Map[String, String] = Map(
    "q_stream_tumbling" ->
      s"""SELECT cast(time_bucket(INTERVAL '1 hour', ts) as timestamp) AS window_start,
         |  cast(time_bucket(INTERVAL '1 hour', ts) as timestamp)
         |    + INTERVAL '1 hour' AS window_end,
         |  event_type, count(*) AS n, ${dsum("value")} AS sum_value
         |FROM events
         |GROUP BY 1, 2, 3
         |ORDER BY window_start, event_type""".stripMargin,

    "q_stream_sliding" ->
      s"""SELECT cast(time_bucket(INTERVAL '15 minutes', ts) as timestamp)
         |    - k * INTERVAL '15 minutes' AS window_start,
         |  cast(time_bucket(INTERVAL '15 minutes', ts) as timestamp)
         |    - k * INTERVAL '15 minutes' + INTERVAL '1 hour' AS window_end,
         |  event_type, count(*) AS n, ${dsum("value")} AS sum_value
         |FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) t(k)
         |GROUP BY 1, 2, 3
         |ORDER BY window_start, event_type""".stripMargin,

    "q_stream_session" ->
      s"""WITH flagged AS (
         |  SELECT user_id, ts, event_id, value,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |      OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
         |      THEN 1 ELSE 0 END AS new_s
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |sessions AS (
         |  SELECT *, sum(new_s) OVER (PARTITION BY user_id
         |    ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM flagged)
         |SELECT user_id,
         |  cast(min(ts) as timestamp) AS session_start,
         |  cast(max(ts) as timestamp) + INTERVAL '30 minutes' AS session_end,
         |  count(*) AS n_events, ${dsum("value")} AS sum_value
         |FROM sessions GROUP BY user_id, sid
         |ORDER BY user_id, session_start""".stripMargin,

    "q_stream_dedup" ->
      """SELECT user_id, event_type, event_id, cast(ts as timestamp) AS ts
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |        ORDER BY ts, event_id) AS rn FROM events)
        |WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,

    "q_stream_join" ->
      """SELECT p.event_id, p.user_id, cast(p.ts as timestamp) AS ts,
        |  count(c.ts) AS n_clicks_1h
        |FROM events p LEFT JOIN events c
        |  ON c.user_id = p.user_id AND c.event_type = 'click'
        |  AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 1 HOUR
        |WHERE p.event_type = 'purchase'
        |GROUP BY 1, 2, 3
        |ORDER BY p.event_id""".stripMargin,

    // outer-join twin: explicit NULLS LAST mirrors the Spark side's
    // asc_nulls_last (the engines' default NULL placement differs)
    "q_stream_join_outer" ->
      """WITH c AS (SELECT event_id AS click_id, user_id,
        |    cast(ts as timestamp) AS ts
        |  FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id AS pu,
        |    cast(ts as timestamp) AS purchase_ts
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT c.click_id, c.user_id, c.ts,
        |    p.purchase_id, p.purchase_ts,
        |    row_number() OVER (PARTITION BY c.click_id
        |      ORDER BY p.purchase_ts ASC NULLS LAST,
        |               p.purchase_id ASC NULLS LAST) AS rn
        |  FROM c LEFT JOIN p ON c.user_id = p.pu
        |    AND p.purchase_ts >= c.ts
        |    AND p.purchase_ts < c.ts + INTERVAL 1 HOUR)
        |SELECT click_id, user_id, ts, purchase_id, purchase_ts
        |FROM j WHERE rn = 1
        |ORDER BY click_id""".stripMargin,

    // the typed mapGroupsWithState fold accumulates the same
    // decimal(27,4) sum this plain aggregation computes
    "q_state_running" ->
      s"""SELECT user_id, count(*) AS n_events,
         |  ${dsum("value")} AS sum_value,
         |  max(cast(ts as timestamp)) AS last_ts
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // the transformWithState twin computes the identical running fold
    "q_state_running_tws" ->
      s"""SELECT user_id, count(*) AS n_events,
         |  ${dsum("value")} AS sum_value,
         |  max(cast(ts as timestamp)) AS last_ts
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // watermark judged against PRECEDING batches' max event time only
    // (Structured Streaming advances watermarks between microbatches);
    // the first batch has no watermark -> NULL -> nothing late.
    // Arrival = event time + per-source lag (user_id%4 * 5 min);
    // microbatch = arrival hour (processing-time trigger).
    "q_stream_late_drop" ->
      """WITH ev AS (
        |  SELECT cast(ts as timestamp) AS ts,
        |    cast(floor(epoch(cast(ts as timestamp)
        |      + (user_id % 4) * INTERVAL '5 minutes') / 3600) as bigint)
        |      AS batch_id
        |  FROM events),
        |bm AS (SELECT batch_id, max(ts) AS bmax FROM ev GROUP BY 1),
        |wm AS (SELECT batch_id,
        |  max(bmax) OVER (ORDER BY batch_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    - INTERVAL '10 minutes' AS watermark
        |  FROM bm)
        |SELECT e.batch_id, w.watermark, count(*) AS n_events,
        |  count(CASE WHEN e.ts < w.watermark THEN 1 END) AS n_late
        |FROM ev e JOIN wm w ON e.batch_id = w.batch_id
        |GROUP BY 1, 2
        |ORDER BY e.batch_id""".stripMargin
  )

  private val shingleCte: String =
    """tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, greatest(len(toks) - 2, 0) + 1),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
      |  FROM tk)""".stripMargin

  // ——— round-10 MAXDF-capped candidate generation (the DEFAULT path of
  // every exact near-dup miner; mirrors LlmOps.cappedCandidates exactly):
  // shingles with df > max(5, 0.1% of corpus) are dropped from CANDIDATE
  // generation only; the exact-duplicate rescue readmits identical-text
  // pairs (whose own copy count pushes every shingle past the cap);
  // verification always recounts over the FULL shingle stream `sh`. ———
  private val cappedKeptCte: String =
    """sdf AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
      |nd AS (SELECT greatest(5.0, count(*) * 0.001) AS maxdf
      |       FROM documents),
      |kept AS (
      |  SELECT sh.doc_id, sh.shingle FROM sh
      |  JOIN sdf ON sh.shingle = sdf.shingle CROSS JOIN nd
      |  WHERE sdf.df <= nd.maxdf)""".stripMargin

  private val rescueSelect: String =
    """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |    FROM documents a JOIN documents b
      |      ON a.text = b.text AND a.doc_id < b.doc_id""".stripMargin

  private val cappedCandCte: String =
    s"""$cappedKeptCte,
       |cand AS (
       |  SELECT DISTINCT doc_a, doc_b FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |    FROM kept a JOIN kept b
       |      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |    UNION ALL
       |    $rescueSelect) u)""".stripMargin

  // exact-Jaccard verification of `cand` over the FULL shingle stream;
  // exposes `jp(doc_a, doc_b, jaccard)` at the 0.6 threshold.
  // Round-12 exact-integer discipline (mirrors LlmOps.Jaccard):
  // threshold `J ≥ 3/5 ⟺ 8·common ≥ 3·(na+nb)` over integers — the
  // previous round(...,4) >= 0.6 admitted true J down to 0.59995,
  // opening a rounding-boundary gap against prefix candidate bounds —
  // and the emitted value is exact integer HALF_UP in 1e-4 units
  // (round(p/q) = (2·10⁴·p + q) // 2q), killing the per-pair decimal
  // half-tie divergence class the calibration key hit at x10.
  private val cappedJaccardCte: String =
    """sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      |cm AS (
      |  SELECT c.doc_a, c.doc_b, count(*) AS common
      |  FROM cand c
      |  JOIN sh x ON x.doc_id = c.doc_a
      |  JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
      |  GROUP BY 1, 2),
      |jp AS (
      |  SELECT p.doc_a, p.doc_b,
      |    ((20000 * common + (x.n_sh + y.n_sh - common))
      |      // (2 * (x.n_sh + y.n_sh - common))) / 10000.0 AS jaccard
      |  FROM cm p JOIN sz x ON p.doc_a = x.doc_id
      |  JOIN sz y ON p.doc_b = y.doc_id
      |  WHERE 8 * common >= 3 * (x.n_sh + y.n_sh))"""
      .stripMargin

  // native C++ dot kernel, verified BIT-IDENTICAL (unrounded) to the
  // interpreted list_sum(list_transform(...)) fold over every sf0.01
  // pair — both are sequential left-to-right double accumulation after
  // per-element float→double cast. The native form is what lets the
  // pair-heavy twins (semantic_keep / threshold_sweep) finish the x10
  // differential gate instead of timing out.
  private val dotSql: String =
    "round(list_dot_product(" +
      "a.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4)"

  private val bucketSql: String =
    "cast(list_sum(list_transform(range(1, 9), " +
      "i -> CASE WHEN embedding[i] > 0 THEN (cast(1 as bigint) << (i - 1)) ELSE 0 END)) as bigint)"

  // fixed-point PageRank, 10 iterations UNROLLED as chained CTEs (no
  // engine recursion semantics to align): same kNN edge derivation as
  // q_knn_graph_bucketed, same long-scaled integer arithmetic as the
  // Spark side — floor division (`//` here, `DIV` there) on
  // non-negative longs is identical, integer sums are exact, so the
  // engines agree bit-for-bit
  private def pagerankSql: String = {
    val s = "1000000000000"
    val steps = (1 to 10).map { i =>
      s"""pr$i AS (
         |  SELECT em.vec_id AS node,
         |    base.base + (85 * coalesce(c.s, 0)) // 100 AS r
         |  FROM embeddings em CROSS JOIN base
         |  LEFT JOIN (
         |    SELECT e.dst, sum(pr${i - 1}.r // e.od) AS s
         |    FROM pr${i - 1} JOIN e ON pr${i - 1}.node = e.src
         |    GROUP BY e.dst) c ON c.dst = em.vec_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH b AS (SELECT vec_id, embedding, $bucketSql AS bucket
       |           FROM embeddings),
       |j AS (
       |  SELECT a.vec_id AS vec_id, q.vec_id AS nbr_id, $dotSql AS sim
       |  FROM b a JOIN b q ON a.bucket = q.bucket
       |  WHERE a.vec_id <> q.vec_id),
       |rnk AS (SELECT vec_id, nbr_id,
       |  row_number() OVER (PARTITION BY vec_id
       |    ORDER BY sim DESC, nbr_id) AS rk
       |  FROM j),
       |e0 AS (SELECT vec_id AS src, nbr_id AS dst FROM rnk
       |       WHERE rk <= 3),
       |od AS (SELECT src, count(*) AS od FROM e0 GROUP BY src),
       |e AS (SELECT e0.src, e0.dst, od.od FROM e0
       |      JOIN od ON e0.src = od.src),
       |n AS (SELECT count(*) AS n FROM embeddings),
       |base AS (SELECT (($s // n.n) * 15) // 100 AS base FROM n),
       |pr0 AS (SELECT em.vec_id AS node, $s // n.n AS r
       |        FROM embeddings em CROSS JOIN n),
       |$steps
       |SELECT node, cast(r as bigint) AS r FROM pr10
       |ORDER BY r DESC, node LIMIT 20""".stripMargin
  }

  private val llm: Map[String, String] = Map(
    "q_graph_pagerank" -> pagerankSql,
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,

    // round-10: the MAXDF cap + exact-dup rescue is the DEFAULT
    // candidate path of the mainline miner (same rule as the engine's
    // LlmOps.cappedCandidates); verification over FULL shingle sets
    "q_dedup_ngram_jaccard" ->
      s"""WITH $shingleCte,
         |$cappedCandCte,
         |$cappedJaccardCte
         |SELECT doc_a, doc_b, jaccard FROM jp
         |ORDER BY doc_a, doc_b""".stripMargin,

    // the explicitly-named capped rung — coincides with
    // q_dedup_ngram_jaccard by construction since round 10
    "q_dedup_ngram_capped" ->
      s"""WITH $shingleCte,
         |$cappedCandCte,
         |$cappedJaccardCte
         |SELECT doc_a, doc_b, jaccard FROM jp
         |ORDER BY doc_a, doc_b""".stripMargin,

    // The prefix filter is LOSSLESS for J >= t, so this key keeps the
    // uncapped exact reference formulation as its oracle (unlike the
    // capped mainline miner, whose candidate rule is deliberately
    // lossy-but-verified). PPJoin is itself the scale mitigation here:
    // frequent shingles never enter the rarest-prefix candidate space.
    "q_dedup_jaccard_prefix" ->
      s"""WITH $shingleCte,
         |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  ((20000 * common + (x.n_sh + y.n_sh - common))
         |    // (2 * (x.n_sh + y.n_sh - common))) / 10000.0 AS jaccard
         |FROM pairs p JOIN sz x ON p.doc_a = x.doc_id
         |JOIN sz y ON p.doc_b = y.doc_id
         |WHERE 8 * common >= 3 * (x.n_sh + y.n_sh)
         |ORDER BY doc_a, doc_b""".stripMargin,

    // per-dim means are exact decimal sums; the norm's 64-term fold is
    // sequential over pos order in BOTH engines (list_sum vs aggregate)
    "q_embed_centroids" ->
      """WITH d AS (
        |  SELECT label, i,
        |    cast(sum(cast(embedding[i] as decimal(27,10))) as double)
        |      / count(*) AS m,
        |    count(*) AS n
        |  FROM embeddings CROSS JOIN range(1, 65) t(i)
        |  GROUP BY 1, 2),
        |a AS (SELECT label, max(n) AS n_vecs, list(m ORDER BY i) AS ms
        |      FROM d GROUP BY 1)
        |SELECT label, n_vecs,
        |  round(sqrt(list_sum(list_transform(ms, x -> x * x))), 4)
        |    AS centroid_norm
        |FROM a ORDER BY label""".stripMargin,

    // same decimal-exact centroid means as q_embed_centroids; d² is a
    // position-ordered list_sum fold ≡ Spark's zip_with fold; the
    // outlier threshold compares UNROUNDED doubles to 4× the exact
    // rank-based median
    "q_embed_outliers" ->
      """WITH c AS (
        |  SELECT label, i,
        |    cast(sum(cast(embedding[i] as decimal(27,10))) as double)
        |      / count(*) AS m
        |  FROM embeddings CROSS JOIN range(1, 65) t(i)
        |  GROUP BY 1, 2),
        |a AS (SELECT label, list(m ORDER BY i) AS ms FROM c GROUP BY 1),
        |d AS (
        |  SELECT e.vec_id, e.label,
        |    list_sum(list_transform(range(1, 65), i ->
        |      (cast(e.embedding[i] as double) - a.ms[i])
        |        * (cast(e.embedding[i] as double) - a.ms[i]))) AS d2
        |  FROM embeddings e JOIN a ON e.label = a.label),
        |md AS (SELECT label, quantile_cont(d2, 0.5) AS med FROM d
        |       GROUP BY label)
        |SELECT d.vec_id, d.label, round(d.d2, 4) AS d2,
        |  d.d2 > md.med * 4 AS is_outlier
        |FROM d JOIN md ON d.label = md.label
        |ORDER BY d.vec_id""".stripMargin,

    // round-13 (VERDICT r12 #1): the twin now REPLAYS the whole
    // adaptive screen, not just the containment mine. Replayability
    // rests on two exact arguments: (a) the screen's recall rule is
    // ORDER-FREE at pair level — for any pair whose true containment
    // passes the exact-integer threshold, the prefix theorem puts the
    // globally RAREST shared shingle w₁ inside both prefix filters, so
    // the screened engine emits the pair iff df(w₁) = min shared df
    // ≤ cap (no xxhash64 tie-order ever decides membership, only which
    // witness carries it); (b) the cap CHOICE reads only the
    // tie-generous rank-by-frequency census (LlmOps.ctpMassCensus),
    // whose every quantity — rank() by df, exact-integer prefix bound
    // (7n+9)//10, per-level mass, cumulative fit against the declared
    // budget, least/greatest clamps — is integer-or-shared-IEEE
    // arithmetic both engines compute bit-identically. The census and
    // the screen run over the DISTINCT-TEXT representatives (the
    // engine's collapse-then-expand), with identical-text pairs
    // re-admitted at containment 1.0 like the engine's within-group
    // leg (the `da.text = db.text` disjunct — these pairs need no
    // candidate witness). The recall-referee role the plain twin used
    // to play moves to the lossless-rung comparisons in OpsRound3Spec
    // and the measured SCALE.md rows. Heavy CTEs are MATERIALIZED —
    // DuckDB inlines by default and `sh` is referenced four times
    // (the k-core lesson, SCALE.md round 11).
    "q_dedup_containment_prefix" ->
      s"""WITH tk AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |sh AS MATERIALIZED (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, greatest(len(toks) - 2, 0) + 1),
         |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
         |  FROM tk),
         |grp AS MATERIALIZED (
         |  SELECT text, min(doc_id) AS rep_id FROM documents GROUP BY text),
         |shr AS MATERIALIZED (
         |  SELECT sh.doc_id, sh.shingle FROM sh
         |  JOIN grp ON sh.doc_id = grp.rep_id),
         |dfr AS MATERIALIZED (
         |  SELECT shingle, count(*) AS f FROM shr GROUP BY shingle),
         |szr AS (SELECT doc_id, count(*) AS n_sh FROM shr GROUP BY doc_id),
         |rk AS (
         |  SELECT shr.doc_id, dfr.f, szr.n_sh,
         |    rank() OVER (PARTITION BY shr.doc_id ORDER BY dfr.f) AS rf
         |  FROM shr JOIN dfr USING (shingle) JOIN szr USING (doc_id)),
         |lv AS (SELECT f, sum(f) AS m FROM rk
         |       WHERE rf <= n_sh - ((7 * n_sh + 9) // 10) + 1 GROUP BY f),
         |cm AS (SELECT f, sum(m) OVER (ORDER BY f) AS c FROM lv),
         |nr AS (SELECT greatest(64.0, count(*) * 0.01) AS gencap FROM grp),
         |fit AS (SELECT coalesce(max(f), 0) AS fitcap FROM cm
         |        WHERE c <= ${graft.ops.LlmOps.CtpMassBudget}),
         |cap AS (SELECT least(nr.gencap, greatest(64.0, fit.fitcap))
         |        AS maxdf FROM nr, fit),
         |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common,
         |    min(dfr.f) AS mindf
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  JOIN dfr ON dfr.shingle = a.shingle
         |  GROUP BY 1, 2)
         |SELECT p.doc_a, p.doc_b,
         |  ((20000 * common + least(x.n_sh, y.n_sh))
         |    // (2 * least(x.n_sh, y.n_sh))) / 10000.0 AS containment
         |FROM pairs p JOIN sz x ON p.doc_a = x.doc_id
         |JOIN sz y ON p.doc_b = y.doc_id
         |JOIN documents da ON p.doc_a = da.doc_id
         |JOIN documents db ON p.doc_b = db.doc_id
         |CROSS JOIN cap
         |WHERE 10 * common >= 7 * least(x.n_sh, y.n_sh)
         |  AND (p.mindf <= cap.maxdf OR da.text = db.text)
         |ORDER BY doc_a, doc_b""".stripMargin,

    // round-10: capped candidates + exact-dup rescue (the uncapped
    // containment miner was the worst x10 tail, α 2.66 — no length
    // filter applies to an asymmetric measure); overlap census over
    // the FULL shingle stream
    "q_dedup_containment" ->
      s"""WITH $shingleCte,
         |$cappedCandCte,
         |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |cm AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS common
         |  FROM cand c
         |  JOIN sh x ON x.doc_id = c.doc_a
         |  JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
         |  GROUP BY 1, 2)
         |SELECT p.doc_a, p.doc_b,
         |  ((20000 * common + least(x.n_sh, y.n_sh))
         |    // (2 * least(x.n_sh, y.n_sh))) / 10000.0 AS containment
         |FROM cm p JOIN sz x ON p.doc_a = x.doc_id
         |JOIN sz y ON p.doc_b = y.doc_id
         |WHERE 10 * common >= 7 * least(x.n_sh, y.n_sh)
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q_dedup_incremental" ->
      s"""WITH $shingleCte,
         |b AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 10 = 0),
         |c AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 10 <> 0),
         |bsz AS (SELECT doc_id, count(*) AS n_new FROM b GROUP BY 1),
         |pairs AS (
         |  SELECT b.doc_id AS new_id, c.doc_id AS old_id,
         |    count(*) AS common
         |  FROM b JOIN c ON b.shingle = c.shingle
         |  GROUP BY 1, 2)
         |SELECT new_id, old_id,
         |  ((20000 * common + n_new) // (2 * n_new)) / 10000.0
         |    AS containment
         |FROM pairs JOIN bsz ON pairs.new_id = bsz.doc_id
         |WHERE 5 * common >= 3 * n_new
         |ORDER BY new_id, old_id""".stripMargin,

    // DuckDB's levenshtein is BYTE-based while Spark's is
    // character-based; the corpus is verified pure ASCII at every SF
    // (strlen == length for all rows), where the two coincide.
    "q_dedup_edit" ->
      s"""WITH $shingleCte,
         |$cappedKeptCte,
         |pc AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
         |  FROM kept a JOIN kept b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT doc_a, doc_b FROM (
         |    SELECT doc_a, doc_b FROM pc WHERE common >= 5
         |    UNION ALL
         |    $rescueSelect) u)
         |SELECT doc_a, doc_b,
         |  cast(levenshtein(da.text, db.text) as int) AS dist
         |FROM cand JOIN documents da ON doc_a = da.doc_id
         |JOIN documents db ON doc_b = db.doc_id
         |WHERE abs(length(da.text) - length(db.text))
         |      <= greatest(length(da.text), length(db.text)) * 0.05
         |  AND levenshtein(da.text, db.text)
         |      <= greatest(length(da.text), length(db.text)) * 0.05
         |ORDER BY doc_a, doc_b""".stripMargin,

    // edge graph = the exact shingle-Jaccard near-dup pairs (same
    // capped formulation as q_dedup_ngram_jaccard), then the recursive
    // transitive closure — fine at oracle scale (components are
    // small cliques)
    "q_split_leakage_safe" ->
      s"""WITH RECURSIVE $shingleCte,
         |$cappedCandCte,
         |$cappedJaccardCte,
         |pairs AS (SELECT doc_a AS src, doc_b AS dst FROM jp),
         |und AS (SELECT src, dst FROM pairs
         |        UNION ALL SELECT dst, src FROM pairs),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT und.dst, reach.r FROM reach JOIN und ON reach.id = und.src),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         |sp AS (SELECT id, component,
         |  CASE WHEN component % 10 < 8 THEN 'train'
         |       WHEN component % 10 = 8 THEN 'val'
         |       ELSE 'test' END AS split FROM comp)
         |SELECT split, count(*) AS n_docs,
         |  count(DISTINCT component) AS n_clusters
         |FROM sp GROUP BY split ORDER BY split""".stripMargin,

    "q_dedup_embedding" ->
      s"""SELECT a.vec_id AS vec_a, q.vec_id AS vec_b, $dotSql AS sim
         |FROM embeddings a JOIN embeddings q ON a.vec_id < q.vec_id
         |WHERE $dotSql >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin,

    // same 16-band × 4-sign-bit LSH arithmetic as the Spark side
    // (band k = dims 4k+1..4k+4, MSB-first), exact-dot verify — the
    // candidate set is deterministic, so the ANN key hash-matches
    "q_dedup_embedding_ann" ->
      s"""WITH sig AS (
         |  SELECT vec_id, k,
         |    list_sum(list_transform(range(1, 5),
         |      i -> CASE WHEN embedding[k * 4 + i] > 0
         |           THEN (cast(1 as bigint) << (4 - i)) ELSE 0 END)) AS s
         |  FROM embeddings, range(0, 16) t(k)),
         |cand AS (
         |  SELECT DISTINCT sa.vec_id AS vec_a, sb.vec_id AS vec_b
         |  FROM sig sa JOIN sig sb
         |    ON sa.k = sb.k AND sa.s = sb.s AND sa.vec_id < sb.vec_id)
         |SELECT c.vec_a, c.vec_b, $dotSql AS sim
         |FROM cand c
         |JOIN embeddings a ON a.vec_id = c.vec_a
         |JOIN embeddings q ON q.vec_id = c.vec_b
         |WHERE $dotSql >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin,

    // SemDeDup keep-list: same band-LSH + exact-dot pair derivation as
    // q_dedup_embedding_ann, then the recursive closure / min-label
    // components (the q_dedup_cluster pattern) and the keep join.
    // MATERIALIZED on the pair-derivation chain (VERDICT r11 #5):
    // DuckDB INLINES CTEs, and `und` referenced from inside the
    // recursive step would otherwise re-derive the band join + exact
    // dots per closure level — the exact k-core mechanism (>100 GB
    // spill → 0.5 s once materialized)
    "q_dedup_semantic_keep" ->
      s"""WITH RECURSIVE sig AS MATERIALIZED (
         |  SELECT vec_id, k,
         |    list_sum(list_transform(range(1, 5),
         |      i -> CASE WHEN embedding[k * 4 + i] > 0
         |           THEN (cast(1 as bigint) << (4 - i)) ELSE 0 END)) AS s
         |  FROM embeddings, range(0, 16) t(k)),
         |cand AS MATERIALIZED (
         |  SELECT DISTINCT sa.vec_id AS vec_a, sb.vec_id AS vec_b
         |  FROM sig sa JOIN sig sb
         |    ON sa.k = sb.k AND sa.s = sb.s AND sa.vec_id < sb.vec_id),
         |p AS MATERIALIZED (
         |  SELECT c.vec_a, c.vec_b
         |  FROM cand c
         |  JOIN embeddings a ON a.vec_id = c.vec_a
         |  JOIN embeddings q ON q.vec_id = c.vec_b
         |  WHERE $dotSql >= 0.4),
         |und AS MATERIALIZED (SELECT vec_a AS src, vec_b AS dst FROM p
         |        UNION ALL SELECT vec_b, vec_a FROM p),
         |reach AS (
         |  SELECT vec_id AS id, vec_id AS r FROM embeddings
         |  UNION
         |  SELECT und.dst, reach.r FROM reach JOIN und ON reach.id = und.src),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         |csz AS (SELECT component, count(*) AS n_members
         |        FROM comp GROUP BY component)
         |SELECT e.vec_id, e.label, csz.n_members
         |FROM embeddings e JOIN csz ON e.vec_id = csz.component
         |ORDER BY e.vec_id""".stripMargin,

    // same band arithmetic as the ANN key, restricted to batch×corpus
    // candidate pairs (vec_b % 20 = 0 vs <> 0)
    "q_dedup_embedding_incr" ->
      s"""WITH sig AS (
         |  SELECT vec_id, k,
         |    list_sum(list_transform(range(1, 5),
         |      i -> CASE WHEN embedding[k * 4 + i] > 0
         |           THEN (cast(1 as bigint) << (4 - i)) ELSE 0 END)) AS s
         |  FROM embeddings, range(0, 16) t(k)),
         |cand AS (
         |  SELECT DISTINCT sa.vec_id AS vec_b, sb.vec_id AS vec_c
         |  FROM sig sa JOIN sig sb
         |    ON sa.k = sb.k AND sa.s = sb.s
         |   AND sa.vec_id % 20 = 0 AND sb.vec_id % 20 <> 0)
         |SELECT c.vec_b, c.vec_c, $dotSql AS sim
         |FROM cand c
         |JOIN embeddings a ON a.vec_id = c.vec_b
         |JOIN embeddings q ON q.vec_id = c.vec_c
         |WHERE $dotSql >= 0.4
         |ORDER BY vec_b, vec_c""".stripMargin,

    // provenance-ranked exact dedup: same priority class + min-id
    // tie-break, rank-window formulation
    "q_dedup_priority" ->
      """WITH d AS (
        |  SELECT doc_id, source, text,
        |    cast(substring(source, 4, 10) as int) % 3 AS priority,
        |    count(*) OVER (PARTITION BY text) AS n_copies,
        |    row_number() OVER (PARTITION BY text
        |      ORDER BY cast(substring(source, 4, 10) as int) % 3,
        |        doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, source, cast(n_copies as bigint) AS n_copies
        |FROM d WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // winnowed-fingerprint pair miner: same selection CTEs as
    // q_text_winnow, then unnest → self-join → overlap/jaccard
    "q_dedup_winnow" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    list_transform(
        |      list_filter(string_split(text, ' '), t -> t <> ''),
        |      t -> ('0x' || substr(md5(t), 1, 12))::BIGINT) AS codes
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_transform(range(0, len(codes) - 4 + 1),
        |      i -> list_reduce(
        |        list_prepend(cast(0 as bigint),
        |          array_slice(codes, i + 1, i + 4)),
        |        (a, b) -> (a * 131 + b) % 1000000007)) AS grams
        |  FROM c),
        |s AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(0, len(grams) - 4 + 1),
        |      j -> list_min(array_slice(grams, j + 1, j + 4)))) AS sel
        |  FROM g),
        |e AS (SELECT doc_id, unnest(sel) AS fp FROM s),
        |sz AS (SELECT doc_id, len(sel) AS n FROM s WHERE len(sel) > 0),
        |pc AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    count(*) AS common
        |  FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, common,
        |  ((20000 * common + (x.n + y.n - common))
        |    // (2 * (x.n + y.n - common))) / 10000.0 AS wjaccard
        |FROM pc JOIN sz x ON pc.doc_a = x.doc_id
        |JOIN sz y ON pc.doc_b = y.doc_id
        |WHERE 3 * common >= x.n + y.n
        |ORDER BY doc_a, doc_b""".stripMargin,

    // trailing-window z-score: identical decimal mean + r4 stddev +
    // r4 z layering over the same strictly-historical ROWS frame
    "q_events_anomaly" ->
      s"""WITH daily AS (
         |  SELECT event_type, cast(ts as date) AS day,
         |    ${dsum("value")} AS revenue
         |  FROM events GROUP BY 1, 2),
         |w AS (
         |  SELECT event_type, day, revenue,
         |    count(revenue) OVER f AS n_prior,
         |    cast(sum(cast(revenue as decimal(27,4))) OVER f as double)
         |      AS s7,
         |    round(stddev_samp(revenue) OVER f, 4) AS sd7
         |  FROM daily
         |  WINDOW f AS (PARTITION BY event_type ORDER BY day
         |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
         |SELECT event_type, day, revenue, s7 / n_prior AS mean7, sd7,
         |  CASE WHEN sd7 > 0
         |       THEN round((revenue - s7 / n_prior) / sd7, 4) END AS z,
         |  coalesce(abs(CASE WHEN sd7 > 0
         |    THEN round((revenue - s7 / n_prior) / sd7, 4) END) > 2.0,
         |    false) AS is_anomaly
         |FROM w WHERE n_prior >= 3
         |ORDER BY event_type, day""".stripMargin,

    // snapshot time travel: both as-of reads recomputed from the
    // generation arithmetic (gen 2 = repriced %10<=1, dropped %10 in 2,3)
    "q_source_time_travel" ->
      s"""SELECT 1 AS generation, o_orderstatus, count(*) AS n,
         |  ${dsum("o_totalprice")} AS sum_price
         |FROM orders GROUP BY o_orderstatus
         |UNION ALL
         |SELECT 2, o_orderstatus, count(*),
         |  ${dsumDec(s"cast(CASE WHEN o_orderkey % 10 <= 1 THEN o_totalprice + 100.0 ELSE o_totalprice END as decimal(27,4))")}
         |FROM orders WHERE o_orderkey % 10 >= 4 OR o_orderkey % 10 <= 1
         |GROUP BY o_orderstatus
         |ORDER BY generation, o_orderstatus""".stripMargin,

    // connected components = min node id reachable in the undirected
    // near-dup pair graph (edges = the exact capped shingle-Jaccard
    // pairs of q_dedup_ngram_jaccard); recursive transitive closure is
    // fine at oracle scale (components are small cliques)
    "q_dedup_cluster" ->
      s"""WITH RECURSIVE $shingleCte,
         |$cappedCandCte,
         |$cappedJaccardCte,
         |pairs AS (SELECT doc_a AS src, doc_b AS dst FROM jp),
         |und AS (SELECT src, dst FROM pairs
         |        UNION ALL SELECT dst, src FROM pairs),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT und.dst, reach.r FROM reach JOIN und ON reach.id = und.src)
         |SELECT id, min(r) AS component FROM reach
         |GROUP BY id ORDER BY id""".stripMargin,

    // keep-list join over the same closure: representative docs only,
    // with their cluster size
    "q_dedup_cluster_keep" ->
      s"""WITH RECURSIVE $shingleCte,
         |$cappedCandCte,
         |$cappedJaccardCte,
         |pairs AS (SELECT doc_a AS src, doc_b AS dst FROM jp),
         |und AS (SELECT src, dst FROM pairs
         |        UNION ALL SELECT dst, src FROM pairs),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT und.dst, reach.r FROM reach JOIN und ON reach.id = und.src),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         |csz AS (SELECT component, count(*) AS n_members
         |        FROM comp GROUP BY component)
         |SELECT d.doc_id, d.lang, d.source, csz.n_members
         |FROM documents d JOIN csz ON d.doc_id = csz.component
         |ORDER BY d.doc_id""".stripMargin,

    "q_sim_cosine_topk" ->
      s"""SELECT a.vec_id, $dotSql AS sim
         |FROM embeddings a, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
         |WHERE a.vec_id <> 0
         |ORDER BY sim DESC, a.vec_id LIMIT 10""".stripMargin,

    "q_sim_ann_bucketed" ->
      s"""WITH b AS (SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings)
         |SELECT a.vec_id, $dotSql AS sim
         |FROM b a JOIN (SELECT embedding, bucket, vec_id FROM b WHERE vec_id = 0) q
         |  ON a.bucket = q.bucket
         |WHERE a.vec_id <> 0
         |ORDER BY sim DESC, a.vec_id LIMIT 5""".stripMargin,

    "q_dedup_latest" ->
      """WITH r AS (
        |  SELECT user_id, event_type, event_id, cast(ts as timestamp) AS ts,
        |    value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY cast(ts as timestamp) DESC, event_id DESC) AS rk
        |  FROM events)
        |SELECT user_id, event_type, event_id, ts, value FROM r
        |WHERE rk = 1 ORDER BY user_id, event_type""".stripMargin,

    "q_knn_graph_bucketed" ->
      s"""WITH b AS (SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings),
         |j AS (
         |  SELECT a.vec_id AS vec_id, q.vec_id AS nbr_id, $dotSql AS sim
         |  FROM b a JOIN b q ON a.bucket = q.bucket
         |  WHERE a.vec_id <> q.vec_id),
         |r AS (SELECT vec_id, nbr_id, sim,
         |  row_number() OVER (PARTITION BY vec_id
         |    ORDER BY sim DESC, nbr_id) AS rk
         |  FROM j)
         |SELECT vec_id, nbr_id, sim, cast(rk as int) AS rk FROM r
         |WHERE rk <= 3 ORDER BY vec_id, rk""".stripMargin,

    // same kNN edge derivation as q_knn_graph_bucketed; the oracle
    // enumerates each triangle once in id order (x < y < z) — the
    // Spark side's degree-ordered orientation yields the same set
    "q_graph_triangles" ->
      s"""WITH b AS (SELECT vec_id, embedding, $bucketSql AS bucket
         |           FROM embeddings),
         |j AS (
         |  SELECT a.vec_id AS vec_id, q.vec_id AS nbr_id, $dotSql AS sim
         |  FROM b a JOIN b q ON a.bucket = q.bucket
         |  WHERE a.vec_id <> q.vec_id),
         |rnk AS (SELECT vec_id, nbr_id,
         |  row_number() OVER (PARTITION BY vec_id
         |    ORDER BY sim DESC, nbr_id) AS rk
         |  FROM j),
         |und AS (SELECT DISTINCT least(vec_id, nbr_id) AS lo,
         |                        greatest(vec_id, nbr_id) AS hi
         |        FROM rnk WHERE rk <= 3),
         |tri AS (
         |  SELECT a.lo AS x, a.hi AS y, b.hi AS z
         |  FROM und a
         |  JOIN und b ON a.lo = b.lo AND a.hi < b.hi
         |  JOIN und c ON c.lo = a.hi AND c.hi = b.hi),
         |mem AS (SELECT x AS node FROM tri
         |        UNION ALL SELECT y FROM tri
         |        UNION ALL SELECT z FROM tri)
         |SELECT node, count(*) AS n_triangles FROM mem
         |GROUP BY node ORDER BY node""".stripMargin,

    "q_text_segment_clean" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |segs AS (
        |  SELECT doc_id, cast(u.i as int) AS seg_idx,
        |    array_to_string(toks[u.i*10+1 : u.i*10+10], ' ') AS seg
        |  FROM t, UNNEST(range(0, (len(toks) - 1) // 10 + 1)) AS u(i)),
        |marked AS (
        |  SELECT doc_id, seg_idx, seg,
        |    row_number() OVER (PARTITION BY seg
        |      ORDER BY doc_id, seg_idx) AS rn
        |  FROM segs),
        |keep AS (SELECT doc_id, seg_idx, seg FROM marked WHERE rn = 1),
        |perdoc AS (SELECT doc_id, count(*) AS n_segs FROM segs
        |           GROUP BY doc_id),
        |kd AS (SELECT doc_id, count(*) AS n_kept,
        |         string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
        |       FROM keep GROUP BY doc_id)
        |SELECT p.doc_id, p.n_segs,
        |  coalesce(kd.n_kept, 0) AS n_kept,
        |  coalesce(kd.clean_text, '') AS clean_text
        |FROM perdoc p LEFT JOIN kd ON p.doc_id = kd.doc_id
        |ORDER BY p.doc_id""".stripMargin,

    // the sparse channel is exactly q_text_bm25's top-20; the dense
    // channel is the brute-force cosine top-20 around vec_id 0
    "q_sim_hybrid_rrf" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
         |  FROM documents),
         |tk AS (SELECT doc_id, token FROM toks WHERE token <> ''),
         |dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY 1),
         |st AS (SELECT cast(sum(dl) as bigint) AS total_dl,
         |              count(*) AS n_docs FROM dl),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tk
         |       WHERE token IN ('hash', 'join') GROUP BY 1, 2),
         |dfq AS (SELECT token, count(DISTINCT doc_id) AS df FROM tk
         |        WHERE token IN ('hash', 'join') GROUP BY 1),
         |sc AS (
         |  SELECT tf.doc_id, dl.dl,
         |    ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
         |      * (tf * (1.2 + 1.0))
         |      / (tf + 1.2 * (1.0 - 0.75
         |          + 0.75 * dl / (cast(total_dl as double) / n_docs)))
         |      AS contrib
         |  FROM tf JOIN dfq USING (token)
         |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st),
         |bm AS (
         |  SELECT doc_id, round(sum(contrib), 4) AS bm25
         |  FROM sc GROUP BY 1
         |  ORDER BY bm25 DESC, doc_id LIMIT 20),
         |sparse AS (
         |  SELECT doc_id AS id, cast(row_number() OVER (
         |    ORDER BY bm25 DESC, doc_id) as int) AS rk_sparse
         |  FROM bm),
         |dn AS (
         |  SELECT a.vec_id AS id, $dotSql AS sim
         |  FROM embeddings a,
         |    (SELECT embedding FROM embeddings WHERE vec_id = 0) q
         |  WHERE a.vec_id <> 0
         |  ORDER BY sim DESC, a.vec_id LIMIT 20),
         |dense AS (
         |  SELECT id, cast(row_number() OVER (
         |    ORDER BY sim DESC, id) as int) AS rk_dense
         |  FROM dn)
         |SELECT coalesce(s.id, d.id) AS id, s.rk_sparse, d.rk_dense,
         |  round(coalesce(cast(1.0 as double) / (60 + s.rk_sparse), 0.0)
         |      + coalesce(cast(1.0 as double) / (60 + d.rk_dense), 0.0),
         |    4) AS rrf
         |FROM sparse s FULL OUTER JOIN dense d ON s.id = d.id
         |ORDER BY rrf DESC, coalesce(s.id, d.id) LIMIT 10""".stripMargin,

    // hugeint multiply mirrors the Spark side's decimal(38,0) knuth
    // hash (same rationale as q_sample_cap_per_source); seed 42 is
    // the epoch key
    "q_shuffle_deterministic" ->
      """WITH h AS (
        |  SELECT doc_id, source,
        |    cast((cast(doc_id + 42 as hugeint) * 2654435761) % 4294967296
        |      as bigint) AS hk
        |  FROM documents)
        |SELECT cast(hk % 8 as int) AS shard, doc_id, source, hk FROM h
        |ORDER BY shard, hk, doc_id""".stripMargin,

    "q_sim_topk_batch" ->
      s"""WITH b AS (SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings),
         |j AS (
         |  SELECT q.vec_id AS qid, a.vec_id AS vec_id, $dotSql AS sim
         |  FROM b a JOIN (SELECT vec_id, embedding, bucket FROM b
         |                 WHERE vec_id < 10) q
         |    ON a.bucket = q.bucket
         |  WHERE a.vec_id >= 10),
         |r AS (SELECT qid, vec_id, sim,
         |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rk
         |  FROM j)
         |SELECT qid, vec_id, sim, cast(rk as int) AS rk FROM r
         |WHERE rk <= 3 ORDER BY qid, rk""".stripMargin,

    // the round-6 stages as ONE CTE chain: gopher gate → segment
    // rewrite over the survivors → majority filter → exact dedup →
    // per-(lang, source) report
    "q_pipeline_curation_v2" ->
      """WITH g0 AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks0,
        |    length(replace(text, ' ', '')) AS chars
        |  FROM documents),
        |g1 AS (
        |  SELECT doc_id,
        |    len(list_filter(toks0, t -> t <> '')) AS n_words, chars,
        |    len(list_filter(toks0,
        |      t -> t = 'a' OR t = 'the')) AS n_stop,
        |    len(list_distinct(list_filter(toks0, t -> t <> ''))) AS nd
        |  FROM g0),
        |pass AS (
        |  SELECT doc_id FROM g1
        |  WHERE n_words >= 20 AND n_words <= 90
        |    AND cast(chars as double) / n_words >= 4.0
        |    AND cast(chars as double) / n_words <= 5.0
        |    AND n_stop >= 1
        |    AND cast(nd as double) / n_words >= 0.4),
        |t AS (SELECT d.doc_id, d.lang, d.source,
        |        string_split(d.text, ' ') AS toks
        |      FROM documents d JOIN pass p ON d.doc_id = p.doc_id),
        |segs AS (
        |  SELECT doc_id, cast(u.i as int) AS seg_idx,
        |    array_to_string(toks[u.i*10+1 : u.i*10+10], ' ') AS seg
        |  FROM t, UNNEST(range(0, (len(toks) - 1) // 10 + 1)) AS u(i)),
        |marked AS (
        |  SELECT doc_id, seg_idx, seg,
        |    row_number() OVER (PARTITION BY seg
        |      ORDER BY doc_id, seg_idx) AS rn
        |  FROM segs),
        |keep AS (SELECT doc_id, seg_idx, seg FROM marked WHERE rn = 1),
        |perdoc AS (SELECT doc_id, count(*) AS n_segs FROM segs
        |           GROUP BY doc_id),
        |kd AS (SELECT doc_id, count(*) AS n_kept,
        |         string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
        |       FROM keep GROUP BY doc_id),
        |maj AS (SELECT p.doc_id, kd.clean_text
        |        FROM perdoc p JOIN kd ON p.doc_id = kd.doc_id
        |        WHERE kd.n_kept * 2 > p.n_segs),
        |canon AS (SELECT min(doc_id) AS doc_id FROM maj
        |          GROUP BY clean_text),
        |fin AS (SELECT m.doc_id, m.clean_text FROM maj m
        |        JOIN canon c ON m.doc_id = c.doc_id)
        |SELECT t.lang, t.source, count(*) AS n_docs,
        |  cast(sum(len(string_split(f.clean_text, ' '))) as bigint)
        |    AS n_tokens
        |FROM fin f JOIN t ON f.doc_id = t.doc_id
        |GROUP BY t.lang, t.source
        |ORDER BY t.lang, t.source""".stripMargin,

    // same ±2 skip-gram window, unordered pair, exact counts; CASE
    // empty-array guard mirrors the Spark side
    "q_text_pmi" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |pr AS (
        |  SELECT least(toks[i], toks[i + d]) AS w1,
        |         greatest(toks[i], toks[i + d]) AS w2
        |  FROM t, UNNEST(range(1, greatest(len(toks), 1))) u(i),
        |       UNNEST([1, 2]) v(d)
        |  WHERE i + d <= len(toks)),
        |pc AS (SELECT w1, w2, count(*) AS n_ab FROM pr GROUP BY w1, w2),
        |un AS (SELECT w, count(*) AS n
        |       FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
        |tot AS (SELECT (SELECT cast(sum(n_ab) as bigint) FROM pc)
        |          AS p_total,
        |        (SELECT cast(sum(n) as bigint) FROM un) AS t_total)
        |SELECT w1, w2, n_ab,
        |  round(ln(cast(n_ab as double) * t_total * t_total
        |    / (cast(p_total as double) * na * nb)), 4) AS pmi
        |FROM (SELECT pc.w1, pc.w2, pc.n_ab, a.n AS na, b.n AS nb
        |      FROM pc JOIN un a ON pc.w1 = a.w
        |      JOIN un b ON pc.w2 = b.w
        |      WHERE pc.n_ab >= 5) x CROSS JOIN tot
        |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin,

    "q_text_stats" ->
      s"""SELECT lang, count(*) AS n_docs,
         |  ${davg("n_chars")} AS avg_chars,
         |  ${davg("len(string_split(text, ' '))")} AS avg_tokens,
         |  count(DISTINCT source) AS n_sources
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_text_quality" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    cast(len(string_split(text, ' ')) as int) AS n_tokens,
        |    length(text) AS n_chars,
        |    length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
        |    cast(len(list_filter(string_split(text, ' '),
        |      t -> list_contains(['the', 'a', 'of', 'and', 'to'], t))) as int)
        |      AS n_stop
        |  FROM documents)
        |SELECT doc_id, n_tokens,
        |  cast(n_chars - n_tokens + 1 as double) / n_tokens AS avg_tok_len,
        |  cast(n_punct as double) / n_chars AS punct_ratio,
        |  cast(n_stop as double) / n_tokens AS stop_ratio,
        |  0.5 * cast(n_stop as double) / n_tokens
        |    + 0.3 * least(cast(n_tokens as double) / 100.0, 1.0)
        |    + 0.2 * (1.0 - cast(n_punct as double) / n_chars) AS quality
        |FROM f ORDER BY doc_id""".stripMargin,

    "q_text_langid" ->
      """WITH s AS (
        |  SELECT doc_id, lang,
        |    cast(length(text) - length(replace(text, 'th', '')) as int) AS score_en,
        |    cast(length(text) - length(replace(text, 'sch', '')) as int) AS score_de,
        |    cast(length(text) - length(replace(text, 'rr', '')) as int) AS score_es
        |  FROM documents)
        |SELECT doc_id, lang, score_en, score_de, score_es,
        |  CASE WHEN score_en >= score_de AND score_en >= score_es THEN 'en'
        |       WHEN score_de >= score_es THEN 'de' ELSE 'es' END AS pred
        |FROM s ORDER BY doc_id""".stripMargin,

    "q_text_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(list_prepend(cast(0 as bigint),
        |    list_transform(string_split(text, ' '),
        |      t -> cast(ascii(substring(t, 1, 1)) * 31 + length(t) as bigint))),
        |    (a, b) -> (a * 131 + b) % 1000000007) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,

    // same token-code and gram-hash arithmetic as the Spark side;
    // DuckDB range(a,b) is end-exclusive and empty when b <= a, which
    // covers the short-document guards; the surfaced stats are
    // order-independent so list_distinct ordering cannot matter
    "q_text_winnow" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    list_transform(
        |      list_filter(string_split(text, ' '), t -> t <> ''),
        |      t -> ('0x' || substr(md5(t), 1, 12))::BIGINT) AS codes
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_transform(range(0, len(codes) - 4 + 1),
        |      i -> list_reduce(
        |        list_prepend(cast(0 as bigint),
        |          array_slice(codes, i + 1, i + 4)),
        |        (a, b) -> (a * 131 + b) % 1000000007)) AS grams
        |  FROM c),
        |s AS (
        |  SELECT doc_id, len(grams) AS n_grams,
        |    list_distinct(list_transform(range(0, len(grams) - 4 + 1),
        |      j -> list_min(array_slice(grams, j + 1, j + 4)))) AS sel
        |  FROM g)
        |SELECT doc_id, cast(n_grams as int) AS n_grams,
        |  cast(len(sel) as int) AS n_selected,
        |  list_min(sel) AS fp_min, list_max(sel) AS fp_max,
        |  coalesce(cast(list_sum(sel) as bigint), 0) AS fp_sum
        |FROM s ORDER BY doc_id""".stripMargin,

    "q_text_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |t AS (SELECT doc_id, token, count(*) AS tf FROM toks
        |      WHERE token <> '' GROUP BY doc_id, token),
        |d AS (SELECT token, count(DISTINCT doc_id) AS df FROM toks
        |      WHERE token <> '' GROUP BY token),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT t.doc_id, t.token, t.tf,
        |    t.tf * ln(cast(n_docs as double) / df) AS tfidf
        |  FROM t JOIN d ON t.token = d.token CROSS JOIN n),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, token ASC) AS rk FROM scored)
        |SELECT doc_id, token, tf, round(tfidf, 4) AS tfidf, rk
        |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,

    // ln on identical (cnt, total) operands; per-doc fold over
    // POSITION-sorted log-probs matches Spark's sorted aggregate;
    // exp/division on identical quotients; then round 4. DuckDB's
    // zipped unnest (unnest + generate_subscripts in one SELECT)
    // yields the same (pos, token) pairs as posexplode.
    "q_text_perplexity" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS token,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents),
        |tk AS (SELECT doc_id, pos, token FROM raw WHERE token <> ''),
        |tot AS (SELECT count(*) AS total FROM tk),
        |pr AS (
        |  SELECT token, -ln(cast(count(*) as double) / total) AS nlp
        |  FROM tk CROSS JOIN tot GROUP BY token, total),
        |d AS (
        |  SELECT doc_id, count(*) AS dl,
        |    list_sum(list(nlp ORDER BY pos)) AS sum_nlp
        |  FROM tk JOIN pr USING (token)
        |  GROUP BY doc_id)
        |SELECT doc_id, dl,
        |  round(sum_nlp / dl, 4) AS avg_neg_logprob,
        |  round(exp(sum_nlp / dl), 4) AS perplexity
        |FROM d ORDER BY doc_id""".stripMargin,

    // every float constant written as the SAME literal as the Spark
    // side ((1.2 + 1), 1.2, (1 - 0.75), 0.75) so both engines
    // evaluate identical doubles; per-doc sum has exactly <= 2 terms
    // (IEEE + commutative -> order-independent), then round 4
    "q_text_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |tk AS (SELECT doc_id, token FROM toks WHERE token <> ''),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY 1),
        |st AS (SELECT cast(sum(dl) as bigint) AS total_dl,
        |              count(*) AS n_docs FROM dl),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tk
        |       WHERE token IN ('hash', 'join') GROUP BY 1, 2),
        |dfq AS (SELECT token, count(DISTINCT doc_id) AS df FROM tk
        |        WHERE token IN ('hash', 'join') GROUP BY 1),
        |sc AS (
        |  SELECT tf.doc_id, dl.dl,
        |    ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        |      * (tf * (1.2 + 1.0))
        |      / (tf + 1.2 * (1.0 - 0.75
        |          + 0.75 * dl / (cast(total_dl as double) / n_docs)))
        |      AS contrib
        |  FROM tf JOIN dfq USING (token)
        |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st)
        |SELECT doc_id, dl, count(*) AS n_terms,
        |  round(sum(contrib), 4) AS bm25
        |FROM sc GROUP BY 1, 2
        |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,

    "q_pack_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    cast(len(string_split(text, ' ')) as int) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT source,
        |  cast(floor((cum - n_tokens) / 256.0) as bigint) AS chunk,
        |  count(*) AS n_docs, cast(sum(n_tokens) as bigint) AS n_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1, 2 ORDER BY source, chunk""".stripMargin,

    "q_token_count" ->
      """SELECT doc_id,
        |  cast(len(string_split(text, ' ')) as int) AS n_ws,
        |  cast(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) as int) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_sample_mod" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin,

    "q_pipeline_curation" ->
      s"""WITH canonical AS (
         |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
         |f AS (
         |  SELECT d.doc_id, d.lang,
         |    cast(len(string_split(d.text, ' ')) as int) AS n_tokens,
         |    cast(len(list_filter(string_split(d.text, ' '),
         |      t -> list_contains(['the', 'a', 'of', 'and', 'to'], t)))
         |      as double) / len(string_split(d.text, ' ')) AS stop_ratio
         |  FROM documents d
         |  WHERE EXISTS (SELECT 1 FROM canonical c WHERE c.doc_id = d.doc_id))
         |SELECT lang, count(*) AS n_kept, ${davg("n_tokens")} AS avg_tokens
         |FROM f
         |WHERE n_tokens BETWEEN 20 AND 2000 AND stop_ratio >= 0.05
         |GROUP BY lang ORDER BY lang""".stripMargin,

    // the multimodal trio's generated image is a W×H gradient
    // (sample(x,y) = g + x + y) derived arithmetically from
    // (doc_id, n_chars); the Spark side DECODES real PNG bytes and
    // computes stats from the raster, the oracle predicts the same
    // stats from the recipe. All float outputs are exact
    // integer-sum / count double divisions (bit-identical across
    // engines; no round()).
    "q_multimodal_frames" ->
      s"""WITH $mmShapeCte,
         |fr AS (SELECT doc_id, w, h, g,
         |  unnest(range(0, h, 5)) AS frame_idx FROM m)
         |SELECT doc_id, cast((h + 4) // 5 as int) AS n_frames,
         |  cast(frame_idx as int) AS frame_idx,
         |  cast(w*g + w*frame_idx + (w*(w-1))//2 as double) / w
         |    AS frame_feature
         |FROM fr ORDER BY doc_id, frame_idx""".stripMargin,

    "q_multimodal_cols" ->
      """SELECT doc_id, lang, n_chars, label,
        |  array_to_string(list_transform(embedding,
        |    x -> cast(floor(cast(x as double) * 10000) as bigint)), ',')
        |    AS embedding
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |ORDER BY doc_id""".stripMargin,

    // nearest-neighbor resize into a 16×16 box then 4 quarter-band
    // means: out(i,j) = g + (i*w)//ow + (j*h)//oh, so each band's sum
    // decomposes into nb*ow*g + nb*Σfx + ow*Σfy — all integers
    "q_multimodal_features" ->
      s"""WITH $mmShapeCte,
         |r AS (SELECT doc_id, w, h, g,
         |  CASE WHEN greatest(w,h) <= 16 THEN w
         |       ELSE (w*16)//greatest(w,h) END AS ow,
         |  CASE WHEN greatest(w,h) <= 16 THEN h
         |       ELSE (h*16)//greatest(w,h) END AS oh
         |  FROM m),
         |x AS (SELECT *,
         |  list_sum(list_transform(range(0, ow), i -> (i*w)//ow)) AS sx
         |  FROM r)
         |SELECT doc_id, cast(ow as int) AS out_w, cast(oh as int) AS out_h,
         |  ${mmBand(0)}, ${mmBand(1)}, ${mmBand(2)}, ${mmBand(3)}
         |FROM x ORDER BY doc_id""".stripMargin,

    "q_multimodal_binary" ->
      s"""WITH $mmShapeCte
         |SELECT doc_id, cast(w as int) AS width, cast(h as int) AS height,
         |  cast(w*h as int) AS n_px,
         |  cast(w*h*g + h*((w*(w-1))//2) + w*((h*(h-1))//2) as double)
         |    / (w*h) AS mean_px
         |FROM m ORDER BY doc_id""".stripMargin,

    // the landed-file decode must equal the in-memory decode on the
    // %13 subsample — same recipe arithmetic, restricted
    "q_source_binaryfile_images" ->
      s"""WITH $mmShapeCte
         |SELECT doc_id, cast(w as int) AS width, cast(h as int) AS height,
         |  cast(w*h as int) AS n_px,
         |  cast(w*h*g + h*((w*(w-1))//2) + w*((h*(h-1))//2) as double)
         |    / (w*h) AS mean_px
         |FROM m WHERE doc_id % 13 = 0 ORDER BY doc_id""".stripMargin,

    // byte-identical PNGs ⟺ identical (w, h, g) generator triple
    // (deterministic encoder, lossless format), so exact binary dedup
    // groups the shape arithmetic
    "q_dedup_binary_exact" ->
      s"""WITH $mmShapeCte
         |SELECT min(doc_id) AS keep_id, count(*) AS n_copies
         |FROM m GROUP BY w, h, g ORDER BY keep_id""".stripMargin
  )

  /** Shared shape CTE of the multimodal trio — mirrors
    * [[graft.ops.LlmOps.pngShape]]: W,H ∈ [8,31], g ≤ 189. */
  private def mmShapeCte: String =
    """m AS (
      |  SELECT doc_id,
      |    cast(8 + (n_chars % 24) as bigint) AS w,
      |    cast(8 + (doc_id % 24) as bigint) AS h,
      |    (doc_id * 37 + n_chars) % 190 AS g
      |  FROM documents)""".stripMargin

  /** Quarter-band-mean lane `d` of q_multimodal_features: rows
    * j ∈ [d·oh/4, (d+1)·oh/4) of the resized raster; the band sum is
    * nb·ow·g + nb·Σfx + ow·Σfy (all integer), divided exactly. */
  private def mmBand(d: Int): String = {
    val lo = s"(($d*oh)//4)"
    val hi = s"((${d + 1}*oh)//4)"
    val sy = s"list_sum(list_transform(range($lo, $hi), j -> (j*h)//oh))"
    s"cast(($hi-$lo)*ow*g + ($hi-$lo)*sx + ow*$sy as double)" +
      s" / (($hi-$lo)*ow) AS f$d"
  }

  // greedy-earliest conditional-MIN funnel — the reference formulation
  // both funnel implementations (fold + secondary-sort) are proven
  // equal to (greedy earliest matching = existence of an increasing
  // view<click<purchase subsequence)
  /** One conditional-MIN template for both funnel twins — the optional
    * conversion-window predicates are spliced in, mirroring the single
    * Spark-side fold builder so the pairs cannot drift. */
  private def funnelSqlTemplate(clickBound: String,
      purchaseBound: String): String =
    s"""WITH v AS (SELECT user_id, min(ts) AS tv FROM events
       |           WHERE event_type = 'view' GROUP BY user_id),
       |c AS (SELECT e.user_id, min(e.ts) AS tc FROM events e
       |      JOIN v ON e.user_id = v.user_id
       |      WHERE e.event_type = 'click' AND e.ts > v.tv $clickBound
       |      GROUP BY e.user_id),
       |p AS (SELECT e.user_id, min(e.ts) AS tp FROM events e
       |      JOIN c ON e.user_id = c.user_id
       |      WHERE e.event_type = 'purchase' AND e.ts > c.tc $purchaseBound
       |      GROUP BY e.user_id),
       |u AS (SELECT DISTINCT user_id FROM events)
       |SELECT CASE WHEN p.user_id IS NOT NULL THEN 3
       |            WHEN c.user_id IS NOT NULL THEN 2
       |            WHEN v.user_id IS NOT NULL THEN 1 ELSE 0 END AS stage,
       |  count(*) AS n_users
       |FROM u LEFT JOIN v ON u.user_id = v.user_id
       |LEFT JOIN c ON u.user_id = c.user_id
       |LEFT JOIN p ON u.user_id = p.user_id
       |GROUP BY 1 ORDER BY stage""".stripMargin

  private val funnelSql: String = funnelSqlTemplate("", "")

  /** Conversion-window twin: each stage within 1 hour of the previous;
    * greedy earliest-anchor semantics match the fold by construction. */
  private val funnelWindowedSql: String = funnelSqlTemplate(
    "AND e.ts <= v.tv + INTERVAL 1 HOUR",
    "AND e.ts <= c.tc + INTERVAL 1 HOUR")

  private val analytics: Map[String, String] = Map(
    "q_events_funnel" -> funnelSql,
    "q_events_funnel_bounded" -> funnelSql,
    "q_events_funnel_windowed" -> funnelWindowedSql,

    // change capture → SCD2: same (o_orderdate, o_orderkey) total
    // ordering, run numbering and lead-closed intervals as Spark; the
    // custkey filter cannot perturb per-custkey windows
    "q_scd2_intervals" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
        |    CASE WHEN lag(o_orderstatus) OVER w IS NULL
        |      OR lag(o_orderstatus) OVER w <> o_orderstatus
        |    THEN 1 ELSE 0 END AS chg
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY o_orderdate, o_orderkey)),
        |r AS (
        |  SELECT o_custkey, o_orderdate, o_orderstatus,
        |    sum(chg) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey
        |      ROWS UNBOUNDED PRECEDING) AS run
        |  FROM o),
        |g AS (
        |  SELECT o_custkey, run, min(o_orderdate) AS valid_from,
        |    min(o_orderstatus) AS status, count(*) AS n_orders
        |  FROM r GROUP BY o_custkey, run)
        |SELECT o_custkey, cast(run as bigint) AS run, status,
        |  cast(valid_from as timestamp) AS valid_from,
        |  cast(lead(valid_from) OVER (PARTITION BY o_custkey
        |    ORDER BY run) as timestamp) AS valid_to,
        |  n_orders
        |FROM g WHERE o_custkey % 53 = 0
        |ORDER BY o_custkey, run""".stripMargin,

    // dimension-sized grid × pre-aggregated fact; the IGNORE NULLS
    // carry-forward mirrors Spark's last(ignoreNulls) exactly
    "q_ts_gapfill" ->
      ("""WITH daily AS (
        |  SELECT event_type, cast(ts as date) AS day,
        |    """ + dsum("value") + """ AS revenue
        |  FROM events GROUP BY event_type, cast(ts as date)),
        |grid AS (
        |  SELECT t.event_type, d.day
        |  FROM (SELECT DISTINCT event_type FROM events) t
        |  CROSS JOIN (
        |    SELECT cast(unnest(generate_series(date '2024-01-01',
        |      date '2024-01-31', INTERVAL 1 DAY)) as date) AS day) d),
        |j AS (
        |  SELECT g.event_type, g.day, daily.revenue
        |  FROM grid g LEFT JOIN daily
        |    ON g.event_type = daily.event_type AND g.day = daily.day)
        |SELECT event_type, day,
        |  coalesce(revenue,
        |    last_value(revenue IGNORE NULLS) OVER (
        |      PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    0.0) AS revenue_filled,
        |  CASE WHEN revenue IS NULL THEN 1 ELSE 0 END AS filled
        |FROM j ORDER BY event_type, day""").stripMargin,

    // odd frames take the exact middle element; even (leading) frames
    // interpolate — r4 both sides; the rolling sum is decimal-exact
    "q_win_median_rolling" ->
      """SELECT user_id, event_id,
        |  round(quantile_cont(value, 0.5) OVER w, 4) AS med_5,
        |  cast(sum(cast(value as decimal(12,2))) OVER w as double)
        |    AS sum_5
        |FROM events
        |WHERE user_id % 7 = 0
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts),
        |  event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,

    // same (user_id; ts, event_id) ordering and 30-min microsecond gap
    // as the Spark side; event_id uniqueness makes the order total
    // same 30-min-gap sessionization as q_sessionize_gap, then the
    // time-ordered per-session type path and its frequency top-10
    "q_events_journeys" ->
      """WITH t AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tus,
        |    CASE WHEN lag(epoch_us(ts)) OVER
        |           (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |         IS NULL
        |      OR epoch_us(ts) - lag(epoch_us(ts)) OVER
        |           (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |         > 1800000000
        |    THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |s AS (
        |  SELECT user_id, event_id, event_type, tus,
        |    sum(new_session) OVER (PARTITION BY user_id
        |      ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM t),
        |p AS (
        |  SELECT user_id, sid,
        |    string_agg(event_type, '>' ORDER BY tus, event_id) AS path
        |  FROM s GROUP BY user_id, sid)
        |SELECT path, count(*) AS n_sessions
        |FROM p GROUP BY path
        |ORDER BY n_sessions DESC, path LIMIT 10""".stripMargin,

    "q_sessionize_gap" ->
      """WITH t AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus,
        |    CASE WHEN lag(epoch_us(ts)) OVER
        |           (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |         IS NULL
        |      OR epoch_us(ts) - lag(epoch_us(ts)) OVER
        |           (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |         > 1800000000
        |    THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |s AS (
        |  SELECT user_id, tus,
        |    sum(new_session) OVER (PARTITION BY user_id
        |      ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM t),
        |g AS (
        |  SELECT user_id, sid, count(*) AS n_events,
        |    max(tus) - min(tus) AS dur_us
        |  FROM s GROUP BY user_id, sid)
        |SELECT n_events, count(*) AS n_sessions,
        |  cast(sum(dur_us) as double) / count(*) / 1000000.0
        |    AS avg_duration_sec
        |FROM g GROUP BY n_events ORDER BY n_events""".stripMargin,

    // last non-purchase touchpoint strictly before each purchase, via
    // IGNORE NULLS over ROWS UNBOUNDED PRECEDING..1 PRECEDING — the
    // same O(1)-state window shape as the Spark side
    "q_events_attribution" ->
      ("""WITH a AS (
        |  SELECT user_id, event_type, value,
        |    coalesce(last_value(CASE WHEN event_type IN
        |        ('view', 'click', 'signup') THEN event_type END
        |        IGNORE NULLS) OVER (PARTITION BY user_id
        |        ORDER BY epoch_us(ts), event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      'direct') AS channel
        |  FROM events)
        |SELECT channel, count(*) AS n_purchases,
        |  """ + dsum("value") + """ AS revenue
        |FROM a WHERE event_type = 'purchase'
        |GROUP BY channel ORDER BY channel""").stripMargin,

    // the naive single-task formulation — same ids as the two-pass
    // partition-offset plan on the Spark side
    "q_ids_contiguous" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY doc_id) - 1 AS row_id
        |  FROM documents)
        |SELECT doc_id, cast(row_id as bigint) AS row_id
        |FROM n WHERE doc_id % 37 = 0 ORDER BY doc_id""".stripMargin,

    // one SELECT per constraint here; the Spark side fuses same-table
    // constraints into one scan (the aggregates are identical)
    // every feature is a ratio of exact integers — identical doubles
    // in both engines; thresholds compare the UNROUNDED values
    "q_quality_gopher" ->
      """WITH f AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks0,
        |    length(replace(text, ' ', '')) AS chars
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    cast(len(list_filter(toks0, t -> t <> '')) as int) AS n_words,
        |    chars,
        |    cast(len(list_filter(toks0,
        |      t -> t = 'a' OR t = 'the')) as int) AS n_stop,
        |    len(list_distinct(list_filter(toks0, t -> t <> ''))) AS nd
        |  FROM f)
        |SELECT doc_id, n_words,
        |  round(cast(chars as double) / greatest(n_words, 1), 4)
        |    AS mean_word_len,
        |  n_stop,
        |  round(cast(nd as double) / greatest(n_words, 1), 4) AS ttr,
        |  n_words >= 20 AND n_words <= 90 AS ok_wordcount,
        |  cast(chars as double) / greatest(n_words, 1) >= 4.0
        |    AND cast(chars as double) / greatest(n_words, 1) <= 5.0
        |    AS ok_meanwordlen,
        |  n_stop >= 1 AS ok_stopword,
        |  cast(nd as double) / greatest(n_words, 1) >= 0.4 AS ok_ttr,
        |  (n_words >= 20 AND n_words <= 90)
        |    AND (cast(chars as double) / greatest(n_words, 1) >= 4.0
        |         AND cast(chars as double) / greatest(n_words, 1) <= 5.0)
        |    AND n_stop >= 1
        |    AND cast(nd as double) / greatest(n_words, 1) >= 0.4 AS passes
        |FROM g ORDER BY doc_id""".stripMargin,

    "q_quality_constraints" ->
      """WITH checks AS (
        |  SELECT 'documents.lang_accepted' AS check_name,
        |    count(*) AS n_checked,
        |    count(CASE WHEN lang NOT IN ('de','en','es','fr','zh')
        |      THEN 1 END) AS n_violations FROM documents
        |  UNION ALL
        |  SELECT 'documents.nchars_consistent', count(*),
        |    count(CASE WHEN length(text) <> n_chars THEN 1 END)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'documents.text_nonempty', count(*),
        |    count(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 END)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'events.ts_in_range', count(*),
        |    count(CASE WHEN ts < TIMESTAMP '2024-01-01'
        |      OR ts >= TIMESTAMP '2024-02-01' THEN 1 END) FROM events
        |  UNION ALL
        |  SELECT 'events.type_accepted', count(*),
        |    count(CASE WHEN event_type NOT IN
        |      ('view','click','purchase','signup','error') THEN 1 END)
        |  FROM events
        |  UNION ALL
        |  SELECT 'events.value_nonneg', count(*),
        |    count(CASE WHEN value < 0.0 THEN 1 END) FROM events
        |  UNION ALL
        |  SELECT 'orders.pk_unique', count(*),
        |    count(*) - count(DISTINCT o_orderkey) FROM orders
        |  UNION ALL
        |  SELECT 'lineitem.fk_orders', count(*),
        |    count(CASE WHEN o.o_orderkey IS NULL THEN 1 END)
        |  FROM lineitem l LEFT JOIN
        |    (SELECT DISTINCT o_orderkey FROM orders) o
        |    ON l.l_orderkey = o.o_orderkey
        |  UNION ALL
        |  SELECT 'customer.fk_nation', count(*),
        |    count(CASE WHEN n.n_nationkey IS NULL THEN 1 END)
        |  FROM customer c LEFT JOIN nation n
        |    ON c.c_nationkey = n.n_nationkey)
        |SELECT check_name, cast(n_checked as bigint) AS n_checked,
        |  cast(n_violations as bigint) AS n_violations
        |FROM checks ORDER BY check_name""".stripMargin,

    "q_retention_cohort" ->
      """WITH f AS (SELECT user_id,
        |             date_trunc('week', min(ts)) AS cohort_week
        |           FROM events GROUP BY user_id)
        |SELECT cast(f.cohort_week as timestamp) AS cohort_week,
        |  cast(date_diff('day', f.cohort_week,
        |       date_trunc('week', e.ts)) // 7 as int) AS week_offset,
        |  count(DISTINCT e.user_id) AS n_active
        |FROM events e JOIN f ON e.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin,

    "q_sample_stratified" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE (lang = 'en' AND doc_id % 5 = 0)
        |   OR (lang = 'zh' AND doc_id % 2 = 0)
        |   OR lang NOT IN ('en', 'zh')
        |ORDER BY doc_id""".stripMargin,

    // same Knuth multiplicative hash arithmetic as the Spark side —
    // the kept set is selection-identical across engines. hugeint
    // multiply mirrors the Spark side's decimal(38,0): exact over the
    // full bigint id domain (a plain bigint product would RAISE here
    // for doc_id > ~3.47e9 while Spark wrapped silently)
    "q_sample_cap_per_source" ->
      """WITH h AS (
        |  SELECT doc_id, source, lang,
        |    cast((cast(doc_id as hugeint) * 2654435761) % 4294967296
        |      as bigint) AS hk
        |  FROM documents),
        |r AS (SELECT doc_id, source, lang, cast(row_number() OVER (
        |    PARTITION BY source ORDER BY hk, doc_id) as int) AS rk
        |  FROM h)
        |SELECT doc_id, source, lang, rk FROM r WHERE rk <= 10
        |ORDER BY source, rk""".stripMargin,

    "q_mix_weighted" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    -- try_cast: on a source that doesn't match the src([0-9]+)
        |    -- shape, regexp_extract returns '' and a plain cast RAISES
        |    -- in DuckDB while Spark yields null → 'full'; try_cast
        |    -- makes both engines classify the row identically
        |    CASE WHEN try_cast(regexp_extract(source, 'src([0-9]+)', 1) as int)
        |              < 10
        |      THEN 'low_weight' ELSE 'full' END AS grp
        |  FROM documents),
        |t AS (SELECT grp, count(*) AS n_total FROM d GROUP BY grp),
        |s AS (SELECT grp, count(*) AS n_sampled FROM d
        |      WHERE grp = 'full' OR (grp = 'low_weight' AND doc_id % 4 = 0)
        |      GROUP BY grp)
        |SELECT s.grp, n_sampled, n_total,
        |  round(n_sampled * 1.0 / n_total, 4) AS rate
        |FROM s JOIN t ON s.grp = t.grp ORDER BY s.grp""".stripMargin,

    "q_text_decontaminate" ->
      s"""WITH $shingleCte,
         |banned AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
         |tr AS (SELECT * FROM sh WHERE doc_id % 97 <> 0),
         |sz AS (SELECT doc_id, count(*) AS n_sh FROM tr GROUP BY doc_id),
         |ov AS (SELECT t.doc_id, count(*) AS n_overlap
         |       FROM tr t JOIN banned b USING (shingle) GROUP BY t.doc_id)
         |SELECT s.doc_id, n_sh, n_overlap,
         |  round(n_overlap * 1.0 / n_sh, 4) AS overlap_ratio
         |FROM sz s JOIN ov USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "q_text_repetition" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, greatest(len(toks) - 1, 0) + 1),
        |    i -> toks[i] || ' ' || toks[i+1])) AS bigram
        |  FROM tk),
        |cnt AS (SELECT doc_id, bigram, count(*) AS c
        |        FROM bg GROUP BY doc_id, bigram)
        |SELECT doc_id, cast(sum(c) as bigint) AS n_bigrams,
        |  max(c) AS top_freq,
        |  round(max(c) * 1.0 / sum(c), 4) AS rep_ratio
        |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_sample_weighted" ->
      """SELECT doc_id, n_chars,
        |  round(pow(((doc_id * 2654435761) % 2147483647 + 1)
        |              / 2147483648.0,
        |            1.0 / n_chars), 4) AS res_key
        |FROM documents
        |ORDER BY pow(((doc_id * 2654435761) % 2147483647 + 1)
        |              / 2147483648.0,
        |            1.0 / n_chars) DESC, doc_id
        |LIMIT 50""".stripMargin,

    "q_dedup_spans" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, CASE WHEN length(text) >= 40
        |               THEN (length(text) - 40) // 20 + 1 ELSE 0 END + 1),
        |    i -> substring(text, (i - 1) * 20 + 1, 40))) AS span
        |  FROM documents)
        |SELECT span, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
        |FROM w GROUP BY span HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY span""".stripMargin,

    "q_bpe_pairs" ->
      """WITH t AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |p AS (
        |  SELECT unnest(list_transform(range(1, length(tok)),
        |    i -> substring(tok, i, 2))) AS pair
        |  FROM t WHERE length(tok) >= 2)
        |SELECT pair, count(*) AS n FROM p GROUP BY pair
        |ORDER BY n DESC, pair LIMIT 10""".stripMargin,

    "q_mix_temperature" ->
      """WITH c AS (
        |  SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
        |n AS (SELECT sum(pow(n_docs, 0.5)) AS t FROM c)
        |SELECT source, n_docs, round(pow(n_docs, 0.5) / t, 4) AS weight
        |FROM c CROSS JOIN n ORDER BY source""".stripMargin,

    "q_text_pii_mask" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(text, '[A-Za-z0-9._]+@[A-Za-z0-9.]+',
        |                   '<email>', 'g'),
        |    '[0-9]+', '<num>', 'g') AS masked_text,
        |  length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
        |    AS n_digit_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_sink_partitioned_prune" ->
      s"""SELECT event_type, count(*) AS n,
         |  ${dsum("value")} AS sum_value, ${lsum("user_id")} AS sum_uid
         |FROM events WHERE event_type = 'purchase'
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_join_dpp" ->
      s"""WITH d(event_type, category) AS (VALUES
         |  ('click', 'browse'), ('view', 'browse'), ('error', 'ops'),
         |  ('purchase', 'act'), ('signup', 'act'))
         |SELECT e.event_type, d.category, count(*) AS n,
         |  ${dsum("e.value")} AS sum_value, ${lsum("e.user_id")} AS sum_uid
         |FROM events e JOIN d ON e.event_type = d.event_type
         |WHERE d.category = 'act'
         |GROUP BY e.event_type, d.category
         |ORDER BY e.event_type""".stripMargin,

    "q_text_entropy" ->
      """WITH tc AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |cnt AS (SELECT doc_id, token, count(*) AS c FROM tc GROUP BY 1, 2),
        |tot AS (SELECT doc_id, cast(sum(c) as bigint) AS n_tokens,
        |          count(*) AS n_distinct
        |        FROM cnt GROUP BY doc_id)
        |SELECT cnt.doc_id, max(n_tokens) AS n_tokens,
        |  max(n_distinct) AS n_distinct,
        |  round(-sum((c * 1.0 / n_tokens) * ln(c * 1.0 / n_tokens)), 4)
        |    AS entropy
        |FROM cnt JOIN tot ON cnt.doc_id = tot.doc_id
        |GROUP BY cnt.doc_id ORDER BY cnt.doc_id""".stripMargin,

    "q_vocab_coverage" ->
      """WITH tc AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |counts AS (SELECT token, count(*) AS c FROM tc GROUP BY token),
        |tot AS (SELECT cast(sum(c) as bigint) AS total,
        |          count(*) AS n_vocab FROM counts),
        |top AS (SELECT token, c FROM counts
        |        ORDER BY c DESC, token LIMIT 1000),
        |r AS (SELECT c,
        |        row_number() OVER (ORDER BY c DESC, token) AS rk,
        |        sum(c) OVER (ORDER BY c DESC, token
        |          ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM top)
        |SELECT rk AS k, n_vocab,
        |  round(cum * 1.0 / total, 4) AS coverage
        |FROM r, tot WHERE rk IN (10, 100, 1000) ORDER BY k""".stripMargin,

    "q_embed_quantize" ->
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding,
        |      x -> abs(cast(x as double)))) AS maxabs
        |  FROM embeddings)
        |SELECT vec_id, round(maxabs, 4) AS scale,
        |  round(list_sum(list_transform(embedding,
        |    x -> abs(cast(x as double)
        |             - floor(cast(x as double) / maxabs * 127.0)
        |               * maxabs / 127.0))) / len(embedding), 4)
        |    AS mean_abs_err
        |FROM m ORDER BY vec_id""".stripMargin,

    "q_merge_upsert" ->
      s"""WITH base AS (
         |  SELECT o_orderkey AS k, o_totalprice AS price
         |  FROM orders WHERE o_orderkey % 10 < 8),
         |changes AS (
         |  SELECT o_orderkey AS k, o_totalprice + 1000.0 AS new_price
         |  FROM orders WHERE o_orderkey % 10 >= 6),
         |merged AS (
         |  SELECT coalesce(c.new_price, b.price) AS price,
         |    CASE WHEN b.price IS NULL THEN 'insert'
         |         WHEN c.new_price IS NULL THEN 'keep'
         |         ELSE 'update' END AS action
         |  FROM base b FULL OUTER JOIN changes c ON b.k = c.k)
         |SELECT action, count(*) AS n, ${dsum("price")} AS sum_price
         |FROM merged GROUP BY action ORDER BY action""".stripMargin,

    "q_join_skew_salted" ->
      """WITH e AS (
        |  SELECT event_id,
        |    CASE WHEN user_id % 10 < 7 THEN 0 ELSE user_id END AS k,
        |    value
        |  FROM events),
        |d AS (SELECT DISTINCT k FROM e),
        |d2 AS (SELECT k, cast(k % 97 + 1 as int) AS w FROM d)
        |SELECT count(*) AS n,
        |  cast(sum(cast(value as decimal(12,2)) * w) as double) AS weighted
        |FROM e JOIN d2 USING (k)""".stripMargin,

    // wide-catalog fixture is a pure derivation of part: recompute the
    // three consumed columns directly (the other 297 never matter)
    "q_scan_wide_prune" ->
      """WITH w AS (SELECT p_partkey AS objid,
        |    ((p_partkey * 31 + 7) % 10000) / 100.0 AS mag_007,
        |    ((p_partkey * 31 + 233) % 10000) / 100.0 AS mag_233,
        |    p_partkey % 8 AS flags
        |  FROM part)
        |SELECT objid % 10 AS bucket, count(*) AS n_obj,
        |  cast(sum(cast(mag_007 as decimal(27,4))) as double) AS sum_mag7,
        |  cast(sum(cast(mag_233 as decimal(27,4))) as double) AS sum_mag233
        |FROM w WHERE flags = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_describe_schema" ->
      """SELECT table_name, cast(ordinal_position as int) AS ord,
        |  column_name, lower(data_type) AS dtype
        |FROM information_schema.columns
        |WHERE table_name IN ('region','nation','customer','supplier',
        |  'part','orders','lineitem','events','documents','embeddings')
        |ORDER BY table_name, ord""".stripMargin,

    // the sync manifest recomputed from the source table: file bytes =
    // text + trailing newline (pure-ASCII corpus), sha256 of the same
    // bytes; phantom catalog ids resolve to nothing -> ok=false
    "q_files_materialize" ->
      """WITH cat AS (
        |  SELECT doc_id FROM documents WHERE doc_id % 83 = 0
        |  UNION ALL
        |  SELECT doc_id + 10000000 AS doc_id FROM documents
        |  WHERE doc_id % 997 = 0)
        |SELECT c.doc_id, 'doc_' || c.doc_id || '.txt' AS rel_path,
        |  cast(coalesce(length(d.text) + 1, 0) as bigint) AS n_bytes,
        |  CASE WHEN d.doc_id IS NULL THEN NULL
        |       ELSE sha256(d.text || chr(10)) END AS sha256,
        |  d.doc_id IS NOT NULL AS ok
        |FROM cat c LEFT JOIN documents d ON c.doc_id = d.doc_id
        |ORDER BY c.doc_id""".stripMargin,

    // file bytes = text + trailing newline (corpus verified pure
    // ASCII, so bytes == chars); the landed-file aggregate equals
    // this recomputation from the source table
    "q_source_binaryfile" ->
      """SELECT count(*) AS n_files,
        |  cast(sum(n_chars + 1) as bigint) AS total_bytes,
        |  cast(max(n_chars + 1) as int) AS max_bytes
        |FROM documents WHERE doc_id % 97 = 0""".stripMargin,

    // replay the two parquet generations: gen 1 (even ids) lands
    // without lang, so its lang reads as NULL under mergeSchema
    "q_source_schema_evolution" ->
      """WITH m AS (
        |  SELECT source, n_chars, NULL AS lang FROM documents
        |  WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT source, n_chars, lang FROM documents
        |  WHERE doc_id % 2 = 1)
        |SELECT source, count(*) AS n_docs, count(lang) AS n_with_lang,
        |  cast(sum(n_chars) as bigint) AS sum_chars
        |FROM m GROUP BY source ORDER BY source""".stripMargin,

    // plain exact join — equality with the bloom-prefiltered plan IS
    // the no-false-negatives proof
    "q_join_bloom_prejoin" ->
      ("""SELECT count(*) AS n_rows, """ + dsum("l_quantity") +
        """ AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT'""").stripMargin,

    // PERMISSIVE quarantine replayed arithmetically: every 13th doc's
    // line was truncated, so it lands in the NULL-source group
    "q_source_badrecords" ->
      """SELECT source, count(*) AS n_rows,
        |  cast(0 as bigint) AS n_bad,
        |  cast(sum(n_chars) as bigint) AS sum_chars
        |FROM documents WHERE doc_id % 13 <> 0 GROUP BY source
        |UNION ALL
        |SELECT NULL AS source, count(*) AS n_rows,
        |  count(*) AS n_bad, cast(NULL as bigint) AS sum_chars
        |FROM documents WHERE doc_id % 13 = 0
        |ORDER BY source NULLS FIRST""".stripMargin,

    // content preserved through the small→compacted round trip; the
    // literal 1 pins one-file-per-partition-directory after compaction
    "q_compact_small_files" ->
      """SELECT source, count(*) AS n_docs,
        |  cast(sum(n_chars) as bigint) AS sum_chars,
        |  cast(1 as bigint) AS n_files
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // decoded WAV stats recomputed from the PCM generator recipe —
    // i ranges over bigints, every term stays non-negative before the
    // -2048 shift, so % and abs agree with the Spark executor loop
    "q_multimodal_audio" ->
      """WITH a AS (
        |  SELECT doc_id, cast(n_chars * 4 as int) AS n FROM documents),
        |s AS (
        |  SELECT doc_id, n,
        |    list_transform(range(0, cast(n as bigint)),
        |      i -> abs((doc_id * 31 + i * 7) % 4096 - 2048)) AS sam
        |  FROM a)
        |SELECT doc_id, n AS n_samples, 8000 AS sample_rate,
        |  cast(list_max(sam) as bigint) AS peak,
        |  cast(list_sum(sam) as double) / n AS mean_abs
        |FROM s ORDER BY doc_id""".stripMargin,

    // the DSv2 connector's synthetic catalog re-derived: 10 runs x 4
    // exposures x 8 ccds, path from the red_image template
    "q_source_catalog_pushdown" ->
      """WITH g AS (
        |  SELECT r, lpad(cast(r * 4 + e as varchar), 2, '0') AS eid,
        |    c + 1 AS ccd
        |  FROM range(10) t1(r)
        |  CROSS JOIN range(4) t2(e) CROSS JOIN range(8) t3(c)),
        |rows_ AS (
        |  SELECT 'run' || r AS run, 'exp' || eid AS expname,
        |    cast(ccd as int) AS ccd,
        |    '/desdata/OPS/red/run' || r || '/red/exp' || eid || '/exp'
        |      || eid || '_' || lpad(cast(ccd as varchar), 2, '0')
        |      || '.fits' AS path
        |  FROM g)
        |SELECT run, expname, ccd, path FROM rows_
        |WHERE run = 'run3' AND ccd <= 4
        |ORDER BY expname, ccd""".stripMargin
  )

  /** Morton interleave of two 16-bit ints — same 32-term shift/mask
    * tree the Spark Layout.zvalue expression compiles to. */
  private def zSql(x: String, y: String): String =
    (0 until 16).map { i =>
      s"(((($x >> $i) & 1) << ${2 * i + 1}) | ((($y >> $i) & 1) << ${2 * i}))"
    }.mkString(" | ")

  private val layout: Map[String, String] = Map(
    "q_layout_zorder" ->
      s"""WITH o AS (
         |  SELECT o_orderkey, o_custkey,
         |    date_diff('day', DATE '1992-01-01', o_orderdate) AS day
         |  FROM orders),
         |d AS (SELECT max(o_custkey) AS max_ck, max(day) AS max_day FROM o),
         |s AS (SELECT o_orderkey,
         |    (o_custkey * 65536) // (max_ck + 1) AS x16,
         |    (day * 65536) // (max_day + 1) AS y16
         |  FROM o CROSS JOIN d),
         |z AS (SELECT *, ${zSql("x16", "y16")} AS zval FROM s)
         |SELECT zval >> 26 AS z_bucket, count(*) AS n,
         |  min(x16) AS min_x, max(x16) AS max_x,
         |  min(y16) AS min_y, max(y16) AS max_y
         |FROM z GROUP BY 1 ORDER BY z_bucket""".stripMargin
  )

  /** NDCG discount 1/log2(rank+1) as the SAME hard-coded 6-decimal
    * literals the Spark side uses — cross-engine log2 is libm-dependent
    * and never evaluated in either engine. */
  private def ndcgW(rank: String): String =
    s"""CASE $rank WHEN 1 THEN 1.000000 WHEN 2 THEN 0.630930
       | WHEN 3 THEN 0.500000 WHEN 4 THEN 0.430677 WHEN 5 THEN 0.386853
       | WHEN 6 THEN 0.356207 WHEN 7 THEN 0.333333 WHEN 8 THEN 0.315465
       | WHEN 9 THEN 0.301030 ELSE 0.289065 END""".stripMargin
      .replace("\n", "")

  private val round8: Map[String, String] = Map(
    // three-pass robust stats: identical interpolated medians, shared
    // 1.4826 literal, IEEE comparisons on identical operands
    "q_agg_mad" ->
      """WITH m AS (SELECT l_returnflag, median(l_extendedprice) AS median
        |           FROM lineitem GROUP BY 1),
        |j AS (SELECT l.l_returnflag, l.l_extendedprice, m.median
        |      FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag),
        |d AS (SELECT l_returnflag,
        |        median(abs(l_extendedprice - median)) AS mad
        |      FROM j GROUP BY 1)
        |SELECT j.l_returnflag, count(*) AS n, max(j.median) AS median,
        |  max(d.mad) AS mad,
        |  count(CASE WHEN abs(j.l_extendedprice - j.median)
        |               > 3 * 1.4826 * d.mad THEN 1 END) AS n_outliers
        |FROM j JOIN d ON j.l_returnflag = d.l_returnflag
        |GROUP BY j.l_returnflag ORDER BY j.l_returnflag""".stripMargin,

    // direct O(n²) dominance semantics the engine's O(n) domain-
    // aggregate formulation must reproduce
    "q_skyline_pareto" ->
      """SELECT x.p_partkey, x.p_size, x.p_retailprice FROM part x
        |WHERE NOT EXISTS (SELECT 1 FROM part y
        |  WHERE y.p_size >= x.p_size
        |    AND y.p_retailprice <= x.p_retailprice
        |    AND (y.p_size > x.p_size
        |      OR y.p_retailprice < x.p_retailprice))
        |ORDER BY x.p_size DESC, x.p_partkey""".stripMargin,

    // same 10-token segmentation as q_text_segment_clean; df ≥ 3
    // distinct docs ⇒ boilerplate
    "q_text_boilerplate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |segs AS (
        |  SELECT doc_id,
        |    array_to_string(toks[u.i*10+1 : u.i*10+10], ' ') AS seg
        |  FROM t, UNNEST(range(0, (len(toks) - 1) // 10 + 1)) AS u(i)),
        |sg AS (SELECT doc_id, seg,
        |         len(string_split(seg, ' ')) AS n_toks FROM segs),
        |freq AS (SELECT seg FROM sg GROUP BY seg
        |         HAVING count(DISTINCT doc_id) >= 3),
        |boiler AS (SELECT doc_id, count(*) AS n_boiler,
        |    cast(sum(n_toks) as bigint) AS boiler_toks
        |  FROM sg WHERE seg IN (SELECT seg FROM freq) GROUP BY doc_id),
        |perdoc AS (SELECT doc_id, count(*) AS n_segs,
        |    cast(sum(n_toks) as bigint) AS n_toks
        |  FROM sg GROUP BY doc_id)
        |SELECT p.doc_id, p.n_segs,
        |  coalesce(b.n_boiler, 0) AS n_boiler, p.n_toks,
        |  coalesce(b.boiler_toks, 0) AS boiler_toks,
        |  cast(coalesce(b.boiler_toks, 0) as double) / p.n_toks
        |    AS boiler_frac
        |FROM perdoc p LEFT JOIN boiler b ON p.doc_id = b.doc_id
        |ORDER BY p.doc_id""".stripMargin,

    // NDCG@10: same rounded sims, same rank tiebreaks, same label-
    // derived judgments, exact decimal gain×discount sums; IDCG is the
    // ideal top-10 BY RELEVANCE over the WHOLE judged corpus (second
    // rel-ranked window), not a re-sort of the retrieved 10
    "q_eval_ndcg" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding, label AS qlabel
         |           FROM embeddings WHERE vec_id % 50 = 0),
         |top AS (SELECT q.qid, a.vec_id,
         |    CASE WHEN a.label = q.qlabel THEN 2
         |         WHEN a.label % 5 = q.qlabel % 5 THEN 1 ELSE 0 END
         |      AS rel,
         |    $dotSql AS sim
         |  FROM embeddings a, q WHERE a.vec_id <> q.qid),
         |rk AS (SELECT qid, vec_id, rel,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY sim DESC, vec_id) AS rnk,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY rel DESC, vec_id) AS irank
         |  FROM top),
         |s AS (SELECT qid,
         |    cast(sum(CASE WHEN rnk <= 10 THEN
         |        cast(CASE rel WHEN 2 THEN 3 WHEN 1 THEN 1
         |             ELSE 0 END as decimal(8,0))
         |        * cast(${ndcgW("rnk")} as decimal(8,6)) END)
         |      as double) AS dcg,
         |    cast(sum(CASE WHEN irank <= 10 THEN
         |        cast(CASE rel WHEN 2 THEN 3 WHEN 1 THEN 1
         |             ELSE 0 END as decimal(8,0))
         |        * cast(${ndcgW("irank")} as decimal(8,6)) END)
         |      as double) AS idcg
         |  FROM rk WHERE rnk <= 10 OR irank <= 10 GROUP BY qid)
         |SELECT qid, dcg, idcg,
         |  CASE WHEN idcg > 0 THEN dcg / idcg END AS ndcg
         |FROM s ORDER BY qid""".stripMargin,

    // recall@10 of the sign-hash index (9-cell multi-probe: own cell +
    // 8 Hamming-1 neighbors) vs exact search, same sample
    "q_eval_recall_ann" ->
      s"""WITH b AS (SELECT vec_id, embedding, $bucketSql AS bucket
         |           FROM embeddings),
         |q0 AS (SELECT vec_id AS qid, embedding, bucket AS qb
         |       FROM b WHERE vec_id % 50 = 0),
         |qp AS (SELECT qid, embedding, u.p AS probe
         |       FROM q0, UNNEST([qb, xor(qb, 1), xor(qb, 2), xor(qb, 4),
         |         xor(qb, 8), xor(qb, 16), xor(qb, 32), xor(qb, 64),
         |         xor(qb, 128)]) AS u(p)),
         |ex AS (SELECT q.qid, a.vec_id, $dotSql AS sim
         |       FROM b a, q0 q WHERE a.vec_id <> q.qid),
         |exr AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |        ORDER BY sim DESC, vec_id) AS rnk FROM ex)
         |  WHERE rnk <= 10),
         |an AS (SELECT q.qid, a.vec_id, $dotSql AS sim
         |       FROM b a JOIN qp q ON a.bucket = q.probe
         |       WHERE a.vec_id <> q.qid),
         |anr AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |        ORDER BY sim DESC, vec_id) AS rnk FROM an)
         |  WHERE rnk <= 10)
         |SELECT e.qid, count(*) AS n_exact,
         |  count(a.vec_id) AS n_hit,
         |  cast(count(a.vec_id) as double) / count(*) AS recall
         |FROM exr e LEFT JOIN anr a
         |  ON e.qid = a.qid AND e.vec_id = a.vec_id
         |GROUP BY e.qid ORDER BY e.qid""".stripMargin
  )

  private val round7: Map[String, String] = Map(
    // replay of the deterministic snapshot edits + full-outer diff
    "q_snapshot_diff" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS st,
        |    cast(o_totalprice as decimal(12,2)) AS price
        |  FROM orders),
        |nxt AS (
        |  SELECT k, st,
        |    CASE WHEN k % 11 = 0 THEN price + cast(100.0 as decimal(12,2))
        |         ELSE price END AS price
        |  FROM base WHERE k % 13 <> 0
        |  UNION ALL
        |  SELECT k + 100000000, 'N', price FROM base WHERE k % 17 = 0),
        |j AS (
        |  SELECT CASE WHEN b.k IS NULL THEN 'added'
        |              WHEN n.k IS NULL THEN 'removed'
        |              WHEN b.st <> n.st OR b.price <> n.price
        |                THEN 'changed'
        |              ELSE 'unchanged' END AS diff_status,
        |    coalesce(n.price, cast(0.0 as decimal(12,2))) AS np,
        |    coalesce(b.price, cast(0.0 as decimal(12,2))) AS bp
        |  FROM base b FULL OUTER JOIN nxt n ON b.k = n.k)
        |SELECT diff_status, count(*) AS n,
        |  cast(sum(cast(np - bp as decimal(27,4))) as double) AS net_delta
        |FROM j GROUP BY diff_status ORDER BY diff_status""".stripMargin,

    "q_intervals_open" ->
      """WITH o AS (
        |  SELECT cast(o_orderdate as date) AS start_d,
        |    cast(o_orderdate as date)
        |      + cast(1 + o_orderkey % 28 as int) AS end_d
        |  FROM orders),
        |d AS (
        |  SELECT day, sum(delta) AS net FROM (
        |    SELECT start_d AS day, count(*) AS delta FROM o GROUP BY 1
        |    UNION ALL
        |    SELECT end_d AS day, -count(*) AS delta FROM o GROUP BY 1) u
        |  GROUP BY day),
        |r AS (SELECT day, cast(net as bigint) AS net,
        |    cast(sum(net) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
        |      as bigint) AS n_open
        |  FROM d)
        |SELECT day, net, n_open FROM r
        |ORDER BY n_open DESC, day LIMIT 20""".stripMargin,

    "q_abc_pareto" ->
      """WITH rev AS (
        |  SELECT l_partkey,
        |    sum(cast(cast(l_extendedprice as decimal(12,2))
        |        as decimal(27,4))) AS rev
        |  FROM lineitem GROUP BY l_partkey),
        |t AS (SELECT sum(rev) AS tot FROM rev),
        |c AS (SELECT l_partkey, rev,
        |    sum(rev) OVER (ORDER BY rev DESC, l_partkey
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM rev),
        |k AS (SELECT l_partkey, rev, tot,
        |    CASE WHEN cast(cum as double) / cast(tot as double) <= 0.80
        |           THEN 'A'
        |         WHEN cast(cum as double) / cast(tot as double) <= 0.95
        |           THEN 'B'
        |         ELSE 'C' END AS abc_class
        |  FROM c CROSS JOIN t)
        |SELECT abc_class, count(*) AS n_parts,
        |  cast(sum(rev) as double) AS revenue,
        |  round(cast(sum(rev) as double) / cast(min(tot) as double), 4)
        |    AS rev_share
        |FROM k GROUP BY abc_class ORDER BY abc_class""".stripMargin,

    // floor-divided cent allocation replayed exactly; interval band
    // via timestamp arithmetic (micros precision both engines)
    "q_attrib_linear" ->
      """WITH p AS (
        |  SELECT event_id AS p_eid, user_id, ts AS p_ts,
        |    cast(cast(value as decimal(12,2)) * 100 as bigint) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, ts AS t_ts, event_type AS channel
        |      FROM events
        |      WHERE event_type IN ('view', 'click', 'signup')),
        |j AS (SELECT p.p_eid, p.cents, t.channel
        |      FROM p JOIN t ON p.user_id = t.user_id
        |        AND t.t_ts >= p.p_ts - INTERVAL '1 hour'
        |        AND t.t_ts < p.p_ts),
        |g AS (SELECT p_eid, cents, channel, count(*) AS k
        |      FROM j GROUP BY 1, 2, 3),
        |c AS (SELECT p_eid, channel,
        |        (cents * k) // sum(k) OVER (PARTITION BY p_eid)
        |          AS credit_cents
        |      FROM g),
        |d AS (SELECT p_eid, 'direct' AS channel, cents AS credit_cents
        |      FROM p WHERE NOT EXISTS (
        |        SELECT 1 FROM t WHERE t.user_id = p.user_id
        |          AND t.t_ts >= p.p_ts - INTERVAL '1 hour'
        |          AND t.t_ts < p.p_ts)),
        |u AS (SELECT * FROM c UNION ALL SELECT * FROM d)
        |SELECT channel, count(DISTINCT p_eid) AS n_purchases,
        |  cast(sum(credit_cents) as double) / 100.0 AS credit
        |FROM u GROUP BY channel ORDER BY channel""".stripMargin,

    // same SCD2 run CTEs as q_scd2_intervals (unfiltered), probed at
    // key-derived as-of dates
    "q_join_scd2_pit" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
        |    CASE WHEN lag(o_orderstatus) OVER w IS NULL
        |      OR lag(o_orderstatus) OVER w <> o_orderstatus
        |    THEN 1 ELSE 0 END AS chg
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY o_orderdate, o_orderkey)),
        |r AS (
        |  SELECT o_custkey, o_orderdate, o_orderstatus,
        |    sum(chg) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey
        |      ROWS UNBOUNDED PRECEDING) AS run
        |  FROM o),
        |g AS (
        |  SELECT o_custkey, run, min(o_orderdate) AS valid_from,
        |    min(o_orderstatus) AS status
        |  FROM r GROUP BY o_custkey, run),
        |iv AS (
        |  SELECT o_custkey, status, cast(valid_from as date) AS vf,
        |    cast(lead(valid_from) OVER (PARTITION BY o_custkey
        |      ORDER BY run) as date) AS vt
        |  FROM g),
        |probe AS (
        |  SELECT c_custkey,
        |    DATE '1996-01-01' + cast(c_custkey % 1800 as int) AS as_of
        |  FROM customer),
        |m AS (
        |  SELECT probe.c_custkey, probe.as_of,
        |    coalesce(iv.status, 'none') AS status
        |  FROM probe LEFT JOIN iv ON probe.c_custkey = iv.o_custkey
        |    AND probe.as_of >= iv.vf
        |    AND (iv.vt IS NULL OR probe.as_of < iv.vt))
        |SELECT status, count(*) AS n_customers,
        |  min(c_custkey) AS min_custkey, max(c_custkey) AS max_custkey
        |FROM m GROUP BY status ORDER BY status""".stripMargin,

    // shared global bin basis + epsilon-free PSI convention; the total
    // sums decimal-cast r4 terms (exact — bin order cannot move it)
    "q_stats_drift_psi" ->
      """WITH e AS (
        |  SELECT value,
        |    CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 'ref'
        |         ELSE 'cur' END AS half
        |  FROM events),
        |st AS (SELECT min(value) AS vmin, max(value) AS vmax FROM e),
        |b AS (SELECT half,
        |    cast(least(floor((value - vmin) / ((vmax - vmin) / 10.0)),
        |      9) as int) AS bin
        |  FROM e CROSS JOIN st),
        |g AS (SELECT bin,
        |    count(CASE WHEN half = 'ref' THEN 1 END) AS n_ref,
        |    count(CASE WHEN half = 'cur' THEN 1 END) AS n_cur
        |  FROM b GROUP BY bin),
        |tt AS (SELECT cast(sum(n_ref) as bigint) AS t_ref,
        |    cast(sum(n_cur) as bigint) AS t_cur FROM g),
        |terms AS (SELECT bin, n_ref, n_cur,
        |    cast(n_ref as double) / t_ref AS p,
        |    cast(n_cur as double) / t_cur AS q
        |  FROM g CROSS JOIN tt),
        |t2 AS (SELECT bin, n_ref, n_cur, p, q,
        |    CASE WHEN n_ref > 0 AND n_cur > 0
        |      THEN round((p - q) * ln(p / q), 4) ELSE 0.0 END AS psi_term
        |  FROM terms),
        |tot AS (SELECT cast(sum(cast(psi_term as decimal(18,6)))
        |    as double) AS psi_total FROM t2)
        |SELECT bin, n_ref, n_cur, round(p, 4) AS p, round(q, 4) AS q,
        |  psi_term, psi_total
        |FROM t2 CROSS JOIN tot ORDER BY bin""".stripMargin,

    // bloom negatives are definitely-new, positives exactly verified —
    // so the final split is the plain NOT EXISTS result
    "q_dedup_bloom_screen" ->
      """WITH batch AS (
        |  SELECT doc_id, lang, text FROM documents
        |  WHERE doc_id % 10 = 7
        |  UNION ALL
        |  SELECT doc_id + 1000000, lang, text FROM documents
        |  WHERE doc_id % 10 = 3),
        |corpus AS (
        |  SELECT DISTINCT text FROM documents WHERE doc_id % 10 <> 7),
        |m AS (
        |  SELECT b.doc_id, b.lang,
        |    EXISTS (SELECT 1 FROM corpus c WHERE c.text = b.text)
        |      AS is_dup
        |  FROM batch b)
        |SELECT lang, count(*) AS n_batch,
        |  count(CASE WHEN is_dup THEN 1 END) AS n_dup,
        |  count(CASE WHEN NOT is_dup THEN 1 END) AS n_new
        |FROM m GROUP BY lang ORDER BY lang""".stripMargin,

    "q_text_novelty" ->
      s"""WITH $shingleCte,
         |f AS (SELECT shingle, min(doc_id) AS first_doc
         |      FROM sh GROUP BY shingle),
         |j AS (SELECT sh.doc_id, f.first_doc
         |      FROM sh JOIN f ON sh.shingle = f.shingle),
         |g AS (SELECT doc_id, count(*) AS n_shingles,
         |        count(CASE WHEN first_doc = doc_id THEN 1 END)
         |          AS n_novel
         |      FROM j GROUP BY doc_id)
         |SELECT doc_id, n_shingles, n_novel,
         |  cast(n_novel as double) / n_shingles AS novelty
         |FROM g WHERE doc_id % 7 = 0 ORDER BY doc_id""".stripMargin,

    // identical md5-slice bucket + integer-weight arithmetic, list_sum
    // as the fold (integer addition — order-free)
    "q_classify_linear" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> t <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, len(toks) AS n_tokens,
        |    cast(coalesce(list_sum(list_transform(toks, t ->
        |      ((('0x' || substr(md5(t), 1, 12))::BIGINT % 64)
        |        * 2654435761) % 201 - 100)), 0) as bigint) AS score_int
        |  FROM tk)
        |SELECT doc_id, cast(n_tokens as int) AS n_tokens, score_int,
        |  cast(score_int as double) / greatest(n_tokens, 1) AS score,
        |  score_int > 0 AS label
        |FROM s ORDER BY doc_id""".stripMargin,

    // significance compares the UNROUNDED z on both engines
    "q_ab_test" ->
      """WITH conv AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS converted
        |  FROM events GROUP BY user_id),
        |v AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END
        |        AS variant, converted
        |      FROM conv),
        |s AS (
        |  SELECT count(CASE WHEN variant = 'A' THEN 1 END) AS n_a,
        |    cast(sum(CASE WHEN variant = 'A' THEN converted
        |      ELSE 0 END) as bigint) AS conv_a,
        |    count(CASE WHEN variant = 'B' THEN 1 END) AS n_b,
        |    cast(sum(CASE WHEN variant = 'B' THEN converted
        |      ELSE 0 END) as bigint) AS conv_b
        |  FROM v),
        |c AS (SELECT *, cast(conv_a as double) / n_a AS pa,
        |    cast(conv_b as double) / n_b AS pb,
        |    cast(conv_a + conv_b as double) / (n_a + n_b) AS pp
        |  FROM s),
        |e AS (SELECT *, sqrt(pp * (1.0 - pp)
        |    * (1.0 / n_a + 1.0 / n_b)) AS se
        |  FROM c),
        |z AS (SELECT *, CASE WHEN se > 0.0 THEN (pa - pb) / se
        |    ELSE 0.0 END AS zv
        |  FROM e)
        |SELECT n_a, conv_a, n_b, conv_b, round(pa, 4) AS p_a,
        |  round(pb, 4) AS p_b, round(zv, 4) AS z,
        |  abs(zv) > 1.96 AS significant
        |FROM z""".stripMargin,

    "q_sim_ann_filtered" ->
      s"""WITH b AS (SELECT vec_id, label, embedding, $bucketSql AS bucket
         |           FROM embeddings),
         |q0 AS (SELECT embedding, bucket FROM b WHERE vec_id = 0),
         |q AS (SELECT embedding, bucket FROM q0
         |      UNION ALL
         |      SELECT q0.embedding, xor(q0.bucket, 1 << u.i)
         |      FROM q0, UNNEST(range(0, 8)) AS u(i))
         |SELECT a.vec_id, a.label, $dotSql AS sim
         |FROM b a JOIN q ON a.bucket = q.bucket
         |WHERE a.vec_id <> 0 AND a.label < 5
         |ORDER BY sim DESC, a.vec_id LIMIT 5""".stripMargin,

    // identical add-one arithmetic; ordered list_sum fold (the
    // q_text_perplexity precedent)
    "q_text_bigram_lm" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, cast(u.i as int) AS pos,
        |    toks[u.i - 1] AS prev, toks[u.i] AS cur
        |  FROM tk, UNNEST(range(2, len(toks) + 1)) AS u(i)),
        |uni AS (SELECT unnest(toks) AS token FROM tk),
        |cu AS (SELECT token, count(*) AS cu FROM uni GROUP BY token),
        |vv AS (SELECT count(DISTINCT token) AS v FROM uni),
        |pr AS (
        |  SELECT c.prev, c.cur,
        |    -ln(cast(c.cbg + 1 as double) / (cu.cu + vv.v)) AS nlp
        |  FROM (SELECT prev, cur, count(*) AS cbg FROM bg
        |        GROUP BY prev, cur) c
        |  JOIN cu ON c.prev = cu.token CROSS JOIN vv),
        |d AS (
        |  SELECT bg.doc_id, count(*) AS n_bigrams,
        |    list_sum(list(pr.nlp ORDER BY bg.pos)) AS sum_nlp
        |  FROM bg JOIN pr ON bg.prev = pr.prev AND bg.cur = pr.cur
        |  GROUP BY bg.doc_id)
        |SELECT doc_id, n_bigrams,
        |  round(sum_nlp / n_bigrams, 4) AS avg_neg_logprob,
        |  round(exp(sum_nlp / n_bigrams), 4) AS perplexity
        |FROM d ORDER BY doc_id""".stripMargin,

    // pure arithmetic replay of the landed layout + compaction policy
    "q_delete_compact" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k, o_orderkey % 8 AS fg FROM orders),
        |d AS (SELECT k, fg,
        |    (k % 10 = 3 OR (fg = 2 AND (k // 8) % 3 = 0)) AS del
        |  FROM o),
        |g AS (SELECT fg, count(*) AS n_rows,
        |    count(CASE WHEN del THEN 1 END) AS n_tombstones
        |  FROM d GROUP BY fg)
        |SELECT fg, n_rows, n_tombstones,
        |  round(cast(n_tombstones as double) / n_rows, 4)
        |    AS tombstone_frac,
        |  CASE WHEN cast(n_tombstones as double) / n_rows > 0.2
        |    THEN 'rewrite' ELSE 'keep' END AS action,
        |  CASE WHEN cast(n_tombstones as double) / n_rows > 0.2
        |    THEN n_rows - n_tombstones ELSE n_rows END
        |    AS n_file_rows_after,
        |  cast(CASE WHEN cast(n_tombstones as double) / n_rows > 0.2
        |    THEN 0 ELSE n_tombstones END as bigint)
        |    AS residual_tombstones
        |FROM g ORDER BY fg""".stripMargin,

    // succinct range-join twin of the bounded-explode rolling distinct
    "q_events_stickiness" ->
      """WITH ud AS (
        |  SELECT DISTINCT cast(ts as date) AS d, user_id FROM events),
        |days AS (SELECT DISTINCT d AS day FROM ud),
        |dau AS (SELECT d AS day, count(DISTINCT user_id) AS dau
        |        FROM ud GROUP BY d),
        |mau AS (SELECT days.day,
        |          count(DISTINCT ud.user_id) AS mau
        |        FROM days JOIN ud
        |          ON ud.d BETWEEN days.day - 27 AND days.day
        |        GROUP BY days.day)
        |SELECT dau.day, dau.dau, mau.mau,
        |  cast(dau.dau as double) / mau.mau AS stickiness
        |FROM dau JOIN mau ON dau.day = mau.day
        |ORDER BY dau.day""".stripMargin,

    "q_events_forecast_naive" ->
      (("""WITH daily AS (
        |  SELECT event_type, cast(ts as date) AS day,
        |    """ + dsum("value") + """ AS revenue
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, day, revenue,
        |    lag(revenue, 7) OVER (PARTITION BY event_type
        |      ORDER BY day) AS pred
        |  FROM daily),
        |s AS (SELECT event_type,
        |    round(abs(revenue - pred) / revenue, 4) AS ape
        |  FROM l WHERE pred IS NOT NULL AND revenue > 0.0)
        |SELECT event_type, count(*) AS n_scored,
        |  cast(sum(cast(ape as decimal(18,6))) as double) / count(*)
        |    AS mape
        |FROM s GROUP BY event_type
        |ORDER BY event_type""").stripMargin),

    "q_quality_lexicon" ->
      """WITH t AS (
        |  SELECT lang,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |h AS (SELECT lang,
        |    len(list_filter(toks,
        |      x -> x IN ('dup', 'stream', 'hash'))) AS n_hits,
        |    len(list_filter(['dup', 'stream', 'hash'],
        |      x -> list_contains(toks, x))) AS n_terms
        |  FROM t)
        |SELECT lang, count(*) AS n_docs,
        |  count(CASE WHEN n_hits > 0 THEN 1 END) AS n_flagged,
        |  cast(sum(n_hits) as bigint) AS total_hits,
        |  cast(max(n_terms) as bigint) AS max_distinct_terms,
        |  cast(count(CASE WHEN n_hits > 0 THEN 1 END) as double)
        |    / count(*) AS flag_rate
        |FROM h GROUP BY lang ORDER BY lang""".stripMargin,

    // identical Knuth-hash candidate arithmetic + id-resolve join
    "q_sample_negatives" ->
      """WITH n AS (SELECT count(*) AS nn FROM documents),
        |a AS (SELECT doc_id AS anchor_id, source AS a_src
        |      FROM documents WHERE doc_id % 10 = 5),
        |c AS (SELECT anchor_id, a_src, cast(u.j as int) AS j, nn,
        |    (anchor_id * 2654435761 + u.j * 1000003) % nn AS neg0
        |  FROM a CROSS JOIN n, UNNEST(range(1, 4)) AS u(j)),
        |f AS (SELECT anchor_id, j, a_src,
        |    CASE WHEN neg0 = anchor_id THEN (neg0 + 1) % nn
        |         ELSE neg0 END AS neg_id
        |  FROM c)
        |SELECT f.anchor_id, f.j, f.neg_id,
        |  d.source = f.a_src AS same_source
        |FROM f JOIN documents d ON d.doc_id = f.neg_id
        |ORDER BY anchor_id, j""".stripMargin,

    "q_stream_topk" ->
      s"""WITH a AS (
         |  SELECT cast(time_bucket(INTERVAL '1 hour', ts) as timestamp)
         |    AS window_start, event_type,
         |    count(*) AS n, ${dsum("value")} AS sum_value
         |  FROM events GROUP BY 1, 2),
         |r AS (SELECT *, row_number() OVER (PARTITION BY window_start
         |        ORDER BY sum_value DESC, event_type) AS rk
         |      FROM a)
         |SELECT window_start, cast(rk as int) AS rk, event_type, n,
         |  sum_value
         |FROM r WHERE rk <= 3 ORDER BY window_start, rk""".stripMargin,

    // full-join recompute — the hash match proves merge ≡ recompute
    "q_join_incremental" ->
      s"""SELECT n_name, count(*) AS n_orders,
         |  ${dsum("o_totalprice")} AS revenue
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q_chunk_overlap" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, cast(u.i as int) AS chunk_idx,
        |    cast(u.i * 24 as int) AS start_tok,
        |    toks[u.i*24+1 : u.i*24+32] AS chunk,
        |    toks[u.i*24+1] AS first_token
        |  FROM t, UNNEST(range(0, CASE WHEN len(toks) = 0 THEN 0
        |    ELSE (len(toks) - 1) // 24 + 1 END)) AS u(i))
        |SELECT doc_id, chunk_idx, start_tok,
        |  cast(len(chunk) as int) AS n_chunk_tokens, first_token
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_sim_matryoshka" -> {
      def d(n: Int) =
        s"round(list_sum(list_transform(range(1, ${n + 1}), " +
          "i -> cast(a.embedding[i] as double)" +
          " * cast(q.embedding[i] as double))), 4)"
      s"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
         |s AS (SELECT a.vec_id, ${d(64)} AS sim, ${d(16)} AS sim16
         |      FROM embeddings a CROSS JOIN q WHERE a.vec_id <> 0),
         |f AS (SELECT vec_id, sim, sim16 FROM s
         |      ORDER BY sim DESC, vec_id LIMIT 10),
         |p AS (SELECT vec_id FROM s ORDER BY sim16 DESC, vec_id LIMIT 10)
         |SELECT f.vec_id, f.sim, f.sim16,
         |  EXISTS (SELECT 1 FROM p WHERE p.vec_id = f.vec_id)
         |    AS in_prefix_top10
         |FROM f ORDER BY sim DESC, vec_id""".stripMargin
    },

    // arithmetic day-of-week ((epoch_day + 3) % 7, 0 = Monday) — no
    // engine dow() convention in play
    "q_events_heatmap" ->
      s"""SELECT
         |  cast((date_diff('day', DATE '1970-01-01', cast(ts as date))
         |    + 3) % 7 as int) AS dow,
         |  cast(hour(ts) as int) AS hod,
         |  count(*) AS n_events, ${dsum("value")} AS revenue
         |FROM events GROUP BY 1, 2 ORDER BY dow, hod""".stripMargin,

    "q_ts_twa" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus,
        |    cast(value as decimal(12,2)) AS v
        |  FROM events),
        |l AS (SELECT user_id, tus, v,
        |    lead(tus) OVER (PARTITION BY user_id
        |      ORDER BY tus, event_id) - tus AS dt
        |  FROM e),
        |g AS (SELECT user_id, count(*) AS n_events,
        |    max(tus) - min(tus) AS span_us,
        |    sum(v * dt) AS area
        |  FROM l GROUP BY user_id)
        |SELECT user_id, n_events, cast(span_us as bigint) AS span_us,
        |  round(cast(area as double) / span_us, 4) AS twa
        |FROM g WHERE span_us > 0 ORDER BY user_id""".stripMargin,

    "q_mix_epochs" ->
      """WITH c AS (
        |  SELECT source, count(*) AS n_docs,
        |    cast(sum(len(list_filter(string_split(text, ' '),
        |      t -> t <> ''))) as bigint) AS n_tokens
        |  FROM documents GROUP BY source),
        |n AS (SELECT sum(pow(n_tokens, 0.5)) AS t,
        |      cast(sum(n_tokens) as bigint) AS total FROM c)
        |SELECT source, n_docs, n_tokens,
        |  round(pow(n_tokens, 0.5) / t, 4) AS weight,
        |  round(least(4.0, pow(n_tokens, 0.5) / t * (2 * total)
        |    / n_tokens), 4) AS epochs
        |FROM c CROSS JOIN n ORDER BY source""".stripMargin,

    // identical variant synthesis + normalization chain; single-match
    // patterns so first-match (DuckDB) and all-match (Spark)
    // regexp_replace coincide
    "q_dedup_url" ->
      """WITH u AS (
        |  SELECT lower(regexp_replace(regexp_replace(regexp_replace(
        |    'https://' ||
        |    CASE WHEN doc_id % 4 = 1 THEN 'WWW.EXAMPLE.COM'
        |         ELSE 'www.example.com' END ||
        |    CASE WHEN doc_id % 4 = 3 THEN '/docs/u' || doc_id
        |         ELSE '/docs/' || (doc_id // 4) END ||
        |    CASE WHEN doc_id % 4 = 2 THEN '?utm_source=feed'
        |         WHEN doc_id % 4 = 3 THEN '/#frag'
        |         ELSE '' END,
        |    '#.*$', ''), '[?&]utm_[^&#]*', ''), '/$', ''))
        |    AS canonical
        |  FROM documents),
        |g AS (SELECT canonical, count(*) AS sz FROM u GROUP BY canonical)
        |SELECT sz AS group_size, count(*) AS n_groups,
        |  min(canonical) AS sample_url
        |FROM g GROUP BY sz ORDER BY group_size""".stripMargin,

    "q_spatial_density" ->
      """WITH cat AS (
        |  SELECT p_partkey AS id,
        |    (p_partkey * 137.508) % 360.0 AS ra,
        |    (p_partkey * 97.13) % 120.0 - 60.0 AS dec
        |  FROM part)
        |SELECT cast(floor(ra / 15.0) as int) AS zx,
        |  cast(floor((dec + 60.0) / 15.0) as int) AS zy,
        |  count(*) AS n_objects, min(id) AS min_id
        |FROM cat GROUP BY 1, 2 ORDER BY zx, zy""".stripMargin,

    // triangles twin + degree join; coefficient divides exact longs
    "q_graph_clustering" ->
      s"""WITH b AS (SELECT vec_id, embedding, $bucketSql AS bucket
         |           FROM embeddings),
         |j AS (
         |  SELECT a.vec_id AS vec_id, q.vec_id AS nbr_id, $dotSql AS sim
         |  FROM b a JOIN b q ON a.bucket = q.bucket
         |  WHERE a.vec_id <> q.vec_id),
         |rnk AS (SELECT vec_id, nbr_id,
         |  row_number() OVER (PARTITION BY vec_id
         |    ORDER BY sim DESC, nbr_id) AS rk
         |  FROM j),
         |und AS (SELECT DISTINCT least(vec_id, nbr_id) AS lo,
         |                        greatest(vec_id, nbr_id) AS hi
         |        FROM rnk WHERE rk <= 3),
         |deg AS (SELECT node, count(*) AS deg FROM (
         |          SELECT lo AS node FROM und
         |          UNION ALL SELECT hi FROM und) GROUP BY node),
         |tri AS (
         |  SELECT a.lo AS x, a.hi AS y, b.hi AS z
         |  FROM und a
         |  JOIN und b ON a.lo = b.lo AND a.hi < b.hi
         |  JOIN und c ON c.lo = a.hi AND c.hi = b.hi),
         |mem AS (SELECT x AS node FROM tri
         |        UNION ALL SELECT y FROM tri
         |        UNION ALL SELECT z FROM tri),
         |tn AS (SELECT node, count(*) AS n_tri FROM mem GROUP BY node)
         |SELECT d.node, cast(d.deg as bigint) AS deg,
         |  cast(coalesce(tn.n_tri, 0) as bigint) AS n_tri,
         |  CASE WHEN d.deg >= 2
         |    THEN cast(coalesce(tn.n_tri, 0) * 2 as double)
         |         / (d.deg * (d.deg - 1))
         |    ELSE 0.0 END AS clustering
         |FROM deg d LEFT JOIN tn ON d.node = tn.node
         |ORDER BY d.node""".stripMargin,

    // aHash bits replayed from the generator arithmetic: px·N > Σpx
    // reduces to (sx_i + sy_j)·N > oh·Σsx + ow·Σsy after the base
    // gray cancels
    "q_multimodal_phash" ->
      s"""WITH $mmShapeCte,
         |r AS (SELECT doc_id, w, h, g,
         |  CASE WHEN greatest(w,h) <= 8 THEN w
         |       ELSE (w*8)//greatest(w,h) END AS ow,
         |  CASE WHEN greatest(w,h) <= 8 THEN h
         |       ELSE (h*8)//greatest(w,h) END AS oh
         |  FROM m),
         |x AS (SELECT *,
         |  list_sum(list_transform(range(0, ow), i -> (i*w)//ow)) AS sx,
         |  list_sum(list_transform(range(0, oh), j -> (j*h)//oh)) AS sy
         |  FROM r),
         |p AS (SELECT doc_id,
         |  ow || 'x' || oh || ':' ||
         |  array_to_string(list_transform(range(0, ow*oh), k ->
         |    CASE WHEN (((k % ow) * w) // ow + ((k // ow) * h) // oh)
         |           * (ow*oh) > oh * sx + ow * sy
         |    THEN '1' ELSE '0' END), '') AS phash
         |  FROM x)
         |SELECT phash, min(doc_id) AS keep_id, count(*) AS n_images
         |FROM p GROUP BY phash ORDER BY keep_id""".stripMargin,

    "q_profile_columns" -> {
      def one(c: String) =
        s"""SELECT '$c' AS column_name, count(*) AS n_rows,
           |  count(*) - count($c) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  cast(min($c) as varchar) AS min_s,
           |  cast(max($c) as varchar) AS max_s
           |FROM documents""".stripMargin
      Seq("doc_id", "lang", "source", "n_chars", "text")
        .map(one).mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
    }
  )

  private val round9: Map[String, String] = Map(
    // gaps-and-islands: same day-number-minus-rank constant per run
    "q_win_gap_islands" ->
      """WITH days AS (SELECT DISTINCT user_id, cast(ts as date) AS d
        |              FROM events),
        |r AS (SELECT user_id, d, row_number() OVER (
        |        PARTITION BY user_id ORDER BY d) AS rn
        |      FROM days),
        |isl AS (SELECT user_id,
        |          datediff('day', DATE '1970-01-01', d) - rn AS grp,
        |          count(*) AS island_len
        |        FROM r GROUP BY 1, 2)
        |SELECT island_len, count(*) AS n_islands,
        |  count(DISTINCT user_id) AS n_users
        |FROM isl GROUP BY island_len ORDER BY island_len""".stripMargin,

    // OHLC bars: identical (ts, event_id) total order picks open/close
    "q_ts_ohlc" ->
      s"""WITH e AS (SELECT cast(ts as date) AS d, event_type, ts,
         |             event_id, value FROM events),
         |r AS (SELECT *,
         |        row_number() OVER (PARTITION BY d, event_type
         |          ORDER BY ts, event_id) AS rno,
         |        row_number() OVER (PARTITION BY d, event_type
         |          ORDER BY ts DESC, event_id DESC) AS rnc
         |      FROM e)
         |SELECT d, event_type,
         |  max(CASE WHEN rno = 1 THEN value END) AS open,
         |  max(value) AS high, min(value) AS low,
         |  max(CASE WHEN rnc = 1 THEN value END) AS close,
         |  count(*) AS volume, ${dsum("value")} AS sum_value
         |FROM r GROUP BY d, event_type ORDER BY d, event_type""".stripMargin,

    // directional rules on the same support-mined pair space
    "q_basket_rules" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS item
        |            FROM lineitem),
        |n AS (SELECT count(*) AS n_orders FROM orders),
        |itemn AS (SELECT item, count(*) AS c FROM li GROUP BY item),
        |p AS (SELECT a.item AS item_a, b.item AS item_b,
        |        count(*) AS support
        |      FROM li a JOIN li b ON a.okey = b.okey AND a.item < b.item
        |      GROUP BY 1, 2 HAVING count(*) >= 3),
        |bidir AS (SELECT item_a AS ante, item_b AS cons, support FROM p
        |          UNION ALL
        |          SELECT item_b AS ante, item_a AS cons, support FROM p)
        |SELECT ante, cons, support,
        |  cast(support as double) / ca.c AS confidence,
        |  cast(support * n_orders as double) / (ca.c * cb.c) AS lift
        |FROM bidir
        |JOIN itemn ca ON bidir.ante = ca.item
        |JOIN itemn cb ON bidir.cons = cb.item
        |CROSS JOIN n
        |ORDER BY confidence DESC, support DESC, ante, cons
        |LIMIT 20""".stripMargin,

    // inter-arrival gaps: exact integer micros scaled by one IEEE div
    "q_events_gap_percentiles" ->
      """WITH g AS (SELECT event_type,
        |    cast(epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) as double)
        |      / 1e6 AS gap_s
        |  FROM events)
        |SELECT event_type, count(*) AS n_gaps,
        |  round(quantile_cont(gap_s, 0.5), 4) AS p50_s,
        |  round(quantile_cont(gap_s, 0.9), 4) AS p90_s,
        |  round(quantile_cont(gap_s, 0.99), 4) AS p99_s
        |FROM g WHERE gap_s IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the null group must match across sides: IS NOT DISTINCT FROM
    "q_join_null_safe" ->
      s"""WITH o AS (SELECT nullif(o_orderpriority, '1-URGENT') AS prio,
         |             o_totalprice FROM orders),
         |d AS (SELECT prio AS dprio, count(*) AS dim_n FROM o GROUP BY 1)
         |SELECT prio, count(*) AS n_orders, max(dim_n) AS dim_n,
         |  ${dsum("o_totalprice")} AS sum_price
         |FROM o JOIN d ON o.prio IS NOT DISTINCT FROM d.dprio
         |GROUP BY prio ORDER BY prio ASC NULLS FIRST""".stripMargin,

    // TPC-H Q3 shape; same exact-decimal revenue pipeline as the joins
    "q_join_shipping_priority" ->
      s"""SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
         |  ${dsumDec(s"${dec("l_extendedprice")} * (1 - ${dec("l_discount")})")} AS revenue
         |FROM customer c
         |JOIN orders o ON c.c_custkey = o.o_custkey
         |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         |WHERE c.c_mktsegment = 'BUILDING'
         |  AND o.o_orderdate < DATE '1998-01-01'
         |  AND l.l_shipdate > DATE '1998-01-01'
         |GROUP BY 1, 2, 3
         |ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
         |LIMIT 10""".stripMargin,

    // the bitmap rollup must equal plain COUNT(DISTINCT)
    "q_agg_bitmap_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // k-anonymity census over the same QI tuple
    "q_anonymize_kanon" ->
      """WITH cls AS (SELECT c_nationkey, c_mktsegment,
        |    cast(floor(c_acctbal / 1000.0) as bigint) AS bal_band,
        |    count(*) AS cls_n
        |  FROM customer GROUP BY 1, 2, 3)
        |SELECT count(*) AS n_classes,
        |  count(CASE WHEN cls_n < 5 THEN 1 END) AS n_small_classes,
        |  cast(coalesce(sum(CASE WHEN cls_n < 5 THEN cls_n END), 0)
        |    as bigint) AS n_rows_at_risk,
        |  min(cls_n) AS min_k,
        |  cast(sum(cls_n) as bigint) AS n_rows
        |FROM cls""".stripMargin,

    // same exact knuth-hash order and min-class cap
    "q_sample_balanced" ->
      """WITH d AS (SELECT doc_id, lang, n_chars,
        |    cast((cast(doc_id as hugeint) * 2654435761) % 4294967296
        |      as bigint) AS hk
        |  FROM documents),
        |cap AS (SELECT min(c) AS cap
        |        FROM (SELECT count(*) AS c FROM documents GROUP BY lang)),
        |r AS (SELECT doc_id, lang, n_chars, row_number() OVER (
        |        PARTITION BY lang ORDER BY hk, doc_id) AS rk
        |      FROM d)
        |SELECT lang, count(*) AS n_selected,
        |  cast(sum(doc_id) as bigint) AS id_checksum,
        |  cast(sum(n_chars) as bigint) AS sum_chars
        |FROM r, cap WHERE rk <= cap.cap
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // quantized squared norms: exact integer arithmetic on both sides
    "q_embed_health" ->
      """WITH q AS (SELECT label,
        |    cast(list_sum(list_transform(embedding, x ->
        |      cast(floor(cast(x as double) * 10000) as bigint)
        |      * cast(floor(cast(x as double) * 10000) as bigint)))
        |      as bigint) AS normq
        |  FROM embeddings)
        |SELECT label, count(*) AS n_vecs,
        |  count(CASE WHEN normq = 0 THEN 1 END) AS n_zero,
        |  cast(sum(normq) as double) / count(*) AS avg_normq,
        |  min(normq) AS min_normq, max(normq) AS max_normq
        |FROM q GROUP BY label ORDER BY label""".stripMargin,

    // quartile cuts interpolate on fractions in {0,.25,.5,.75} — exact
    "q_mix_curriculum" ->
      """WITH cuts AS (SELECT quantile_cont(n_chars, 0.25) AS t1,
        |    quantile_cont(n_chars, 0.5) AS t2,
        |    quantile_cont(n_chars, 0.75) AS t3
        |  FROM documents)
        |SELECT stage, count(*) AS n_docs,
        |  cast(sum(n_chars) as bigint) AS sum_chars,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM (SELECT CASE WHEN n_chars <= t1 THEN 1
        |               WHEN n_chars <= t2 THEN 2
        |               WHEN n_chars <= t3 THEN 3
        |               ELSE 4 END AS stage, n_chars
        |      FROM documents, cuts)
        |GROUP BY stage ORDER BY stage""".stripMargin,

    // same kNN edges; majority vote with the identical (nv desc, label)
    // total order; singleton-cell vectors excluded on both sides
    "q_sim_knn_classify" ->
      s"""WITH b AS (SELECT vec_id, embedding, $bucketSql AS bucket
         |           FROM embeddings),
         |j AS (
         |  SELECT a.vec_id AS vec_id, q.vec_id AS nbr_id, $dotSql AS sim
         |  FROM b a JOIN b q ON a.bucket = q.bucket
         |  WHERE a.vec_id <> q.vec_id),
         |r AS (SELECT vec_id, nbr_id,
         |  row_number() OVER (PARTITION BY vec_id
         |    ORDER BY sim DESC, nbr_id) AS rk
         |  FROM j),
         |v AS (SELECT r.vec_id, e.label AS nl, count(*) AS nv
         |      FROM r JOIN embeddings e ON r.nbr_id = e.vec_id
         |      WHERE rk <= 3 GROUP BY 1, 2),
         |p AS (SELECT vec_id, nl, row_number() OVER (PARTITION BY vec_id
         |        ORDER BY nv DESC, nl) AS pr FROM v),
         |pred AS (SELECT vec_id, nl AS pred FROM p WHERE pr = 1)
         |SELECT e.label, count(*) AS n_eval,
         |  count(CASE WHEN pred.pred = e.label THEN 1 END) AS n_correct,
         |  cast(count(CASE WHEN pred.pred = e.label THEN 1 END) as double)
         |    / count(*) AS accuracy
         |FROM pred JOIN embeddings e ON pred.vec_id = e.vec_id
         |GROUP BY e.label ORDER BY e.label""".stripMargin,

    // same kNN edges symmetrized + deduped; degree histogram
    "q_graph_degree_stats" ->
      s"""WITH b AS (SELECT vec_id, embedding, $bucketSql AS bucket
         |           FROM embeddings),
         |j AS (
         |  SELECT a.vec_id AS vec_id, q.vec_id AS nbr_id, $dotSql AS sim
         |  FROM b a JOIN b q ON a.bucket = q.bucket
         |  WHERE a.vec_id <> q.vec_id),
         |r AS (SELECT vec_id, nbr_id,
         |  row_number() OVER (PARTITION BY vec_id
         |    ORDER BY sim DESC, nbr_id) AS rk
         |  FROM j),
         |e0 AS (SELECT vec_id, nbr_id FROM r WHERE rk <= 3),
         |und AS (SELECT DISTINCT vec_id, nbr_id FROM (
         |  SELECT vec_id, nbr_id FROM e0
         |  UNION ALL SELECT nbr_id AS vec_id, vec_id AS nbr_id FROM e0)),
         |deg AS (SELECT vec_id, count(*) AS degree FROM und GROUP BY 1)
         |SELECT degree, count(*) AS n_nodes FROM deg
         |GROUP BY degree ORDER BY degree""".stripMargin,

    // same predecessor-cumulative 90% cut over the (c desc, token)
    // total order; left-join membership probe
    "q_vocab_prune_oov" ->
      """WITH toks AS (SELECT lang, unnest(string_split(text, ' '))
        |                AS token FROM documents),
        |counts AS (SELECT token, count(*) AS c FROM toks GROUP BY token),
        |tot AS (SELECT cast(sum(c) as double) AS total FROM counts),
        |sl AS (SELECT token, c FROM counts
        |       ORDER BY c DESC, token LIMIT 1000),
        |cum AS (SELECT token, coalesce(sum(c) OVER (
        |          ORDER BY c DESC, token
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |          0) AS prev
        |        FROM sl),
        |kept AS (SELECT cum.token FROM cum CROSS JOIN tot
        |         WHERE cum.prev < tot.total * 0.9)
        |SELECT lang, count(*) AS n_tokens,
        |  count(CASE WHEN kept.token IS NULL THEN 1 END) AS n_oov,
        |  cast(count(CASE WHEN kept.token IS NULL THEN 1 END) as double)
        |    / count(*) AS oov_rate
        |FROM toks LEFT JOIN kept ON toks.token = kept.token
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // cohort LTV triangle: min-day cohort, day-diff age, exact revenue
    "q_cohort_revenue" ->
      s"""WITH ev AS (SELECT user_id, cast(ts as date) AS d, value
         |            FROM events),
         |cohort AS (SELECT user_id, min(d) AS c0 FROM ev GROUP BY 1)
         |SELECT cohort.c0 AS cohort_day,
         |  cast(datediff('day', cohort.c0, ev.d) as integer) AS age,
         |  count(DISTINCT ev.user_id) AS n_active,
         |  ${dsum("value")} AS revenue
         |FROM ev JOIN cohort ON ev.user_id = cohort.user_id
         |GROUP BY 1, 2 ORDER BY cohort_day, age""".stripMargin,

    // star edges per alternate key + the same reach-closure CC
    "q_dedup_crossfield" ->
      """WITH RECURSIVE
        |ka AS (SELECT doc_id,
        |         array_to_string((string_split(text, ' '))[1:4], ' ') AS k
        |       FROM documents),
        |kb AS (SELECT doc_id, concat_ws('|', lang, source, n_chars) AS k
        |       FROM documents),
        |ea AS (SELECT doc_id AS src,
        |         min(doc_id) OVER (PARTITION BY k) AS dst FROM ka),
        |eb AS (SELECT doc_id AS src,
        |         min(doc_id) OVER (PARTITION BY k) AS dst FROM kb),
        |e AS (SELECT src, dst FROM ea WHERE src <> dst
        |      UNION ALL SELECT src, dst FROM eb WHERE src <> dst),
        |und AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT und.dst, reach.r FROM reach JOIN und ON reach.id = und.src),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
        |SELECT component AS entity_id, count(*) AS n_docs,
        |  cast(sum(id) as bigint) AS id_checksum
        |FROM comp GROUP BY 1 HAVING count(*) >= 2
        |ORDER BY entity_id""".stripMargin,

    // membership flags, then one rollup over the four combinations
    "q_events_overlap" ->
      """WITH f AS (SELECT user_id,
        |    max(CASE WHEN datepart('day', ts) <= 15 THEN 1 ELSE 0 END)
        |      AS in_a,
        |    max(CASE WHEN datepart('day', ts) > 15 THEN 1 ELSE 0 END)
        |      AS in_b
        |  FROM events GROUP BY user_id)
        |SELECT count(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 END)
        |    AS n_a_only,
        |  count(CASE WHEN in_a = 0 AND in_b = 1 THEN 1 END) AS n_b_only,
        |  count(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 END) AS n_both,
        |  count(*) AS n_users,
        |  cast(count(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 END)
        |    as double)
        |    / (count(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 END)
        |       + count(CASE WHEN in_a = 0 AND in_b = 1 THEN 1 END)
        |       + count(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 END))
        |    AS jaccard
        |FROM f""".stripMargin,

    // TPC-H Q5 shape, same predicates and exact-decimal revenue
    "q_join_local_volume" ->
      s"""SELECT n.n_name,
         |  ${dsumDec(s"${dec("l_extendedprice")} * (1 - ${dec("l_discount")})")} AS revenue
         |FROM customer c
         |JOIN orders o ON c.c_custkey = o.o_custkey
         |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         |JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  AND c.c_nationkey = s.s_nationkey
         |JOIN nation n ON s.s_nationkey = n.n_nationkey
         |JOIN region r ON n.n_regionkey = r.r_regionkey
         |WHERE r.r_name = 'ASIA'
         |  AND o.o_orderdate >= DATE '1996-01-01'
         |  AND o.o_orderdate < DATE '1997-01-01'
         |GROUP BY n.n_name ORDER BY revenue DESC, n.n_name""".stripMargin,

    // same quantized lattice; means are one IEEE division of exact longs
    "q_embed_dim_drift" ->
      """WITH q AS (SELECT cast(t.i as integer) AS dim,
        |    CASE WHEN label < 5 THEN 'lo' ELSE 'hi' END AS half,
        |    cast(floor(cast(embedding[t.i] as double) * 10000) as bigint)
        |      AS q
        |  FROM embeddings, range(1, 65) t(i))
        |SELECT dim,
        |  cast(sum(CASE WHEN half = 'lo' THEN q END) as double)
        |    / count(CASE WHEN half = 'lo' THEN 1 END) AS mean_lo,
        |  cast(sum(CASE WHEN half = 'hi' THEN q END) as double)
        |    / count(CASE WHEN half = 'hi' THEN 1 END) AS mean_hi,
        |  abs(cast(sum(CASE WHEN half = 'lo' THEN q END) as double)
        |        / count(CASE WHEN half = 'lo' THEN 1 END)
        |      - cast(sum(CASE WHEN half = 'hi' THEN q END) as double)
        |        / count(CASE WHEN half = 'hi' THEN 1 END)) AS drift
        |FROM q GROUP BY dim ORDER BY dim""".stripMargin,

    // same 48-bit md5 slice; the checksum proves the exact assignment
    "q_ids_hash_surrogate" ->
      """WITH sk AS (SELECT ('0x' || substr(md5(c_name), 1, 12))::BIGINT
        |              AS sk FROM customer),
        |census AS (SELECT sk, count(*) AS n FROM sk GROUP BY sk)
        |SELECT cast(sum(n) as bigint) AS n_keys, count(*) AS n_ids,
        |  count(CASE WHEN n > 1 THEN 1 END) AS n_colliding_ids,
        |  cast(coalesce(sum(CASE WHEN n > 1 THEN n END), 0) as bigint)
        |    AS n_rows_in_collisions,
        |  bit_xor(sk) AS id_checksum
        |FROM census""".stripMargin,

    // full margin grid: absent combinations still contribute expected
    "q_stats_chi2" ->
      """WITH cells AS (SELECT o_orderpriority AS r, o_orderstatus AS c,
        |    count(*) AS obs FROM orders GROUP BY 1, 2),
        |rt AS (SELECT r, cast(sum(obs) as bigint) AS rt FROM cells
        |       GROUP BY r),
        |ct AS (SELECT c, cast(sum(obs) as bigint) AS ct FROM cells
        |       GROUP BY c),
        |n AS (SELECT cast(sum(obs) as bigint) AS n FROM cells),
        |g AS (SELECT coalesce(cells.obs, 0) AS obs, n.n,
        |        cast(rt.rt * ct.ct as double) / n.n AS exp
        |      FROM rt CROSS JOIN ct
        |      LEFT JOIN cells ON rt.r = cells.r AND ct.c = cells.c
        |      CROSS JOIN n)
        |SELECT max(n) AS n, count(*) AS n_cells,
        |  round(sum((obs - exp) * (obs - exp) / exp), 4) AS chi2
        |FROM g""".stripMargin,

    // latest-wins view = row_number desc pick under the same order
    "q_state_cdc_latest" ->
      """SELECT user_id, event_id AS last_event_id,
        |  event_type AS last_type, value AS last_value, ts AS last_ts
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin
  )

  // greedy beam search over the kNN graph, 4 rounds UNROLLED as
  // chained CTEs (the pagerank discipline): same symmetrized edges,
  // same r4 scores, same (sim desc, vec_id) total order at every
  // selection — the oracle scores all vectors once (sc) and the
  // unrolled rounds draw from it, which is value-identical to the
  // engine's per-round broadcast-pruned scoring
  private def beamSql: String = {
    val rounds = (1 to 4).map { i =>
      s"""b$i AS (SELECT vec_id, sim FROM v${i - 1}
         |  ORDER BY sim DESC, vec_id LIMIT 8),
         |c$i AS (SELECT DISTINCT dst FROM b$i
         |  JOIN und ON b$i.vec_id = und.src
         |  WHERE dst NOT IN (SELECT vec_id FROM v${i - 1})),
         |v$i AS (SELECT * FROM v${i - 1}
         |  UNION ALL SELECT sc.vec_id, sc.sim FROM sc
         |  JOIN c$i ON sc.vec_id = c$i.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH b AS (SELECT vec_id, embedding, $bucketSql AS bucket
       |           FROM embeddings),
       |j AS (
       |  SELECT a.vec_id AS vec_id, q.vec_id AS nbr_id, $dotSql AS sim
       |  FROM b a JOIN b q ON a.bucket = q.bucket
       |  WHERE a.vec_id <> q.vec_id),
       |r AS (SELECT vec_id, nbr_id,
       |  row_number() OVER (PARTITION BY vec_id
       |    ORDER BY sim DESC, nbr_id) AS rk
       |  FROM j),
       |e0 AS (SELECT vec_id, nbr_id FROM r WHERE rk <= 3),
       |und AS (SELECT vec_id AS src, nbr_id AS dst FROM e0
       |        UNION SELECT nbr_id, vec_id FROM e0),
       |sc AS (SELECT a.vec_id, $dotSql AS sim FROM embeddings a,
       |       (SELECT embedding FROM embeddings WHERE vec_id = 0) q),
       |v0 AS (SELECT vec_id, sim FROM sc WHERE vec_id % 100 = 0
       |       ORDER BY sim DESC, vec_id LIMIT 8),
       |$rounds
       |SELECT vec_id, sim FROM v4
       |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin
  }

  private val round10: Map[String, String] = Map(
    "q_sim_ann_beam" -> beamSql,

    // same memoized-pair derivation at the 0.4 floor; ×3 threshold
    // fan-out over the bounded pair set
    "q_dedup_threshold_sweep" ->
      s"""WITH sig AS (
         |  SELECT vec_id, k,
         |    list_sum(list_transform(range(1, 5),
         |      i -> CASE WHEN embedding[k * 4 + i] > 0
         |           THEN (cast(1 as bigint) << (4 - i)) ELSE 0 END)) AS s
         |  FROM embeddings, range(0, 16) t(k)),
         |cand AS (
         |  SELECT DISTINCT sa.vec_id AS vec_a, sb.vec_id AS vec_b
         |  FROM sig sa JOIN sig sb
         |    ON sa.k = sb.k AND sa.s = sb.s AND sa.vec_id < sb.vec_id),
         |p AS (
         |  SELECT c.vec_a, c.vec_b, $dotSql AS sim
         |  FROM cand c
         |  JOIN embeddings a ON a.vec_id = c.vec_a
         |  JOIN embeddings q ON q.vec_id = c.vec_b
         |  WHERE $dotSql >= 0.4),
         |f AS (SELECT t.threshold, vec_a, vec_b FROM p,
         |        (VALUES (0.4), (0.45), (0.5)) t(threshold)
         |      WHERE sim >= t.threshold),
         |vv AS (SELECT threshold, vec_a AS v FROM f
         |       UNION ALL SELECT threshold, vec_b FROM f),
         |np AS (SELECT threshold, count(*) AS n_pairs FROM f GROUP BY 1),
         |nv AS (SELECT threshold, count(DISTINCT v) AS n_dup_vecs
         |       FROM vv GROUP BY 1)
         |SELECT np.threshold, n_pairs, n_dup_vecs
         |FROM np JOIN nv USING (threshold) ORDER BY threshold""".stripMargin,

    // same byte arithmetic; the oracle may use the naive window cumsum
    // (it needs no scale), offsets are EXCLUSIVE on both sides
    "q_shard_manifest" ->
      """WITH b AS (SELECT doc_id, cast(n_chars as bigint) + 64 AS bytes
        |           FROM documents),
        |c AS (SELECT doc_id, bytes, cast(sum(bytes) OVER (ORDER BY doc_id)
        |        as bigint) AS cb FROM b),
        |s AS (SELECT doc_id, bytes, (cb - bytes) // 65536 AS shard_id
        |      FROM c)
        |SELECT shard_id, count(*) AS n_docs,
        |  cast(sum(bytes) as bigint) AS shard_bytes,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM s GROUP BY shard_id ORDER BY shard_id""".stripMargin,

    // sweep-line peak concurrency over the same 30-min session
    // intervals; starts apply before ends at equal microseconds
    "q_intervals_concurrency" ->
      """WITH t AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus,
        |    CASE WHEN lag(epoch_us(ts)) OVER
        |           (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |         IS NULL
        |      OR epoch_us(ts) - lag(epoch_us(ts)) OVER
        |           (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |         > 1800000000
        |    THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |s AS (
        |  SELECT user_id, tus,
        |    sum(new_session) OVER (PARTITION BY user_id
        |      ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM t),
        |iv AS (SELECT user_id, sid, min(tus) AS s_us, max(tus) AS e_us
        |       FROM s GROUP BY 1, 2),
        |pts AS (SELECT s_us AS tus, 1 AS st, 0 AS en FROM iv
        |        UNION ALL SELECT e_us, 0, 1 FROM iv),
        |census AS (SELECT tus, cast(sum(st) as bigint) AS s,
        |             cast(sum(en) as bigint) AS e
        |           FROM pts GROUP BY tus),
        |cum AS (SELECT tus, e, cast(sum(s - e) OVER (ORDER BY tus)
        |          as bigint) AS net FROM census),
        |pk AS (SELECT tus, net + e AS peak,
        |         cast(make_timestamp(tus) as date) AS day FROM cum),
        |rr AS (SELECT day, peak, tus, row_number() OVER (
        |         PARTITION BY day ORDER BY peak DESC, tus) AS rk
        |       FROM pk)
        |SELECT day, peak AS peak_concurrency, make_timestamp(tus) AS at_ts
        |FROM rr WHERE rk = 1 ORDER BY day""".stripMargin,

    // TPC-H Q10 shape: decimal-exact revenue ordering, then cast
    "q_join_returned_revenue" ->
      s"""WITH agg AS (
         |  SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal,
         |    sum(${dec("l_extendedprice")} * (1 - ${dec("l_discount")}))
         |      AS rev_dec
         |  FROM orders o
         |  JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  WHERE o.o_orderdate >= DATE '1996-10-01'
         |    AND o.o_orderdate < DATE '1997-01-01'
         |    AND l.l_returnflag = 'R'
         |  GROUP BY 1, 2, 3, 4)
         |SELECT a.c_custkey, a.c_name, n.n_name, a.c_acctbal,
         |  cast(rev_dec as double) AS revenue
         |FROM agg a JOIN nation n ON a.c_nationkey = n.n_nationkey
         |ORDER BY rev_dec DESC, a.c_custkey LIMIT 20""".stripMargin,

    // TPC-H Q17 shape: the 0.2·avg cut cleared to integer
    // cross-multiplication (5·qty·cnt < sum_qty) on both engines
    "q_subquery_avg_correlated" ->
      s"""WITH l AS (
         |  SELECT l_partkey, cast(l_quantity as bigint) AS qty,
         |    l_extendedprice
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE p_brand = 'Brand#12'),
         |s AS (SELECT l_partkey AS sk, cast(sum(qty) as bigint)
         |        AS sum_qty, count(*) AS cnt
         |      FROM l GROUP BY 1)
         |SELECT count(*) AS n_lines,
         |  ${dsum("l_extendedprice")} / 7.0 AS avg_yearly
         |FROM l JOIN s ON l.l_partkey = s.sk
         |WHERE qty * 5 * cnt < sum_qty""".stripMargin,

    // KS: same cents quantization, integer cross-multiplied gap
    "q_stats_ks" ->
      """WITH v AS (SELECT cast(round(o_totalprice * 100) as bigint)
        |             AS cents, o_orderkey % 2 = 0 AS is_a FROM orders),
        |census AS (SELECT cents,
        |    count(CASE WHEN is_a THEN 1 END) AS da,
        |    count(CASE WHEN NOT is_a THEN 1 END) AS db
        |  FROM v GROUP BY cents),
        |cum AS (SELECT cents,
        |    cast(sum(da) OVER (ORDER BY cents) as bigint) AS ca,
        |    cast(sum(db) OVER (ORDER BY cents) as bigint) AS cb
        |  FROM census),
        |tot AS (SELECT max(ca) AS na, max(cb) AS nb FROM cum),
        |gaps AS (SELECT cents, na, nb, abs(ca * nb - cb * na) AS gap
        |         FROM cum CROSS JOIN tot),
        |mx AS (SELECT max(gap) AS max_gap FROM gaps)
        |SELECT na AS n_a, nb AS n_b,
        |  cast(max_gap as double) / cast(na * nb as double) AS ks_d,
        |  cast(min(cents) as double) / 100.0 AS at_value
        |FROM gaps JOIN mx ON gap = max_gap
        |GROUP BY na, nb, max_gap""".stripMargin,

    // Borda fusion: integer (21 − rank) points, same channel top-20s
    "q_rank_fusion_borda" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
         |  FROM documents),
         |tk AS (SELECT doc_id, token FROM toks WHERE token <> ''),
         |dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY 1),
         |st AS (SELECT cast(sum(dl) as bigint) AS total_dl,
         |              count(*) AS n_docs FROM dl),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tk
         |       WHERE token IN ('hash', 'join') GROUP BY 1, 2),
         |dfq AS (SELECT token, count(DISTINCT doc_id) AS df FROM tk
         |        WHERE token IN ('hash', 'join') GROUP BY 1),
         |sc AS (
         |  SELECT tf.doc_id, dl.dl,
         |    ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
         |      * (tf * (1.2 + 1.0))
         |      / (tf + 1.2 * (1.0 - 0.75
         |          + 0.75 * dl / (cast(total_dl as double) / n_docs)))
         |      AS contrib
         |  FROM tf JOIN dfq USING (token)
         |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st),
         |bm AS (
         |  SELECT doc_id, round(sum(contrib), 4) AS bm25
         |  FROM sc GROUP BY 1
         |  ORDER BY bm25 DESC, doc_id LIMIT 20),
         |sparse AS (
         |  SELECT doc_id AS id, cast(row_number() OVER (
         |    ORDER BY bm25 DESC, doc_id) as int) AS rk_sparse
         |  FROM bm),
         |dn AS (
         |  SELECT a.vec_id AS id, $dotSql AS sim
         |  FROM embeddings a,
         |    (SELECT embedding FROM embeddings WHERE vec_id = 0) q
         |  WHERE a.vec_id <> 0
         |  ORDER BY sim DESC, a.vec_id LIMIT 20),
         |dense AS (
         |  SELECT id, cast(row_number() OVER (
         |    ORDER BY sim DESC, id) as int) AS rk_dense
         |  FROM dn)
         |SELECT coalesce(s.id, d.id) AS id, s.rk_sparse, d.rk_dense,
         |  cast(coalesce(21 - s.rk_sparse, 0)
         |     + coalesce(21 - d.rk_dense, 0) as int) AS borda
         |FROM sparse s FULL OUTER JOIN dense d ON s.id = d.id
         |ORDER BY borda DESC, coalesce(s.id, d.id) LIMIT 10""".stripMargin,

    // multi-source BFS: same kNN edges symmetrized; min hop per node
    // under the same 20-hop cap; (id, hop) state dedup via UNION
    "q_graph_bfs" ->
      s"""WITH RECURSIVE b AS (SELECT vec_id, embedding, $bucketSql
         |             AS bucket FROM embeddings),
         |j AS (
         |  SELECT a.vec_id AS vec_id, q.vec_id AS nbr_id, $dotSql AS sim
         |  FROM b a JOIN b q ON a.bucket = q.bucket
         |  WHERE a.vec_id <> q.vec_id),
         |r AS (SELECT vec_id, nbr_id,
         |  row_number() OVER (PARTITION BY vec_id
         |    ORDER BY sim DESC, nbr_id) AS rk
         |  FROM j),
         |e0 AS (SELECT vec_id, nbr_id FROM r WHERE rk <= 3),
         |und AS (SELECT vec_id AS src, nbr_id AS dst FROM e0
         |        UNION SELECT nbr_id, vec_id FROM e0),
         |walk(id, hop) AS (
         |  SELECT vec_id, 0 FROM embeddings WHERE vec_id % 100 = 0
         |  UNION
         |  SELECT und.dst, walk.hop + 1 FROM walk
         |  JOIN und ON walk.id = und.src WHERE walk.hop < 20)
         |SELECT id, cast(min(hop) as int) AS hop FROM walk
         |GROUP BY id ORDER BY id""".stripMargin,

    // TPC-H Q18 shape: same >300 having cut, top-100 by order value
    "q_agg_having" ->
      """WITH big AS (
        |  SELECT l_orderkey, cast(sum(cast(l_quantity as bigint))
        |    as bigint) AS sum_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING sum(cast(l_quantity as bigint)) > 300)
        |SELECT c_name, c_custkey, o_orderkey,
        |  cast(o_orderdate as date) AS o_orderdate, o_totalprice, sum_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    // max_by/min_by twin: the (acctbal, custkey) struct order replayed
    // as rank windows — unique tuples, so both agree
    "q_agg_minmax_by" ->
      """WITH c AS (
        |  SELECT n.n_name, c.c_custkey, c.c_acctbal
        |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey),
        |r AS (SELECT *,
        |  row_number() OVER (PARTITION BY n_name
        |    ORDER BY c_acctbal DESC, c_custkey DESC) AS rt,
        |  row_number() OVER (PARTITION BY n_name
        |    ORDER BY c_acctbal ASC, c_custkey ASC) AS rb
        |  FROM c)
        |SELECT n_name,
        |  (SELECT count(*) FROM c c2 WHERE c2.n_name = r.n_name)
        |    AS n_customers,
        |  max(CASE WHEN rt = 1 THEN c_custkey END) AS top_cust,
        |  max(CASE WHEN rt = 1 THEN c_acctbal END) AS top_bal,
        |  max(CASE WHEN rb = 1 THEN c_custkey END) AS low_cust,
        |  max(CASE WHEN rb = 1 THEN c_acctbal END) AS low_bal
        |FROM r GROUP BY n_name ORDER BY n_name""".stripMargin,

    // TPC-H Q4 shape: the same EXISTS, DuckDB decorrelates identically
    "q_subquery_exists" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey
        |    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // resurrection census: same distinct-day lag gaps, ≥3-day cut
    "q_events_resurrected" ->
      """WITH days AS (SELECT DISTINCT user_id, cast(ts as date) AS d
        |              FROM events),
        |g AS (SELECT user_id,
        |        datediff('day', lag(d) OVER (
        |          PARTITION BY user_id ORDER BY d), d) AS gap
        |      FROM days)
        |SELECT cast(gap as int) AS gap_days, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users
        |FROM g WHERE gap >= 3
        |GROUP BY gap ORDER BY gap_days""".stripMargin,

    // same classifier rule rolled into the (lang, pred) census
    "q_langid_confusion" ->
      """WITH s AS (
        |  SELECT lang,
        |    length(text) - length(replace(text, 'th', '')) AS score_en,
        |    length(text) - length(replace(text, 'sch', '')) AS score_de,
        |    length(text) - length(replace(text, 'rr', '')) AS score_es
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN score_en >= score_de AND score_en >= score_es THEN 'en'
        |       WHEN score_de >= score_es THEN 'de' ELSE 'es' END AS pred,
        |  count(*) AS n_docs
        |FROM s GROUP BY 1, 2 ORDER BY lang, pred""".stripMargin,

    // same char-4-gram distinct ratio; range() is empty for short docs
    // on this side, the Spark side filters them first — identical sets
    "q_text_compress_proxy" ->
      """WITH g AS (
        |  SELECT doc_id, lang,
        |    list_transform(range(1, length(text) - 2),
        |      i -> substr(text, cast(i as int), 4)) AS grams
        |  FROM documents WHERE length(text) >= 4)
        |SELECT doc_id, lang,
        |  cast(len(grams) as int) AS n_grams,
        |  cast(len(list_distinct(grams)) as int) AS n_distinct,
        |  cast(len(list_distinct(grams)) as double) / len(grams) AS ratio
        |FROM g ORDER BY doc_id""".stripMargin,

    // TPC-H Q19 shape: same disjunction, DuckDB extracts the same
    // common equi key
    "q_join_disjunctive" ->
      s"""SELECT count(*) AS n_lines,
         |  ${dsumDec(s"${dec("l_extendedprice")} * (1 - ${dec("l_discount")})")} AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 20
         |       AND l_quantity BETWEEN 1 AND 20)
         |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
         |       AND l_quantity BETWEEN 10 AND 30)
         |   OR (p_brand = 'Brand#21' AND p_size BETWEEN 1 AND 30
         |       AND l_quantity BETWEEN 20 AND 45)""".stripMargin,

    // same reach-closure labels; two shrinking rollups on top
    "q_dedup_cluster_stats" ->
      s"""WITH RECURSIVE $shingleCte,
         |$cappedCandCte,
         |$cappedJaccardCte,
         |pairs AS (SELECT doc_a AS src, doc_b AS dst FROM jp),
         |und AS (SELECT src, dst FROM pairs
         |        UNION ALL SELECT dst, src FROM pairs),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT und.dst, reach.r FROM reach JOIN und ON reach.id = und.src),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         |csz AS (SELECT component, count(*) AS n_members
         |        FROM comp GROUP BY component)
         |SELECT n_members AS cluster_size, count(*) AS n_clusters,
         |  n_members * count(*) AS n_docs
         |FROM csz GROUP BY n_members ORDER BY cluster_size""".stripMargin
  )

  // ——— round 11: TPC-H Q12/Q14/Q16/Q22/Q2 shapes, inequality /
  // rank-sum / Benford / MI statistics, ACF/EMA time series, power-user
  // concentration, share-of-total windows ———
  private val round11: Map[String, String] = Map(
    // Q12 shape: FILTER-clause (predicated) counts after fact⨝fact
    "q_agg_filtered" ->
      """SELECT l_returnflag,
        |  count(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |        THEN 1 END) AS high_line_count,
        |  count(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
        |        THEN 1 END) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // Q14 shape: conditional-numerator percentage, exact decimal sums
    "q_join_promo_share" ->
      s"""WITH j AS (
         |  SELECT p_type,
         |    ${dec("l_extendedprice")} * (1 - ${dec("l_discount")}) AS rev
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE l_shipdate >= TIMESTAMP '1997-09-01'
         |    AND l_shipdate < TIMESTAMP '1997-10-01')
         |SELECT 100.0 * cast(sum(CASE WHEN p_type = 'PROMO' THEN rev
         |    ELSE cast(0 as decimal(12,2)) END) as double)
         |  / cast(sum(rev) as double) AS promo_revenue_pct,
         |  count(*) AS n_lines
         |FROM j""".stripMargin,

    // Q16 shape: count-distinct per attribute group + NOT-IN blacklist
    "q_agg_parts_suppliers" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_suppkey NOT IN
        |  (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        |LIMIT 20""".stripMargin,

    // Q22 shape: scalar global-average gate + no-orders anti join
    "q_subquery_global_avg_anti" ->
      s"""WITH thr AS (SELECT ${davg("c_acctbal")} AS avg_bal
         |             FROM customer WHERE c_acctbal > 0)
         |SELECT c_mktsegment, count(*) AS numcust,
         |  ${dsum("c_acctbal")} AS totacctbal
         |FROM customer CROSS JOIN thr
         |WHERE c_acctbal > avg_bal
         |  AND NOT EXISTS (SELECT 1 FROM orders
         |                  WHERE o_custkey = c_custkey
         |                    AND o_orderdate >= TIMESTAMP '2000-01-01')
         |GROUP BY c_mktsegment
         |ORDER BY c_mktsegment""".stripMargin,

    // Q2 shape: per-part argmin supplier, struct-order tiebreak =
    // (min quote, then min suppkey among the min-quote rows)
    "q_join_min_cost_supplier" ->
      s"""WITH q AS (SELECT l_partkey, l_suppkey,
         |    min(${dec("l_extendedprice")}) AS quote
         |  FROM lineitem GROUP BY 1, 2),
         |b AS (SELECT l_partkey AS partkey, count(*) AS n_suppliers,
         |             min(quote) AS best_quote FROM q GROUP BY 1),
         |s AS (SELECT q.l_partkey AS partkey, min(q.l_suppkey) AS best_suppkey
         |      FROM q JOIN b ON q.l_partkey = b.partkey
         |                   AND q.quote = b.best_quote
         |      GROUP BY 1)
         |SELECT b.partkey AS partkey, cast(b.best_quote as double) AS best_quote,
         |  s.best_suppkey, b.n_suppliers
         |FROM b JOIN s ON b.partkey = s.partkey
         |ORDER BY best_quote ASC, b.partkey
         |LIMIT 15""".stripMargin,

    // Gini on integer cents; 2·Σrank·x via the tied-block identity so
    // no per-row rank (and no tie ambiguity) exists; DECIMAL(38,0)
    // accumulators, two IEEE divisions at the end
    "q_stats_gini" ->
      """WITH cr AS (SELECT o_custkey,
        |    cast(sum(cast(round(o_totalprice * 100) as bigint)) as bigint)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rk
        |      FROM cr),
        |a AS (SELECT count(*) AS n,
        |    sum(cast(cents as decimal(38,0))) AS total,
        |    2 * sum(cast(rk as decimal(38,0)) * cents) AS s2 FROM r)
        |SELECT n AS n_customers,
        |  cast(total as double) / 100.0 AS total_revenue,
        |  cast(s2 as double) / cast(cast(n as decimal(38,0)) * total as double)
        |    - cast(n + 1 as double) / cast(n as double) AS gini
        |FROM a""".stripMargin,

    // Mann–Whitney U with midranks on the pooled value census — the
    // doubled rank sum r2 is exact integer; σ is the no-tie normal
    "q_stats_mannwhitney" ->
      """WITH v AS (SELECT cast(round(o_totalprice * 100) as bigint) AS cents,
        |             o_orderkey % 2 = 0 AS is_a FROM orders),
        |census AS (SELECT cents,
        |    count(CASE WHEN is_a THEN 1 END) AS da, count(*) AS dn
        |  FROM v GROUP BY cents),
        |cum AS (SELECT cents, da, dn,
        |    cast(sum(da) OVER (ORDER BY cents) as bigint) AS cum_da,
        |    cast(sum(dn) OVER (ORDER BY cents) as bigint) AS cum_dn
        |  FROM census),
        |a AS (SELECT max(cum_da) AS n_a,
        |    max(cum_dn) - max(cum_da) AS n_b,
        |    cast(sum(da * ((cum_dn - dn) + cum_dn + 1)) as bigint) AS r2
        |  FROM cum)
        |SELECT n_a, n_b,
        |  cast(r2 - n_a * (n_a + 1) as double) / 2.0 AS u_a,
        |  cast(n_a as double) * n_b / 2.0 AS mu,
        |  (cast(r2 - n_a * (n_a + 1) as double) / 2.0
        |     - cast(n_a as double) * n_b / 2.0)
        |    / sqrt(cast(n_a as double) * n_b * (n_a + n_b + 1) / 12.0) AS z
        |FROM a""".stripMargin,

    // Benford: leading digit from the integer-cents DECIMAL STRING
    // (no float log10 boundary); expected/χ² terms r4 (libm log10)
    "q_stats_benford" ->
      """WITH obs AS (SELECT
        |    cast(substring(cast(cast(round(o_totalprice * 100) as bigint)
        |      as varchar), 1, 1) as int) AS digit,
        |    count(*) AS observed
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT cast(sum(observed) as bigint) AS n FROM obs),
        |e AS (SELECT digit, observed,
        |    n * log10(1.0 + 1.0 / digit) AS exp_raw
        |  FROM obs CROSS JOIN tot)
        |SELECT digit, observed, round(exp_raw, 4) AS expected,
        |  round((observed - exp_raw) * (observed - exp_raw) / exp_raw, 4)
        |    AS chi2_term
        |FROM e ORDER BY digit""".stripMargin,

    // Mutual information on the χ² cell census; 15-term log sum → r4
    "q_stats_mutual_info" ->
      """WITH cells AS (SELECT o_orderpriority AS r, o_orderstatus AS c,
        |    count(*) AS obs FROM orders GROUP BY 1, 2),
        |rt AS (SELECT r, cast(sum(obs) as bigint) AS rt FROM cells GROUP BY 1),
        |ct AS (SELECT c, cast(sum(obs) as bigint) AS ct FROM cells GROUP BY 1),
        |n AS (SELECT cast(sum(obs) as bigint) AS n FROM cells),
        |t AS (SELECT (cast(obs as double) / n)
        |        * log2(cast(obs as double) * n
        |               / (cast(rt as double) * ct)) AS term, n
        |  FROM cells JOIN rt USING (r) JOIN ct USING (c) CROSS JOIN n)
        |SELECT max(n) AS n, count(*) AS n_cells,
        |  round(sum(term), 4) AS mi_bits
        |FROM t""".stripMargin,

    // ACF lags 1..7 over the exact-decimal daily revenue census
    "q_ts_acf" ->
      s"""WITH daily AS (SELECT cast(o_orderdate as date) AS day,
         |    ${dsum("o_totalprice")} AS rev
         |  FROM orders GROUP BY 1),
         |lagged AS (SELECT d.day + l.lag AS day, l.lag, d.rev AS rev_lag
         |  FROM daily d CROSS JOIN
         |    (SELECT cast(unnest(range(1, 8)) as int) AS lag) l)
         |SELECT lag, count(*) AS n_pairs,
         |  round(corr(d.rev, lg.rev_lag), 4) AS acf
         |FROM daily d JOIN lagged lg USING (day)
         |GROUP BY lag ORDER BY lag""".stripMargin,

    // EMA α=½, 20-day memory: powers-of-two weights ⇒ exact int64
    // numerator/denominator, one IEEE division
    "q_ts_ema" ->
      """WITH daily AS (SELECT cast(o_orderdate as date) AS day,
        |    cast(sum(cast(round(o_totalprice * 100) as bigint)) as bigint)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |fan AS (SELECT d.day + k.k AS tday, k.k, d.cents
        |  FROM daily d CROSS JOIN
        |    (SELECT cast(unnest(range(0, 20)) as int) AS k) k),
        |j AS (SELECT f.tday, f.cents,
        |    cast(power(2.0, 19 - f.k) as bigint) AS w
        |  FROM (SELECT day AS tday FROM daily) t JOIN fan f USING (tday))
        |SELECT tday AS day,
        |  cast(sum(cents * w) as double) / cast(sum(w * 100) as double) AS ema
        |FROM j GROUP BY tday ORDER BY day""".stripMargin,

    // top-decile event share WITHOUT per-user ranking: value census +
    // descending cumsum + arithmetic boundary split (ties at the
    // threshold count contribute exactly threshold_cnt each, so the
    // rank-window formulation here is provably equal)
    "q_events_power_users" ->
      """WITH users AS (SELECT user_id, count(*) AS cnt
        |  FROM events GROUP BY 1),
        |census AS (SELECT cnt, count(*) AS nu, cnt * count(*) AS ev
        |  FROM users GROUP BY cnt),
        |cum AS (SELECT cnt, nu, ev,
        |    cast(sum(nu) OVER (ORDER BY cnt DESC) as bigint) AS cum_nu,
        |    cast(sum(ev) OVER (ORDER BY cnt DESC) as bigint) AS cum_ev
        |  FROM census),
        |tot AS (SELECT max(cum_nu) AS n_users, max(cum_ev) AS total_events
        |  FROM cum)
        |SELECT n_users, total_events,
        |  greatest(1, n_users // 10) AS k,
        |  cnt AS threshold_cnt,
        |  cum_ev - ev + (greatest(1, n_users // 10) - (cum_nu - nu)) * cnt
        |    AS top_events,
        |  cast(cum_ev - ev
        |      + (greatest(1, n_users // 10) - (cum_nu - nu)) * cnt as double)
        |    / cast(total_events as double) AS share
        |FROM cum CROSS JOIN tot
        |WHERE cum_nu - nu < greatest(1, n_users // 10)
        |  AND greatest(1, n_users // 10) <= cum_nu""".stripMargin,

    // nation share-of-region + running concentration over the ≤25-row
    // nation census; exact decimal sums, IEEE divisions
    "q_win_share_of_total" ->
      s"""WITH rev AS (SELECT c_nationkey,
         |    sum(${dec("o_totalprice")}) AS rev_dec
         |  FROM orders JOIN customer ON o_custkey = c_custkey
         |  GROUP BY 1),
         |named AS (SELECT n_regionkey AS regionkey, n_name AS nation, rev_dec
         |  FROM rev JOIN nation ON c_nationkey = n_nationkey)
         |SELECT regionkey, nation, cast(rev_dec as double) AS revenue,
         |  cast(rev_dec as double)
         |    / cast(sum(rev_dec) OVER (PARTITION BY regionkey) as double)
         |    AS share,
         |  cast(sum(rev_dec) OVER (PARTITION BY regionkey
         |      ORDER BY rev_dec DESC, nation
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as double)
         |    / cast(sum(rev_dec) OVER (PARTITION BY regionkey) as double)
         |    AS running_share
         |FROM named
         |ORDER BY regionkey, revenue DESC, nation""".stripMargin
  )

  // round 11, LLM-pipeline wave: DSIR weights, Zipf fit, kNN-graph
  // link prediction, train/val/test split census
  private val round11b: Map[String, String] = Map(
    // DSIR bag-of-bigram log-likelihood ratio, target = lang 'en'
    "q_quality_dsir" ->
      """WITH tk AS (SELECT doc_id, lang, string_split(text, ' ') AS t
        |  FROM documents),
        |bg AS (SELECT doc_id, lang,
        |    unnest(list_transform(range(1, len(t)),
        |      i -> t[i] || ' ' || t[i+1])) AS bigram
        |  FROM tk WHERE len(t) >= 2),
        |w AS (SELECT bigram,
        |    ln(cast(count(CASE WHEN lang = 'en' THEN 1 END) + 1 as double)
        |      / cast(count(*) - count(CASE WHEN lang = 'en' THEN 1 END) + 1
        |             as double)) AS w
        |  FROM bg GROUP BY bigram)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(sum(w.w), 4) AS dsir_score
        |FROM bg JOIN w USING (bigram)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Zipf OLS fit over the top-100 token census
    "q_text_zipf" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |freq AS (SELECT token, count(*) AS cnt FROM tok
        |  WHERE token <> '' GROUP BY 1),
        |top AS (SELECT token, cnt FROM freq
        |  ORDER BY cnt DESC, token LIMIT 100),
        |ranked AS (SELECT
        |    ln(cast(row_number() OVER (ORDER BY cnt DESC, token) as double))
        |      AS x,
        |    ln(cast(cnt as double)) AS y
        |  FROM top),
        |s AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx FROM ranked)
        |SELECT n,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS zipf_slope,
        |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 4)
        |    AS intercept
        |FROM s""".stripMargin,

    // common-neighbor link prediction on the kNN graph (same edge
    // derivation as q_knn_graph_bucketed)
    "q_graph_jaccard_neighbors" ->
      s"""WITH b AS (SELECT vec_id, embedding, $bucketSql AS bucket
         |           FROM embeddings),
         |j AS (SELECT a.vec_id AS vec_id, q.vec_id AS nbr_id, $dotSql AS sim
         |  FROM b a JOIN b q ON a.bucket = q.bucket
         |  WHERE a.vec_id <> q.vec_id),
         |rnk AS (SELECT vec_id, nbr_id,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY sim DESC, nbr_id) AS rk
         |  FROM j),
         |e AS (SELECT vec_id, nbr_id FROM rnk WHERE rk <= 3),
         |deg AS (SELECT vec_id, count(*) AS deg FROM e GROUP BY 1),
         |co AS (SELECT e1.vec_id AS a, e2.vec_id AS b2, count(*) AS common
         |  FROM e e1 JOIN e e2 ON e1.nbr_id = e2.nbr_id
         |                      AND e1.vec_id < e2.vec_id
         |  GROUP BY 1, 2),
         |adj AS (SELECT DISTINCT least(vec_id, nbr_id) AS a,
         |    greatest(vec_id, nbr_id) AS b2 FROM e)
         |SELECT co.a AS vec_a, co.b2 AS vec_b, common,
         |  cast(common as double)
         |    / cast(da.deg + db.deg - common as double) AS jaccard
         |FROM co
         |JOIN deg da ON da.vec_id = co.a
         |JOIN deg db ON db.vec_id = co.b2
         |WHERE NOT EXISTS (SELECT 1 FROM adj
         |                  WHERE adj.a = co.a AND adj.b2 = co.b2)
         |ORDER BY jaccard DESC, vec_a, vec_b
         |LIMIT 20""".stripMargin,

    // deterministic 80/10/10 id split census with per-lang fractions
    "q_split_train_test" ->
      """WITH s AS (SELECT lang,
        |    CASE WHEN doc_id % 100 < 80 THEN 'train'
        |         WHEN doc_id % 100 < 90 THEN 'val'
        |         ELSE 'test' END AS split,
        |    count(*) AS n_docs
        |  FROM documents GROUP BY 1, 2),
        |tot AS (SELECT lang, cast(sum(n_docs) as bigint) AS lang_docs
        |  FROM s GROUP BY 1)
        |SELECT s.lang, s.split, s.n_docs,
        |  cast(n_docs as double) / cast(lang_docs as double) AS frac
        |FROM s JOIN tot USING (lang)
        |ORDER BY lang, split""".stripMargin
  )

  // round 11 wave C: l-diversity, CUSUM, rolling correlation, bag set
  // ops, by-name union, boolean aggregates
  private val round11c: Map[String, String] = Map(
    "q_anonymize_ldiversity" ->
      """WITH classes AS (SELECT c_nationkey, c_mktsegment,
        |    count(*) AS cls_n,
        |    count(DISTINCT cast(floor(c_acctbal / 1000.0) as bigint))
        |      AS cls_l
        |  FROM customer GROUP BY 1, 2)
        |SELECT count(*) AS n_classes,
        |  count(CASE WHEN cls_l < 3 THEN 1 END) AS n_low_diversity,
        |  cast(coalesce(sum(CASE WHEN cls_l < 3 THEN cls_n END), 0)
        |       as bigint) AS n_rows_at_risk,
        |  min(cls_l) AS min_l,
        |  cast(sum(cls_n) as bigint) AS n_rows
        |FROM classes""".stripMargin,

    // CUSUM via the prefix identity S_t = (C_t − k·t) − min_{i≤t}
    // (C_i − k·i); all-integer, bit-exact
    "q_ts_cusum" ->
      """WITH daily AS (SELECT cast(o_orderdate as date) AS day,
        |    cast(sum(cast(round(o_totalprice * 100) as bigint)) as bigint)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT cast(sum(cents) as bigint) // count(*) AS k
        |  FROM daily),
        |w AS (SELECT day, cents,
        |    row_number() OVER (ORDER BY day) AS t,
        |    cast(sum(cents) OVER (ORDER BY day) as bigint) AS c
        |  FROM daily),
        |d AS (SELECT day, cents, c - k * t AS d FROM w CROSS JOIN tot),
        |m AS (SELECT day, cents,
        |    d - min(d) OVER (ORDER BY day) AS cusum FROM d)
        |SELECT day, cents, cast(cusum as bigint) AS cusum FROM m
        |ORDER BY cusum DESC, day LIMIT 10""".stripMargin,

    // rolling 7-day correlation on exact int64 window sums
    "q_win_rolling_corr" ->
      """WITH daily AS (SELECT cast(o_orderdate as date) AS day,
        |    cast(sum(cast(round(o_totalprice * 100) as bigint)) as bigint)
        |      // 100 AS x,
        |    count(*) AS y
        |  FROM orders GROUP BY 1),
        |w AS (SELECT day, x, y,
        |    count(*) OVER win AS n,
        |    cast(sum(x) OVER win as bigint) AS sx,
        |    cast(sum(y) OVER win as bigint) AS sy,
        |    cast(sum(x * y) OVER win as bigint) AS sxy,
        |    cast(sum(x * x) OVER win as bigint) AS sxx,
        |    cast(sum(y * y) OVER win as bigint) AS syy
        |  FROM daily
        |  WINDOW win AS (ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
        |f AS (SELECT day, x, y, n, sxy, sx, sy,
        |    n * sxx - sx * sx AS dx, n * syy - sy * sy AS dy
        |  FROM w WHERE n = 7)
        |SELECT day, x AS revenue_usd, y AS n_orders,
        |  CASE WHEN dx > 0 AND dy > 0 THEN
        |    cast(n * sxy - sx * sy as double)
        |      / sqrt(cast(dx as double) * cast(dy as double))
        |  END AS corr7
        |FROM f ORDER BY day""".stripMargin,

    "q_except_all" ->
      """WITH l AS (SELECT l_orderkey AS k FROM lineitem),
        |u AS (SELECT o_orderkey AS k FROM orders
        |      WHERE o_orderpriority = '1-URGENT'),
        |e AS (SELECT k FROM l EXCEPT ALL SELECT k FROM u),
        |c AS (SELECT k, count(*) AS n FROM e GROUP BY k)
        |SELECT n, count(*) AS n_orders FROM c
        |GROUP BY n ORDER BY n""".stripMargin,

    "q_intersect_all" ->
      """WITH per AS (SELECT l_orderkey, count(*) AS n FROM lineitem
        |  GROUP BY 1),
        |a AS (SELECT n FROM per WHERE l_orderkey % 2 = 0),
        |b AS (SELECT n FROM per WHERE l_orderkey % 2 <> 0),
        |i AS (SELECT n FROM a INTERSECT ALL SELECT n FROM b)
        |SELECT n, count(*) AS n_common FROM i
        |GROUP BY n ORDER BY n""".stripMargin,

    "q_union_byname" ->
      s"""WITH v1 AS (SELECT o_orderkey AS k, o_totalprice AS price,
         |    o_orderpriority AS priority, 'v1' AS src
         |  FROM orders WHERE o_orderkey % 2 = 0),
         |v2 AS (SELECT 'v2' AS src, o_orderstatus AS status,
         |    o_orderkey AS k, o_totalprice AS price
         |  FROM orders WHERE o_orderkey % 2 <> 0),
         |u AS (SELECT * FROM v1 UNION ALL BY NAME SELECT * FROM v2)
         |SELECT src, count(*) AS n, count(priority) AS n_priority,
         |  count(status) AS n_status, ${dsum("price")} AS sum_price
         |FROM u GROUP BY src ORDER BY src""".stripMargin,

    "q_agg_boolean" ->
      """SELECT l_returnflag, l_linestatus,
        |  bool_and(l_discount <= 0.10) AS all_discount_le_10,
        |  bool_or(l_quantity >= 49) AS any_qty_ge_49,
        |  count(CASE WHEN l_tax > 0.05 THEN 1 END) AS n_high_tax,
        |  count(*) AS n_lines
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // forward as-of: purchases sort BEFORE clicks at equal ts so
    // at-or-after includes ties; min over the FOLLOWING frame
    "q_join_asof_forward" ->
      """WITH p AS (SELECT user_id, ts, ts AS p_ts,
        |    CAST(NULL AS BIGINT) AS c_event_id, 1 AS src
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts, CAST(NULL AS TIMESTAMP) AS p_ts,
        |    event_id AS c_event_id, 0 AS src
        |  FROM events WHERE event_type = 'click'),
        |t AS (SELECT * FROM p UNION ALL SELECT * FROM c),
        |w AS (SELECT user_id, ts, c_event_id,
        |    min(p_ts) OVER (PARTITION BY user_id ORDER BY ts, src
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |      AS next_purchase_ts
        |  FROM t)
        |SELECT c_event_id AS event_id, user_id, ts, next_purchase_ts,
        |  epoch_us(next_purchase_ts) - epoch_us(ts) AS delay_us
        |FROM w WHERE c_event_id IS NOT NULL
        |ORDER BY event_id""".stripMargin,

    // same-user-day event-type co-occurrence with lift
    "q_events_cooccur" ->
      """WITH ed AS (SELECT DISTINCT user_id, cast(ts as date) AS d,
        |    event_type FROM events),
        |n AS (SELECT count(*) AS n
        |  FROM (SELECT DISTINCT user_id, d FROM ed)),
        |s AS (SELECT event_type, count(*) AS c FROM ed GROUP BY 1),
        |p AS (SELECT a.event_type AS ta, b.event_type AS tb,
        |    count(*) AS n_days
        |  FROM ed a JOIN ed b ON a.user_id = b.user_id AND a.d = b.d
        |  WHERE a.event_type < b.event_type GROUP BY 1, 2)
        |SELECT ta, tb, n_days,
        |  cast(n_days * n.n as double) / cast(sa.c * sb.c as double)
        |    AS lift
        |FROM p
        |JOIN s sa ON sa.event_type = ta
        |JOIN s sb ON sb.event_type = tb
        |CROSS JOIN n
        |ORDER BY ta, tb""".stripMargin,

    // bivariate moment aggregates, r4 (stddev/corr regime)
    "q_agg_corr" ->
      """SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
        |  round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_s,
        |  round(covar_pop(l_quantity, l_extendedprice), 4) AS covar_p,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    // domain-bounded sorted listagg (set semantics, explicit order)
    "q_agg_string" ->
      """SELECT o_orderpriority,
        |  string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
        |    AS statuses,
        |  count(DISTINCT o_orderstatus) AS n_statuses,
        |  count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // Welch t from exact integer-cents sums; one fixed double tree
    "q_stats_ttest" ->
      """WITH v AS (SELECT cast(round(o_totalprice * 100) as bigint)
        |    AS cents, o_orderkey % 2 = 0 AS is_a FROM orders),
        |a AS (SELECT
        |    count(CASE WHEN is_a THEN 1 END) AS na,
        |    count(CASE WHEN NOT is_a THEN 1 END) AS nb,
        |    sum(CASE WHEN is_a THEN cents END) AS sa,
        |    sum(CASE WHEN NOT is_a THEN cents END) AS sb,
        |    sum(CASE WHEN is_a
        |      THEN cast(cents as decimal(38,0)) * cents END) AS ssa,
        |    sum(CASE WHEN NOT is_a
        |      THEN cast(cents as decimal(38,0)) * cents END) AS ssb
        |  FROM v),
        |d AS (SELECT na, nb,
        |    cast(sa as double) AS sad, cast(sb as double) AS sbd,
        |    cast(na as double) AS nad, cast(nb as double) AS nbd,
        |    cast(ssa as double) AS ssad, cast(ssb as double) AS ssbd
        |  FROM a),
        |e AS (SELECT na, nb, sad, sbd, nad, nbd,
        |    ((ssad - sad * sad / nad) / (nad - 1)) / nad AS sea,
        |    ((ssbd - sbd * sbd / nbd) / (nbd - 1)) / nbd AS seb
        |  FROM d)
        |SELECT na AS n_a, nb AS n_b,
        |  sad / nad / 100.0 AS mean_a,
        |  sbd / nbd / 100.0 AS mean_b,
        |  round((sad / nad - sbd / nbd) / sqrt(sea + seb), 4)
        |    AS t_welch,
        |  round((sea + seb) * (sea + seb)
        |    / (sea * sea / (nad - 1) + seb * seb / (nbd - 1)), 4)
        |    AS df_welch
        |FROM e""".stripMargin,

    // Tukey 1.5*IQR fences on exact interpolated quantiles
    "q_stats_iqr_outliers" ->
      """WITH f AS (SELECT c_mktsegment AS seg,
        |    quantile_cont(c_acctbal, 0.25) AS q1,
        |    quantile_cont(c_acctbal, 0.75) AS q3
        |  FROM customer GROUP BY 1),
        |f2 AS (SELECT seg, q1 - (q3 - q1) * 1.5 AS lo,
        |    q3 + (q3 - q1) * 1.5 AS hi FROM f)
        |SELECT c.c_mktsegment, count(*) AS n,
        |  count(CASE WHEN c.c_acctbal < f2.lo OR c.c_acctbal > f2.hi
        |    THEN 1 END) AS n_outliers,
        |  round(max(f2.lo), 4) AS fence_lo,
        |  round(max(f2.hi), 4) AS fence_hi
        |FROM customer c JOIN f2 ON c.c_mktsegment = f2.seg
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // IGNORE NULLS value window functions over totalized frames
    "q_win_value_funcs" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
        |    CASE WHEN event_type = 'purchase' THEN value END AS pval
        |  FROM events)
        |SELECT user_id, event_id,
        |  last_value(pval IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY tus, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS last_price,
        |  first_value(pval IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY tus, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS entry_price,
        |  nth_value(pval, 2 IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY tus, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS second_price,
        |  count(pval) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS n_priced,
        |  count(*) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS n_events
        |FROM e ORDER BY user_id, event_id""".stripMargin,

    // regex pack inside the Java/RE2-identical dialect fragment
    "q_regex_funcs" ->
      """SELECT doc_id,
        |  regexp_extract(text, '([A-Za-z]{9,})', 1) AS first_long,
        |  cast(len(regexp_extract_all(text, '[A-Za-z]{9,}')) as int)
        |    AS n_long,
        |  substring(regexp_replace(text, '[0-9]+', '#', 'g'), 1, 40)
        |    AS masked_head,
        |  regexp_matches(text, '[0-9]{3}') AS has_3digits
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Flesch reading ease from exact integer regex censuses, r4
    "q_text_readability" ->
      """WITH t AS (SELECT doc_id,
        |    cast(len(regexp_extract_all(text, '[A-Za-z0-9]+')) as bigint)
        |      AS n_words,
        |    greatest(cast(len(regexp_extract_all(text, '[.!?]+'))
        |      as bigint), 1) AS n_sents,
        |    cast(len(regexp_extract_all(text, '[aeiouAEIOU]+'))
        |      as bigint) AS n_syll
        |  FROM documents)
        |SELECT doc_id, n_words, n_sents, n_syll,
        |  round(206.835
        |    - 1.015 * (cast(n_words as double) / cast(n_sents as double))
        |    - 84.6 * (cast(n_syll as double) / cast(n_words as double)),
        |    4) AS flesch
        |FROM t WHERE n_words > 0 ORDER BY doc_id""".stripMargin,

    // Cramér's V effect size over the same chi2 margin grid
    "q_stats_cramers_v" ->
      """WITH cells AS (SELECT o_orderpriority AS r, o_orderstatus AS c,
        |    count(*) AS obs FROM orders GROUP BY 1, 2),
        |rt AS (SELECT r, cast(sum(obs) as bigint) AS rt FROM cells
        |       GROUP BY r),
        |ct AS (SELECT c, cast(sum(obs) as bigint) AS ct FROM cells
        |       GROUP BY c),
        |n AS (SELECT cast(sum(obs) as bigint) AS n FROM cells),
        |g AS (SELECT rt.r, ct.c, coalesce(cells.obs, 0) AS obs, n.n,
        |        cast(rt.rt * ct.ct as double) / n.n AS exp
        |      FROM rt CROSS JOIN ct
        |      LEFT JOIN cells ON rt.r = cells.r AND ct.c = cells.c
        |      CROSS JOIN n),
        |a AS (SELECT max(n) AS n,
        |        count(DISTINCT r) AS nr, count(DISTINCT c) AS nc,
        |        sum((obs - exp) * (obs - exp) / exp) AS chi2raw
        |      FROM g)
        |SELECT n, (nr - 1) * (nc - 1) AS dof,
        |  round(chi2raw, 4) AS chi2,
        |  round(sqrt(chi2raw
        |    / cast(n * (least(nr, nc) - 1) as double)), 4) AS cramers_v
        |FROM a""".stripMargin,

    // weekday seasonality on integer date arithmetic (engine-neutral
    // anchor: days since Monday 1995-01-02, mod 7)
    "q_ts_seasonal" ->
      """WITH daily AS (SELECT cast(o_orderdate as date) AS day,
        |    sum(cast(round(o_totalprice * 100) as bigint)) AS day_cents
        |  FROM orders GROUP BY 1),
        |d2 AS (SELECT
        |    ((day - DATE '1995-01-02') % 7 + 7) % 7 AS dow, day_cents
        |  FROM daily),
        |g AS (SELECT sum(day_cents) AS g_cents, count(*) AS g_days
        |  FROM d2)
        |SELECT dow, count(*) AS n_days,
        |  round(cast(sum(day_cents) as double)
        |    / (cast(count(*) as double) * 100.0), 4) AS mean_rev,
        |  round(cast(cast(sum(day_cents) as decimal(38,0))
        |      * max(g.g_days) as double)
        |    / cast(cast(count(*) as decimal(38,0))
        |      * max(g.g_cents) as double), 4) AS seasonal_idx
        |FROM d2 CROSS JOIN g
        |GROUP BY dow ORDER BY dow""".stripMargin,

    // text-line sink+source+parse chain proven lossless vs the
    // original table
    "q_sink_text_roundtrip" ->
      """SELECT lang, count(*) AS n,
        |  cast(sum(length(text)) as bigint) AS sum_chars,
        |  cast(sum(doc_id) as bigint) AS sum_ids
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // TPC-H Q6: pure filter-and-aggregate, exact decimal revenue
    "q_agg_revenue_cut" ->
      """SELECT cast(sum(cast(l_extendedprice as decimal(12,2))
        |    * cast(l_discount as decimal(12,2))) as double) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,

    // TPC-H Q9 adapted: retail-margin profit per (nation, year)
    "q_join_product_profit" ->
      """WITH parts AS (SELECT p_partkey,
        |    cast(p_retailprice as decimal(12,2)) AS retail
        |  FROM part WHERE contains(p_name, 'widget')),
        |sn AS (SELECT s_suppkey, n_name AS nation
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey)
        |SELECT nation, year(o_orderdate) AS o_year,
        |  cast(sum(cast(l_extendedprice as decimal(12,2))
        |      * (cast(1 as decimal(4,2))
        |        - cast(l_discount as decimal(12,2)))
        |    - cast(0.6 as decimal(4,2)) * retail
        |      * cast(l_quantity as decimal(4,0))) as double)
        |    AS sum_profit,
        |  count(*) AS n
        |FROM lineitem
        |JOIN parts ON l_partkey = p_partkey
        |JOIN sn ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // TPC-H Q11 adapted: per-part value vs cross-multiplied mean gate
    "q_agg_important_stock" ->
      """WITH sup AS (SELECT s_suppkey FROM supplier
        |    JOIN nation ON s_nationkey = n_nationkey
        |    WHERE n_regionkey = 0),
        |pp AS (SELECT l_partkey,
        |    sum(cast(p_retailprice as decimal(12,2))
        |      * cast(l_quantity as decimal(4,0))) AS value_dec
        |  FROM lineitem
        |  JOIN sup ON l_suppkey = s_suppkey
        |  JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1),
        |g AS (SELECT sum(value_dec) AS total, count(*) AS nparts
        |  FROM pp)
        |SELECT l_partkey AS p_partkey,
        |  cast(value_dec as double) AS stock_value
        |FROM pp, g WHERE value_dec * nparts > total * 2
        |ORDER BY stock_value DESC, p_partkey""".stripMargin,

    // TPC-H Q20 adapted: integer cross-multiplied volume threshold
    "q_subquery_part_promotion" ->
      """WITH vol AS (SELECT l_suppkey,
        |    sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
        |        AND l_shipdate < TIMESTAMP '1998-01-01'
        |      THEN cast(l_quantity as bigint) ELSE 0 END) AS recent_qty,
        |    sum(cast(l_quantity as bigint)) AS total_qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_type = 'PROMO'
        |  GROUP BY 1),
        |v2 AS (SELECT * FROM vol WHERE recent_qty * 5 > total_qty)
        |SELECT s_suppkey, s_name,
        |  cast(recent_qty AS BIGINT) AS recent_qty,
        |  cast(total_qty AS BIGINT) AS total_qty
        |FROM supplier JOIN v2 ON s_suppkey = l_suppkey
        |ORDER BY s_suppkey""".stripMargin,

    // Spearman rho from exact doubled-midrank moment sums, r4
    "q_stats_spearman" ->
      """WITH f AS (SELECT cast(l_quantity as bigint) AS qv,
        |    cast(round(l_extendedprice * 100) as bigint) AS pv
        |  FROM lineitem),
        |qc AS (SELECT qv, count(*) AS n FROM f GROUP BY 1),
        |qr AS (SELECT qv,
        |    2 * sum(n) OVER (ORDER BY qv) - n + 1 AS drq FROM qc),
        |pc AS (SELECT pv, count(*) AS n FROM f GROUP BY 1),
        |pr AS (SELECT pv,
        |    2 * sum(n) OVER (ORDER BY pv) - n + 1 AS drp FROM pc),
        |j AS (SELECT drq, drp FROM f
        |  JOIN qr USING (qv) JOIN pr USING (pv)),
        |m AS (SELECT count(*) AS n, sum(drq) AS sq, sum(drp) AS sp,
        |    sum(cast(drq as decimal(38,0)) * drq) AS sqq,
        |    sum(cast(drp as decimal(38,0)) * drp) AS spp,
        |    sum(cast(drq as decimal(38,0)) * drp) AS sqp
        |  FROM j)
        |SELECT n,
        |  round((cast(n as double) * cast(sqp as double)
        |      - cast(sq as double) * cast(sp as double))
        |    / sqrt((cast(n as double) * cast(sqq as double)
        |        - cast(sq as double) * cast(sq as double))
        |      * (cast(n as double) * cast(spp as double)
        |        - cast(sp as double) * cast(sp as double))), 4)
        |    AS rho_spearman
        |FROM m""".stripMargin,

    // HHI on exact integer-cents nation revenue census
    "q_stats_hhi" ->
      """WITH cn AS (SELECT c_custkey, n_name FROM customer
        |    JOIN nation ON c_nationkey = n_nationkey),
        |census AS (SELECT n_name,
        |    sum(cast(round(o_totalprice * 100) as bigint)) AS v
        |  FROM orders JOIN cn ON o_custkey = c_custkey GROUP BY 1),
        |m AS (SELECT count(*) AS n_groups,
        |    sum(cast(v as decimal(38,0)) * v) AS s2, sum(v) AS s1
        |  FROM census)
        |SELECT n_groups,
        |  round(10000.0 * cast(s2 as double)
        |    / (cast(s1 as double) * cast(s1 as double)), 4) AS hhi,
        |  round(cast(s1 as double) * cast(s1 as double)
        |    / cast(s2 as double), 4) AS effective_n
        |FROM m""".stripMargin,

    // population skew/kurtosis from exact integer moment sums, r4
    "q_stats_moments" ->
      """WITH m AS (SELECT l_returnflag, count(*) AS n,
        |    sum(cast(l_quantity as bigint)) AS m1,
        |    sum(cast(l_quantity as bigint) * cast(l_quantity as bigint))
        |      AS m2,
        |    sum(cast(l_quantity as bigint) * cast(l_quantity as bigint)
        |      * cast(l_quantity as bigint)) AS m3,
        |    sum(cast(l_quantity as bigint) * cast(l_quantity as bigint)
        |      * cast(l_quantity as bigint) * cast(l_quantity as bigint))
        |      AS m4
        |  FROM lineitem GROUP BY 1),
        |d AS (SELECT l_returnflag, n,
        |    cast(m1 as double) / cast(n as double) AS mu,
        |    cast(m2 as double) / cast(n as double) AS e2,
        |    cast(m3 as double) / cast(n as double) AS e3,
        |    cast(m4 as double) / cast(n as double) AS e4
        |  FROM m),
        |v AS (SELECT l_returnflag, n, mu, e2, e3, e4,
        |    e2 - mu * mu AS vr FROM d)
        |SELECT l_returnflag, n,
        |  round(mu, 4) AS mean_qty,
        |  round(vr, 4) AS var_pop,
        |  round((e3 - 3.0 * mu * e2 + 2.0 * mu * mu * mu)
        |    / (vr * sqrt(vr)), 4) AS skew_pop,
        |  round((e4 - 4.0 * mu * e3 + 6.0 * mu * mu * e2
        |    - 3.0 * mu * mu * mu * mu) / (vr * vr) - 3.0, 4)
        |    AS kurt_excess
        |FROM v ORDER BY 1""".stripMargin,

    // MATCH_RECOGNIZE shape: per-user type-initial string + regex
    "q_events_pattern" ->
      """WITH s AS (SELECT user_id,
        |    string_agg(substring(event_type, 1, 1), ''
        |      ORDER BY epoch_us(ts), event_id) AS seq
        |  FROM events GROUP BY 1)
        |SELECT user_id, cast(length(seq) as int) AS n_events,
        |  cast(len(regexp_extract_all(seq, 'v[^p]*p')) as int)
        |    AS n_conversions,
        |  cast(len(regexp_extract_all(seq, 'e+')) as int)
        |    AS n_error_bursts
        |FROM s ORDER BY user_id""".stripMargin,

    // chunk-level exact dedup with in-order reassembly
    "q_dedup_paragraph" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
        |  FROM documents),
        |idx AS (SELECT doc_id, t,
        |    unnest(range(0, ((len(t) - 1) // 20) + 1)) AS chunk_idx
        |  FROM toks),
        |chunks AS (SELECT doc_id, chunk_idx,
        |    array_to_string(
        |      t[chunk_idx * 20 + 1 : chunk_idx * 20 + 20], ' ') AS chunk,
        |    {'d': doc_id, 'i': chunk_idx} AS keyord
        |  FROM idx),
        |keeper AS (SELECT chunk, min(keyord) AS keep_key
        |  FROM chunks GROUP BY 1),
        |kept AS (SELECT c.doc_id, c.chunk_idx, c.chunk FROM chunks c
        |  JOIN keeper k ON c.chunk = k.chunk AND c.keyord = k.keep_key),
        |per_doc AS (SELECT doc_id, count(*) AS n_kept,
        |    string_agg(chunk, ' ' ORDER BY chunk_idx) AS text_dedup
        |  FROM kept GROUP BY 1),
        |totals AS (SELECT doc_id, count(*) AS n_chunks
        |  FROM chunks GROUP BY 1)
        |SELECT t.doc_id, t.n_chunks,
        |  coalesce(p.n_kept, 0) AS n_kept,
        |  coalesce(p.text_dedup, '') AS text_dedup
        |FROM totals t LEFT JOIN per_doc p ON t.doc_id = p.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    // bounded-radius spatial kNN: brute-force + rank window twin
    "q_spatial_knn" ->
      """WITH a AS (
        |  SELECT p_partkey AS a_id,
        |    (p_partkey * cast(137.508 as double)) % cast(360 as double)
        |      AS a_ra,
        |    (p_partkey * cast(97.13 as double)) % cast(120 as double)
        |      - cast(60 as double) AS a_dec
        |  FROM part),
        |b AS (
        |  SELECT s_suppkey AS b_id,
        |    (s_suppkey * cast(211.7 as double)) % cast(360 as double)
        |      AS b_ra,
        |    (s_suppkey * cast(53.77 as double)) % cast(120 as double)
        |      - cast(60 as double) AS b_dec
        |  FROM supplier),
        |pairs AS (SELECT b_id, a_id,
        |    least(abs(a_ra - b_ra), 360.0 - abs(a_ra - b_ra))
        |      * least(abs(a_ra - b_ra), 360.0 - abs(a_ra - b_ra))
        |      + (a_dec - b_dec) * (a_dec - b_dec) AS d2
        |  FROM a JOIN b
        |    ON least(abs(a_ra - b_ra), 360.0 - abs(a_ra - b_ra))
        |      * least(abs(a_ra - b_ra), 360.0 - abs(a_ra - b_ra))
        |      + (a_dec - b_dec) * (a_dec - b_dec) <= 9.0),
        |ranked AS (SELECT b_id, a_id, d2,
        |    row_number() OVER (PARTITION BY b_id ORDER BY d2, a_id)
        |      AS rnk
        |  FROM pairs)
        |SELECT b_id, cast(rnk as int) AS rank, a_id,
        |  round(d2, 4) AS dist2
        |FROM ranked WHERE rnk <= 3
        |ORDER BY b_id, rnk""".stripMargin,

    // TPC-H Q7: bidirectional cross-nation trade per ship year
    "q_join_nation_volume" ->
      s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         |  cast(year(l.l_shipdate) as int) AS l_year,
         |  ${dsumDec(s"${dec("l.l_extendedprice")} * (1 - ${dec("l.l_discount")})")} AS revenue
         |FROM lineitem l
         |JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |JOIN nation sn ON s.s_nationkey = sn.n_nationkey
         |JOIN orders o ON l.l_orderkey = o.o_orderkey
         |JOIN customer c ON o.o_custkey = c.c_custkey
         |JOIN nation cn ON c.c_nationkey = cn.n_nationkey
         |WHERE sn.n_name IN ('NATION_3', 'NATION_7')
         |  AND cn.n_name IN ('NATION_3', 'NATION_7')
         |  AND sn.n_name <> cn.n_name
         |  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l.l_shipdate < TIMESTAMP '1998-01-01'
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // TPC-H Q8: conditional-numerator market share per order year
    "q_join_market_share" ->
      s"""WITH asia AS (SELECT n_nationkey FROM nation
         |    JOIN region ON n_regionkey = r_regionkey
         |    WHERE r_name = 'ASIA')
         |SELECT cast(year(o.o_orderdate) as int) AS o_year,
         |  ${dsumDec(s"CASE WHEN sn.n_name = 'NATION_9' THEN ${dec("l.l_extendedprice")} * (1 - ${dec("l.l_discount")}) ELSE cast(0 as decimal(12,2)) END")}
         |    / ${dsumDec(s"${dec("l.l_extendedprice")} * (1 - ${dec("l.l_discount")})")} AS mkt_share,
         |  count(*) AS n_lines
         |FROM lineitem l
         |JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'PROMO'
         |JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |JOIN nation sn ON s.s_nationkey = sn.n_nationkey
         |JOIN orders o ON l.l_orderkey = o.o_orderkey
         |JOIN customer c ON o.o_custkey = c.c_custkey
         |JOIN asia a ON c.c_nationkey = a.n_nationkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // TPC-H Q13: orders-per-customer census (filter in the ON clause)
    "q_agg_count_distribution" ->
      """WITH co AS (SELECT c.c_custkey,
        |    count(o.o_orderkey) AS c_count
        |  FROM customer c
        |  LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |    AND o.o_orderpriority <> '1-URGENT'
        |  GROUP BY 1)
        |SELECT c_count, count(*) AS custdist
        |FROM co GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,

    // TPC-H Q15: scalar-max gate in exact decimal
    "q_join_top_supplier" ->
      s"""WITH r AS (SELECT l_suppkey,
         |    sum(${dec("l_extendedprice")} * (1 - ${dec("l_discount")}))
         |      AS rev_dec
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
         |    AND l_shipdate < TIMESTAMP '1997-04-01'
         |  GROUP BY 1)
         |SELECT s.s_suppkey, s.s_name,
         |  cast(r.rev_dec as double) AS total_revenue
         |FROM r JOIN supplier s ON r.l_suppkey = s.s_suppkey
         |WHERE r.rev_dec = (SELECT max(rev_dec) FROM r)
         |ORDER BY s.s_suppkey""".stripMargin,

    // TPC-H Q18: grouped-HAVING gate on exact integer quantity
    "q_subquery_in_grouped" ->
      """WITH big AS (SELECT l_orderkey,
        |    sum(cast(l_quantity as bigint)) AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING total_qty > 180)
        |SELECT c.c_name, c.c_custkey, o.o_orderkey,
        |  cast(o.o_orderdate as date) AS o_date, o.o_totalprice,
        |  cast(big.total_qty AS BIGINT) AS total_qty
        |FROM orders o
        |JOIN big ON o.o_orderkey = big.l_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 100""".stripMargin,

    // TPC-H Q21 (adapted): strictly-last supplier in multi-supplier
    // orders, via pair census + order census (decorrelated EXISTS)
    "q_join_waiting_supplier" ->
      """WITH pairs AS (SELECT l_orderkey, l_suppkey,
        |    max(l_shipdate) AS pair_max
        |  FROM lineitem GROUP BY 1, 2),
        |os AS (SELECT l_orderkey AS ok, count(*) AS n_supp,
        |    max(pair_max) AS global_max
        |  FROM pairs GROUP BY 1),
        |atmax AS (SELECT p.* FROM pairs p JOIN os ON p.l_orderkey = os.ok
        |  WHERE p.pair_max = os.global_max AND os.n_supp > 1),
        |g AS (SELECT * FROM (SELECT a.*,
        |      count(*) OVER (PARTITION BY l_orderkey) AS ties
        |    FROM atmax a) WHERE ties = 1)
        |SELECT s.s_name, count(*) AS numwait
        |FROM g JOIN supplier s ON g.l_suppkey = s.s_suppkey
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,

    // SQL-standard one-pass OLS aggregates, r4 on the float moments
    "q_agg_regr" ->
      """SELECT l_returnflag,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4)
        |    AS intercept,
        |  round(regr_r2(l_extendedprice, l_quantity), 4) AS r2,
        |  cast(regr_count(l_extendedprice, l_quantity) as bigint) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    // exact integer-lattice bitwise aggregates
    "q_agg_bitwise" ->
      """SELECT o_orderpriority,
        |  bit_and(o_orderkey) AS key_and,
        |  bit_or(o_orderkey) AS key_or,
        |  bit_xor(o_orderkey) AS key_xor,
        |  count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // hash/encoding scalar pack (case, padding, popcount pinned)
    "q_scalar_encode" ->
      """SELECT doc_id,
        |  md5(text) AS md5_hex,
        |  sha256(text) AS sha256_hex,
        |  hex(doc_id) AS id_hex,
        |  to_base64(encode(substring(text, 1, 12))) AS head_b64,
        |  cast(bit_count(doc_id) as int) AS id_popcount
        |FROM documents ORDER BY doc_id""".stripMargin,

    // month arithmetic with end-of-month clamping
    "q_date_arith" ->
      """SELECT o_orderkey,
        |  cast(cast(o_orderdate as date) + INTERVAL 3 MONTH as date)
        |    AS plus3m,
        |  last_day(cast(o_orderdate as date)) AS eom,
        |  cast(date_trunc('month', cast(o_orderdate as date)) as date)
        |    AS month_start,
        |  cast(year(o_orderdate) * 12 + month(o_orderdate) as int)
        |    AS month_index
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // nested JSON roundtrip: identical string-built fixture, pinned
    // typed parse (json_transform ≡ from_json on the pinned schema),
    // zipped unnest+ordinality ≡ posexplode_outer (the empty/null
    // parents re-enter via the LEFT JOIN), list(… ORDER BY pos) ≡ the
    // position-sorted re-nest, list-of-struct equality both engines
    // round-13 (VERDICT r12 #7): the VARIANT twin deliberately
    // computes every value RELATIONALLY — no JSON functions at all —
    // so the hash gate checks the engine's parse_json / variant_get /
    // variant_explode pipeline against first-principles truth, and
    // the TRUE literal makes any engine-side string-vs-variant parity
    // break (shred_ok=false) a hash mismatch
    "q_variant_shred" ->
      """WITH it AS (
        |  SELECT l_orderkey AS o_orderkey, count(*) AS n_items,
        |    cast(sum(cast(l_quantity as int)) as bigint) AS qty_sum
        |  FROM lineitem GROUP BY 1)
        |SELECT o.o_orderkey,
        |  (o.o_orderkey % 50 = 0 OR o.o_orderkey % 97 <> 3) AS has_doc,
        |  CASE WHEN o.o_orderkey % 50 = 0 THEN cast(o.o_custkey as bigint)
        |       WHEN o.o_orderkey % 97 = 3 THEN NULL
        |       ELSE cast(o.o_custkey as bigint) END AS cust,
        |  cast(CASE WHEN o.o_orderkey % 50 = 0 THEN 0
        |       WHEN o.o_orderkey % 97 = 3 THEN 0
        |       ELSE coalesce(it.n_items, 0) END as bigint) AS n_items,
        |  CASE WHEN o.o_orderkey % 50 = 0 THEN NULL
        |       WHEN o.o_orderkey % 97 = 3 THEN NULL
        |       ELSE it.qty_sum END AS qty_sum,
        |  TRUE AS shred_ok
        |FROM orders o LEFT JOIN it ON it.o_orderkey = o.o_orderkey
        |ORDER BY o.o_orderkey""".stripMargin,

    "q_json_nested_roundtrip" ->
      """WITH items AS (
        |  SELECT l_orderkey AS o_orderkey,
        |    '[' || string_agg('{"ln":' || l_linenumber || ',"qty":'
        |      || cast(l_quantity as int) || '}', ','
        |      ORDER BY l_linenumber) || ']' AS items
        |  FROM lineitem GROUP BY 1),
        |src AS (
        |  SELECT o.o_orderkey,
        |    CASE WHEN o.o_orderkey % 50 = 0 THEN '[]'
        |         WHEN o.o_orderkey % 97 = 3 THEN NULL
        |         ELSE i.items END AS j
        |  FROM orders o LEFT JOIN items i ON i.o_orderkey = o.o_orderkey),
        |parsed AS (
        |  SELECT o_orderkey, j,
        |    CASE WHEN j IS NULL THEN NULL
        |         ELSE json_transform(j,
        |           '[{"ln":"INTEGER","qty":"INTEGER"}]') END AS arr
        |  FROM src),
        |ex AS (
        |  SELECT o_orderkey, unnest(arr) AS item,
        |    unnest(generate_series(1, len(arr))) - 1 AS pos
        |  FROM parsed WHERE len(arr) > 0),
        |stats AS (
        |  SELECT o_orderkey, count(*) AS n_items,
        |    cast(sum(item.qty) as bigint) AS qty_sum,
        |    list(item ORDER BY pos) AS ren
        |  FROM ex GROUP BY 1)
        |SELECT p.o_orderkey,
        |  p.j IS NOT NULL AS has_json,
        |  coalesce(s.n_items, 0) AS n_items,
        |  s.qty_sum,
        |  CASE WHEN p.arr IS NULL OR len(p.arr) = 0 THEN s.ren IS NULL
        |       ELSE coalesce(s.ren = p.arr, FALSE) END AS roundtrip_ok
        |FROM parsed p LEFT JOIN stats s ON s.o_orderkey = p.o_orderkey
        |ORDER BY p.o_orderkey""".stripMargin,

    // outer explode: empty arrays keep their parent row as a NULL row
    "q_explode_outer" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> length(x) >= 12)
        |      AS l
        |  FROM documents),
        |e AS (SELECT doc_id,
        |    unnest(CASE WHEN len(l) = 0 THEN [NULL] ELSE l END) AS tok
        |  FROM t)
        |SELECT doc_id, count(*) AS n_rows, count(tok) AS n_long_tokens,
        |  count(CASE WHEN tok IS NULL THEN 1 END) AS n_null_rows
        |FROM e GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // trailing-7-calendar-day RANGE frame on the integer day index
    "q_win_frame_range_time" ->
      """SELECT event_id, user_id, ts, event_type,
        |  count(*) OVER win AS n_7d,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) OVER win
        |    AS n_purchases_7d
        |FROM events
        |WINDOW win AS (PARTITION BY user_id
        |  ORDER BY date_diff('day', DATE '1970-01-01', cast(ts as date))
        |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin
  )

  /** Shared classifier-inference CTE (the q_classify_linear hash
    * arithmetic, carrying lang as the eval ground truth). */
  private val classifierCte: String =
    """tk AS (
      |  SELECT doc_id, lang,
      |    list_filter(string_split(text, ' '), t -> t <> '') AS toks
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, lang, len(toks) AS n_tokens,
      |    cast(coalesce(list_sum(list_transform(toks, t ->
      |      ((('0x' || substr(md5(t), 1, 12))::BIGINT % 64)
      |        * 2654435761) % 201 - 100)), 0) as bigint) AS score_int
      |  FROM tk)""".stripMargin

  // synchronous LPA, 3 rounds UNROLLED as chained CTEs (the pagerank
  // discipline): same kNN edge derivation as q_knn_graph_bucketed,
  // mode-of-neighbor-labels with (cnt DESC, lbl ASC) tie-break — the
  // exact twin of Spark's max_by on the (cnt, -lbl) struct order
  private def labelPropSql: String = {
    val steps = (1 to 3).map { i =>
      s"""c$i AS (
         |  SELECT nb.node, l${i - 1}.lbl, count(*) AS cnt
         |  FROM nb JOIN l${i - 1} ON nb.nbr = l${i - 1}.node
         |  GROUP BY 1, 2),
         |u$i AS (
         |  SELECT node, lbl AS new_lbl FROM (
         |    SELECT node, lbl, row_number() OVER (
         |      PARTITION BY node ORDER BY cnt DESC, lbl) AS rn
         |    FROM c$i) t WHERE rn = 1),
         |l$i AS (
         |  SELECT l${i - 1}.node, coalesce(u$i.new_lbl, l${i - 1}.lbl) AS lbl
         |  FROM l${i - 1} LEFT JOIN u$i ON l${i - 1}.node = u$i.node)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH b AS (SELECT vec_id, embedding, $bucketSql AS bucket
       |           FROM embeddings),
       |j AS (
       |  SELECT a.vec_id AS vec_id, q.vec_id AS nbr_id, $dotSql AS sim
       |  FROM b a JOIN b q ON a.bucket = q.bucket
       |  WHERE a.vec_id <> q.vec_id),
       |rnk AS (SELECT vec_id, nbr_id,
       |  row_number() OVER (PARTITION BY vec_id
       |    ORDER BY sim DESC, nbr_id) AS rk
       |  FROM j),
       |und AS (SELECT DISTINCT least(vec_id, nbr_id) AS lo,
       |    greatest(vec_id, nbr_id) AS hi
       |  FROM rnk WHERE rk <= 3),
       |nb AS (SELECT lo AS node, hi AS nbr FROM und
       |       UNION ALL SELECT hi, lo FROM und),
       |l0 AS (SELECT vec_id AS node, vec_id AS lbl FROM embeddings),
       |$steps
       |SELECT lbl AS community, cast(count(*) as bigint) AS n_members,
       |  min(node) AS rep
       |FROM l3 GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // power iteration, 4 rounds UNROLLED as chained CTEs (the pagerank
  // discipline): exact-long covariance moments, per-row mat·vec folds
  // sequential in j order (list_sum of list(… ORDER BY j) — the twin
  // of Spark's array_sort + aggregate), 1-row max-rescale per round
  private def pcaPowerSql: String = {
    val steps = (1 to 4).map { i =>
      s"""w$i AS (
         |  SELECT cv.i, list_sum(list(cv.c * v.vj ORDER BY cv.j)) AS wi
         |  FROM cv JOIN v${i - 1} v ON cv.j = v.j GROUP BY cv.i),
         |m$i AS (SELECT max(abs(wi)) AS m FROM w$i),
         |v$i AS (SELECT i AS j, wi / m AS vj FROM w$i CROSS JOIN m$i)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH q AS (
       |  SELECT vec_id, i - 1 AS pos,
       |    cast(floor(cast(embedding[i] as double) * 10000) as bigint)
       |      AS qv
       |  FROM embeddings CROSS JOIN range(1, 65) t(i)),
       |mo AS (
       |  SELECT a.pos AS i, b.pos AS j, sum(a.qv * b.qv) AS sij,
       |    count(*) AS nn
       |  FROM q a JOIN q b ON a.vec_id = b.vec_id
       |  GROUP BY 1, 2),
       |su AS (SELECT pos, sum(qv) AS s FROM q GROUP BY pos),
       |cv AS (
       |  SELECT mo.i, mo.j,
       |    cast(sij as double) / nn
       |      - (cast(x.s as double) / nn) * (cast(y.s as double) / nn)
       |      AS c
       |  FROM mo JOIN su x ON mo.i = x.pos JOIN su y ON mo.j = y.pos),
       |v0 AS (SELECT cast(i as int) AS j, 1.0 AS vj FROM range(0, 64) t(i)),
       |$steps,
       |nrm AS (SELECT sqrt(list_sum(list(vj * vj ORDER BY j))) AS nrm
       |        FROM v4)
       |SELECT j + 1 AS dim, round(vj / nrm, 4) AS loading
       |FROM v4 CROSS JOIN nrm ORDER BY dim""".stripMargin
  }

  private val round12: Map[String, String] = Map(
    "q_embed_pca_power" -> pcaPowerSql,
    // grouped rank-sum AUC: census per DISTINCT score, cumulative
    // negatives in score order, Σ n_pos·(2·cum_incl − n_neg) / (2·P·N)
    // — all integers until the one final IEEE divide (Det.r4 twin)
    "q_stats_auc" ->
      s"""WITH $classifierCte,
         |sc AS (
         |  SELECT cast(score_int as double) / greatest(n_tokens, 1)
         |      AS score,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
         |  FROM s),
         |cen AS (SELECT score, sum(pos) AS n_pos, sum(1 - pos) AS n_neg
         |        FROM sc GROUP BY 1),
         |c2 AS (SELECT n_pos, n_neg,
         |    sum(n_neg) OVER (ORDER BY score) AS cum
         |  FROM cen),
         |t AS (SELECT cast(sum(n_pos) as bigint) AS n_pos,
         |    cast(sum(n_neg) as bigint) AS n_neg,
         |    cast(sum(n_pos * (2 * cum - n_neg)) as bigint) AS num2
         |  FROM c2)
         |SELECT n_pos, n_neg,
         |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
         |    round(cast(num2 as double)
         |      / (2.0 * cast(n_pos * n_neg as double)), 4) END AS auc
         |FROM t""".stripMargin,

    // at-threshold confusion matrix + derived metrics of the same
    // classifier; zero denominators are NULL on both engines
    "q_eval_confusion" ->
      s"""WITH $classifierCte,
         |m AS (SELECT
         |    cast(count(CASE WHEN score_int > 0 AND lang = 'en'
         |      THEN 1 END) as bigint) AS tp,
         |    cast(count(CASE WHEN score_int > 0 AND lang <> 'en'
         |      THEN 1 END) as bigint) AS fp,
         |    cast(count(CASE WHEN score_int <= 0 AND lang = 'en'
         |      THEN 1 END) as bigint) AS fn,
         |    cast(count(CASE WHEN score_int <= 0 AND lang <> 'en'
         |      THEN 1 END) as bigint) AS tn
         |  FROM s)
         |SELECT tp, fp, fn, tn,
         |  CASE WHEN tp + fp > 0 THEN
         |    round(cast(tp as double) / (tp + fp), 4) END AS "precision",
         |  CASE WHEN tp + fn > 0 THEN
         |    round(cast(tp as double) / (tp + fn), 4) END AS recall,
         |  CASE WHEN 2 * tp + fp + fn > 0 THEN
         |    round(cast(2 * tp as double) / (2 * tp + fp + fn), 4)
         |    END AS f1,
         |  CASE WHEN tp + fp + fn + tn > 0 THEN
         |    round(cast(tp + tn as double) / (tp + fp + fn + tn), 4)
         |    END AS accuracy
         |FROM m""".stripMargin,

    "q_graph_label_prop" -> labelPropSql,

    // per-dim moments from the quantized-long census (exact integer
    // sums), then identical IEEE (q−μ)/σ per element, round(…,4);
    // the norm is the sequential pos-order fold (list_sum twin of
    // Spark's aggregate — the q_embed_centroids precedent)
    "q_embed_whiten" ->
      """WITH q AS (
        |  SELECT vec_id, i - 1 AS pos,
        |    cast(floor(cast(embedding[i] as double) * 10000) as bigint)
        |      AS qv
        |  FROM embeddings CROSS JOIN range(1, 65) t(i)),
        |st AS (SELECT pos, count(*) AS n, sum(qv) AS s1,
        |    sum(qv * qv) AS s2
        |  FROM q GROUP BY pos),
        |mu AS (SELECT pos,
        |    cast(s1 as double) / n AS mu,
        |    sqrt(greatest(cast(s2 as double) / n
        |      - (cast(s1 as double) / n) * (cast(s1 as double) / n),
        |      0.0)) AS sd
        |  FROM st),
        |w AS (SELECT vec_id, q.pos,
        |    CASE WHEN sd > 0 THEN round((qv - mu) / sd, 4)
        |         ELSE 0.0 END AS w
        |  FROM q JOIN mu ON q.pos = mu.pos),
        |a AS (SELECT vec_id, list(w ORDER BY pos) AS wvec
        |      FROM w GROUP BY vec_id)
        |SELECT vec_id,
        |  array_to_string(list_transform(wvec, x ->
        |    cast(cast(round(x * 10000) as bigint) as varchar)), ',')
        |    AS whitened_q,
        |  round(sqrt(list_sum(list_transform(wvec, x -> x * x))), 4)
        |    AS wnorm
        |FROM a ORDER BY vec_id""".stripMargin,

    // the GC detects exactly the planted orphan fixture (doc_id %
    // 499), with n_bytes = the landed 'orphan <id>\n' byte count;
    // deletion itself is pinned in the suite (files gone after the
    // run, replanted + redetected identically on a re-run)
    "q_files_gc" ->
      """SELECT 'orphan_' || doc_id || '.txt' AS rel_path,
        |  cast(length('orphan ' || doc_id) + 1 as bigint) AS n_bytes,
        |  true AS deleted
        |FROM documents WHERE doc_id % 499 = 0
        |ORDER BY rel_path""".stripMargin,

    // volume-weighted length percentiles: integer census + partition-
    // bounded cumulative sums + cross-multiplied threshold picks —
    // no float anywhere
    "q_agg_weighted_percentile" ->
      """WITH census AS (
        |  SELECT source, n_chars, cast(sum(n_chars) as bigint) AS w
        |  FROM documents GROUP BY 1, 2),
        |c AS (SELECT source, n_chars, w,
        |    sum(w) OVER (PARTITION BY source ORDER BY n_chars
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(w) OVER (PARTITION BY source) AS total
        |  FROM census)
        |SELECT source, cast(max(total) as bigint) AS total_chars,
        |  min(CASE WHEN cum * 2 >= total THEN n_chars END)
        |    AS p50_weighted,
        |  min(CASE WHEN cum * 10 >= total * 9 THEN n_chars END)
        |    AS p90_weighted
        |FROM c GROUP BY source ORDER BY source""".stripMargin
  )

  /** Six unrolled synchronous k-core peel rounds (k = 4) over the
    * symmetrized kNN edges — the pagerank/LPA unrolling discipline. */
  private def kcoreSql: String = {
    // every peel round references the PREVIOUS edge set three times
    // (degree census + both endpoint semi joins), so DuckDB's default
    // CTE INLINING re-evaluates the ranked all-pairs kNN derivation
    // ~3^6 times — measured >100 GB of spill and a dead x10 gate. AS
    // MATERIALIZED pins each round to one evaluation (semantics-free;
    // 0.5 s at x10, hash-identical to the engine).
    val rounds = (1 to 6).map { i =>
      val p = if (i == 1) "e0" else s"e${i - 1}"
      s"""k$i AS (SELECT src AS node FROM $p
         |  GROUP BY src HAVING count(*) >= 4),
         |e$i AS MATERIALIZED (SELECT e.src, e.dst FROM $p e
         |  JOIN k$i a ON e.src = a.node
         |  JOIN k$i b ON e.dst = b.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH b AS (SELECT vec_id, embedding, $bucketSql AS bucket
       |           FROM embeddings),
       |j AS (SELECT a.vec_id AS vec_id, q.vec_id AS nbr_id,
       |    $dotSql AS sim
       |  FROM b a JOIN b q ON a.bucket = q.bucket
       |  WHERE a.vec_id <> q.vec_id),
       |rnk AS (SELECT vec_id, nbr_id,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY sim DESC, nbr_id) AS rk
       |  FROM j),
       |e AS MATERIALIZED (SELECT vec_id, nbr_id FROM rnk WHERE rk <= 5),
       |e0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |  SELECT vec_id AS src, nbr_id AS dst FROM e
       |  UNION ALL SELECT nbr_id AS src, vec_id AS dst FROM e)),
       |$rounds
       |SELECT src AS node, count(*) AS core_deg
       |FROM e6 GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Round-10-session wave A: rank correlation, classifier calibration
    * + PR-AUC, CCNet perplexity terciles, feature hashing, Adamic–Adar
    * link prediction, linear gap interpolation. */
  private val round13: Map[String, String] = Map(

    "q_graph_kcore" -> kcoreSql,

    // banded pigeonhole candidates over the DISTINCT phash vocabulary,
    // exact positional Hamming verify (1..3)
    "q_dedup_phash_hamming" ->
      s"""WITH $mmShapeCte,
         |r AS (SELECT doc_id, w, h, g,
         |  CASE WHEN greatest(w,h) <= 8 THEN w
         |       ELSE (w*8)//greatest(w,h) END AS ow,
         |  CASE WHEN greatest(w,h) <= 8 THEN h
         |       ELSE (h*8)//greatest(w,h) END AS oh
         |  FROM m),
         |x AS (SELECT *,
         |  list_sum(list_transform(range(0, ow), i -> (i*w)//ow)) AS sx,
         |  list_sum(list_transform(range(0, oh), j -> (j*h)//oh)) AS sy
         |  FROM r),
         |p AS (SELECT doc_id,
         |  ow || 'x' || oh || ':' ||
         |  array_to_string(list_transform(range(0, ow*oh), k ->
         |    CASE WHEN (((k % ow) * w) // ow + ((k // ow) * h) // oh)
         |           * (ow*oh) > oh * sx + ow * sy
         |    THEN '1' ELSE '0' END), '') AS phash
         |  FROM x),
         |v AS (SELECT phash, min(doc_id) AS keep_id,
         |    count(*) AS n_images,
         |    string_split(phash, ':')[1] AS dim,
         |    substr(phash, instr(phash, ':') + 1) AS bits,
         |    length(substr(phash, instr(phash, ':') + 1)) AS blen
         |  FROM p GROUP BY phash),
         |bd AS (SELECT phash, keep_id, n_images, dim, bits, blen,
         |    unnest(range(0, 4)) AS bi
         |  FROM v),
         |b2 AS (SELECT phash, keep_id, n_images, dim, bits, bi,
         |    substr(bits, (bi * blen) // 4 + 1,
         |      ((bi + 1) * blen) // 4 - (bi * blen) // 4) AS band
         |  FROM bd),
         |cand AS (SELECT DISTINCT a.keep_id AS keep_a,
         |    b.keep_id AS keep_b, a.n_images AS n_a, b.n_images AS n_b,
         |    a.bits AS ba, b.bits AS bb
         |  FROM b2 a JOIN b2 b ON a.dim = b.dim AND a.bi = b.bi
         |    AND a.band = b.band AND a.keep_id < b.keep_id),
         |hm AS (SELECT keep_a, keep_b, n_a, n_b,
         |    cast(list_sum(list_transform(range(1, length(ba) + 1), i ->
         |      CASE WHEN substr(ba, i, 1) <> substr(bb, i, 1)
         |        THEN 1 ELSE 0 END)) as int) AS hamming
         |  FROM cand)
         |SELECT keep_a, keep_b, hamming, n_a, n_b
         |FROM hm WHERE hamming BETWEEN 1 AND 3
         |ORDER BY hamming, keep_a, keep_b""".stripMargin,

    // Brown–Forsythe: exact doubled group medians off the domain
    // census, integer deviation sums, ONE fixed double tree (the
    // per-group sums pivot into one row — no engine-ordered double sum)
    "q_stats_levene" ->
      """WITH census AS (
        |  SELECT l_returnflag AS flag, cast(l_quantity as bigint) AS qv,
        |    count(*) AS n
        |  FROM lineitem GROUP BY 1, 2),
        |tot AS (SELECT flag, sum(n) AS n_g FROM census GROUP BY 1),
        |cum AS (SELECT c.flag, qv, n, n_g,
        |    sum(n) OVER (PARTITION BY c.flag ORDER BY qv
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM census c JOIN tot USING (flag)),
        |med AS (SELECT flag,
        |    min(CASE WHEN cum * 2 >= n_g THEN qv END)
        |      + min(CASE WHEN cum * 2 > n_g THEN qv END) AS med2
        |  FROM cum GROUP BY 1),
        |z AS (SELECT c.flag, n, abs(2 * qv - med2) AS z
        |  FROM census c JOIN med USING (flag)),
        |a AS (SELECT
        |    cast(sum(CASE WHEN flag = 'A' THEN n END) as bigint) AS na,
        |    cast(sum(CASE WHEN flag = 'N' THEN n END) as bigint) AS nn,
        |    cast(sum(CASE WHEN flag = 'R' THEN n END) as bigint) AS nr,
        |    cast(sum(CASE WHEN flag = 'A' THEN n * z END) as bigint)
        |      AS sza,
        |    cast(sum(CASE WHEN flag = 'N' THEN n * z END) as bigint)
        |      AS szn,
        |    cast(sum(CASE WHEN flag = 'R' THEN n * z END) as bigint)
        |      AS szr,
        |    sum(CASE WHEN flag = 'A' THEN cast(n as hugeint) * z * z END)
        |      AS szza,
        |    sum(CASE WHEN flag = 'N' THEN cast(n as hugeint) * z * z END)
        |      AS szzn,
        |    sum(CASE WHEN flag = 'R' THEN cast(n as hugeint) * z * z END)
        |      AS szzr
        |  FROM z),
        |f AS (SELECT na, nn, nr,
        |    cast(sza as double) * cast(sza as double) / cast(na as double)
        |      + cast(szn as double) * cast(szn as double)
        |        / cast(nn as double)
        |      + cast(szr as double) * cast(szr as double)
        |        / cast(nr as double) AS b1,
        |    (cast(szza as double) - cast(sza as double)
        |        * cast(sza as double) / cast(na as double))
        |      + (cast(szzn as double) - cast(szn as double)
        |        * cast(szn as double) / cast(nn as double))
        |      + (cast(szzr as double) - cast(szr as double)
        |        * cast(szr as double) / cast(nr as double)) AS within,
        |    cast(sza as double) + cast(szn as double)
        |      + cast(szr as double) AS szt,
        |    cast(na as double) + cast(nn as double) + cast(nr as double)
        |      AS nd
        |  FROM a)
        |SELECT na + nn + nr AS n, 3 AS k,
        |  round(((nd - 3.0) / 2.0) * ((b1 - szt * szt / nd) / within), 4)
        |    AS w_bf
        |FROM f""".stripMargin,

    // bounded-domain dominance census: identical grid + three keyed
    // windows; ties kept doubled so only HUGEINT/decimal integers flow
    "q_stats_kendall" ->
      """WITH cells AS (
        |  SELECT cast(l_quantity as bigint) AS qv,
        |    cast(floor(l_extendedprice / 1000) as bigint) AS pb,
        |    count(*) AS n
        |  FROM lineitem GROUP BY 1, 2),
        |bounds AS (SELECT min(pb) AS lo, max(pb) AS hi FROM cells),
        |grid AS (
        |  SELECT q.qv, g.pb
        |  FROM (SELECT DISTINCT qv FROM cells) q
        |  CROSS JOIN (SELECT unnest(generate_series(
        |    (SELECT lo FROM bounds), (SELECT hi FROM bounds))) AS pb) g),
        |dense AS (
        |  SELECT g.qv, g.pb, coalesce(c.n, 0) AS n
        |  FROM grid g LEFT JOIN cells c ON g.qv = c.qv AND g.pb = c.pb),
        |cx AS (SELECT qv, pb, n,
        |    coalesce(sum(n) OVER (PARTITION BY pb ORDER BY qv
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cumx
        |  FROM dense),
        |dom AS (SELECT qv, pb, n,
        |    coalesce(sum(cumx) OVER (PARTITION BY qv ORDER BY pb
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS below,
        |    coalesce(sum(cumx) OVER (PARTITION BY qv ORDER BY pb
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
        |      AS above
        |  FROM cx),
        |agg AS (SELECT cast(sum(n) as hugeint) AS n,
        |    sum(cast(n as hugeint) * below) AS c,
        |    sum(cast(n as hugeint) * above) AS d
        |  FROM dom),
        |t1 AS (SELECT cast(sum(cast(t as hugeint) * (t - 1)) as hugeint)
        |    AS n1
        |  FROM (SELECT qv, sum(n) AS t FROM cells GROUP BY 1)),
        |t2 AS (SELECT cast(sum(cast(t as hugeint) * (t - 1)) as hugeint)
        |    AS n2
        |  FROM (SELECT pb, sum(n) AS t FROM cells GROUP BY 1))
        |SELECT cast(n as bigint) AS n,
        |  cast(c as bigint) AS n_concordant,
        |  cast(d as bigint) AS n_discordant,
        |  round(2.0 * cast(c - d as double) / sqrt(
        |    cast(n * (n - 1) - n1 as double)
        |    * cast(n * (n - 1) - n2 as double)), 4) AS tau_b
        |FROM agg, t1, t2""".stripMargin,

    // nearest as-of: same union+window shape, two frames over one
    // ordering, winner by exact integer micros (ties to backward)
    "q_join_asof_nearest" ->
      """WITH c AS (SELECT user_id, ts, ts AS click_ts,
        |    CAST(NULL AS BIGINT) AS p_event_id, 0 AS src
        |  FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts, CAST(NULL AS TIMESTAMP) AS click_ts,
        |    event_id AS p_event_id, 1 AS src
        |  FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT * FROM c UNION ALL SELECT * FROM p),
        |w AS (SELECT user_id, ts, p_event_id,
        |    max(click_ts) OVER (PARTITION BY user_id ORDER BY ts, src
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS prev_click_ts,
        |    min(click_ts) OVER (PARTITION BY user_id ORDER BY ts, src
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |      AS next_click_ts
        |  FROM t),
        |d AS (SELECT *,
        |    epoch_us(ts) - epoch_us(prev_click_ts) AS d_back,
        |    epoch_us(next_click_ts) - epoch_us(ts) AS d_fwd
        |  FROM w WHERE p_event_id IS NOT NULL)
        |SELECT p_event_id AS event_id, user_id, ts,
        |  CASE WHEN prev_click_ts IS NOT NULL
        |      AND (next_click_ts IS NULL OR d_back <= d_fwd)
        |    THEN prev_click_ts ELSE next_click_ts END
        |    AS nearest_click_ts,
        |  CASE WHEN prev_click_ts IS NOT NULL
        |      AND (next_click_ts IS NULL OR d_back <= d_fwd)
        |    THEN d_back ELSE d_fwd END AS distance_us,
        |  CASE WHEN prev_click_ts IS NULL AND next_click_ts IS NULL
        |      THEN 'none'
        |    WHEN next_click_ts IS NULL THEN 'backward'
        |    WHEN prev_click_ts IS NULL THEN 'forward'
        |    WHEN d_back <= d_fwd THEN 'backward'
        |    ELSE 'forward' END AS direction
        |FROM d ORDER BY event_id""".stripMargin,

    // chance-corrected 2×2 agreement; fused census, one double tree
    "q_stats_cohens_kappa" ->
      s"""WITH $classifierCte,
         |m AS (SELECT
         |    cast(count(CASE WHEN score_int > 0
         |      AND n_tokens BETWEEN 20 AND 90 THEN 1 END) as bigint)
         |      AS n11,
         |    cast(count(CASE WHEN score_int > 0
         |      AND n_tokens NOT BETWEEN 20 AND 90 THEN 1 END) as bigint)
         |      AS n10,
         |    cast(count(CASE WHEN score_int <= 0
         |      AND n_tokens BETWEEN 20 AND 90 THEN 1 END) as bigint)
         |      AS n01,
         |    cast(count(CASE WHEN score_int <= 0
         |      AND n_tokens NOT BETWEEN 20 AND 90 THEN 1 END) as bigint)
         |      AS n00
         |  FROM s),
         |k AS (SELECT n11, n10, n01, n00,
         |    cast(n11 + n00 as double) / nd AS po,
         |    (cast(n11 + n10 as double) * cast(n11 + n01 as double)
         |     + cast(n01 + n00 as double) * cast(n10 + n00 as double))
         |      / (nd * nd) AS pe
         |  FROM (SELECT *,
         |      cast(n11 + n10 + n01 + n00 as double) AS nd FROM m))
         |SELECT n11, n10, n01, n00, round(po, 4) AS po,
         |  round(pe, 4) AS pe,
         |  round((po - pe) / (1.0 - pe), 4) AS kappa
         |FROM k""".stripMargin,

    // symmetrized edges ⋈ total degrees; exact decimal moment sums,
    // Pearson over both orientations (marginals symmetric)
    "q_graph_assortativity" ->
      s"""WITH b AS (SELECT vec_id, embedding, $bucketSql AS bucket
         |           FROM embeddings),
         |j AS (SELECT a.vec_id AS vec_id, q.vec_id AS nbr_id,
         |    $dotSql AS sim
         |  FROM b a JOIN b q ON a.bucket = q.bucket
         |  WHERE a.vec_id <> q.vec_id),
         |rnk AS (SELECT vec_id, nbr_id,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY sim DESC, nbr_id) AS rk
         |  FROM j),
         |e AS (SELECT vec_id, nbr_id FROM rnk WHERE rk <= 3),
         |und AS (SELECT DISTINCT least(vec_id, nbr_id) AS a,
         |    greatest(vec_id, nbr_id) AS b2 FROM e),
         |sym AS (SELECT a, b2 FROM und
         |  UNION ALL SELECT b2 AS a, a AS b2 FROM und),
         |deg AS (SELECT a AS node, count(*) AS deg FROM sym GROUP BY 1),
         |agg AS (SELECT count(*) AS m2,
         |    sum(cast(da.deg as hugeint)) AS sx,
         |    sum(cast(da.deg as hugeint) * da.deg) AS sxx,
         |    sum(cast(da.deg as hugeint) * db.deg) AS sxy
         |  FROM sym
         |  JOIN deg da ON da.node = sym.a
         |  JOIN deg db ON db.node = sym.b2)
         |SELECT cast(m2 / 2 as bigint) AS n_edges,
         |  round((cast(m2 as double) * cast(sxy as double)
         |      - cast(sx as double) * cast(sx as double))
         |    / (cast(m2 as double) * cast(sxx as double)
         |      - cast(sx as double) * cast(sx as double)), 4)
         |    AS assortativity
         |FROM agg""".stripMargin,

    // pooled doubled midranks off one running census sum; group rank
    // sums exact in HUGEINT; ONE fixed double tree for H + tie factor
    "q_stats_kruskal" ->
      """WITH census AS (
        |  SELECT cast(l_quantity as bigint) AS qv,
        |    count(CASE WHEN l_returnflag = 'A' THEN 1 END) AS na,
        |    count(CASE WHEN l_returnflag = 'N' THEN 1 END) AS nn,
        |    count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS nr
        |  FROM lineitem GROUP BY 1),
        |c AS (SELECT na, nn, nr, na + nn + nr AS dn,
        |    sum(na + nn + nr) OVER (ORDER BY qv
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM census),
        |a AS (SELECT
        |    cast(sum(na) as bigint) AS n_a,
        |    cast(sum(nn) as bigint) AS n_n,
        |    cast(sum(nr) as bigint) AS n_r,
        |    sum(cast(na as hugeint) * (2 * cum - dn + 1)) AS sa,
        |    sum(cast(nn as hugeint) * (2 * cum - dn + 1)) AS sn,
        |    sum(cast(nr as hugeint) * (2 * cum - dn + 1)) AS sr,
        |    sum(cast(dn as hugeint) * dn * dn - dn) AS tie3
        |  FROM c),
        |hh AS (SELECT n_a, n_n, n_r,
        |    12.0 / (nd * (nd + 1)) * (
        |      cast(sa as double) * cast(sa as double)
        |        / (4.0 * cast(n_a as double))
        |      + cast(sn as double) * cast(sn as double)
        |        / (4.0 * cast(n_n as double))
        |      + cast(sr as double) * cast(sr as double)
        |        / (4.0 * cast(n_r as double)))
        |      - 3.0 * (nd + 1) AS h,
        |    1.0 - cast(tie3 as double) / (nd * nd * nd - nd) AS corr
        |  FROM (SELECT *, cast(n_a + n_n + n_r as double) AS nd FROM a))
        |SELECT n_a, n_n, n_r, round(h, 4) AS h,
        |  round(h / corr, 4) AS h_tie_adj
        |FROM hh""".stripMargin,

    // r4'd confidence re-cast to exact decimal so (p−y)² sums order-free
    "q_eval_brier" ->
      s"""WITH $classifierCte,
         |b AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         |    cast(round((cast(score_int as double)
         |      / greatest(n_tokens, 1) + 100.0) / 200.0, 4)
         |      as decimal(9,4)) AS p
         |  FROM s)
         |SELECT count(*) AS n_docs, cast(sum(y) as bigint) AS n_pos,
         |  round(cast(sum((p - y) * (p - y)) as double) / count(*), 4)
         |    AS brier,
         |  round((cast(sum(y) as double) / count(*))
         |    * (1.0 - cast(sum(y) as double) / count(*)), 4)
         |    AS brier_baseline
         |FROM b""".stripMargin,

    // whole-cell population deciles off the descending census cumsum;
    // capture/lift divide exact longs
    "q_eval_lift" ->
      s"""WITH $classifierCte,
         |sc AS (SELECT
         |    cast(score_int as double) / greatest(n_tokens, 1) AS score,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
         |  FROM s),
         |census AS (SELECT score, cast(sum(pos) as bigint) AS n_pos,
         |    count(*) AS n_all
         |  FROM sc GROUP BY score),
         |tot AS (SELECT cast(sum(n_all) as bigint) AS n_total
         |  FROM census),
         |c AS (SELECT n_pos, n_all,
         |    sum(n_all) OVER (ORDER BY score DESC) AS cum_all
         |  FROM census),
         |d AS (SELECT
         |    cast((cum_all - 1) * 10 // n_total as bigint) AS decile,
         |    n_pos, n_all
         |  FROM c CROSS JOIN tot),
         |g AS (SELECT decile, cast(sum(n_all) as bigint) AS n_docs,
         |    cast(sum(n_pos) as bigint) AS n_pos
         |  FROM d GROUP BY 1),
         |f AS (SELECT decile, n_docs, n_pos,
         |    sum(n_docs) OVER (ORDER BY decile
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS cum_docs,
         |    sum(n_pos) OVER (ORDER BY decile
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS cum_pos,
         |    sum(n_docs) OVER () AS tot_docs,
         |    sum(n_pos) OVER () AS tot_pos
         |  FROM g)
         |SELECT decile, n_docs, n_pos,
         |  round(cast(cum_pos as double) / tot_pos, 4) AS capture,
         |  round((cast(cum_pos as double) / cum_docs)
         |    / (cast(tot_pos as double) / tot_docs), 4) AS cum_lift
         |FROM f ORDER BY decile""".stripMargin,

    // integer cross-multiplied bin + EXACT integer HALF_UP
    // quantization at BOTH levels ((2p + q) // 2q over non-negative
    // longs): per-doc confidence (r11 — round() on the double hit a
    // true decimal half-tie 0.25375 where DuckDB's binary round and
    // Spark's BigDecimal shortest-string round disagree) AND the bin
    // means/gap (r12 ADVICE — conf_sum4/n_docs is the same
    // small-integer-rational class one level up). Presentation is one
    // integer-by-10⁴ IEEE divide, identical in both engines.
    "q_eval_calibration" ->
      s"""WITH $classifierCte,
         |b AS (SELECT
         |    least(9, (score_int + 100 * greatest(n_tokens, 1))
         |      // (20 * greatest(n_tokens, 1))) AS bin,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
         |    (20000 * (score_int + 100 * greatest(n_tokens, 1))
         |      + 200 * greatest(n_tokens, 1))
         |      // (400 * greatest(n_tokens, 1)) AS conf4
         |  FROM s),
         |g AS (SELECT bin, count(*) AS n_docs,
         |    cast(sum(pos) as bigint) AS n_pos,
         |    cast(sum(conf4) as bigint) AS conf_sum4
         |  FROM b GROUP BY bin)
         |SELECT bin, n_docs, n_pos,
         |  ((2 * conf_sum4 + n_docs) // (2 * n_docs)) / 10000.0
         |    AS mean_conf,
         |  ((20000 * n_pos + n_docs) // (2 * n_docs)) / 10000.0
         |    AS pos_rate,
         |  abs((2 * conf_sum4 + n_docs) // (2 * n_docs)
         |    - (20000 * n_pos + n_docs) // (2 * n_docs)) / 10000.0
         |    AS gap
         |FROM g ORDER BY bin""".stripMargin,

    // distinct-score census, descending running totals, r4'd precision
    // re-cast to exact decimal before the weighted fold
    "q_eval_pr_auc" ->
      s"""WITH $classifierCte,
         |sc AS (SELECT
         |    cast(score_int as double) / greatest(n_tokens, 1) AS score,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
         |  FROM s),
         |census AS (SELECT score, cast(sum(pos) as bigint) AS n_pos,
         |    count(*) AS n_all
         |  FROM sc GROUP BY score),
         |c AS (SELECT n_pos, n_all,
         |    sum(n_pos) OVER (ORDER BY score DESC) AS cum_pos,
         |    sum(n_all) OVER (ORDER BY score DESC) AS cum_all
         |  FROM census)
         |SELECT cast(sum(n_pos) as bigint) AS n_pos,
         |  cast(sum(n_all) - sum(n_pos) as bigint) AS n_neg,
         |  CASE WHEN sum(n_pos) > 0 THEN
         |    round(cast(sum(n_pos * cast(
         |      round(cast(cum_pos as double) / cum_all, 4)
         |      as decimal(27,4))) as double) / sum(n_pos), 4)
         |    END AS avg_precision,
         |  CASE WHEN sum(n_all) > 0 THEN
         |    round(cast(sum(n_pos) as double) / sum(n_all), 4)
         |    END AS prevalence
         |FROM c""".stripMargin,

    // per-doc r4'd neg-logprob quantized to an exact long, census per
    // (lang, score), whole-cell tercile assignment on inclusive cums
    "q_quality_ccnet" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS token,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents),
        |tk AS (SELECT doc_id, pos, token FROM raw WHERE token <> ''),
        |tot AS (SELECT count(*) AS total FROM tk),
        |pr AS (
        |  SELECT token, -ln(cast(count(*) as double) / total) AS nlp
        |  FROM tk CROSS JOIN tot GROUP BY token, total),
        |d AS (
        |  SELECT doc_id, count(*) AS dl,
        |    list_sum(list(nlp ORDER BY pos)) AS sum_nlp
        |  FROM tk JOIN pr USING (token)
        |  GROUP BY doc_id),
        |nl AS (SELECT doc_id,
        |    cast(round(round(sum_nlp / dl, 4) * 10000) as bigint) AS nlp
        |  FROM d),
        |sc AS (SELECT doc.lang, nl.nlp
        |  FROM nl JOIN documents doc USING (doc_id)),
        |census AS (SELECT lang, nlp, count(*) AS n
        |  FROM sc GROUP BY 1, 2),
        |c AS (SELECT lang, nlp, n,
        |    sum(n) OVER (PARTITION BY lang ORDER BY nlp
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(n) OVER (PARTITION BY lang) AS n_lang
        |  FROM census),
        |b AS (SELECT lang,
        |    CASE WHEN cum * 3 <= n_lang THEN 'head'
        |         WHEN cum * 3 <= n_lang * 2 THEN 'middle'
        |         ELSE 'tail' END AS bucket,
        |    nlp, n
        |  FROM c)
        |SELECT lang, bucket, cast(sum(n) as bigint) AS n_docs,
        |  round(cast(sum(nlp * n) as double) / (10000.0 * sum(n)), 4)
        |    AS mean_neg_logprob
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // portable md5-prefix bucket; exact distinct loads per bucket
    "q_text_hashing_trick" ->
      """WITH raw AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |t2 AS (SELECT doc_id, token,
        |    ('0x' || substr(md5(token), 1, 8))::BIGINT % 64 AS bucket
        |  FROM raw WHERE token <> '')
        |SELECT bucket, count(*) AS total_tf,
        |  cast(count(DISTINCT doc_id) as bigint) AS n_docs,
        |  cast(count(DISTINCT token) as bigint) AS n_types
        |FROM t2 GROUP BY bucket ORDER BY bucket""".stripMargin,

    // same kNN edges as the jaccard twin; hub weights floor-quantized
    // to integer micro-units before the exact sum
    "q_graph_adamic_adar" ->
      s"""WITH b AS (SELECT vec_id, embedding, $bucketSql AS bucket
         |           FROM embeddings),
         |j AS (SELECT a.vec_id AS vec_id, q.vec_id AS nbr_id,
         |    $dotSql AS sim
         |  FROM b a JOIN b q ON a.bucket = q.bucket
         |  WHERE a.vec_id <> q.vec_id),
         |rnk AS (SELECT vec_id, nbr_id,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY sim DESC, nbr_id) AS rk
         |  FROM j),
         |e AS (SELECT vec_id, nbr_id FROM rnk WHERE rk <= 3),
         |hw AS (SELECT nbr_id AS h,
         |    cast(floor(1000000.0 / ln(count(*))) as bigint) AS w
         |  FROM e GROUP BY 1 HAVING count(*) >= 2),
         |co AS (SELECT e1.vec_id AS a, e2.vec_id AS b2,
         |    count(*) AS common, cast(sum(w) as bigint) AS aa_int
         |  FROM e e1 JOIN e e2 ON e1.nbr_id = e2.nbr_id
         |                      AND e1.vec_id < e2.vec_id
         |  JOIN hw ON hw.h = e1.nbr_id
         |  GROUP BY 1, 2),
         |adj AS (SELECT DISTINCT least(vec_id, nbr_id) AS a,
         |    greatest(vec_id, nbr_id) AS b2 FROM e)
         |SELECT co.a AS vec_a, co.b2 AS vec_b, common, aa_int,
         |  cast(aa_int as double) / 1000000.0 AS adamic_adar
         |FROM co
         |WHERE NOT EXISTS (SELECT 1 FROM adj
         |                  WHERE adj.a = co.a AND adj.b2 = co.b2)
         |ORDER BY aa_int DESC, vec_a, vec_b
         |LIMIT 20""".stripMargin,

    // exact 1e-4-unit series, per-type dense hour grid, pure-integer
    // linear interpolation between nearest observations
    "q_ts_interpolate" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |    cast(sum(cast(value as decimal(27,4))) * 10000 as bigint)
        |      AS q
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT event_type, min(h) AS lo, max(h) AS hi
        |  FROM hourly GROUP BY 1),
        |grid AS (SELECT event_type,
        |    unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
        |  FROM span),
        |j AS (SELECT g.event_type, g.h, hourly.q,
        |    epoch(g.h)::BIGINT // 3600 AS hh
        |  FROM grid g LEFT JOIN hourly
        |    ON g.event_type = hourly.event_type AND g.h = hourly.h),
        |f AS (SELECT event_type, h, q, hh,
        |    last_value(q IGNORE NULLS) OVER w1 AS pv,
        |    last_value(CASE WHEN q IS NOT NULL THEN hh END IGNORE NULLS)
        |      OVER w1 AS ph,
        |    first_value(q IGNORE NULLS) OVER w2 AS nv,
        |    first_value(CASE WHEN q IS NOT NULL THEN hh END IGNORE NULLS)
        |      OVER w2 AS nh
        |  FROM j
        |  WINDOW w1 AS (PARTITION BY event_type ORDER BY hh
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    w2 AS (PARTITION BY event_type ORDER BY hh
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        |SELECT event_type, h AS hour,
        |  cast(coalesce(q,
        |    (pv * (nh - hh) + nv * (hh - ph)) // (nh - ph)) as double)
        |    / 10000.0 AS revenue,
        |  CASE WHEN q IS NULL THEN 1 ELSE 0 END AS interpolated
        |FROM f ORDER BY event_type, hour""".stripMargin
  )

  val all: Map[String, String] = relational ++ aggregates ++ windows ++
    analytics ++ layout ++ round7 ++ round8 ++ round9 ++ round10 ++
    round11 ++ round11b ++ round11c ++ round12 ++ round13 ++ generators ++
    scalars ++ streaming ++ llm ++ Map(
    // latest-wins CDC apply: same synthesized changelog, window + full
    // outer join formulation (the Spark side's exact twin)
    "q_cdc_apply" ->
      """WITH chg AS (
        |  SELECT o_orderkey AS k, 'U' AS op,
        |    o_totalprice + 100.0 AS new_price,
        |    CAST(NULL AS VARCHAR) AS new_status, 1 AS seq
        |  FROM orders WHERE o_orderkey % 10 <= 1
        |  UNION ALL
        |  SELECT o_orderkey, 'D', NULL, NULL, 1
        |  FROM orders WHERE o_orderkey % 10 IN (2, 3)
        |  UNION ALL
        |  SELECT o_orderkey, 'I', o_totalprice, 'N', 1
        |  FROM orders WHERE o_orderkey % 10 >= 8
        |  UNION ALL
        |  SELECT o_orderkey, 'U', o_totalprice + 200.0, NULL, 2
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |latest AS (
        |  SELECT k, op, new_price, new_status FROM (
        |    SELECT chg.*, row_number()
        |      OVER (PARTITION BY k ORDER BY seq DESC) AS rn FROM chg)
        |  WHERE rn = 1),
        |snap AS (
        |  SELECT o_orderkey AS k, o_totalprice AS price,
        |    o_orderstatus AS status
        |  FROM orders WHERE o_orderkey % 10 < 8)
        |SELECT coalesce(s.k, l.k) AS k,
        |  CASE WHEN l.op IN ('U', 'I') THEN l.new_price
        |       ELSE s.price END AS price,
        |  coalesce(l.new_status, s.status) AS status
        |FROM snap s FULL JOIN latest l ON s.k = l.k
        |WHERE l.op IS NULL OR l.op <> 'D'
        |ORDER BY k""".stripMargin,

    // plain GROUP BY — salting is semantics-preserving by contract
    "q_agg_skew_salted" ->
      s"""SELECT CASE WHEN user_id % 10 < 7 THEN 'hot'
         |       ELSE 'u' || user_id END AS k,
         |  count(*) AS n,
         |  ${dsumDec(dec("value"))} AS sum_value
         |FROM events GROUP BY 1 ORDER BY k""".stripMargin,

    // rolling COUNT DISTINCT via day-grid range join (succinct, but
    // window-length × corpus pair space — the shape the Spark side's
    // bounded explode replaces at scale)
    "q_events_wau" ->
      """WITH ud AS (
        |  SELECT DISTINCT cast(ts as date) AS d, user_id FROM events),
        |days AS (SELECT DISTINCT d FROM ud)
        |SELECT days.d AS day, count(DISTINCT ud.user_id) AS wau
        |FROM days JOIN ud ON ud.d BETWEEN days.d - 6 AND days.d
        |GROUP BY days.d ORDER BY day""".stripMargin,

    // the oracle replays the delete arithmetic over the source table —
    // a pruning bug that missed/extra-dropped a file group can't match
    "q_delete_rewrite" ->
      s"""SELECT o_orderstatus, count(*) AS n,
         |  ${dsum("o_totalprice")} AS sum_price
         |FROM orders
         |WHERE NOT (o_orderkey BETWEEN 200 AND 499)
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_basket_pairs" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS item
        |            FROM lineitem),
        |n AS (SELECT count(*) AS n_orders FROM orders),
        |itemn AS (SELECT item, count(*) AS c FROM li GROUP BY item),
        |p AS (SELECT a.item AS item_a, b.item AS item_b,
        |        count(*) AS support
        |      FROM li a JOIN li b ON a.okey = b.okey AND a.item < b.item
        |      GROUP BY 1, 2)
        |SELECT item_a, item_b, support,
        |  cast(support * n_orders as double) / (ia.c * ib.c) AS lift
        |FROM p
        |JOIN itemn ia ON p.item_a = ia.item
        |JOIN itemn ib ON p.item_b = ib.item
        |CROSS JOIN n
        |WHERE support >= 3
        |ORDER BY support DESC, item_a, item_b LIMIT 20""".stripMargin,

    // scattered-delete twin: tombstone arithmetic replayed
    // tolerance as-of: max-click-in-[ts-10min, ts] ≡ latest click
    // NULLed when staler than the bound (all clicks below the stale
    // max are staler still)
    // same golden-angle coordinate derivation + planar wraparound
    // metric; the oracle replays from the base tables directly (the
    // landed catalog holds identical values)
    "q_spatial_cone" ->
      """WITH cat AS (
        |  SELECT p_partkey AS id,
        |    (p_partkey * cast(137.508 as double)) % cast(360 as double)
        |      AS ra,
        |    (p_partkey * cast(97.13 as double)) % cast(120 as double)
        |      - cast(60 as double) AS dec
        |  FROM part)
        |SELECT id, ra, dec,
        |  round(least(abs(ra - 180.0), 360.0 - abs(ra - 180.0))
        |      * least(abs(ra - 180.0), 360.0 - abs(ra - 180.0))
        |      + dec * dec, 4) AS dist2
        |FROM cat
        |WHERE ra >= 155.0 AND ra <= 205.0
        |  AND dec >= -25.0 AND dec <= 25.0
        |  AND least(abs(ra - 180.0), 360.0 - abs(ra - 180.0))
        |      * least(abs(ra - 180.0), 360.0 - abs(ra - 180.0))
        |      + dec * dec <= 625.0
        |ORDER BY id""".stripMargin,

    "q_spatial_zones_join" ->
      """WITH a AS (
        |  SELECT p_partkey AS a_id,
        |    (p_partkey * cast(137.508 as double)) % cast(360 as double)
        |      AS a_ra,
        |    (p_partkey * cast(97.13 as double)) % cast(120 as double)
        |      - cast(60 as double) AS a_dec
        |  FROM part),
        |b AS (
        |  SELECT s_suppkey AS b_id,
        |    (s_suppkey * cast(211.7 as double)) % cast(360 as double)
        |      AS b_ra,
        |    (s_suppkey * cast(53.77 as double)) % cast(120 as double)
        |      - cast(60 as double) AS b_dec
        |  FROM supplier)
        |SELECT a_id, b_id,
        |  round(least(abs(a_ra - b_ra), 360.0 - abs(a_ra - b_ra))
        |      * least(abs(a_ra - b_ra), 360.0 - abs(a_ra - b_ra))
        |      + (a_dec - b_dec) * (a_dec - b_dec), 4) AS dist2
        |FROM a JOIN b
        |  ON least(abs(a_ra - b_ra), 360.0 - abs(a_ra - b_ra))
        |      * least(abs(a_ra - b_ra), 360.0 - abs(a_ra - b_ra))
        |      + (a_dec - b_dec) * (a_dec - b_dec) <= 9.0
        |ORDER BY a_id, b_id""".stripMargin,

    // argmin per left object over the all-pairs matches, (d2, b_id)
    // total order — d2 compared UNROUNDED, exactly like the Spark side
    "q_spatial_best_match" ->
      """WITH a AS (
        |  SELECT p_partkey AS a_id,
        |    (p_partkey * cast(137.508 as double)) % cast(360 as double)
        |      AS a_ra,
        |    (p_partkey * cast(97.13 as double)) % cast(120 as double)
        |      - cast(60 as double) AS a_dec
        |  FROM part),
        |b AS (
        |  SELECT s_suppkey AS b_id,
        |    (s_suppkey * cast(211.7 as double)) % cast(360 as double)
        |      AS b_ra,
        |    (s_suppkey * cast(53.77 as double)) % cast(120 as double)
        |      - cast(60 as double) AS b_dec
        |  FROM supplier),
        |m AS (
        |  SELECT a_id, b_id,
        |    least(abs(a_ra - b_ra), 360.0 - abs(a_ra - b_ra))
        |      * least(abs(a_ra - b_ra), 360.0 - abs(a_ra - b_ra))
        |      + (a_dec - b_dec) * (a_dec - b_dec) AS d2
        |  FROM a JOIN b
        |    ON least(abs(a_ra - b_ra), 360.0 - abs(a_ra - b_ra))
        |        * least(abs(a_ra - b_ra), 360.0 - abs(a_ra - b_ra))
        |        + (a_dec - b_dec) * (a_dec - b_dec) <= 9.0),
        |r AS (SELECT a_id, b_id, d2,
        |        row_number() OVER (PARTITION BY a_id
        |          ORDER BY d2, b_id) AS rk
        |      FROM m)
        |SELECT a_id, b_id, round(d2, 4) AS dist2
        |FROM r WHERE rk = 1 ORDER BY a_id""".stripMargin,

    "q_join_asof_tolerance" ->
      """SELECT p.event_id, p.user_id, cast(p.ts as timestamp) AS ts,
        |  cast((SELECT max(c.ts) FROM events c
        |        WHERE c.user_id = p.user_id AND c.event_type = 'click'
        |          AND c.ts <= p.ts
        |          AND c.ts >= p.ts - INTERVAL 10 MINUTE) as timestamp)
        |    AS last_click_ts
        |FROM events p WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id""".stripMargin,

    // the oracle fingerprints the FULL table directly — the hash match
    // proves the snapshot+delta merge ≡ recompute
    // fp_sum folded mod 2^62 (matches graft.ops.Quality.FpMod) so the
    // output is a plain BIGINT on both engines — comparator-proof
    "q_fingerprint_incremental" ->
      """SELECT 'orders' AS table_name, count(*) AS n_rows,
        |  cast(sum(h) % 4611686018427387904 as bigint) AS fp_sum,
        |  bit_xor(h) AS fp_xor
        |FROM (SELECT ('0x' || substr(md5(concat_ws('|', o_orderkey,
        |        o_custkey, o_orderstatus,
        |        strftime(o_orderdate, '%Y-%m-%d %H:%M:%S.%f'),
        |        o_orderpriority)), 1, 12))::BIGINT AS h
        |      FROM orders)""".stripMargin,

    "q_delete_vectors" ->
      s"""SELECT o_orderstatus, count(*) AS n,
         |  ${dsum("o_totalprice")} AS sum_price
         |FROM orders
         |WHERE o_orderkey % 10 <> 3
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_customer_rfm" ->
      s"""WITH cust AS (
         |  SELECT o_custkey,
         |    date_diff('day', DATE '1970-01-01',
         |      cast(max(o_orderdate) as date)) AS r,
         |    count(*) AS f,
         |    ${dsum("o_totalprice")} AS m
         |  FROM orders GROUP BY o_custkey),
         |med AS (SELECT quantile_cont(r, 0.5) AS mr,
         |               quantile_cont(f, 0.5) AS mf,
         |               quantile_cont(m, 0.5) AS mm FROM cust),
         |seg AS (
         |  SELECT (CASE WHEN r > mr THEN 'R+' ELSE 'R-' END
         |       || CASE WHEN f > mf THEN 'F+' ELSE 'F-' END
         |       || CASE WHEN m > mm THEN 'M+' ELSE 'M-' END) AS segment,
         |    m
         |  FROM cust CROSS JOIN med)
         |SELECT segment, count(*) AS n_customers,
         |  ${dsum("m")} AS revenue
         |FROM seg GROUP BY segment ORDER BY segment""".stripMargin,

    "q_agg_histogram" ->
      """WITH st AS (SELECT min(value) AS vmin, max(value) AS vmax
        |            FROM events),
        |b AS (
        |  SELECT cast(least(floor((value - vmin) / ((vmax - vmin) / 10.0)),
        |         9) as int) AS bin,
        |    vmin, (vmax - vmin) / 10.0 AS w
        |  FROM events CROSS JOIN st)
        |SELECT bin, count(*) AS n,
        |  round(vmin + bin * w, 4) AS bin_lo,
        |  round(vmin + (bin + 1) * w, 4) AS bin_hi
        |FROM b GROUP BY bin, vmin, w ORDER BY bin""".stripMargin,

    "q_agg_mode" ->
      s"""WITH c AS (
         |  SELECT l_returnflag, cast(l_quantity as int) AS qty,
         |    count(*) AS n
         |  FROM lineitem GROUP BY 1, 2),
         |r AS (SELECT l_returnflag, qty, n,
         |        row_number() OVER (PARTITION BY l_returnflag
         |          ORDER BY n DESC, qty) AS rk
         |      FROM c)
         |SELECT l_returnflag, qty AS mode_qty, n AS n_occurrences
         |FROM r WHERE rk = 1 ORDER BY l_returnflag""".stripMargin,

    "q_events_pop" ->
      ("""WITH daily AS (
        |  SELECT event_type, cast(ts as date) AS day,
        |    """ + dsum("value") + """ AS revenue
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, day, revenue,
        |        lag(revenue) OVER (PARTITION BY event_type
        |          ORDER BY day) AS prev_revenue
        |      FROM daily)
        |SELECT event_type, day, revenue, prev_revenue,
        |  round((revenue - prev_revenue) / prev_revenue, 4) AS pct_change
        |FROM l ORDER BY event_type, day""").stripMargin,

    "q_events_churn" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    cast(date_trunc('week', cast(ts as timestamp)) as date) AS week
        |  FROM events),
        |l AS (SELECT user_id, week,
        |        lead(week) OVER (PARTITION BY user_id ORDER BY week)
        |          AS next_week
        |      FROM uw),
        |g AS (SELECT week, count(*) AS n_active,
        |        count(CASE WHEN next_week IS NULL
        |                     OR next_week > week + 7 THEN 1 END)
        |          AS n_churned
        |      FROM l GROUP BY week)
        |SELECT week, n_active, n_churned,
        |  cast(n_churned as double) / n_active AS churn_rate
        |FROM g ORDER BY week""".stripMargin,

    "q_events_transitions" ->
      """WITH s AS (
        |  SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY cast(ts as timestamp), event_id) AS next_type
        |  FROM events),
        |g AS (SELECT event_type AS prev_type, next_type, count(*) AS n
        |      FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n,
        |  cast(n as double)
        |    / cast(sum(n) OVER (PARTITION BY prev_type) as double) AS p
        |FROM g ORDER BY prev_type, next_type""".stripMargin,

    // identical canonical string + 48-bit md5 slice; hex→int spelled
    // DuckDB-style ('0x…'::BIGINT ≡ Spark's conv(…,16,10))
    "q_table_fingerprint" -> {
      def one(name: String, canon: String, table: String) =
        s"""SELECT '$name' AS table_name, count(*) AS n_rows,
           |  cast(sum(h) % 4611686018427387904 as bigint) AS fp_sum,
           |  bit_xor(h) AS fp_xor
           |FROM (SELECT ('0x' || substr(md5($canon), 1, 12))::BIGINT AS h
           |      FROM $table)""".stripMargin
      one("documents",
        "concat_ws('|', doc_id, lang, source, n_chars, text)",
        "documents") +
        "\nUNION ALL\n" +
        one("orders",
          "concat_ws('|', o_orderkey, o_custkey, o_orderstatus, " +
            "strftime(o_orderdate, '%Y-%m-%d %H:%M:%S.%f'), " +
            "o_orderpriority)",
          "orders") +
        "\nUNION ALL\n" +
        one("lineitem",
          "concat_ws('|', l_orderkey, l_partkey, l_suppkey, " +
            "l_linenumber, l_returnflag, l_linestatus, " +
            "strftime(l_shipdate, '%Y-%m-%d %H:%M:%S.%f'))",
          "lineitem") +
        "\nORDER BY table_name"
    },
    "q_agg_hash_q1" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsum("l_quantity")} AS sum_qty,
         |  ${dsum("l_extendedprice")} AS sum_base_price,
         |  ${dsumDec(s"${dec("l_extendedprice")} * (1 - ${dec("l_discount")})")} AS sum_disc_price,
         |  ${dsumDec(s"${dec("l_extendedprice")} * (1 - ${dec("l_discount")}) * (1 + ${dec("l_tax")})")} AS sum_charge,
         |  ${davg("l_quantity")} AS avg_qty,
         |  ${davg("l_extendedprice")} AS avg_price,
         |  ${davg("l_discount")} AS avg_disc,
         |  count(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin
  )
}
