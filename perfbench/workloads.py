"""The benchmark's workloads and the seed -> operation-sequence generator.

An operation is one call a user makes: a `SparkEntry.queries` key or a
`DesDb.quick` SQL text. The program only ever sees the generated sequence
and SQL text (perfbench/run.py writes them into the plan the harness
reads).

The mix is assumed, not recorded: desdb's entry points (SURVEY.md, EP1
`des-query` and EP2 `Connection.quick`) forward arbitrary SQL, and no
record of what desdb users actually run exists. The templates, their
literals and the equal weights (each key and each template once per
pass) are a choice of this benchmark; a gain on `catalog_sql` is a gain
on this mix, not a measured gain for real users.

Every operation is oracle-backed: its golden row count and hash come from
DuckDB (make_goldens.py), never from the program being measured.
"""
import random

SF = "/root/testdata/sf0.01"

# ANSI `DesDb.quick` templates, TPC-H-style queries over the corpus views
# (assumed, see above): each runs unchanged on Spark and DuckDB.
# The seed picks one literal set per template per pass; goldens exist for
# every literal set, so any seed is checkable.
QUICK = {
    "pricing_summary": (
        "SELECT l_returnflag, l_linestatus, count(*) AS n_lines,"
        " sum(l_quantity) AS qty, sum(l_extendedprice) AS base,"
        " sum(l_extendedprice * (1 - l_discount)) AS disc_price,"
        " avg(l_discount) AS avg_disc FROM lineitem"
        " WHERE l_shipdate <= TIMESTAMP '{day} 00:00:00'"
        " GROUP BY l_returnflag, l_linestatus",
        [{"day": d} for d in ("1996-06-30", "1997-03-31", "1998-09-30",
                              "1999-06-30", "2000-03-31", "2001-06-30")]),
    "nation_revenue": (
        "SELECT n.n_name, count(*) AS n_lines,"
        " sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue"
        " FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey"
        " JOIN customer c ON o.o_custkey = c.c_custkey"
        " JOIN nation n ON c.c_nationkey = n.n_nationkey"
        " WHERE o.o_orderdate >= TIMESTAMP '{year}-01-01 00:00:00'"
        " AND o.o_orderdate < TIMESTAMP '{next}-01-01 00:00:00'"
        " GROUP BY n.n_name",
        [{"year": y, "next": y + 1} for y in range(1995, 2001)]),
    "segment_top_customers": (
        "SELECT c_mktsegment, c_custkey, total, rk FROM ("
        " SELECT c.c_mktsegment, c.c_custkey, sum(o.o_totalprice) AS total,"
        " rank() OVER (PARTITION BY c.c_mktsegment"
        " ORDER BY sum(o.o_totalprice) DESC, c.c_custkey) AS rk"
        " FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey"
        " WHERE o.o_orderpriority = '{prio}'"
        " GROUP BY c.c_mktsegment, c.c_custkey) t WHERE rk <= 5",
        [{"prio": p} for p in ("1-URGENT", "2-HIGH", "3-MEDIUM",
                               "4-NOT SPECIFIED", "5-LOW")]),
    "quantity_band": (
        "SELECT l_returnflag, count(*) AS n_lines, sum(l_quantity) AS qty,"
        " min(l_extendedprice) AS lo, max(l_extendedprice) AS hi"
        " FROM lineitem WHERE l_quantity BETWEEN {lo} AND {hi}"
        " AND l_discount >= {disc} GROUP BY l_returnflag",
        [{"lo": lo, "hi": lo + 5, "disc": d}
         for lo in (1, 16, 31, 45) for d in ("0.02", "0.07")]),
    "brand_in_subquery": (
        "SELECT p.p_brand, count(*) AS n_parts,"
        " avg(p.p_retailprice) AS avg_price FROM part p"
        " WHERE p.p_size = {size} AND p.p_partkey IN"
        " (SELECT l_partkey FROM lineitem WHERE l_quantity > {qty})"
        " GROUP BY p.p_brand",
        [{"size": s, "qty": q} for s in (3, 17, 29, 42) for q in (30, 45)]),
}

WORKLOADS = {
    # the desdb user: `DesDb.quick` SQL with seeded literals plus catalog
    # keys; sub-second, planning- and scan-bound; never touches Memo or
    # Tables.truncate
    "catalog_sql": {
        "cold_first": [],
        "keys": ["q_agg_hash_q1", "q_agg_rollup", "q_join_product_profit",
                 "q_win_rank", "q_subquery_exists", "q_source_catalog_pushdown"],
        "quick": list(QUICK),
    },
    # the curation pipeline: the cold pass opens with the memo triggers
    # in dependency order, so that every artifact is built by its own
    # trigger and no build runs inside another one (cluster-labels and
    # ctp-census read shingles, ctp-census reads dup-groups,
    # semantic-labels reads ann-pairs): jaccard_prefix builds shingles
    # and dup-groups, containment_prefix ctp-census, cluster
    # cluster-labels, embedding_ann ann-pairs, semantic_keep
    # semantic-labels. Warm passes re-run the consumers, which Memo serves
    "llm_dedup": {
        "cold_first": ["q_dedup_jaccard_prefix", "q_dedup_containment_prefix",
                       "q_dedup_cluster", "q_dedup_embedding_ann",
                       "q_dedup_semantic_keep"],
        "keys": ["q_dedup_cluster", "q_dedup_semantic_keep",
                 "q_dedup_cluster_keep", "q_dedup_cluster_stats",
                 "q_dedup_embedding_ann", "q_dedup_threshold_sweep"],
        "quick": [],
    },
}


def quick_op(template, i):
    sql, literals = QUICK[template]
    return {"id": f"quick.{template}.{i}", "kind": "quick",
            "sql": sql.format(**literals[i])}


def _pass(spec, rng):
    """One warm pass: every repeated operation of the workload once,
    literals drawn and order shuffled by `rng`."""
    ops = [{"id": k, "kind": "key", "key": k} for k in spec["keys"]]
    ops += [quick_op(t, rng.randrange(len(QUICK[t][1]))) for t in spec["quick"]]
    rng.shuffle(ops)
    return ops


def plan_ops(workload, seed, n_passes=64):
    """The whole operation sequence of one run, from the seed alone: the
    cold pass (the `cold_first` operations in their fixed order, then the
    rest of a pass in seeded order) and `n_passes` warm passes (the
    harness cycles them if a run outlasts them)."""
    spec = WORKLOADS[workload]
    rng = random.Random(f"{workload}:{seed}")
    first = [{"id": k, "kind": "key", "key": k} for k in spec["cold_first"]]
    rest = [op for op in _pass(spec, rng) if op["id"] not in spec["cold_first"]]
    return {"cold": first + rest,
            "passes": [_pass(spec, rng) for _ in range(n_passes)]}


def golden_ops():
    """Every operation any seed can generate, mapped to what DuckDB runs
    for its golden: (key whose oracle SQL to run, None) or (None, SQL)."""
    out = {}
    for spec in WORKLOADS.values():
        for k in spec["cold_first"] + spec["keys"]:
            out[k] = (k, None)
        for t in spec["quick"]:
            for i in range(len(QUICK[t][1])):
                out[f"quick.{t}.{i}"] = (None, quick_op(t, i)["sql"])
    return out
