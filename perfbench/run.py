#!/usr/bin/env python3
"""The desdbspark benchmark.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One closed-loop client runs the named workload (see workloads.py and
LAYERS.md) on a local[nproc] session over the sf0.01 corpus: set-up (JVM
start to session built and views registered), a cold pass (first use:
JIT, first codegen, memo builds), then whole warm passes until --seconds
have been measured. Every result is checked against the DuckDB goldens
in goldens.json.

Every metric prints as a bare `name value unit` line; the last line is
one JSON object with `correct`, `attempted`, `failed` and `metrics`
(the end-to-end metrics with --trace 0, the per-layer ones with
--trace 1).

The program is built from source on first use (sbt, offline) and rebuilt
whenever its sources change. Everything a run writes stays under
.bench_build/ in the checkout.
"""
import argparse
import concurrent.futures
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402
import workloads  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 175
MEMO_KINDS = ["shingles", "dup-groups", "cluster-labels", "ann-pairs",
              "semantic-labels", "ctp-census"]
# (name, unit, better, bound): what BENCHMARK.json declares; bound is the
# share of the parent's median a change may worsen the metric by
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("query_p50_ms", "ms", "lower", 0.25),
    ("query_p90_ms", "ms", "lower", 0.25),
    ("queries_per_s", "1/s", "higher", 0.25),
    ("pipeline_s", "s", "lower", 0.25),
    ("ok_ratio", "ratio", "higher", 0.01),
]
PER_LAYER = [
    ("ops.build_ms", "ms", "lower"),
    ("ops.build_self_ms", "ms", "lower"),
    ("ops.build_jobs", "count", "lower"),
    ("plans.plan_ms", "ms", "lower"),
    ("plans.plan_self_ms", "ms", "lower"),
    ("plans.analysis_ms", "ms", "lower"),
    ("plans.optimization_ms", "ms", "lower"),
    ("plans.planning_ms", "ms", "lower"),
    ("plans.graft_rule_ms", "ms", "lower"),
    ("exec.collect_ms", "ms", "lower"),
    ("exec.collect_self_ms", "ms", "lower"),
    ("exec.ms", "ms", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.task_cpu_s", "s", "lower"),
    ("exec.task_run_s", "s", "lower"),
    ("exec.sched_delay_ms", "ms", "lower"),
    ("exec.core_util", "ratio", "higher"),
    ("exec.shuffle_write_mb", "MB", "lower"),
    ("exec.shuffle_read_mb", "MB", "lower"),
    ("exec.spill_mb", "MB", "lower"),
    ("Tables.scan_mb", "MB", "lower"),
    ("Tables.scan_rows", "rows", "lower"),
    ("Tables.checkpoints", "count", "lower"),
    ("Tables.checkpoint_mb", "MB", "lower"),
    ("Memo.builds", "count", "lower"),
    ("Memo.build_s", "s", "lower"),
] + [(f"Memo.build_s.{k}", "s", "lower") for k in MEMO_KINDS] + [
    ("Memo.bytes_mb", "MB", "lower"),
    ("Memo.hit_ratio", "ratio", "higher"),
    ("sources.write_mb", "MB", "lower"),
    ("sources.write_rows", "rows", "lower"),
    ("jvm.gc_s", "s", "lower"),
    ("jvm.peak_heap_mb", "MB", "lower"),
    ("host.sentinel_ms", "ms", "lower"),
    ("host.sentinel_par_ms", "ms", "lower"),
    ("trace.overhead_pct", "%", "lower"),
]
# Spark 4 on JDK 17 outside spark-submit (the root build's javaOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sentinel_ms(_=None):
    """A fixed single-thread CPU loop: box load shows here, program
    changes cannot."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x = (x * 31 + i) & 0xFFFFFFFF
    return (time.perf_counter() - t0) * 1e3


def sentinels():
    """The loop alone, and its median time when one copy runs on every
    core at once: on a shared host the cores a VM really gets can swing
    between runs while a single thread barely notices."""
    with concurrent.futures.ProcessPoolExecutor(cpus()) as pool:
        par = statistics.median(pool.map(sentinel_ms, range(cpus())))
    return sentinel_ms(), par


def heap_size():
    """-Xmx by the repository's Tier-1 formula: half of RAM, 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def cpus():
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- build

def _sources():
    pats = ["build.sbt", "project/*.properties", "project/*.sbt",
            "src/main/**/*", "perfbench/build.sbt",
            "perfbench/project/*.properties", "perfbench/src/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def _stamp():
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


CLASSES = [os.path.join(ROOT, "target", "scala-2.13", "classes"),
           os.path.join(HERE, "target", "scala-2.13", "classes")]


def build(deadline):
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = _stamp()
    if all(os.path.isdir(c) for c in CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
        # sbt keeps its IPC sockets under java.io.tmpdir; the JVM's own
        # perf-data file would go to /tmp
        f"-Djava.io.tmpdir={os.path.join(WORK, 'sbt-tmp')}", "-XX:-UsePerfData"]))
    os.makedirs(os.path.join(WORK, "sbt-tmp"), exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                               cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL,
                               timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            fail(f"build timed out (log: {log})")
        except FileNotFoundError:
            fail("sbt not found")
    if r.returncode != 0:
        fail(f"build failed (log: {log})")
    with open(stamp_file, "w") as f:
        f.write(stamp)


# ---------------------------------------------------------------- run

def run_harness(plan, rundir, deadline):
    plan_path = os.path.join(rundir, "plan.json")
    out_path = os.path.join(rundir, "result.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xmx{heap_size()}", f"-Djava.io.tmpdir={tmp}",
            "-XX:-UsePerfData", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", ":".join(["/opt/spark/jars/*"] + CLASSES),
              "graft.perfbench.Harness", plan_path, out_path])
    log = os.path.join(rundir, "harness.log")
    with open(log, "w") as out:
        # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(rundir, "local"))
        p = subprocess.Popen(cmd, cwd=rundir, env=env, stdout=out,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("harness timed out")
    if rc != 0 or not os.path.exists(out_path):
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"harness exited {rc}:\n{tail}")
    with open(out_path) as f:
        return json.load(f)


# ---------------------------------------------------------------- analysis

def latency_ms(op):
    return op["build_ms"] + op["plan_ms"] + op["collect_ms"]


def check(ops, goldens):
    """Ids of the operations that threw or disagree with their golden."""
    bad = []
    for op in ops:
        g = goldens.get(op["id"])
        if "error" in op or g is None or \
                (op.get("rows"), op.get("hash")) != (g["rows"], g["hash"]):
            bad.append(op["id"])
    return bad


def end_to_end(res, ops):
    warm = [op for op in ops if op["phase"] == "warm" and "error" not in op]
    cold = [op for op in ops if op["phase"] == "cold"]
    lat = [latency_ms(op) for op in warm]
    tail, pct, n = stats.tail_percentile(lat)
    m = {
        "setup_s": res["setup_s"],
        "query_p50_ms": statistics.median(lat),
        "query_p90_ms": tail,
        "queries_per_s": len(lat) / res["warm_s"],
        "pipeline_s": sum(latency_ms(op) for op in cold) / 1e3,
    }
    info = [f"# query latency over n={n} warm operations in "
            f"{res['passes']} passes ({res['warm_s']:.1f} s); query_p90_ms is "
            f"p{pct * 100:.1f} (p90, or the highest percentile with >=10 "
            f"samples beyond it)"]
    return m, info


def _jobs_by_op(res):
    by = {}
    for j in res.get("jobs", []):
        parts = j["group"].split("-")
        if len(parts) == 3 and parts[0] == "op" and j["end_ms"] >= 0:
            by.setdefault(int(parts[1]), []).append(
                (parts[2], j["start_ms"], j["end_ms"], j["id"]))
    return by


PHASES = {"build": "ops.build", "plan": "plans.plan", "collect": "exec.collect"}


def op_spans(op, jobs):
    """One traced operation as spans: the operation, its three phase
    spans, and each Spark job under the phase that started it. All share
    the operation's sequence number as trace id; self time is a span's
    duration less the part of it its children cover."""
    s = op["start_ms"]
    ends = [s + op["build_ms"], s + op["build_ms"] + op["plan_ms"], s + latency_ms(op)]
    bounds = dict(zip(PHASES, zip([s] + ends[:2], ends)))
    out = [{"trace": op["seq"], "name": "op", "parent": None, "op": op["id"],
            "start_ms": s, "end_ms": ends[-1],
            "self_ms": stats.self_time((s, ends[-1]), bounds.values())}]
    for phase, (a, b) in bounds.items():
        kids = [(ja, jb) for q, ja, jb, _ in jobs if q == phase]
        out.append({"trace": op["seq"], "name": PHASES[phase], "parent": "op",
                    "start_ms": a, "end_ms": b, "jobs": len(kids),
                    "self_ms": stats.self_time((a, b), kids)})
    for q, ja, jb, jid in jobs:
        out.append({"trace": op["seq"], "name": "spark.job", "parent": PHASES[q],
                    "job": jid, "start_ms": ja, "end_ms": jb, "self_ms": jb - ja})
    return out


def per_layer(res, ops, cores, sentinel):
    jobs = _jobs_by_op(res)
    groups = res.get("groups", {})
    traced = [op for op in ops if op["traced"] and "error" not in op]
    n = max(1, len(traced))
    acc = {}
    spans = []

    def add(k, v):
        acc[k] = acc.get(k, 0.0) + v

    for op in traced:
        js = jobs.get(op["seq"], [])
        mine = op_spans(op, js)
        spans += mine
        sp = {x["name"]: x for x in mine if x["name"] != "spark.job"}
        add("ops.build_ms", op["build_ms"])
        add("ops.build_self_ms", sp["ops.build"]["self_ms"])
        add("ops.build_jobs", sp["ops.build"]["jobs"])
        add("plans.plan_ms", op["plan_ms"])
        add("plans.plan_self_ms", sp["plans.plan"]["self_ms"])
        for ph in ("analysis", "optimization", "planning"):
            add(f"plans.{ph}_ms", op.get("planning_ms", {}).get(ph, 0))
        add("plans.graft_rule_ms", op.get("graft_rule_ns", 0) / 1e6)
        add("exec.collect_ms", op["collect_ms"])
        add("exec.collect_self_ms", sp["exec.collect"]["self_ms"])
        add("exec.ms", stats.covered((sp["op"]["start_ms"], sp["op"]["end_ms"]),
                                     [(a, b) for _, a, b, _ in js]))
        add("exec.jobs", len(js))
        for ph in PHASES:
            g = groups.get(f"op-{op['seq']}-{ph}")
            if not g:
                continue
            add("exec.stages", g["stages"])
            add("exec.tasks", g["tasks"])
            add("exec.task_cpu_s", g["task_cpu_ns"] / 1e9)
            add("exec.task_run_s", g["task_run_ms"] / 1e3)
            add("_sched_delay_ms", g["sched_delay_ms"])
            add("exec.shuffle_write_mb", g["shuffle_write_bytes"] / 2**20)
            add("exec.shuffle_read_mb", g["shuffle_read_bytes"] / 2**20)
            add("exec.spill_mb", g["spill_bytes"] / 2**20)
            add("Tables.scan_mb", g["input_bytes"] / 2**20)
            add("Tables.scan_rows", g["input_records"])
            add("sources.write_mb", g["output_bytes"] / 2**20)
            add("sources.write_rows", g["output_records"])
        add("Tables.checkpoints", op["checkpoints"])
        add("Tables.checkpoint_mb", op["checkpoint_bytes"] / 2**20)
        add("jvm.gc_s", op["gc_ms"] / 1e3)

    m = {k: v / n for k, v in acc.items() if not k.startswith("_")}
    m["exec.sched_delay_ms"] = acc.get("_sched_delay_ms", 0.0) / max(1.0, acc.get("exec.tasks", 0.0))
    m["exec.core_util"] = (acc.get("exec.task_run_s", 0.0) * 1e3 /
                           max(1e-9, acc.get("exec.ms", 0.0) * cores))

    built = res["memo_build_s"]
    hits = sum(op["memo_hits"] for op in traced)
    builds = sum(len(op["memo_built"]) for op in traced)
    m["Memo.builds"] = len(built)
    # the cold pass runs the memo triggers in dependency order, so no
    # build times another one inside it and the sum is the builds' wall
    # time
    m["Memo.build_s"] = sum(built.values())
    for kind in MEMO_KINDS:
        m[f"Memo.build_s.{kind}"] = built.get(kind, 0.0)
    m["Memo.bytes_mb"] = res["memo_bytes"] / 2**20
    m["Memo.hit_ratio"] = hits / (hits + builds) if hits + builds else 0.0
    m["jvm.peak_heap_mb"] = res["peak_heap_mb"]
    m["host.sentinel_ms"] = statistics.mean(one for one, _ in sentinel)
    m["host.sentinel_par_ms"] = statistics.mean(par for _, par in sentinel)

    # tracing overhead: per operation, the median of its traced cost
    # (latency with the listener attached, plus the recording around it)
    # over the median of its latency in the untraced passes of the run
    by_id = {}
    for op in ops:
        if op["phase"] == "warm" and "error" not in op:
            cost = latency_ms(op) + op.get("record_ms", 0.0)
            by_id.setdefault(op["id"], ([], []))[0 if op["traced"] else 1].append(cost)
    ratios = [statistics.median(a) / statistics.median(b) for a, b in by_id.values()
              if a and b and statistics.median(b) > 0]
    m["trace.overhead_pct"] = (statistics.median(ratios) - 1) * 100 if ratios else 0.0
    info = [f"# per-layer values are means per traced operation, cold pass and "
            f"traced warm passes (n={len(traced)}), except Memo.*, exec.core_util, "
            f"exec.sched_delay_ms (per task), jvm.peak_heap_mb, host.* and trace.*",
            "# memo builds: " + ("; ".join(
                f"{op['id']}: {' '.join(op['memo_built'])}"
                for op in traced if op["memo_built"]) or "none")]
    return m, info, spans


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.monotonic()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        fail(f"no program sources under {ROOT}/src/main/scala")
    if not os.path.isdir(workloads.SF):
        fail(f"corpus {workloads.SF} not found")
    with open(os.path.join(HERE, "goldens.json")) as f:
        goldens = json.load(f)
    if goldens["sf"] != workloads.SF:
        fail(f"goldens are for {goldens['sf']}, not {workloads.SF}")
    goldens = goldens["ops"]

    sentinel = [sentinels()]
    os.makedirs(WORK, exist_ok=True)
    # the first run in a checkout builds, and may take longer
    first = not os.path.exists(os.path.join(WORK, "build.stamp"))
    deadline = started + (880 if first else DEADLINE_S)
    build(deadline)

    rundir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    try:
        plan = dict(workloads.plan_ops(args.workload, args.seed),
                    sf=workloads.SF, cpus=cpus(),
                    trace=bool(args.trace), seconds=args.seconds,
                    canon_vectors=os.path.join(HERE, "canon_vectors.json"),
                    warehouse=os.path.join(rundir, "warehouse"),
                    local_dir=os.path.join(rundir, "local"))
        res = run_harness(plan, rundir, deadline)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    sentinel.append(sentinels())

    ops = [op for op in res["ops"] if op["phase"] in ("cold", "warm")]
    bad = check(ops, goldens)
    e2e, info = end_to_end(res, ops)
    e2e["ok_ratio"] = (len(ops) - len(bad)) / len(ops)
    layer, linfo = {}, []
    if args.trace:
        layer, linfo, spans = per_layer(res, ops, cpus(), sentinel)
        trace_dir = os.path.join(WORK, "last_trace")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}.spans.jsonl"), "w") as f:
            f.writelines(json.dumps(x) + "\n" for x in spans)
        linfo.append(f"# spans: {os.path.relpath(f.name, ROOT)}")

    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} cores={cpus()} sf={workloads.SF}")
    for line in info + linfo:
        print(line)
    print(f"failed_ratio {len(bad) / len(ops):.6f} ratio")
    if bad:
        print("# failing operations: " + " ".join(sorted(set(bad))))
    for when, (one, par) in zip(("start", "end"), sentinel):
        print(f"host.sentinel_{when}_ms {one:.3f} ms")
        print(f"host.sentinel_par_{when}_ms {par:.3f} ms")
    table = [(n, u) for n, u, *_ in END_TO_END]
    if args.trace:
        table += [(n, u) for n, u, _ in PER_LAYER]
    values = {**e2e, **layer}
    for name, unit in table:
        print(f"{name} {values[name]:.6g} {unit}")
    shown = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "correct": not bad, "attempted": len(ops), "failed": len(bad),
        "metrics": {n: {"value": values[n], "unit": u} for n, u, *_ in shown},
    }))


if __name__ == "__main__":
    main()
