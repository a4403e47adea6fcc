#!/usr/bin/env python3
"""graft benchmark: runs one workload for a fixed time and prints its
metrics as one JSON line (the last line of standard output).

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds graft and the harness
(perfbench/build.py) and generates the input tables (perfbench/gendata.py)
under $CARGO_TARGET_DIR (default .bench_build); later runs reuse both.
Each run uses its own temporary root there for the entity store, the Spark
warehouse and Spark's local dirs, and deletes it when it exits.

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(README.md lists both). Full results, with the run stamp and every
layer metric, go to <build dir>/results/.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gendata  # noqa: E402
import stats  # noqa: E402
import workloads as wl  # noqa: E402

SF = 0.01
DATA_SEED = 42
HEAP = "3g"
JVM_TIMEOUT_S = 170
KNOBS = ("GRAFT_CKPT_MODE", "SPARK_GRAFT_SINK", "SPARK_GRAFT_ONLY")
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
MB = 1024.0 * 1024.0


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def cpu_times():
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f[:8]), f[7]          # total (user..steal), steal


def ensure_data(out):
    d = os.path.join(out, f"data-sf{SF}-{DATA_SEED}")
    stamp = os.path.join(d, ".done")
    if not os.path.exists(stamp):
        shutil.rmtree(d, ignore_errors=True)
        gendata.generate(d, SF, DATA_SEED)
        open(stamp, "w").close()
    return d


def customers(data_dir):
    """{custkey: (nationkey, acctbal in cents)} of the customer table."""
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(data_dir, "customer.parquet"),
                      columns=["c_custkey", "c_nationkey", "c_acctbal"])
    return {k: (n, round(b * 100)) for k, n, b in
            zip(*(t.column(i).to_pylist() for i in range(3)))}


def make_plan(workload, seed, seconds, trace, data_dir, tmp, cpus):
    spec = wl.WORKLOADS[workload]
    plan = {"workload": workload, "data_dir": data_dir, "store_root": os.path.join(tmp, "stores"),
            "seconds": seconds, "trace": bool(trace), "cpus": str(cpus),
            "reset_each_pass": spec["reset_each_pass"], "min_passes": spec["min_passes"],
            "warmup_passes": spec["warmup_passes"], "preload": []}
    # pass 0 is the setup pass, then the warm-up passes, the rest are timed
    n = 1 + spec["warmup_passes"] + wl.MAX_PASSES
    if workload == "store_rw":
        pre, plan["passes"], _ = wl.store_blocks(seed, n, customers(data_dir))
        plan["preload"] = [pre]
    else:
        plan["passes"] = [[{"kind": "query", "name": op} for op in p]
                          for p in wl.pass_orders(spec["ops"], seed, n)]
    return plan


# ---- correctness ---------------------------------------------------------

def check(raw, plan, golden, seed, data_dir):
    """Mark each op record (preload, setup and timed) ok/failed:
    an exception, a wrong row count or a wrong changed-row count. Check the
    store's final view against the model. Returns a list of failure
    descriptions for ops, and one for the final view if wrong."""
    problems = []
    expect = {}
    for p, ops in enumerate(plan["preload"] + plan["passes"], start=-len(plan["preload"])):
        for i, op in enumerate(ops):
            expect[(p, i)] = op
    seen = {}
    for r in raw["ops"]:
        i = seen.get(r["pass"], 0)
        seen[r["pass"]] = i + 1
        op = expect[(r["pass"], i)]
        if op["name"] != r["name"]:
            raise SystemExit(f"perfbench: op order mismatch at {r['pass']}/{i}")
        want = op.get("expect") if plan["workload"] == "store_rw" else golden.get(op["name"])
        if r["error"] is not None:
            r["failure"] = r["error"]
        elif want is None:
            r["failure"] = "no golden row count"
        elif want >= 0 and r["rows"] != want:
            r["failure"] = f"rows {r['rows']} != expected {want}"
        elif op.get("affected") is not None and r["affected"] != op["affected"]:
            r["failure"] = f"changed rows {r['affected']} != expected {op['affected']}"
        else:
            r["failure"] = None
        if r["failure"]:
            problems.append(f"{r['name']}: {r['failure']}")
    if plan["workload"] == "store_rw" and raw["store"] is not None:
        blocks = 1 + raw["warmup_passes"] + raw["passes"]
        _, _, model = wl.store_blocks(seed, blocks, customers(data_dir))
        ents, edges = model.view()
        got_ents = {e["key"]: (sorted(e["props"].items()), e["emb"])
                    for e in raw["store"]["entities"]}
        got_edges = sorted(tuple(e) for e in raw["store"]["edges"])
        if got_ents != ents:
            diff = sorted(k for k in set(ents) | set(got_ents) if ents.get(k) != got_ents.get(k))
            problems.append("final store entity view differs from the model at " + ", ".join(
                f"{k}: store {got_ents.get(k)} model {ents.get(k)}" for k in diff[:3]))
        if got_edges != edges:
            problems.append("final store edge view differs from the model")
        if raw["store"]["cust_rows"] != len(model.cust):
            problems.append("final cust row count differs from the model")
        if abs(raw["store"]["cust_acctbal"] - model.cust_acctbal_cents() / 100) > 0.005:
            problems.append("final sum(c_acctbal) of cust differs from the model")
    return problems


# ---- metrics -------------------------------------------------------------

def timed_ops(raw):
    return [r for r in raw["ops"] if r["phase"] == "timed"]


def end_to_end(raw, workload):
    # ops are queries and NQL statements; a store compaction is upkeep,
    # whose time counts in the timed wall but is not a sample of its own
    ok = [r for r in timed_ops(raw) if not r["failure"] and r["kind"] != "compact"]
    walls = [r["wall_s"] for r in ok]
    by_name = {}
    for r in ok:
        by_name.setdefault(r["name"], []).append(r["wall_s"])
    m = {
        "setup_s": (raw["session_start_s"] + raw["setup_s"], "s"),
        "ops_per_s": (len(ok) / raw["loop_s"], "1/s"),
        "query_p50_s": (stats.median(walls), "s"),
        "query_geomean_s": (stats.geomean(stats.median(v) for v in by_name.values()), "s"),
        "heap_retained_mb": (raw["heap_retained_bytes"] / MB, "MB"),
    }
    checked = raw["ops"]
    extra = {"failed_frac": (sum(1 for r in checked if r["failure"]) / len(checked), "ratio"),
             "query_p90_s": (stats.percentile(walls, 0.9), "s")}
    if workload == "store_rw":
        for kind in ("write", "read"):
            xs = [r["wall_s"] for r in ok if r["kind"] == kind]
            extra[f"{kind}_p50_s"] = (stats.median(xs), "s")
            extra[f"{kind}_p90_s"] = (stats.percentile(xs, 0.9), "s")
        st = raw["store"]
        extra["store_amp"] = (st["disk_bytes"] / st["live_bytes"], "ratio")
    return m, extra


def span_tree(ops, tr):
    """The traced run's span tree, op -> {parse, build, action} -> SQL
    execution -> job -> stage, as {span id: (parent id, start s, end s)}
    with each span's kind, plus each op's completed stages and SQL
    executions. Jobs reach their op through the job group (op id); a SQL
    execution or job hangs under the innermost span holding its start."""
    spans, kind = {}, {}
    per_op = {r["id"]: {"jobs": 0, "stages": [], "sql": []} for r in ops}

    def put(sid, k, parent, a, b):
        spans[sid], kind[sid] = (parent, a, b), k

    def holder(candidates, t):
        return next((c for c in candidates if spans[c][1] <= t <= spans[c][2]), None)

    children = {}
    for r in ops:
        t = r["start_ms"] / 1e3
        put(("op", r["id"]), "op", None, t, r["end_ms"] / 1e3)
        kids = []
        for k in ("parse", "build", "action"):
            d = r[f"{k}_s"]
            if d > 0:
                put((k, r["id"]), k, ("op", r["id"]), t, t + d)
                kids.append((k, r["id"]))
                t += d
        children[r["id"]] = kids
    ops_by_time = sorted(ops, key=lambda r: r["start_ms"])
    for i, q in enumerate(tr["sql"]):
        # analysis ran when the DataFrame was built; the execution starts
        # with optimization
        starts = [a for ph, (a, _) in q["phases"].items() if ph != "analysis"]
        a = (min(starts) if starts else q["end_ms"]) / 1e3
        b = max([e for _, e in q["phases"].values()] + [q["end_ms"]]) / 1e3
        mid = max([e for _, e in q["phases"].values()] or [q["end_ms"]]) / 1e3
        r = next((r for r in ops_by_time if r["start_ms"] / 1e3 <= mid <= r["end_ms"] / 1e3),
                 None)
        if r is None:
            continue
        per_op[r["id"]]["sql"].append(q)
        parent = holder(children[r["id"]], mid) or ("op", r["id"])
        put(("sql", i), "sql", parent, max(a, spans[parent][1]), b)
        children[r["id"]].append(("sql", i))
    stage_by_id = {}
    for s in tr["stages"]:
        stage_by_id.setdefault(s["stage"], []).append(s)
    op_of_group = {f"op-{r['id']}": r for r in ops}
    for j in tr["jobs"]:
        r = op_of_group.get(j["group"])
        if r is None:
            continue
        a, b = j["start_ms"] / 1e3, j["end_ms"] / 1e3
        sqls = [c for c in children[r["id"]] if c[0] == "sql"]
        parent = holder(sqls, a) or holder(children[r["id"]], a) or ("op", r["id"])
        put(("job", j["job"]), "job", parent, a, b)
        per_op[r["id"]]["jobs"] += 1
        for sid in j["stages"]:
            for s in stage_by_id.pop(sid, []):
                per_op[r["id"]]["stages"].append(s)
                put(("stage", sid, s["attempt"]), "stage", ("job", j["job"]),
                    s["start_ms"] / 1e3, s["end_ms"] / 1e3)
    return spans, kind, per_op


def per_layer(raw, cores, steal_frac):
    """Per-layer metrics of a traced run, as totals per timed pass (counts
    and seconds) or as ratios."""
    ops = timed_ops(raw)
    tr = raw["trace"]
    passes = raw["passes"]
    spans, kind, per_op = span_tree(ops, tr)
    selfs = stats.self_times(spans)

    # counters some workloads never touch read 0
    tot = dict.fromkeys(["nql.statements", "nql.parse_s", "nql.compile_s",
                         "unified.compact_s"], 0.0)

    def add(k, v):
        tot[k] = tot.get(k, 0.0) + v

    for r in ops:
        po = per_op[r["id"]]
        st = po["stages"]
        add("query.build_s", r["build_s"])
        add(f"{module_of_op(r)}.build_s", r["build_s"])
        add("action.wall_s", r["action_s"])
        for ph in ("analysis", "optimization", "planning"):
            add(f"catalyst.{ph}_s", sum((q["phases"][ph][1] - q["phases"][ph][0]) / 1e3
                                        for q in po["sql"] if ph in q["phases"]))
        add("catalyst.executions", len(po["sql"]))
        add("scheduler.jobs", po["jobs"])
        add("scheduler.stages", len(st))
        add("scheduler.tasks", sum(s["tasks"] for s in st))
        covered = stats.union_s([(s["start_ms"] / 1e3, s["end_ms"] / 1e3) for s in st],
                                r["start_ms"] / 1e3, r["end_ms"] / 1e3)
        add("scheduler.stage_s", covered)
        add("scheduler.driver_only_s", max(0.0, r["wall_s"] - covered))
        add("executor.run_s", sum(s.get("run_ms", 0) for s in st) / 1e3)
        add("executor.cpu_s", sum(s.get("cpu_ns", 0) for s in st) / 1e9)
        add("executor.gc_s", sum(s.get("gc_ms", 0) for s in st) / 1e3)
        for k in ("input", "shuffle_read", "shuffle_write", "spill", "result"):
            add(f"executor.{k}_mb", sum(s.get(f"{k}_bytes", 0) for s in st) / MB)
        add("op.wall_s", r["wall_s"])
        if r["kind"] in ("read", "write"):
            add("nql.statements", 1)
            add("nql.parse_s", r["parse_s"])
            add("nql.compile_s", r["build_s"])
        if r["kind"] == "compact":
            add("unified.compact_s", r["wall_s"])
        add("memo.builds", max(0, r["memo_after"] - r["memo_before"]))
        add("driver.gc_s", r["gc_ms"] / 1e3)
    for sid, k in kind.items():
        add(f"self.{k}_s", selfs[sid])
    m = {k: v / passes for k, v in tot.items()}
    m["executor.busy_frac"] = tot["executor.run_s"] / (tot["op.wall_s"] * cores)
    last = {}
    for r in ops:
        last[r["pass"]] = r
    m["memo.entries"] = stats.median([r["memo_after"] for r in last.values()])
    m["driver.heap_mb"] = stats.median([r["heap_used"] for r in ops]) / MB
    m["cache.rdds"] = stats.median([c["rdds"] for c in tr["cache"]])
    m["cache.mem_mb"] = stats.median([c["mem_bytes"] for c in tr["cache"]]) / MB
    logs = [r for r in ops if r["log_files"] >= 0]
    m["unified.log_files"] = max((r["log_files"] for r in logs), default=0)
    m["unified.log_mb"] = max((r["log_bytes"] for r in logs), default=0) / MB
    m["session.start_s"] = raw["session_start_s"]
    m["host.steal_frac"] = steal_frac
    m["trace.overhead_frac"] = raw["trace_overhead_s"] / raw["loop_s"]
    return m


def module_of_op(r):
    return "nql" if r["kind"] in ("read", "write") else \
        "unified" if r["kind"] == "compact" else wl.module_of(r["name"])


UNITS = {"_s": "s", "_mb": "MB", "_frac": "ratio"}


def unit_of(name):
    for suf, u in UNITS.items():
        if name.endswith(suf):
            return u
    return "count"


# ---- the harness JVM ------------------------------------------------------

CHILD = {"proc": None}


def stop_child():
    proc = CHILD["proc"]
    if proc is not None and proc.poll() is None:
        proc.kill()
        proc.wait()


def fresh_tmp(out, tag):
    tmp = os.path.join(out, "tmp", f"{tag}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "local"))
    return tmp


def run_harness(root, jar, plan, tmp, jvm_opts):
    """Runs perfbench.Harness on `plan` in the temporary root `tmp`, with
    its log in tmp/jvm.log. Returns (exit code or None on timeout, path of
    the raw record)."""
    plan_path, raw_path = os.path.join(tmp, "plan.json"), os.path.join(tmp, "raw.json")
    with open(plan_path, "w") as fh:
        json.dump(plan, fh)
    # jars listed one by one, in a fixed order: a class-data-sharing
    # archive is only mapped by a JVM with the class path it was made with
    jars = sorted(glob.glob(os.path.join(build.spark_jars(root), "*.jar")))
    cmd = (["java", f"-Xmx{HEAP}", "-Xss8m"] + jvm_opts
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
           + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}/local",
              f"-Dspark.sql.warehouse.dir={tmp}/warehouse", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              "-cp", os.pathsep.join([jar] + jars), "perfbench.Harness", plan_path, raw_path])
    # SPARK_LOCAL_DIRS, when set, wins over spark.local.dir
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "local"))
    with open(os.path.join(tmp, "jvm.log"), "w") as log:
        CHILD["proc"] = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=log,
                                         stderr=subprocess.STDOUT)
        try:
            code = CHILD["proc"].wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop_child()
            code = None
    return code, raw_path


def cds_archive(root, out, jar, digest, data_dir, cpus):
    """A class-data-sharing archive (JDK AppCDS) of the classes a run
    loads, made once per build by an untimed training run of the harness
    over every query op and one store block. Mapping the archive instead
    of loading and verifying Spark's classes from their jars takes ~5 s off
    the start of every run. It is a cache only: the classes and the code
    are the same. Returns its path, or None when the JVM could not make
    one (runs then load every class from the jars)."""
    jsa = os.path.join(out, "classes.jsa")
    stamp = jsa + ".stamp"
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return jsa if os.path.exists(jsa) else None
    for f in (jsa, stamp):
        if os.path.exists(f):
            os.remove(f)
    tmp = fresh_tmp(out, "cds")
    try:
        plan = make_plan("store_rw", 0, 0, 0, data_dir, tmp, cpus)
        queries = [{"kind": "query", "name": op} for op in wl.GRAPH_OPS + wl.SIMJOIN_OPS]
        plan["passes"] = [queries + plan["passes"][0]]
        plan["min_passes"] = plan["warmup_passes"] = 0
        code, _ = run_harness(root, jar, plan, tmp, [f"-XX:ArchiveClassesAtExit={jsa}.tmp"])
        if code == 0 and os.path.exists(jsa + ".tmp"):
            os.replace(jsa + ".tmp", jsa)
        else:
            sys.stderr.write(open(os.path.join(tmp, "jvm.log")).read()[-3000:])
            sys.stderr.write("perfbench: no class-data-sharing archive; runs load classes "
                             "from the jars\n")
    finally:
        stop_child()
        shutil.rmtree(tmp, ignore_errors=True)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return jsa if os.path.exists(jsa) else None


# ---- main ----------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    set_knobs = [k for k in KNOBS if os.environ.get(k)]
    if set_knobs:
        fail(f"refusing to run with program knobs set: {', '.join(set_knobs)}")
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the repository root (no src/main/scala/graft here)")
    if not os.path.exists(os.path.join(root, "BENCHMARK.json")):
        fail("no BENCHMARK.json in the working directory")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared = {k: [m["name"] for m in bench[k]] for k in ("end_to_end", "per_layer")}

    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(out, exist_ok=True)
    jar, digest = build.build(root, out)
    data_dir = ensure_data(out)
    cpus = len(os.sched_getaffinity(0))
    signal.signal(signal.SIGTERM, lambda *x: (stop_child(), sys.exit(3)))
    jsa = cds_archive(root, out, jar, digest, data_dir, cpus)
    tmp = fresh_tmp(out, "run")
    try:
        plan = make_plan(a.workload, a.seed, a.seconds, a.trace, data_dir, tmp, cpus)
        c0, s0 = cpu_times()
        t0 = time.time()
        code, raw_path = run_harness(root, jar, plan, tmp, [f"-XX:SharedArchiveFile={jsa}"]
                                     if jsa else [])
        c1, s1 = cpu_times()
        if code != 0 or not os.path.exists(raw_path):
            sys.stderr.write(open(os.path.join(tmp, "jvm.log")).read()[-6000:])
            fail(f"harness JVM {'timed out' if code is None else f'exited with {code}'}")
        with open(raw_path) as fh:
            raw = json.load(fh)
        steal = (s1 - s0) / max(1, c1 - c0)
        with open(os.path.join(HERE, "golden.json")) as fh:
            golden = json.load(fh)
        problems = check(raw, plan, golden, a.seed, data_dir)
        e2e, extra = end_to_end(raw, a.workload)
        layers = per_layer(raw, cpus, steal) if a.trace else {}
        stamp = {"commit": git_commit(root), "source_digest": digest, "nproc": cpus,
                 "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"), "heap": HEAP,
                 "heap_max_mb": raw["heap_max_bytes"] / MB,
                 "jdk": jdk_version(), "cds_archive": jsa is not None,
                 "seed": a.seed, "sf": SF, "data_seed": DATA_SEED,
                 "host.steal_frac": steal, "wall_s": time.time() - t0}
        failed = sum(1 for r in raw["ops"] if r["failure"])
        attempted = len(raw["ops"])
        if a.trace:
            names = declared["per_layer"]
            metrics = {n: {"value": layers[n], "unit": unit_of(n)} for n in names}
        else:
            metrics = {n: {"value": e2e[n][0], "unit": e2e[n][1]}
                       for n in declared["end_to_end"]}
        result = {"workload": a.workload, "trace": a.trace, "stamp": stamp,
                  "passes": raw["passes"], "problems": problems,
                  "end_to_end": {k: v[0] for k, v in e2e.items()},
                  "extra": {k: v[0] for k, v in extra.items()},
                  "per_layer": layers,
                  "setup_s": raw["setup_s"],
                  "ops": raw["ops"], "trace": raw["trace"]}
        os.makedirs(os.path.join(out, "results"), exist_ok=True)
        res_path = os.path.join(out, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
        with open(res_path, "w") as fh:
            json.dump(result, fh, indent=1)
        for p in problems[:20]:
            print(f"# FAILED {p}")
        for k, v in sorted(extra.items()):
            if v[0] is not None:
                print(f"# {k} = {v[0]:.6g} {v[1]}")
        if a.trace:
            for k in sorted(layers):
                print(f"# {k} = {layers[k]:.6g} {unit_of(k)}")
        print(f"# stamp {json.dumps(stamp)}")
        print(f"# full results: {res_path}")
        print(json.dumps({"correct": not problems, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        stop_child()
        shutil.rmtree(tmp, ignore_errors=True)


def git_commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def jdk_version():
    r = subprocess.run(["java", "-version"], capture_output=True, text=True)
    return (r.stderr.splitlines() or ["?"])[0]


if __name__ == "__main__":
    main()
