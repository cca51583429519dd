#!/usr/bin/env python3
"""Lakehouse benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds the library and the
harness from source with sbt (offline) into .bench_build/; later runs reuse
the build while the sources are unchanged. Each run generates its inputs
from the seed (gen.py), runs the workload in one JVM on local[nproc] as a
closed loop with one client, checks every output outside the timed regions
(check.py), and prints a report followed by one JSON line: end-to-end
metrics with --trace 0, per-layer metrics with --trace 1. Workload and
metric names, units and directions are read from BENCHMARK.json.

A run times ceil(--seconds / 10) whole blocks of the op stream (gen.py),
all of them, so every run of a workload times the same op kinds in the
same order however fast the host is. A traced run is compared with the
untraced run of the same seed for the tracing overhead, and makes that run
first when this checkout has no record of it.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORK = ROOT / ".bench_work"
LIB = ROOT / "src" / "main" / "scala" / "graft"
CONFIG = json.loads((HERE / "config.json").read_text())
sys.path[:0] = [str(HERE), str(ROOT / "tools")]     # gen, check; selfcheck
RUN_LIMIT_S = 170        # one invocation, build excluded
BUILD_LIMIT_S = 600      # a first run, build included, must end within 900 s

ADD_OPENS = [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def load_spec():
    """Workload names and every metric's name, unit and direction, as
    BENCHMARK.json at the checkout root declares them."""
    try:
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    return ([w["name"] for w in spec["workloads"]],
            [m["name"] for m in spec["end_to_end"]], [m["name"] for m in spec["per_layer"]],
            {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"] + spec["per_layer"]})


WORKLOADS, END_TO_END, PER_LAYER, METRIC = load_spec()
# the per-workload report metrics, exported as per-layer metrics under this prefix
REPORTED = "workload."


# ------------------------------------------------------------------- build

def build():
    """Compile the library and the harness; return the runtime classpath."""
    if not LIB.is_dir():
        fail(f"library sources not found at {LIB.relative_to(ROOT)}; "
             "run from the root of a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME must point at the Spark install whose jars/ the build uses")
    files = sorted(p for d in (ROOT / "src" / "main", HERE / "src") for p in d.rglob("*")
                   if p.is_file())
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    (BUILD / "tmp").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", PERFBENCH_TARGET=str(BUILD / "perfbench"))
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={BUILD / 'tmp'}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    t = time.time()
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env,
                           capture_output=True, text=True, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 1)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        fail("build failed", 1)
    cps = [ln for ln in p.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if not cps:
        fail("build printed no classpath", 1)
    cp_file.write_text(cps[-1].strip())
    stamp_file.write_text(stamp)
    print(f"built in {time.time() - t:.0f} s", file=sys.stderr)
    return cps[-1].strip()


# --------------------------------------------------------------------- run

def spark_conf():
    n = str(os.cpu_count() or 1)
    return {k: v.replace("NPROC", n) for k, v in CONFIG["spark_conf"].items()}


def untraced_record(workload, seed, params):
    """Where an untraced run leaves its op times, for the traced run of the
    same workload, seed and sizes to compare against."""
    sizes = hashlib.sha256(json.dumps(params, sort_keys=True).encode()).hexdigest()[:12]
    return WORK / "untraced" / f"{workload}-{seed}-{sizes}.json"


def run_once(workload, seed, seconds, trace, params, cp, deadline):
    """Generate, execute, check. Returns (e2e, report, layers, attempted,
    failed, msgs, info)."""
    import check
    import gen
    start = time.time()
    work = WORK / f"{workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    # set-up, part 1: input generation
    t = time.perf_counter()
    plan, info, facts = gen.generate(workload, seed, str(work), params, seconds)
    gen_s = time.perf_counter() - t
    plan["spark_conf"] = spark_conf()
    plan["rotate"] = seed
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    (work / "plan.json").write_text(json.dumps(plan))
    log = work / "jvm.log"
    jvm_start = time.time()
    cmd = (["java"] + CONFIG["jvm_options"] + [f"-Djava.io.tmpdir={work / 'tmp'}"] + ADD_OPENS
           + ["-cp", cp, "graft.perfbench.Main", workload, str(trace), str(work)])
    try:
        with open(log, "w") as lf:
            p = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT,
                               timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail(f"{workload}: the program did not finish in time", 1)
    if p.returncode != 0 or not (work / "result.json").exists():
        sys.stderr.write(log.read_text()[-6000:])
        fail(f"{workload}: the program failed (exit {p.returncode})", 1)
    result = json.loads((work / "result.json").read_text())
    jvm_end = time.time()
    stats = {}
    if workload == "medallion_batches":
        failed, msgs = check.check_medallion(result, facts)
    elif workload == "table_ops":
        failed, msgs = check.check_table_ops(result, facts)
    else:
        failed, msgs, stats = check.check_curation(result, facts)
        qfailed, qmsgs = check.check_query_mix(result, facts["sf_dir"])
        failed, msgs = failed + qfailed, msgs + qmsgs
    attempted = len(result["ops"])
    failed = min(failed, attempted)
    setup = result["setup"]
    e2e, report = end_to_end(workload, result, gen_s + sum(setup.values()),
                             failed / max(attempted, 1))
    times = [[o["kind"], o["cpu_s"]] for o in result["ops"]]
    rec = untraced_record(workload, seed, params)
    if trace:
        layers = per_layer(result, stats, report, overhead(times, rec))
    else:
        rec.parent.mkdir(parents=True, exist_ok=True)
        rec.write_text(json.dumps({"ops": times}))
        layers = {}
    shutil.rmtree(work, ignore_errors=True)
    info["setup_parts_s"] = {"generate": gen_s, **setup}
    info["wall_s"] = {"total": time.time() - start, "check": time.time() - jvm_end,
                      "jvm": jvm_end - jvm_start, "main": result["extra"]["main_wall_s"],
                      "loop": result["extra"]["loop_wall_s"]}
    info["blocks_timed"] = result["extra"]["blocks"]
    return e2e, report, layers, attempted, failed, msgs, info


def overhead(times, rec):
    """Tracing overhead: summed op CPU time of this traced run over that of the
    untraced run of the same workload, seed and sizes, on the ops both ran
    (the same stream, so the same ops in the same order), minus one."""
    base = json.loads(rec.read_text())["ops"]
    n = 0
    while n < min(len(times), len(base)) and times[n][0] == base[n][0]:
        n += 1
    if n == 0:
        fail("the traced and untraced runs share no ops", 1)
    return sum(s for _, s in times[:n]) / sum(s for _, s in base[:n]) - 1


def med(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(workload, result, setup_s, error_rate):
    ops = result["ops"]
    times = [o["s"] for o in ops]
    # process CPU seconds per timed op, JIT compiler threads left out
    # (Ctx.cpuNs): what the work costs; CPU time the host gives other
    # tenants (steal) is not in it, as it is in wall time
    e2e = {"cpu_s_per_op": (sum(o["cpu_s"] for o in ops) / len(ops), len(ops)),
           "setup_s": (setup_s, 1)}
    r = {"ops_per_s": (len(times) / sum(times), len(times)),
         "op_p50_s": (med(times), len(times)), "error_rate": (error_rate, len(ops)),
         "live_heap_peak_mb": (max(result["heap_mb"] or [0.0]), len(result["heap_mb"]))}

    def of(kinds):
        return [o for o in ops if o["kind"] in kinds]
    if workload == "medallion_batches":
        b = of({"batch"})
        r["batch_p50_s"] = (med([o["s"] for o in b]), len(b))
        r["ingest_rows_per_s"] = (sum(o["rows"] for o in b) / sum(o["s"] for o in b), len(b))
        r["write_amp"] = (sum(o["created_bytes"] for o in b) / sum(o["input_bytes"] for o in b),
                          len(b))
    elif workload == "table_ops":
        w = of({"mergeCommitDV", "mergeCommitPruned", "deleteWhere", "write"})
        rd = of({"readWhereEquals", "readWhere", "readVersion", "changes"})
        x = result["extra"]
        r["commit_p50_s"] = (med([o["s"] for o in w]), len(w))
        r["read_p50_s"] = (med([o["s"] for o in rd]), len(rd))
        r["write_amp"] = (sum(o["created_bytes"] for o in ops) /
                          max(1, sum(o["input_bytes"] for o in ops)), len(ops))
        r["space_amp"] = (x["table_bytes"] / max(1, x["compact_bytes"]), 1)
    else:
        c, s, q = of({"curate"}), of({"search"}), of({"query"})
        r["curate_docs_per_s"] = (c[0]["docs"] / med([o["s"] for o in c]) if c else 0.0, len(c))
        r["search_p50_s"] = (med([o["s"] for o in s]), len(s))
        by_q = defaultdict(list)
        for o in q:
            by_q[o["query"]].append(o["s"])
        r["query_p50_s"] = (med([o["s"] for o in q]), len(q))
        r["query_sum_s"] = (sum(med(v) for v in by_q.values()), len(q))
    return e2e, r


# ------------------------------------------------------------------ traces

def per_layer(result, stats, report, overhead):
    spans = result["spans"]
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)

    def jobs_under(s):
        out, stack = [], [s]
        while stack:
            for c in children[stack.pop()["id"]]:
                if c["kind"] == "job":
                    out.append(c)
                elif c["kind"] in ("op", "layer"):
                    stack.append(c)
        return out

    def call(s):
        jobs = jobs_under(s)
        stages = [st for j in jobs for st in children[j["id"]] if st["kind"] == "stage"]
        iv = sorted((max(j["start_s"], s["start_s"]), min(j["end_s"], s["end_s"])) for j in jobs)
        covered, end = 0.0, float("-inf")
        for a, b in iv:
            if b > end:
                covered += b - max(a, end)
                end = b
        m = {"wall_s": s["end_s"] - s["start_s"], "jobs": len(jobs), "stages": len(stages),
             "tasks": sum(st.get("tasks", 0) for st in stages)}
        m["driver_s"] = max(0.0, m["wall_s"] - covered)
        for k in ("task_cpu_s", "task_run_s", "sched_wait_s", "spill_mb", "shuffle_write_mb",
                  "output_mb", "input_mb"):
            m[k] = sum(st.get(k, 0.0) for st in stages)
        m["shuffle_mb"] = m["shuffle_write_mb"]
        if "created_bytes" in s and s.get("table_bytes"):
            m["rewrite_frac"] = s["created_bytes"] / s["table_bytes"]
        if s.get("files_total"):
            m["files_read_frac"] = s["files_read"] / s["files_total"]
        return m

    by_name = defaultdict(list)
    for s in spans:
        if s["kind"] == "layer" and s["parent"]:    # inside a timed op
            by_name[s["name"]].append(call(s))
    out = {n: 0.0 for n in PER_LAYER}
    for name, calls in by_name.items():
        for k in calls[0]:
            key = f"{name}.{k}"
            if key in out:
                out[key] = med([c.get(k, 0.0) for c in calls])
    extra = result["extra"]
    for k in ("log_versions", "live_files", "dv_files"):
        if k in extra:
            out[f"VersionedTable.{k}"] = extra[k]
    if stats:
        out["DedupOps.minhashLshPairs.pairs"] = stats["pairs"]
        out["DedupOps.minhashLshPairs.recall"] = stats["recall"]
    cached = [o["cached_mb_peak"] for o in result["ops"] if o.get("cached_mb_peak")]
    out["CacheScope.cached_mb_peak"] = max(cached or [0.0])
    ops = [s for s in spans if s["kind"] == "op"]
    per_op = [call(s) for s in ops]
    n_all = max(1, len(result["ops"]))
    for name in out:
        if name.startswith("spark.") and name != "spark.gc_s":
            k = name[len("spark."):]
            out[name] = statistics.mean(c[k] for c in per_op) if per_op else 0.0
    out["spark.gc_s"] = extra.get("gc_s", 0.0) / n_all
    out["jvm.jit_s"] = extra.get("jit_s", 0.0) / n_all
    out["trace.overhead_frac"] = overhead
    jobs = [s for s in spans if s["kind"] == "job"]
    windows = [(s["start_s"], s["end_s"]) for s in ops]
    in_ops = [j for j in jobs if j["parent"] or
              any(a <= j["start_s"] <= b for a, b in windows)]
    out["trace.linked_job_frac"] = (sum(1 for j in in_ops if j["parent"]) / len(in_ops)
                                    if in_ops else 0.0)
    for name, (v, _) in report.items():
        out[REPORTED + name] = v
    return out


# ------------------------------------------------------------------ output

def print_report(workload, seed, info, e2e, report, layers, msgs, trace):
    print(f"# workload {workload} seed {seed}: inputs "
          + json.dumps({k: (round(v, 4) if isinstance(v, float) else v)
                        for k, v in info.items()}))
    for name in END_TO_END:
        v, n = e2e[name]
        print(f"# e2e   {name:<22} {v:>14.6g} {METRIC[name][0]:<7} {METRIC[name][1]:<6} n={n}")
    for name, (v, n) in report.items():
        unit, better = METRIC[REPORTED + name]
        print(f"# report {name:<21} {v:>14.6g} {unit:<7} {better:<6} n={n}")
    for name, v in layers.items():
        print(f"# layer {name:<46} {v:>14.6g} {METRIC[name][0]:<6} {METRIC[name][1]}")
    for m in msgs[:20]:
        print(f"# CHECK FAILED: {m}")


def result_line(e2e, layers, attempted, failed, trace):
    if trace:
        metrics = {n: {"value": float(v), "unit": METRIC[n][0]} for n, v in layers.items()}
    else:
        metrics = {n: {"value": float(e2e[n][0]), "unit": METRIC[n][0]} for n in END_TO_END}
    return json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                       "metrics": metrics})


def with_queries(workload, params):
    if workload == "curation_queries":
        params = dict(params, query_mix=dict(params["query_mix"], queries=CONFIG["query_mix"]))
    return params


def selftest(cp):
    """Each workload once at the small (sf0.001-like) sizes, untraced then
    traced: every metric must be printed with its unit and direction."""
    ok = True
    for w in WORKLOADS:
        params = with_queries(w, CONFIG["workloads"][w]["selftest"])
        for trace in (0, 1):
            e2e, report, layers, att, failed, msgs, info = run_once(
                w, 1, 2, trace, params, cp, time.time() + RUN_LIMIT_S)
            line = json.loads(result_line(e2e, layers, att, failed, trace))
            want = PER_LAYER if trace else END_TO_END
            missing = [n for n in want if n not in line["metrics"]
                       or not line["metrics"][n]["unit"]]
            missing += [n for n in report if REPORTED + n not in METRIC]
            status = "ok" if not (missing or failed) else "FAIL"
            ok &= status == "ok"
            print(f"selftest {w:<18} trace={trace} attempted={att} failed={failed} "
                  f"metrics={len(line['metrics'])} missing={missing} {status}")
            for m in msgs[:5]:
                print(f"  check: {m}")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    cp = build()
    if a.selftest:
        sys.exit(0 if selftest(cp) else 1)
    params = with_queries(a.workload, CONFIG["workloads"][a.workload]["full"])
    deadline = time.time() + RUN_LIMIT_S
    if a.trace and not untraced_record(a.workload, a.seed, params).exists():
        # the overhead needs the untraced run of this seed: make it first
        run_once(a.workload, a.seed, a.seconds, 0, params, cp, deadline)
    e2e, report, layers, att, failed, msgs, info = run_once(
        a.workload, a.seed, a.seconds, a.trace, params, cp, deadline)
    print_report(a.workload, a.seed, info, e2e, report, layers, msgs, a.trace)
    print(result_line(e2e, layers, att, failed, a.trace))


if __name__ == "__main__":
    main()
