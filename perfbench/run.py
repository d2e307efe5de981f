#!/usr/bin/env python3
"""graft's benchmark: one closed-loop client, one query in flight.

    python3 perfbench/run.py --workload frame --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds the program
and the harness from source with sbt (perfbench/harness), later runs reuse
the build until a source file changes. Each run:

  1. copies the reference tables into the run's directory and, for a
     workload over corpus copies, derives k copies from --seed (inputs.py);
  2. starts one JVM (perfbench/harness) that sets up a SparkSession three
     times, each followed by a warm-up pass, then runs the timed passes
     (--seconds at the workload's nominal pass time, rounded to whole
     passes, at least three); every timed output must reproduce the digest
     of the first warm-up pass;
  3. checks each query's warm-up output against its SparkEntry.oracleSql
     run in DuckDB, with tools/check_oracle.py's comparison rules;
  4. prints one line per metric (`metric <name> <unit> <value>`) and, last,
     one JSON object with `correct`, `attempted`, `failed` and `metrics`.

--trace 0 reports the end-to-end metrics; --trace 1 alternates untraced and
traced passes and reports the per-layer metrics. Everything the run writes
stays under .perfbench/ in the checkout; traces are kept in
.perfbench/traces/, the rest is deleted when the run ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import inputs  # noqa: E402
from workloads import DROPPED, WORKLOADS  # noqa: E402

HARNESS = os.path.join("perfbench", "harness")
SETUPS = 3
MIN_PASSES = 3
RUN_LIMIT_S = 170            # a run must end within 180 s once built
KERNELS = ["graft_cosine", "graft_dot", "graft_normalize_ws",
           "graft_unicode_normalize", "graft_shingles", "graft_top_k",
           "graft_frequent_items", "graft_count_min", "graft_cm_estimate",
           "graft_jaro", "graft_jaro_winkler", "graft_luhn", "l2sq_hof"]
# operator families (graft.operators) some workload runs, in first-use order
FAMILIES = list(dict.fromkeys(
    f for w in WORKLOADS.values() for f in w["queries"].values() if f))
# every per-layer metric a traced run reports, in BENCHMARK.json's order
LAYER_METRICS = [
    "session.start_s", "session.warmup_s",
    "api.build_s", "api.build_jobs", "api.logical_nodes",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "catalyst.non_codegen_ops",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.job_s", "exec.task_run_s",
    "exec.task_cpu_s", "exec.shuffle_read_mb", "exec.shuffle_write_mb",
    "exec.spill_mb", "exec.input_rows",
    "driver.gap_s", "driver.gap_per_job_ms",
    *(f"operators.{f}.{m}" for f in FAMILIES for m in ("wall_s", "jobs")),
    *(f"functions.{k}.rows_per_s" for k in KERNELS),
    "streaming.batches", "streaming.add_batch_s", "streaming.query_planning_s",
    "streaming.wal_commit_s", "streaming.latest_offset_s",
    "streaming.state_rows", "streaming.state_mb",
    "storage.bytes_written_mb", "storage.files_written",
    "storage.write_commands", "storage.write_amp",
    "jvm.gc_s", "jvm.heap_after_gc_mb", "trace.overhead_frac",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---- build -----------------------------------------------------------------

def source_signature(root):
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha1()
    tops = ["build.sbt", "project/build.properties", "src/main",
            f"{HARNESS}/build.sbt", f"{HARNESS}/project/build.properties",
            f"{HARNESS}/src"]
    for top in tops:
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compiles graft and the harness; returns (classpath, jvm options)."""
    target = os.path.join(root, HARNESS, "target")
    launch, stamp = (os.path.join(target, n) for n in ("launch.txt", "launch.sig"))
    sig = source_signature(root)
    if not (os.path.exists(launch) and os.path.exists(stamp)
            and open(stamp).read() == sig):
        log("building graft and the harness with sbt")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
        t0 = time.monotonic()
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.server.autostart=false", "writeLaunch"],
            cwd=os.path.join(root, HARNESS), env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=800)
        if p.returncode != 0 or not os.path.exists(launch):
            sys.stderr.write(p.stdout[-4000:])
            fail("build failed", 3)
        with open(stamp, "w") as fh:
            fh.write(sig)
        log(f"built in {time.monotonic() - t0:.1f} s")
    lines = open(launch).read().splitlines()
    return lines[0], [o for o in lines[1:] if o and not o.startswith("-Xmx")]


# ---- inputs ----------------------------------------------------------------

def make_inputs(spec, seed, work):
    """Lays out the inputs; returns the directory the queries read and, for
    a workload over corpus copies, the directory of the same corpus at k=1
    (copy 0 alone)."""
    base = os.path.join(work, "data")
    inputs.reference(base)
    if not spec["copies"]:
        return base, None
    cur, one = os.path.join(work, "curation"), os.path.join(work, "curation1")
    inputs.curation_copies(base, cur, spec["copies"], seed)
    inputs.curation_copies(base, one, 1, seed)
    return cur, one


# ---- the JVM ---------------------------------------------------------------

def run_harness(root, cp, opts, conf, work, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={tmp}", *opts, "-cp", cp, "perfbench.Harness",
           *(f"{k}={v}" for k, v in conf.items())]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    with open(os.path.join(work, "jvm.log"), "w") as out:
        try:
            p = subprocess.run(cmd, cwd=root, env=env, stdin=subprocess.DEVNULL,
                               stdout=out, stderr=subprocess.STDOUT,
                               timeout=max(10.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            fail("the harness did not finish in time", 4)
    if p.returncode != 0 or not os.path.exists(conf["out"]):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"the harness exited with {p.returncode}", 4)
    with open(conf["out"]) as fh:
        return json.load(fh)


# ---- the DuckDB check --------------------------------------------------------

def oracle_check(root, data_dir, check_dir, oracle, work, deadline):
    """{query: error or ""}; check.py runs in its own process so a hung
    oracle fails the check instead of the run."""
    path = os.path.join(work, "oracle.json")
    with open(path, "w") as fh:
        json.dump(oracle, fh)
    try:
        p = subprocess.run([sys.executable, os.path.join(HERE, "check.py"), root,
                            data_dir, check_dir, path],
                           cwd=work, stdin=subprocess.DEVNULL, capture_output=True,
                           text=True, timeout=max(5.0, deadline - time.monotonic()))
        return json.loads(p.stdout.strip().splitlines()[-1])
    except (subprocess.TimeoutExpired, IndexError, ValueError):
        return {q: "the DuckDB check did not finish" for q in oracle}


# ---- metrics ---------------------------------------------------------------

def cpu_ticks():
    """(steal, total) clock ticks over all CPUs since boot, or None without
    /proc/stat. Steal is time a hypervisor gave this machine's CPUs to other
    guests: load from outside that the load average does not show."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
        return f[7], sum(f)
    except (OSError, ValueError, IndexError):
        return None


def tail(samples):
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it; the maximum when there are fewer than eleven."""
    s, n = sorted(samples), len(samples)
    if n < 11:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def end_to_end(res, bad):
    timed = [p for p in res["passes"] if not p["traced"]]
    lat = [q["wall_s"] for p in timed for q in p["queries"]]
    runs = [q for p in res["passes"] for q in p["queries"]]
    attempted = len(runs)
    failed = sum(1 for q in runs if not q["ok"] or bad.get(q["name"]))
    t, pct, n = tail(lat)
    metrics = {
        "setup_s": (statistics.median(s["total_s"] for s in res["setups"]), "s"),
        "pass_s": (statistics.median(p["wall_s"] for p in timed), "s"),
        "query_p50_s": (statistics.median(lat), "s"),
        "query_tail_s": (t, "s"),
        "ok_frac": (1.0 - failed / attempted, "ratio"),
    }
    notes = [f"query_tail_s is p{pct:.1f} of {n} samples",
             f"failed_frac {failed / attempted!r} ({failed} of {attempted})"]
    return metrics, attempted, failed, notes


def per_layer(res, spec):
    """(metrics, ok, notes). A metric of a layer the workload exercises
    must have a measurement; one it does not exercise reads 0 (its listener
    reported nothing) and a note says so."""
    traced = [p for p in res["passes"] if p["traced"]]
    plain = [p for p in res["passes"] if not p["traced"]]
    if not traced:
        return {}, False, ["FAIL no traced pass finished before the deadline"]
    runs = [q for p in traced for q in p["queries"]]

    def per_pass(f):
        return statistics.mean(sum(f(q) for q in p["queries"]) for p in traced)

    keys = {k for q in runs for k in q["layers"]}
    m = {k: per_pass(lambda q, k=k: q["layers"].get(k, 0.0)) for k in keys}
    if "exec.jobs" in m:
        m["driver.gap_per_job_ms"] = 1e3 * m["driver.gap_s"] / m["exec.jobs"]
    read = m.pop("storage.bytes_read_mb", 0.0)
    if read and "storage.files_written" in m:
        m["storage.write_amp"] = m["storage.bytes_written_mb"] / read
    m["session.start_s"] = statistics.median(s["start_s"] for s in res["setups"])
    m["session.warmup_s"] = statistics.median(s["warmup_s"] for s in res["setups"])
    for fam in FAMILIES:
        mine = {q for q, f in spec["queries"].items() if f == fam}
        if mine and any(q["name"] in mine for q in runs):
            m[f"operators.{fam}.wall_s"] = per_pass(
                lambda q: q["wall_s"] if q["name"] in mine else 0.0)
            m[f"operators.{fam}.jobs"] = per_pass(
                lambda q: q["layers"].get("exec.jobs", 0.0) if q["name"] in mine else 0.0)
    m.update({f"functions.{k}.rows_per_s": v for k, v in res["kernels"].items()})
    m["jvm.gc_s"] = statistics.mean(p["gc_s"] for p in traced)
    m["jvm.heap_after_gc_mb"] = res["passes"][-1]["heap_after_gc_mb"]
    untraced = statistics.median(p["wall_s"] for p in plain)
    m["trace.overhead_frac"] = statistics.median(
        p["wall_s"] for p in traced) / untraced - 1.0

    notes = ["jvm.heap_after_gc_mb per pass " + " ".join(
        f"{p['heap_after_gc_mb']:.1f}" for p in res["passes"])]
    # Listener times are whole milliseconds and the harness clock is
    # anchored to the same epoch, so a job or phase of this query lies
    # within a millisecond or two of [start, end]; more means an event was
    # attributed to the wrong query.
    outside = max(q["outside_ms"] for q in runs)
    ok = outside <= 2.0
    notes.append(f"jobs and Catalyst phases reach {outside:.3f} ms beyond their "
                 f"query's interval{'' if ok else ' FAIL: misattributed events'}")
    for name in spec["scaled"]:
        mine = [q for q in runs if q["name"] == name]
        if not mine:
            continue
        share = {k: statistics.mean(q["layers"].get(k, 0.0) / q["wall_s"] for q in mine)
                 for k in ("exec.job_s", "exec.task_run_s", "api.build_s",
                           "catalyst.analysis_s", "catalyst.optimization_s",
                           "catalyst.planning_s")}
        notes.append(
            f"share {name} of wall: exec.job_s {share['exec.job_s']:.2f}, "
            f"exec.task_run_s {share['exec.task_run_s']:.2f}, build+catalyst "
            f"{sum(v for k, v in share.items() if not k.startswith('exec')):.2f}")
    k1 = res.get("k1_input_rows") or {}
    if spec["copies"]:
        k = spec["copies"]
        for q in spec["scaled"]:
            rows_k = per_pass(lambda x, q=q: x["layers"].get("exec.input_rows", 0.0)
                              if x["name"] == q else 0.0)
            ratio = rows_k / k1[q] if k1.get(q) else 0.0
            scaled = 0.8 * k <= ratio <= 1.2 * k
            ok &= scaled
            notes.append(f"scaling {q} input_rows x{ratio:.2f} at k={k}"
                         f"{'' if scaled else ' FAIL: expected about x' + str(k)}")
    units = {"rows_per_s": "rows/s", "_ms": "ms", "_s": "s", "_mb": "MB",
             "frac": "ratio", "amp": "ratio"}
    out, missing, idle = {}, [], []
    for name in LAYER_METRICS:
        unit = next((u for suf, u in units.items() if name.endswith(suf)), "count")
        if name in m:
            out[name] = (m[name], unit)
        elif name.split(".")[0] in spec["layers"]:
            missing.append(name)
        else:
            idle.append(name)
            out[name] = (0.0, unit)
    if missing:
        ok = False
        notes.append("FAIL no measurement of " + " ".join(missing))
    if idle:
        notes.append("not exercised by this workload, so 0: " + " ".join(idle))
    return out, ok, notes


# ---- main ------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cores = min(4, os.cpu_count() or 1)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))
            and os.path.isfile(os.path.join(root, "tools", "check_oracle.py"))):
        fail("run from the root of a graft checkout (build.sbt, src/, tools/)")
    load_start = os.getloadavg()[0]
    cp, opts = build(root)
    deadline = time.monotonic() + RUN_LIMIT_S

    spec = WORKLOADS[a.workload]
    # whole passes at the workload's nominal pass time, at least MIN_PASSES
    # so pass_s is a median; a traced run alternates untraced and traced ones
    passes = max(MIN_PASSES, round(a.seconds / spec["pass_s"]))
    runs = os.path.join(root, ".perfbench", "runs")
    os.makedirs(runs, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-{a.seed}-", dir=runs)
    try:
        data, k1_data = make_inputs(spec, a.seed, work)
        conf = {"workload": a.workload, "data": data, "seed": a.seed,
                "passes": passes, "trace": a.trace, "cores": cores,
                "setups": SETUPS, "queries": ",".join(spec["queries"]),
                "work": work, "check_dir": os.path.join(work, "check"),
                "out": os.path.join(work, "result.json"),
                "spans": os.path.join(work, "spans.jsonl"),
                "deadline_ms": 1e3 * (time.time() + deadline - time.monotonic() - 25)}
        if a.trace:
            conf["kernel_data"] = data
            if k1_data:
                conf["scale_data"] = k1_data
                conf["scale_queries"] = ",".join(spec["scaled"])
        t0, ticks0 = time.monotonic(), cpu_ticks()
        res = run_harness(root, cp, opts, conf, work, deadline)
        t1, ticks1 = time.monotonic(), cpu_ticks()
        bad = oracle_check(root, data, conf["check_dir"], res["oracle_sql"],
                           work, deadline)
        log(f"harness {t1 - t0:.1f} s {res['phases']}, setups "
            f"{[round(x['total_s'], 2) for x in res['setups']]}, "
            f"DuckDB check {time.monotonic() - t1:.1f} s")
        if a.trace:
            traces = os.path.join(root, ".perfbench", "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(conf["spans"], os.path.join(
                traces, f"{a.workload}-seed{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics, attempted, failed, notes = end_to_end(res, bad)
    if len(res["passes"]) < res["passes_requested"]:
        notes.append(f"short run: {len(res['passes'])} of {res['passes_requested']} "
                     f"timed passes finished before the deadline")
    correct = failed == 0
    if a.trace:
        metrics, layers_ok, more = per_layer(res, spec)
        notes += more
        correct &= layers_ok
    load_end = os.getloadavg()[0]
    steal = None
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        steal = (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
    contended = load_start >= cores or (steal or 0.0) > 0.1
    notes.append(f"load_1m start {load_start:.2f} end {load_end:.2f}, cpu steal "
                 f"{'unknown' if steal is None else f'{steal:.3f}'} during the harness"
                 f"{' CONTENDED' if contended else ''}")
    if spec["copies"]:
        notes += [f"dropped {q}: {why}" for q, why in DROPPED.items()]
    for name, err in sorted(bad.items()):
        if err:
            notes.append(f"check {name}: {err}")
    for p in res["passes"]:
        for q in p["queries"]:
            if not q["ok"]:
                notes.append(f"failed {p['label']} {q['name']}: {q['err']}")
    walls = {}
    for p in res["passes"]:
        if not p["traced"]:
            for q in p["queries"]:
                walls.setdefault(q["name"], []).append(q["wall_s"])
    notes += [f"query {n} wall_s " + " ".join(f"{w:.3f}" for w in ws)
              for n, ws in sorted(walls.items())]
    for line in notes:
        print(f"note {line}")
    for name, (v, unit) in metrics.items():
        print(f"metric {name} {unit} {v!r}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {n: {"value": v, "unit": u}
                                  for n, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
