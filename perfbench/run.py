#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload floor|log_stream \
        --seed N --seconds S --trace 0|1

Builds the program from source (perfbench/build.py), runs one workload in
one JVM (graft.perfbench.Main) over the tables in perfbench/data/sf0.01,
checks its outputs and prints one JSON line as the last line of stdout:
every end-to-end metric with --trace 0, every per-layer metric with
--trace 1. Diagnostics, including the metrics that apply to one workload
only, go to stderr; the traced run's spans are kept under
.bench_build/traces/. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
OUT = build.OUT
# the repository's sf0.01 test tables (TESTDATA.md, data seed 42), copied
# byte for byte so that a run reads nothing outside its checkout
DATA = Path(__file__).resolve().parent / "data" / "sf0.01"
JVM_TIMEOUT_S = 170
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

END_TO_END = {"setup_s": "s", "suite_s": "s", "op_s_p50": "s", "heap_live_mb": "MB"}
PER_LAYER = {
    "plan.count": "count", "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count", "exec.task_s": "s",
    "exec.task_cpu_s": "s", "exec.serde_s": "s", "exec.sched_delay_s": "s", "exec.job_s": "s",
    "exec.driver_s": "s", "exec.spill_bytes": "bytes", "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes", "shuffle.fetch_wait_s": "s", "scan.bytes": "bytes",
    "scan.files": "count", "jvm.gc_s": "s", "jvm.jit_s": "s", "jvm.cpu_s": "s", "jvm.kernel_s": "s",
    "jvm.wall_minus_cpu_s": "s", "host.steal_s": "s", "codegen.compiles": "count",
    "trace.suite_s": "s", "trace.op_s_p50": "s"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def heap_gb():
    """JVM heap as the repository's Tier-1 test run derives it: half of
    MemTotal in whole GiB, between 2 and 8."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        return min(8, max(2, kb // 2097152))
    except (OSError, StopIteration):
        return 2


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def oracles(classpath, data):
    """name -> cached oracle result for every query the query workloads
    check; the SQL comes from the registries, dumped once per build."""
    import check
    d = OUT / "oracle"
    d.mkdir(parents=True, exist_ok=True)
    sql = d / f"sql-{(OUT / 'classes.stamp').read_text()[:16]}.json"
    if not sql.is_file():
        subprocess.run(["java", "-cp", os.pathsep.join(classpath), "graft.perfbench.Oracles", str(sql)],
                       check=True)
    return check.expected(str(d), str(data), json.loads(sql.read_text()))


def cds_archive():
    """Class-data sharing: the first run of a build writes an archive of the
    classes it loaded, and later runs map it instead of loading and
    verifying Spark's classes again, which takes several seconds off JVM
    start. The archive is keyed on the build and the JVM."""
    jvm = subprocess.run(["java", "-version"], stderr=subprocess.PIPE, text=True).stderr
    key = hashlib.sha256(((OUT / "classes.stamp").read_text() + jvm).encode()).hexdigest()[:16]
    return OUT / f"cds-{key}.jsa"


def run_jvm(classpath, a, data, run_dir, budget_s):
    archive = cds_archive()
    dump = run_dir / "cds.jsa"
    cds = (f"-XX:SharedArchiveFile={archive}" if archive.is_file()
           else f"-XX:ArchiveClassesAtExit={dump}")
    # Pre-touching the initial heap pays the page faults at JVM start, as
    # the Tier-1 test run does, instead of in the middle of a timed pass;
    # the heap needs about 100 MB live, so 2g of it is enough to pre-touch
    cmd = ["java", *ADD_OPENS, cds,
           "-Xms2g", f"-Xmx{heap_gb()}g", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={run_dir}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", os.pathsep.join(classpath), "graft.perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--data", str(data), "--run", str(run_dir), "--cpus", str(cpus())]
    (run_dir / "tmp").mkdir(parents=True)
    with open(run_dir / "jvm.log", "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=run_dir,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM or Ctrl-C: never leave the JVM running
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc == 0 and dump.is_file():
        dump.replace(archive)
    if rc != 0:
        tail = (run_dir / "jvm.log").read_text(errors="replace").splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        raise SystemExit(f"[perfbench] JVM failed: {rc}")
    return json.loads((run_dir / "result.json").read_text())


def op_latencies(r):
    if "steps" in r:
        return [s["step_s"] for s in r["steps"] if s["phase"] == "timed"]
    return [o["wall_s"] for o in r["ops"]]


def correctness(r, expected, run_dir):
    """(attempted, failed) over the checked outputs and the timed operations."""
    if "checks" in r:
        for c in r["checks"]:
            log(f"check {c['name']}: {'ok' if c['ok'] else 'FAILED'} ({c['detail'][:200]})")
        bad = sum(not c["ok"] for c in r["checks"])
        return len(r["checks"]) + len(op_latencies(r)), bad
    import check
    res = check.check(str(run_dir), r["checked"], expected)
    for name, why in sorted(res.items()):
        if why:
            log(f"check {name}: FAILED ({why[:300]})")
    log(f"checked {len(res)} of {r['registry_size']} queries "
        f"({sum(1 for q in r['checked'] if q['name'] in expected)} against an oracle); "
        f"not run: {', '.join(r['excluded'])}")
    op_errors = [o for o in r["ops"] if o["error"]]
    for o in op_errors:
        log(f"timed {o['name']}: FAILED ({o['error']})")
    return len(res) + len(r["ops"]), sum(1 for v in res.values() if v) + len(op_errors)


def workload_extras(r):
    """Metrics that apply to one workload only: printed to stderr and kept
    in the trace file, not in the result line."""
    n = len(r["passes"])
    ops = op_latencies(r)
    x = {}
    q = stats.tail_level(len(ops))
    if q and q > 0.5:
        x[f"op_s_p{round(q * 100)}"] = stats.quantile(ops, q)
    x["op_samples"] = len(ops)
    if "ops" in r:
        builds = [o["build_s"] for o in r["ops"]]
        x["queries.build_s"] = sum(builds) / n
        x["queries.build_s_p50"] = stats.median(builds)
        for o in r["ops"]:
            k = f"queries.{o['family']}.s"
            x[k] = x.get(k, 0.0) + o["wall_s"] / n
    else:
        timed = [s for s in r["steps"] if s["phase"] == "timed"]
        produce = [s["produce_s"] for s in r["steps"]]
        tenth = max(1, len(produce) // 10)
        x.update({
            "read_s_p50": stats.median([s["read_s"] for s in timed]),
            "rows_per_s": sum(s["msgs"] for s in timed) / sum(s["step_s"] for s in timed),
            "restart_s": stats.median(r["restart_s"]),
            "storage.produce_s_p50": stats.median(produce),
            "storage.produce_s_p95": stats.quantile(produce, 0.95),
            "storage.produce_s_first": sum(produce[:tenth]) / tenth,
            "storage.produce_s_last": sum(produce[-tenth:]) / tenth,
            "storage.log_files": r["storage"]["log_files"],
            "storage.bytes_per_msg": r["storage"]["bytes_per_msg"],
            "streaming.join_s": sum(s["join_s"] for s in timed) / n,
            "streaming.state_rows_per_step": [s["state_rows"] for s in r["steps"]],
        })
        x.update({k: v / n if k.endswith("_ms") or k in ("streaming.batches", "streaming.input_rows",
                                                          "streaming.state_rows_removed",
                                                          "streaming.late_rows_dropped") else v
                  for k, v in r.get("layers", {}).items() if k.startswith("streaming.")})
    return x


def per_layer(r):
    n = len(r["passes"])
    layers = r["layers"]
    spans = r["spans"]
    top = [s for s in spans if s["kind"] in ("query", "step")]
    jobs = [s for s in spans if s["kind"] == "job"]
    job_s, driver_s = stats.job_cover(top, jobs)
    m = {k: layers.get(k, 0.0) / n for k in PER_LAYER if k.split(".")[0] in ("plan", "exec", "shuffle", "scan")}
    m.update({k: v / n for k, v in r["usage"].items()})
    m["exec.job_s"] = job_s / n
    m["exec.driver_s"] = driver_s / n
    m["trace.suite_s"] = stats.median(r["passes"])
    m["trace.op_s_p50"] = stats.median(op_latencies(r))
    return m


def self_by_kind(r):
    """Self time per span kind, per pass: each span's duration minus what its
    children cover, with jobs and micro-batches under the span they ran in."""
    n = len(r["passes"])
    spans = stats.link_by_time(r["spans"], ("job", "batch"))
    self_t = stats.self_times(spans)
    x = {}
    for s in spans:
        k = f"self.{s['kind']}_s"
        x[k] = x.get(k, 0.0) + self_t[s["id"]] / 1e3 / n
    return x


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["floor", "log_stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t0 = time.time()
    classpath = build.build()
    expected = oracles(classpath, DATA) if a.workload == "floor" else {}
    run_dir = OUT / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        r = run_jvm(classpath, a, DATA, run_dir, JVM_TIMEOUT_S)
        attempted, failed = correctness(r, expected, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    extras = workload_extras(r)
    if a.trace:
        metrics = per_layer(r)
        extras.update(self_by_kind(r))
        units = PER_LAYER
    else:
        ops = op_latencies(r)
        metrics = {"setup_s": stats.median(r["setup_s"]), "suite_s": stats.median(r["passes"]),
                   "op_s_p50": stats.median(ops), "heap_live_mb": r["heap_live_mb"]}
        units = END_TO_END
    traces = OUT / "traces"
    traces.mkdir(parents=True, exist_ok=True)
    (traces / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(json.dumps(
        {"metrics": metrics, "extras": extras, "setup_s": r["setup_s"], "passes": r["passes"],
         "ops": r.get("ops", r.get("steps")), "checked": r.get("checked"), "usage": r["usage"], "spans": r.get("spans", [])}))
    log(f"{a.workload} seed={a.seed} setup_s={r['setup_s']} passes={r['passes']} "
        f"wall={time.time() - t0:.1f}s")
    log("extras " + json.dumps(extras))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
