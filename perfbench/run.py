#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds graft and the benchmark's Scala
code from source on first use (sbt, into perfbench/target), makes the
workload's inputs from the seed, runs it in one JVM
(`GraftSession.local(nproc)`, one client thread), checks the outputs,
prints a human-readable report, and prints one JSON object as the last
line of standard output: the end-to-end metrics of BENCHMARK.json with
`--trace 0`, its per-layer metrics with `--trace 1`. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
JVM_TIMEOUT_S = 170
RUN_LIMIT_S = 178  # a run, after the build, must end within 180 s
START = time.time()
WORKLOADS = ("knn_exact", "ann_build_serve", "dedup_pipeline", "query_mix")
# Input sizes of the generated data (the vector workloads size theirs in
# perfbench/src/main/scala/perfbench/Workloads.scala).
MIX_SF = 0.01
DEDUP_BASE_DOCS, DEDUP_REPLICAS, DEDUP_ARRIVALS = 1000, 4, 2000


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def die(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


def spark_jars(root):
    """The Spark jar directory the repository's own build compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  open(os.path.join(root, "build.sbt")).read())
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    die("no Spark jar directory (set SPARK_HOME)")


def build(root, jars):
    """Compile graft + the benchmark unless the sources are unchanged since
    the last build in this checkout."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(f.encode())
        h.update(open(f, "rb").read())
    stamp_path = os.path.join(WORK, "build.stamp")
    stamp = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_path) and open(stamp_path).read() == stamp:
        return
    env = dict(os.environ, PERFBENCH_SPARK_JARS=jars, COURSIER_MODE="offline")
    # offline, no sbt server (its socket would live outside the checkout)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-XX:-UsePerfData", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("perfbench: building graft and the benchmark (sbt compile)")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0:
        die(f"build failed (exit {r.returncode})", 3)
    os.makedirs(WORK, exist_ok=True)
    with open(stamp_path, "w") as f:
        f.write(stamp)
    log(f"perfbench: built in {time.time() - t0:.0f} s")


def jvm_args(jars, run_dir):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    args = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
    for p in opens:
        args += ["--add-opens", f"{p}=ALL-UNNAMED"]
    args += [f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={os.path.join(run_dir, 'local')}",
             f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
             f"-Dderby.system.home={run_dir}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", CLASSES + os.pathsep + os.path.join(jars, "*"), "perfbench.Main"]
    return args


def run_jvm(cmd, cwd):
    """Run the benchmark JVM; returns (exit code, peak RSS in MB of the JVM).
    The JVM is killed and reaped if it overruns or this process is
    interrupted or terminated."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.time() + JVM_TIMEOUT_S
    try:
        while time.time() < deadline:
            pid, status, ru = os.wait4(p.pid, os.WNOHANG)
            if pid == p.pid:
                p.returncode = os.waitstatus_to_exitcode(status)
                return p.returncode, ru.ru_maxrss / 1024.0
            time.sleep(0.05)
        log(f"perfbench: benchmark JVM killed after {JVM_TIMEOUT_S} s")
        return -9, 0.0
    finally:
        if p.returncode is None:
            os.killpg(p.pid, signal.SIGKILL)
            os.wait4(p.pid, 0)
            p.returncode = -9


def tail_percentile(samples):
    """The highest percentile with at least ten samples beyond it: the
    (n-10)-th smallest of n samples, at percentile 100*(n-10)/n. Below
    20 samples that would fall under the median, so the median is
    reported. Returns (percentile, value, samples beyond)."""
    s = sorted(samples)
    n = len(s)
    if n >= 20:
        return 100.0 * (n - 10) / n, s[n - 11], 10
    return 50.0, statistics.median(s), n // 2


def oracle_compare(root, data_dir, mix_out):
    """Each mix key's rows against its oracle SQL in DuckDB, by the
    repository's own compare (tools/compare.py reads mix_out/<key>/ and
    mix_out/oracle_sql.json). Returns ({key: ok}, seconds the compare
    took: reading graft's rows, running the oracle SQL, comparing)."""
    keys = json.load(open(os.path.join(mix_out, "oracle_sql.json")))
    t0 = time.perf_counter()
    r = subprocess.run([sys.executable, os.path.join(root, "tools", "compare.py"), data_dir, mix_out],
                       capture_output=True, text=True, stdin=subprocess.DEVNULL,
                       timeout=max(1.0, RUN_LIMIT_S - (time.time() - START)))
    secs = time.perf_counter() - t0
    log(r.stdout + r.stderr)
    passed = {line.split()[1] for line in r.stdout.splitlines() if line.startswith("ok ")}
    return {k: k in passed for k in keys}, secs


def numpy_flat_knn_s(q, n, dim=64, k=10, reps=5):
    """tools/baseline.py's flat L2 top-k (float32 gemm + argpartition) at
    the knn_exact batch shape, median of `reps`."""
    import numpy as np
    rng = np.random.default_rng(0)
    gal = rng.standard_normal((n, dim)).astype(np.float32)
    qs = rng.standard_normal((q, dim)).astype(np.float32)
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        g2 = (gal * gal).sum(axis=1)
        d2 = g2[None, :] - 2.0 * (qs @ gal.T)
        idx = np.argpartition(d2, k, axis=1)[:, :k]
        row = np.arange(q)[:, None]
        _ = idx[row, np.argsort(d2[row, idx], axis=1)]
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


COUNTERS = ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
            "spill_bytes", "exchanges")
TIMES = ("task_busy_s", "gc_s", "driver_gap_s")


def union_ms(intervals):
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def layer_metrics(spans):
    """Engine counters per layer, summed over the layer's span names of
    the median per name (so they count one unit of each kind of work and
    repeat exactly when the program is deterministic, however many
    requests fit in the window), and the layers' self-time share of the
    traced requests' wall."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
        s["wall_s"] = (s["end_ns"] - s["start_ns"]) / 1e9
        s["driver_gap_s"] = max(0.0, s["wall_s"] - union_ms(s["job_intervals_ms"]) / 1e3)
    out = {}
    for layer in ("sources", "kernels", "operators", "queries"):
        by_name = {}
        for s in spans:
            if s["layer"] == layer:
                by_name.setdefault(s["name"], []).append(s)
        for c in COUNTERS + TIMES:
            out[f"{layer}.{c}"] = sum(statistics.median(s[c] for s in group)
                                      for group in by_name.values())

    def self_s(s):
        covered = union_ms([(c["start_ns"] / 1e6, c["end_ns"] / 1e6) for c in children.get(s["id"], [])])
        return max(0.0, s["wall_s"] - covered / 1e3)

    def descendants(s):
        for c in children.get(s["id"], []):
            yield c
            yield from descendants(c)

    req = [s for s in spans if s["layer"] == "bench"]
    wall = sum(s["wall_s"] for s in req)
    inner = sum(self_s(d) for s in req for d in descendants(s))
    out["trace.layer_self_over_wall"] = inner / wall if wall else 0
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))
            and os.path.exists(os.path.join(root, "build.sbt"))):
        die("run from the root of a graft checkout: src/main/scala/graft and build.sbt are missing")
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    jars = spark_jars(root)
    build(root, jars)

    import gen
    data_dir = os.path.join(WORK, "data")
    if a.workload == "query_mix":
        data_dir = gen.ensure_star_schema(a.seed, MIX_SF, os.path.join(WORK, "data", f"star-{a.seed}-sf{MIX_SF}"))
    elif a.workload == "dedup_pipeline":
        data_dir = gen.ensure_dedup_docs(a.seed, DEDUP_BASE_DOCS, DEDUP_REPLICAS, DEDUP_ARRIVALS,
                                         os.path.join(WORK, "data", f"docs-{a.seed}-{DEDUP_BASE_DOCS}x{DEDUP_REPLICAS}"))
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    result = os.path.join(run_dir, "result.json")
    cmd = jvm_args(jars, run_dir) + [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                                     data_dir, run_dir, result]
    code, rss_mb = run_jvm(cmd, run_dir)
    if code != 0 or not os.path.exists(result):
        die(f"benchmark JVM exited with {code}", 4)
    r = json.load(open(result))

    attempted, failed = r["attempted"], r["failed"]
    report = {}
    if a.workload == "query_mix":
        ok, duck_s = oracle_compare(root, data_dir, r["mix_out"])
        attempted += len(ok)
        failed += sum(not v for v in ok.values())
        r["oracle_ok"] = ok
        report["duckdb_oracle_compare_s"] = (duck_s, "s")
    if a.workload == "knn_exact":
        report["numpy_flat_knn_pairs_per_s"] = (
            r["e2e"]["batch_queries"] * r["e2e"]["gallery_rows"]
            / numpy_flat_knn_s(r["e2e"]["batch_queries"], r["e2e"]["gallery_rows"]), "1/s")
    lat = r["latencies_s"]
    if not lat:
        die("no request completed", 5)
    pct, tail, beyond = tail_percentile(lat)
    e2e = {
        "setup_s": (statistics.median(r["setup_s_samples"]), "s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "work_per_s": (r["work_per_s"], "1/s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    units = {"pairs_per_s": "1/s", "ingest_rows_per_s": "1/s", "docs_per_s": "1/s",
             "index_build_s": "s", "mix_total_s": "s", "batch_phase_s": "s"}
    named = {k: (v, units.get(k, "s" if k.endswith("_s") else "ratio" if isinstance(v, float) else "count"))
             for k, v in r["e2e"].items() if isinstance(v, (int, float))}
    named["failed_ratio"] = (failed / attempted, "ratio")
    named["latency_tail_s"] = (tail, "s")
    named["latency_tail_percentile"] = (pct, "pct")
    named["latency_samples"] = (len(lat), "count")
    named["latency_samples_beyond_tail"] = (beyond, "count")

    print(f"# graft perfbench  workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
    print("# host " + json.dumps(r["host"], sort_keys=True))
    print("# run phases (s since the JVM started) " + json.dumps({k: round(v, 1) for k, v in r["phases"].items()}))
    for name, (v, u) in {**e2e, **named, **report}.items():
        print(f"{name:34s} {v:>16.6g} {u}")
    for c in r["checks"]:
        print(f"check {c['name']:28s} {'ok' if c['ok'] else 'FAIL'}  {c['detail']}")
    for key, v in sorted(r.get("oracle_ok", {}).items()):
        print(f"oracle {key:27s} {'ok' if v else 'FAIL'}")
    for e in r["errors"]:
        print(f"error {e}")

    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "host": r["host"], "attempted": attempted, "failed": failed,
              "end_to_end": {k: v[0] for k, v in e2e.items()},
              "named": {k: v[0] for k, v in named.items()},
              "reference_twins": {k: v[0] for k, v in report.items()},
              "checks": r["checks"], "errors": r["errors"], "latencies_s": lat,
              "setup_s_samples": r["setup_s_samples"]}
    if a.trace:
        layer = dict(r["layer"])
        layer.update(layer_metrics(r["spans"]))
        record["per_layer"] = layer
        for name, v in sorted(layer.items()):
            print(f"layer {name:40s} {v:>16.6g}")
        # engine spans: the Spark jobs the listener attributed to each span
        t0 = r["trace_t0_epoch_ms"]
        jobs = [{"id": f"{s['id']}.{i}", "layer": "engine", "name": "engine.job", "parent": s["id"],
                 "start_ns": (a - t0) * 1_000_000, "end_ns": (b - t0) * 1_000_000}
                for s in r["spans"] for i, (a, b) in enumerate(s["job_intervals_ms"])]
        record["spans"] = [{k: s[k] for k in ("id", "layer", "name", "parent", "start_ns", "end_ns")}
                           for s in r["spans"]] + jobs
        untraced = os.path.join(out_dir, f"{a.workload}-{a.seed}-trace0.json")
        if os.path.exists(untraced):
            base = json.load(open(untraced))["end_to_end"]
            record["tracing_overhead"] = {k: record["end_to_end"][k] / base[k] - 1
                                          for k in base if base[k]}
            for k, v in record["tracing_overhead"].items():
                print(f"tracing_overhead.{k:17s} {v:>+16.3%}")
        metrics = {m["name"]: {"value": layer.get(m["name"], 0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    with open(os.path.join(out_dir, f"{a.workload}-{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
