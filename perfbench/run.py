#!/usr/bin/env python3
"""graft benchmark: one workload per invocation, run from the repository root.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 12 --trace 0

Builds the harness (perfbench/harness) against the repository's sources
on first use, generates the synthetic corpus (perfbench/corpus.py), starts
one JVM with a `local[<cores>]` session, runs an untimed output check of
every workload query against the DuckDB oracle (tools/check.py), then
measures closed-loop passes over the workload's queries in a seeded order.

The last stdout line is one JSON object: `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics with --trace 0, the per-layer ones
with --trace 1). `--workload all` runs every workload in turn.
Everything the run writes stays under .bench_build/, .bench_data/ and
.bench_tmp/ in the current directory.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

WORKLOADS = json.load(open(os.path.join(HERE, "workloads.json")))
EXPECTED_ROWS = json.load(open(os.path.join(HERE, "expected_rows.json")))
BUILD_DIR = ".bench_build"
DATA_DIR = ".bench_data"
TMP_DIR = ".bench_tmp"
CORPUS_SCALE = 0.1
CORPUS_SEED = 42
# Pass i runs the i-th seeded order, so a run averages over several
# orders; a run never gets near this many passes.
MAX_PASSES = 64
# The repository's heap ceiling (build.sbt's -Xmx default), pinned with
# -Xms, and a fixed young generation: G1's adaptive sizing otherwise
# moves the peak resident set by a third from run to run, so
# peak_rss_mb is measured under this pinned heap and young generation.
# The JIT keeps its default thresholds, as in the program's own runs.
BENCH_JVM_FLAGS = ["-Xms8g", "-Xmx8g", "-Xmn1g"]
# Untimed passes before the measured ones, per workload. olap's queries
# are short and bound by code generation: a young JVM's pass time still
# falls by a third over its first four passes, so a fixed count of them
# makes every run start measuring after the same work. families and
# ingest_curate passes take twice as long and move less.
WARMUP_PASSES = {"olap": 2}
# Refuse to start with less free space than this where Spark spills.
MIN_FREE_BYTES = 2 * 1024 ** 3
# One invocation must end within 180 s; leave room for the check.
JVM_TIMEOUT_S = 150
REQUIRED = ["build.sbt", "src/main/scala/graft/SparkEntry.scala", "tools/check.py"]

# The JDK 17 opens Spark needs outside spark-submit, and the JVM flags the
# repository's build.sbt gives its forked runs, minus its heap size (set
# above) and its compiler-thread count (left to the JVM's default).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
JVM_FLAGS = ["-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
             "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=100",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]

SPEC = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
# Per-layer names that the span file and the module registries fill in:
# `<module>.wall_s` per query registry, `self.<span name>_s` per span kind.
MODULES = [m[:-len(".wall_s")] for m in UNITS
           if m.endswith(".wall_s") and m != "trace.wall_s"]
SPAN_KINDS = [m[len("self."):-len("_s")] for m in UNITS if m.startswith("self.")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fingerprint(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Classpath of the harness plus the repository's code, built once per source state."""
    harness = os.path.join(HERE, "harness")
    fp = fingerprint(["build.sbt", "project/build.properties", "src/main",
                      os.path.join(harness, "build.sbt"),
                      os.path.join(harness, "project", "build.properties"),
                      os.path.join(harness, "src")])
    cp_file = os.path.join(BUILD_DIR, f"classpath-{fp}.txt")
    if os.path.exists(cp_file):
        cp = open(cp_file).read().strip()
        if all(os.path.exists(e) for e in cp.split(os.pathsep)):
            return cp
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    log("building harness (sbt) ...")
    with open(os.path.join(BUILD_DIR, "sbt.log"), "w") as out:
        rc = subprocess.call(["sbt", "-batch", "-Dsbt.log.noformat=true",
                              "export Runtime/fullClasspath"],
                             cwd=harness, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    lines = open(os.path.join(BUILD_DIR, "sbt.log")).read().strip().splitlines()
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        raise BenchError(f"harness build failed (sbt exit {rc}); see {BUILD_DIR}/sbt.log")
    cp = lines[-1].strip()
    with open(cp_file + ".tmp", "w") as f:
        f.write(cp)
    os.replace(cp_file + ".tmp", cp_file)
    return cp


def corpus():
    """The synthetic corpus directory, generated once per generator version."""
    fp = fingerprint([os.path.join(HERE, "corpus.py")])
    d = os.path.join(DATA_DIR, f"sf{CORPUS_SCALE}-{fp}")
    if not os.path.isdir(d):
        import corpus as gen
        log(f"generating corpus in {d} ...")
        gen.write(d + ".tmp", CORPUS_SCALE, CORPUS_SEED)
        os.replace(d + ".tmp", d)
    return os.path.abspath(d)


def disk_guard(dirs):
    for d in dirs:
        free = shutil.disk_usage(d).free
        if free < MIN_FREE_BYTES:
            raise BenchError(f"DiskGuardError: {free / 1024 ** 3:.1f} GB free under {d}, "
                             f"need {MIN_FREE_BYTES / 1024 ** 3:.0f} GB")


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def run_jvm(cp, conf, log_path):
    """Run the harness; return (exit status, peak RSS of the JVM in MB)."""
    tmp = os.path.abspath(os.path.join(TMP_DIR, "tmp"))
    cmd = (["java"] + BENCH_JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + JVM_FLAGS + ["-cp", cp, "graftbench.Main", conf])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.abspath(os.path.join(TMP_DIR, "spark-local")))
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=os.path.join(TMP_DIR, "work"), env=env, stdout=out,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             start_new_session=True)
    deadline = time.monotonic() + JVM_TIMEOUT_S
    try:
        while True:
            pid, status, usage = os.wait4(p.pid, os.WNOHANG)
            if pid:
                p.returncode = os.waitstatus_to_exitcode(status)
                return p.returncode, usage.ru_maxrss / 1024.0
            if time.monotonic() > deadline:
                raise BenchError(f"harness JVM exceeded {JVM_TIMEOUT_S} s; see {log_path}")
            time.sleep(0.05)
    finally:
        if p.returncode is None:  # timed out, or this process is being stopped
            os.killpg(p.pid, signal.SIGKILL)
            os.wait4(p.pid, 0)


def oracle_check(corpus_dir, dump_dir, names):
    """Run tools/check.py over the dumps; return {query: failure reason}."""
    r = subprocess.run([sys.executable, "tools/check.py", corpus_dir, dump_dir],
                       capture_output=True, text=True, stdin=subprocess.DEVNULL)
    failures, seen = {}, set()
    for line in r.stdout.splitlines():
        parts = line.strip().split(None, 2)
        if len(parts) < 2 or parts[0] not in ("PASS", "FAIL", "WEAK"):
            continue
        name = parts[1].rstrip(":")
        seen.add(name)
        if parts[0] == "FAIL":
            failures[name] = parts[2] if len(parts) > 2 else "oracle mismatch"
        elif parts[0] == "WEAK":
            got = int(line.split("rows=")[1].split()[0])
            want = EXPECTED_ROWS.get(name)
            if want != got:
                failures[name] = f"rows {got}, expected {want}"
    for n in names:
        if n not in seen and n not in failures:
            failures[n] = "no check result"
    return failures


def run_workload(name, seed, seconds, trace, results_dir):
    queries = WORKLOADS[name]
    orders = stats.seeded_orders(queries, seed, MAX_PASSES)
    for d in ("tmp", "spark-local", "work", "logs", "warehouse"):
        os.makedirs(os.path.join(TMP_DIR, d), exist_ok=True)
    disk_guard([os.path.join(TMP_DIR, "spark-local"), os.path.join(TMP_DIR, "tmp")])
    cp = build()
    corpus_dir = corpus()
    dump_dir = os.path.abspath(os.path.join(TMP_DIR, "check", name))
    shutil.rmtree(dump_dir, ignore_errors=True)
    os.makedirs(dump_dir)
    os.makedirs(results_dir, exist_ok=True)
    raw_path = os.path.abspath(os.path.join(results_dir, f"raw-{name}-seed{seed}-trace{trace}.json"))
    trace_path = os.path.abspath(os.path.join(results_dir, f"trace-{name}-seed{seed}.json"))
    conf = os.path.abspath(os.path.join(TMP_DIR, f"{name}.properties"))
    with open(conf, "w") as f:
        for k, v in {"corpus": corpus_dir, "orders": ";".join(",".join(o) for o in orders),
                     "cores": cores(), "warmup_passes": WARMUP_PASSES.get(name, 0),
                     "seconds": seconds, "trace": trace,
                     "check_dir": dump_dir, "out": raw_path, "trace_out": trace_path,
                     "local_dir": os.path.abspath(os.path.join(TMP_DIR, "spark-local")),
                     "warehouse_dir": os.path.abspath(os.path.join(TMP_DIR, "warehouse"))}.items():
            f.write(f"{k}={v}\n")
    jvm_log = os.path.join(TMP_DIR, "logs", f"{name}.log")
    t0 = time.monotonic()
    rc, rss_mb = run_jvm(cp, conf, jvm_log)
    t1 = time.monotonic()
    if rc != 0 or not os.path.exists(raw_path):
        tail = open(jvm_log).read()[-3000:]
        raise BenchError(f"harness exited {rc}; tail of {jvm_log}:\n{tail}")
    raw = json.load(open(raw_path))
    failures = dict(raw["check_errors"])
    for q, why in oracle_check(corpus_dir, dump_dir, queries).items():
        failures.setdefault(q, why)
    log(f"{name}: harness JVM {t1 - t0:.1f} s, oracle check {time.monotonic() - t1:.1f} s")
    shutil.rmtree(dump_dir, ignore_errors=True)
    spans = json.load(open(trace_path)) if trace else None
    return summarize(name, raw, rss_mb, failures, spans)


def pass_wall(p):
    return sum(q["wall_s"] for q in p["queries"])


def summarize(name, raw, rss_mb, failures, spans):
    untraced = [p for p in raw["passes"] if not p["traced"]]
    traced = [p for p in raw["passes"] if p["traced"]]
    for p in raw["passes"]:
        for q in p["queries"]:
            if q["error"]:
                failures.setdefault(q["name"], q["error"])
    walls = [pass_wall(p) for p in untraced]
    samples = [q["wall_s"] for p in untraced for q in p["queries"]]
    e2e = {
        "setup_s": raw["setup"]["setup_s"],
        "wall_s": stats.quartiles(walls)[1],
        "query_p50_s": stats.percentile(samples, 50),
        "query_p75_s": stats.percentile(samples, 75),
        "cpu_s": stats.quartiles([p["cpu_s"] for p in untraced])[1],
        "peak_rss_mb": rss_mb,
    }
    attempted = len(untraced[0]["queries"])
    failed = len(failures)
    info = {"workload": name, "passes": len(untraced), "queries_per_pass": attempted,
            "samples": len(samples), "failures": failures,
            "query_fail_ratio": failed / attempted, "setup": raw["setup"],
            "pass_walls": walls, "pass_cpus": [p["cpu_s"] for p in untraced],
            "warmup_pass_walls": [pass_wall(p) for p in raw["warmup_passes"]]}
    layers = None
    if traced:
        layers = layer_metrics(raw, traced, spans, e2e["wall_s"])
    return e2e, layers, attempted, failed, info


def layer_metrics(raw, traced, spans, untraced_wall):
    per_pass = raw["layers"]

    def med(key):
        return stats.quartiles([p[key] for p in per_pass])[1]

    out = {k: med(k) for k in per_pass[0]}
    out["Sessions.session_s"] = raw["setup"]["session_s"]
    out["Sessions.warmup_s"] = raw["setup"]["warmup_s"]
    builds, reuses, build_s = [], [], []
    for p in traced:
        built = {}
        reused = set()
        for q, key, b, secs in p["memo"]:
            if b:
                built[key] = max(built.get(key, 0.0), secs)
            else:
                reused.add((q, key))
        builds.append(len(built))
        reuses.append(len(reused))
        build_s.append(sum(built.values()))
    out["SessionMemo.builds"] = stats.quartiles(builds)[1]
    out["SessionMemo.reuses"] = stats.quartiles(reuses)[1]
    out["SessionMemo.build_s"] = stats.quartiles(build_s)[1]
    total = out["SessionMemo.builds"] + out["SessionMemo.reuses"]
    out["SessionMemo.reuse_ratio"] = out["SessionMemo.reuses"] / total if total else 0.0
    # Means over the traced passes (two in most runs), so the module
    # walls sum to trace.wall_s.
    out["trace.wall_s"] = sum(pass_wall(p) for p in traced) / len(traced)
    for m in MODULES:
        out[f"{m}.wall_s"] = sum(q["wall_s"] for p in traced for q in p["queries"]
                                 if raw["modules"][q["name"]] == m) / len(traced)
    out["trace.overhead_ratio"] = out["trace.wall_s"] / untraced_wall - 1.0
    by_layer = stats.self_time_by_layer(spans)
    n_passes = len(traced)
    for layer in SPAN_KINDS:
        out[f"self.{layer}_s"] = by_layer.get(layer, 0.0) / n_passes
    return out


def emit(metrics, kind):
    """The BENCHMARK.json metrics of one kind, in its order, with their units."""
    return {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in SPEC[kind]}


def report(e2e, layers, info):
    w = info["workload"]
    print(f"== workload {w}: {info['passes']} passes x {info['queries_per_pass']} queries")
    for k, v in e2e.items():
        extra = ""
        if k.startswith("query_p"):
            beyond = stats.samples_beyond(info["samples"], int(k[len("query_p"):-len("_s")]))
            extra = f"  (n={info['samples']}, {beyond} beyond)"
        print(f"{w}  {k:<14} {v:12.4f} {UNITS[k]}{extra}")
    print(f"{w}  {'query_fail_ratio':<14} {info['query_fail_ratio']:12.4f} ratio")
    for q, why in sorted(info["failures"].items()):
        print(f"{w}  FAILED {q}: {why[:200]}")
    if layers:
        for k in sorted(layers):
            print(f"{w}  layer {k:<36} {layers[k]:16.4f} {UNITS[k]}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=SPEC["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--results", default=os.path.join(TMP_DIR, "results"),
                    help="directory for the raw per-run files and traces")
    a = ap.parse_args(argv)
    # a stop request must still reach the harness JVM (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    missing = [p for p in REQUIRED if not os.path.exists(p)]
    if missing:
        log(f"not a graft checkout (missing {', '.join(missing)}); run from the repository root")
        return 2
    names = sorted(WORKLOADS) if a.workload == "all" else [a.workload]
    try:
        results = [run_workload(n, a.seed, a.seconds, a.trace, a.results) for n in names]
    except BenchError as e:
        log(str(e))
        return 3
    for e2e, layers, _, _, info in results:
        report(e2e, layers, info)
        with open(os.path.join(a.results, f"summary-{info['workload']}-seed{a.seed}"
                               f"-trace{a.trace}.json"), "w") as f:
            json.dump({"end_to_end": e2e, "per_layer": layers, "info": info}, f, indent=1)
    attempted = sum(r[2] for r in results)
    failed = sum(r[3] for r in results)
    kind = "per_layer" if a.trace else "end_to_end"
    metrics = {}
    for r in results:
        prefix = "" if len(results) == 1 else r[4]["workload"] + "."
        metrics.update({prefix + k: v for k, v in emit(r[1] if a.trace else r[0], kind).items()})
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
