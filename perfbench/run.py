#!/usr/bin/env python3
"""Warehouse benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (offline) into `.bench_build/`; later
runs reuse that build while the sources are unchanged. Each run:

1. generates its inputs from the seed under a per-run directory in
   `.bench_build/` (removed at the end);
2. starts one JVM with a `local[<cores>]` Spark session, runs one
   untimed warm-up pass, then timed passes for `--seconds` (a closed
   loop, one client), then an untimed pass that writes the outputs to
   verify;
3. verifies them: every op with a DuckDB oracle twin is compared with
   `tools/check_oracle.py`'s rules; warehouse_load also checks its SCD
   invariants in the JVM;
4. prints one JSON line: the end-to-end metrics (trace 0) or the
   per-layer metrics from the span file (trace 1).
"""
import argparse
import contextlib
import hashlib
import importlib.util
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import tracecheck  # noqa: E402

# Input sizes. The base is TPC-H-ish at BASE_SF (60k lineitem rows per
# 0.01). Each workload lists the input directories it reads, with the
# shard factor of each:
# - olap_fixed reads the base as-is, one file and one row group per
#   table, so every scan is one task: the fixed-cost regime;
# - olap_scaled reads 6 disjoint shards, one file per shard, so scans
#   run in parallel: the data-bound regime;
# - warehouse_load reads the same 6 shards plus the change batch;
# - text_curation reads 2 token-tagged shards of the documents.
BASE_SF = 0.01
KEEP = 0.9
WORKLOADS = {
    "olap_fixed": {"fixed": 1},
    "olap_scaled": {"scaled": 6},
    "warehouse_load": {"scaled": 6, "changes": 6},
    "text_curation": {"text": 2},
}
# A fixed heap and a fixed young generation. Every run allocates far more
# than the young generation, so it touches all of it; the resident size
# then moves with the old generation (the data the program keeps alive)
# and native memory, not with how far G1 happened to grow eden. With an
# adaptive young generation, VmHWM spread 0.23 across runs of one seed,
# and peak_heap_mb 0.23 across seeds of text_curation.
HEAP = ["-Xms2g", "-Xmx2g", "-Xmn512m"]


ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- build

def _sources():
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, dirs, files in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties", ".java")):
                    yield os.path.join(d, f)


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def build():
    """Compile engine + benchmark once per source hash into
    `.bench_build/<hash>/`; returns the JVM arguments that go before the
    main class.

    sbt writes the engine and benchmark jars to fixed paths in the
    checkout, and the next build overwrites them there, so they are
    copied into the hash's directory and the classpath points at the
    copies. A class-data-sharing archive made by a training run over
    tiny inputs cuts JVM and Spark start-up by several seconds per run.
    A failed training run fails the build, and the JVM runs with
    -Xshare:on, so a run that cannot map the archive (its jars changed)
    fails instead of timing a slower start-up."""
    h = hashlib.sha256(" ".join(ADD_OPENS + HEAP).encode())
    for p in _sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, h.hexdigest()[:16])
    cp_file, jsa = os.path.join(out, "classpath"), os.path.join(out, "app.jsa")
    if not os.path.exists(cp_file):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(os.path.join(out, "jars"))
        env = dict(os.environ, COURSIER_MODE="offline")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true",
                         f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
        log("building engine and benchmark with sbt ...")
        t = time.time()
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspathAsJars"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=700)
        lines = [l for l in p.stdout.splitlines()
                 if not l.startswith("[") and os.pathsep in l and ".jar" in l]
        if p.returncode != 0 or not lines:
            sys.stderr.write(p.stdout[-5000:])
            raise SystemExit("perfbench: build failed")
        log(f"built in {time.time() - t:.0f} s")
        root = os.path.realpath(ROOT) + os.sep
        cp = []
        for i, jar in enumerate(lines[-1].split(os.pathsep)):
            if os.path.realpath(jar).startswith(root):
                copy = os.path.join(out, "jars", f"{i}-{os.path.basename(jar)}")
                shutil.copyfile(jar, copy)
                jar = copy
            cp.append(jar)
        classpath = os.pathsep.join(cp)
        with run_dir(BUILD, "train") as d:
            base = gen.base_tables(1, 0.002)
            for part in ("fixed", "scaled", "text", "changes"):
                make_part(part, base, 2, 1, os.path.join(d, "data", part))
            os.makedirs(os.path.join(d, "work"))
            t = time.time()
            try:
                rc = subprocess.run(
                    [java(), *ADD_OPENS, *HEAP, f"-XX:ArchiveClassesAtExit={jsa}",
                     f"-Djava.io.tmpdir={d}", "-cp", classpath, "perfbench.Main",
                     "train", "1", "0", "0", os.path.join(d, "data"),
                     os.path.join(d, "work"), str(cores())],
                    cwd=d, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                    timeout=170).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
            if rc != 0 or not os.path.exists(jsa):
                raise SystemExit(f"perfbench: class-data-sharing training run failed ({rc})")
            log(f"class-data-sharing archive made in {time.time() - t:.0f} s")
        with open(cp_file, "w") as f:
            f.write(classpath)
    with open(cp_file) as f:
        classpath = f.read().strip()
    return [f"-XX:SharedArchiveFile={jsa}", "-Xshare:on", "-cp", classpath]


# --------------------------------------------------------------- inputs

def make_part(part, base, factor, seed, d):
    """Write one input directory: `fixed` (the base, one file per table),
    `scaled` (×factor shards), `text` (×factor document shards) or
    `changes` (the SCD change batch over ×factor shards, whose counts it
    returns)."""
    if part == "fixed":
        gen.write_single({k: v for k, v in base.items()
                          if k not in ("events", "documents")}, d)
    elif part == "scaled":
        gen.expand(base, factor, KEEP, seed, d,
                   [t for t in gen.TABLES if t not in ("documents", "events")])
    elif part == "text":
        gen.expand(base, factor, KEEP, seed, d, ["documents"])
    else:
        return gen.write_changes(base, factor, seed, d)


def make_inputs(workload, seed, data):
    """Generate the workload's inputs under `data`; returns facts about
    them (sizes, change-batch counts)."""
    base = gen.base_tables(seed, BASE_SF)
    info = {}
    for part, factor in WORKLOADS[workload].items():
        d = os.path.join(data, part)
        changes = make_part(part, base, factor, seed, d)
        if changes:
            info["changes"] = changes
        info[f"{part}_bytes"] = gen.input_bytes(d)
    return info


# --------------------------------------------------------------- verify

def oracle_compare(data_dir, verify_dir):
    """Run tools/check_oracle.py's compare; returns (passed, failed lines)."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        mod.main(data_dir, verify_dir)
    lines = buf.getvalue().splitlines()
    return ([l for l in lines if l.startswith("PASS ")],
            [l for l in lines if l.startswith("FAIL ")])


# -------------------------------------------------------------- metrics

def quantile(xs, q):
    xs = sorted(xs)
    i = (len(xs) - 1) * q
    lo = int(i)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (i - lo)


@contextlib.contextmanager
def run_dir(parent, prefix):
    """A per-run directory under `parent`, removed when the run ends."""
    os.makedirs(parent, exist_ok=True)
    d = tempfile.mkdtemp(prefix=f"run-{prefix}-", dir=parent)
    try:
        yield d
    finally:
        shutil.rmtree(d, ignore_errors=True)


def run_jvm(jvm_args, a, data, work, n):
    """One JVM run; returns its result record. subprocess.run kills the
    JVM and waits for it if it overruns."""
    cmd = [java(), *ADD_OPENS, *HEAP, f"-Djava.io.tmpdir={work}", *jvm_args,
           "perfbench.Main", a.workload, str(a.seed),
           str(a.seconds), str(a.trace), data, work, str(n)]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as err:
        p = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                           text=True, timeout=170)
    res = [l for l in p.stdout.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if p.returncode != 0 or not res:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: JVM exited {p.returncode} without a result")
    return json.loads(res[-1][len("PERFBENCH_RESULT "):])


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep-spans", help="copy the span file here (trace 1)")
    a = ap.parse_args(argv)

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join("tools", "check_oracle.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"perfbench: {need} not found; run from a full checkout")

    jvm_args = build()
    n = cores()
    with run_dir(BUILD, f"{a.workload}-{a.seed}") as rd:
        data, work = os.path.join(rd, "data"), os.path.join(rd, "work")
        os.makedirs(work)
        t0 = time.time()
        info = make_inputs(a.workload, a.seed, data)
        gen_s = time.time() - t0
        load1 = os.getloadavg()[0]
        launch = time.time()
        r = run_jvm(jvm_args, a, data, work, n)
        setup_s = gen_s + (r["ready_ms"] / 1000.0 - launch)

        # ---- correctness ----
        # the oracle twins read the workload's first (raw) input directory
        passed, failed = oracle_compare(
            os.path.join(data, next(iter(WORKLOADS[a.workload]))), os.path.join(work, "verify"))
        timed = [o for p in r["passes"] for o in p["ops"]]
        failures = failed + [f"untimed op failed: {x}" for x in r["op_failed"]]
        failures += [f"check {c['name']}: {c['detail']}" for c in r["checks"] if not c["ok"]]
        failures += [f"op failed: {o['name']}" for o in timed if not o["ok"]]
        spans = []
        if a.trace:
            spans = tracecheck.load(os.path.join(work, "spans.jsonl"))
            problems = tracecheck.check(spans)
            failures += [f"trace check: {p}" for p in problems]
            if a.keep_spans:
                shutil.copy(os.path.join(work, "spans.jsonl"), a.keep_spans)
        for f in failures:
            log(f)
        attempted = len(timed) + len(passed) + len(failed) + len(r["checks"])
        n_failed = min(len(failures), attempted)

        untraced = [p for p in r["passes"] if not p["traced"]]
        op_ms = [o["ms"] for p in untraced for o in p["ops"]]
        report = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                  "cores": n, "load1": load1, "passes": len(untraced),
                  "pass_walls": [p["wall_s"] for p in r["passes"]],
                  "op_samples": len(op_ms), "op_ms_p90": quantile(op_ms, 0.9),
                  "failed_ratio": n_failed / attempted,
                  "oracle_pass": len(passed), "gen_s": gen_s, "inputs": info,
                  "op_ms": {o["name"]: statistics.median(
                      x["ms"] for p in untraced for x in p["ops"] if x["name"] == o["name"])
                      for o in untraced[0]["ops"]}}
        if not a.trace:
            metrics = end_to_end(setup_s, untraced, r["peak_rss_mb"], r["peak_heap_mb"])
        else:
            traced_s = statistics.mean(p["wall_s"] for p in r["passes"] if p["traced"])
            untraced_s = statistics.mean(p["wall_s"] for p in untraced)
            metrics = per_layer(spans, n, work, info, r["extra"], a.workload)
            metrics["trace.overhead_ratio"] = traced_s / untraced_s
        declared = BENCH["per_layer" if a.trace else "end_to_end"]
        print("# report " + json.dumps(report))
        print(json.dumps({
            "correct": not failures,
            "attempted": attempted,
            "failed": n_failed,
            "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                        for m in declared},
        }))


def end_to_end(setup_s, passes, peak_rss_mb, peak_heap_mb):
    """The untraced run's end-to-end metrics. A run has 5 to 9 op samples,
    too few for a tail percentile with ten samples beyond it, so the op
    latency is reported as the median only; the 90th percentile and the
    sample count are in the report line."""
    return {
        "setup_s": setup_s,
        "pass_s": statistics.median(p["wall_s"] for p in passes),
        "op_ms_p50": statistics.median(o["ms"] for p in passes for o in p["ops"]),
        "peak_rss_mb": peak_rss_mb,
        "peak_heap_mb": peak_heap_mb,
    }


def per_layer(spans, n, work, info, extra, workload):
    """The traced run's per-layer metrics: the span-derived figures plus
    the warehouse and q13b ratios."""
    lm = tracecheck.layer_metrics(spans, n, written(os.path.join(work, "warehouse")))
    scd_rows = lm.pop("scd.rows_written")
    q13b_shuffle = lm.pop("text.q13b_shuffle_records")
    m = dict(lm)
    changed = sum(info.get("changes", {}).values())
    m["scd.changed_rows"] = changed
    m["scd.rows_rewritten_per_change"] = scd_rows / changed if changed else 0.0
    m["etl.stored_bytes_per_input_byte"] = (
        lm["etl.bytes_written"] / info["scaled_bytes"]
        if workload == "warehouse_load" else 0.0)
    out_rows = q13b_rows(os.path.join(work, "verify"))
    m["text.q13b_candidate_pairs"] = extra.get("q13b_candidate_pairs", 0)
    m["text.q13b_pairs_out"] = out_rows
    m["text.q13b_shuffle_records_per_pair"] = q13b_shuffle / out_rows if out_rows else 0.0
    return m


def _rows(d):
    import pyarrow.parquet as pq
    fs = [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]
    return (sum(pq.ParquetFile(f).metadata.num_rows for f in fs),
            sum(os.path.getsize(f) for f in fs))


def written(wh):
    """{table: (rows, bytes)} of the parquet tables under wh."""
    if not os.path.isdir(wh):
        return {}
    return {t: _rows(os.path.join(wh, t)) for t in os.listdir(wh)}


def q13b_rows(verify_dir):
    d = os.path.join(verify_dir, "q13b_ngram_jaccard")
    return _rows(d)[0] if os.path.isdir(d) else 0


if __name__ == "__main__":
    main()
