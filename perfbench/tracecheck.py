"""Trace checker and per-layer metrics over the span file of a traced run.

Span tree: run -> pass -> op -> {build -> {job -> stage, tables.open},
action | etl.write | scd.* -> {plan.*, job -> stage}}. Each span is one
JSON line with id, parent, op, name, start, end (epoch ms) and attrs.

`check(spans)` passes only when
  * for every op, build + plan + job intervals + driver gap add up to
    the op's wall time within 5%, where the driver gap is the part of
    the action that neither a plan phase nor a job covers, and plan and
    job intervals do not overlap each other;
  * every Spark job is tied to an op: its job group is an op's id and
    its interval lies inside that op.

Usage: python3 tracecheck.py <spans.jsonl>
"""
import json
import statistics
import sys

TOL = 0.05
SLACK_MS = 2.0  # Spark event times have millisecond resolution
ACTIONS = ("action", "etl.write", "scd.upsert", "scd.rebuild",
           "scd.cdc_extract", "scd.cdc_apply")
EXEC_KEYS = ("tasks", "task_ms", "cpu_ms", "gc_ms", "sched_wait_ms",
             "input_rows", "input_bytes", "shuffle_write_bytes",
             "shuffle_read_bytes", "shuffle_records", "spill_bytes")


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _union(intervals):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def _clip(s, lo, hi):
    return max(s["start"], lo), min(s["end"], hi)


def ops(spans):
    """Per-op breakdown: {op id: dict of layer figures}."""
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    out = {}
    for op in (s for s in spans if s["name"] == "op"):
        kids = by_parent.get(op["id"], [])
        build = next((k for k in kids if k["name"] == "build"), None)
        act = next((k for k in kids if k["name"] in ACTIONS), None)
        r = {"name": op["attrs"].get("name", op["op"]),
             "kind": op["attrs"].get("kind", ""),
             "wall_ms": op["end"] - op["start"],
             "out": op["attrs"].get("out", ""),
             "build_ms": 0.0, "build_jobs": 0, "build_task_ms": 0,
             "action_ms": 0.0, "plan": {}, "jobs_ms": 0.0, "gap_ms": 0.0,
             "open_ms": 0.0, "open_jobs": 0,
             "jobs": 0, "stages": 0, "exec": dict.fromkeys(EXEC_KEYS, 0)}
        jobs = []
        if build:
            r["build_ms"] = build["end"] - build["start"]
            for k in by_parent.get(build["id"], []):
                if k["name"] == "job":
                    r["build_jobs"] += 1
                    r["build_task_ms"] += k["attrs"]["task_ms"]
                    jobs.append(k)
                elif k["name"] == "tables.open":
                    r["open_ms"] += k["end"] - k["start"]
                    r["open_jobs"] += 1
        if act:
            a0, a1 = act["start"], act["end"]
            r["action_ms"] = a1 - a0
            plan_iv, job_iv = [], []
            for k in by_parent.get(act["id"], []):
                if k["name"].startswith("plan."):
                    phase = k["name"][5:]
                    r["plan"][phase] = r["plan"].get(phase, 0.0) + k["end"] - k["start"]
                    plan_iv.append(_clip(k, a0, a1))
                elif k["name"] == "job":
                    jobs.append(k)
                    job_iv.append(_clip(k, a0, a1))
            job_iv = [(s, e) for s, e in job_iv if e > s]
            plan_iv = [(s, e) for s, e in plan_iv if e > s]
            r["jobs_ms"] = _union(job_iv)
            r["gap_ms"] = max(0.0, r["action_ms"] - _union(job_iv + plan_iv))
        for j in jobs:
            r["jobs"] += 1
            r["stages"] += j["attrs"].get("stages", 0)
            for key in EXEC_KEYS:
                r["exec"][key] += j["attrs"].get(key, 0)
        out[op["op"]] = r
    return out


def check(spans):
    """List of problems; empty when the trace is consistent."""
    problems = []
    op_spans = {s["op"]: s for s in spans if s["name"] == "op"}
    if not op_spans:
        problems.append("no op spans")
    for op_id, r in ops(spans).items():
        parts = r["build_ms"] + sum(r["plan"].values()) + r["jobs_ms"] + r["gap_ms"]
        if abs(parts - r["wall_ms"]) > TOL * r["wall_ms"] + SLACK_MS:
            problems.append(
                f"{op_id}: build {r['build_ms']:.1f} + plan {sum(r['plan'].values()):.1f}"
                f" + jobs {r['jobs_ms']:.1f} + gap {r['gap_ms']:.1f} = {parts:.1f}"
                f" ms vs wall {r['wall_ms']:.1f} ms")
    for j in (s for s in spans if s["name"] == "job"):
        op = op_spans.get(j["attrs"].get("group"))
        if op is None or j["op"] != op["op"]:
            problems.append(f"job {j['attrs'].get('job_id')} is tied to no op "
                            f"(group {j['attrs'].get('group')!r})")
        elif j["start"] < op["start"] - SLACK_MS or j["end"] > op["end"] + SLACK_MS:
            problems.append(f"job {j['attrs']['job_id']} lies outside op {op['op']}")
    return problems


def layer_metrics(spans, cores, outputs=None):
    """Per-layer figures summed over each traced pass's ops; the median
    over traced passes is reported. `outputs` maps each table an op
    writes to its (rows, bytes)."""
    outputs = outputs or {}
    per_op = ops(spans)
    passes = {}
    parent = {s["id"]: s["parent"] for s in spans}
    op_pass = {s["op"]: parent[s["id"]] for s in spans if s["name"] == "op"}
    for op_id, r in per_op.items():
        passes.setdefault(op_pass[op_id], []).append(r)
    rows = []
    for rs in passes.values():
        m = {}
        wall = sum(r["wall_ms"] for r in rs)
        plan = {p: sum(r["plan"].get(p, 0.0) for r in rs)
                for p in ("analysis", "optimization", "planning")}
        m["op.wall_ms"] = wall
        m["tables.open_ms"] = sum(r["open_ms"] for r in rs)
        m["tables.open_jobs"] = sum(r["open_jobs"] for r in rs)
        m["build.ms"] = sum(r["build_ms"] for r in rs)
        m["build.jobs"] = sum(r["build_jobs"] for r in rs)
        m["build.task_ms"] = sum(r["build_task_ms"] for r in rs)
        for p, v in plan.items():
            m[f"plan.{p}_ms"] = v
        m["driver.gap_ms"] = sum(r["gap_ms"] for r in rs)
        m["op.fixed_share"] = ((m["build.ms"] + sum(plan.values()) + m["driver.gap_ms"])
                               / wall if wall else 0.0)
        m["exec.jobs"] = sum(r["jobs"] for r in rs)
        m["exec.stages"] = sum(r["stages"] for r in rs)
        for key in EXEC_KEYS:
            m[f"exec.{key}"] = sum(r["exec"][key] for r in rs)
        m["exec.core_util"] = m["exec.task_ms"] / (wall * cores) if wall else 0.0
        etl = [r for r in rs if r["kind"] == "etl.write"]
        etl_ms = sum(r["wall_ms"] for r in etl)
        m["etl.write_ms"] = etl_ms
        m["etl.rows_written"] = sum(outputs.get(r["out"], (0, 0))[0] for r in etl)
        m["etl.bytes_written"] = sum(outputs.get(r["out"], (0, 0))[1] for r in etl)
        m["etl.load_rows_per_s"] = m["etl.rows_written"] / (etl_ms / 1000) if etl_ms else 0.0
        for kind in ("upsert", "rebuild", "cdc_extract", "cdc_apply"):
            m[f"scd.{kind}_ms"] = sum(r["wall_ms"] for r in rs if r["kind"] == f"scd.{kind}")
        m["scd.rows_written"] = sum(outputs.get(r["out"], (0, 0))[0]
                                    for r in rs if r["kind"].startswith("scd."))
        q13b = [r for r in rs if r["name"] == "q13b_ngram_jaccard"]
        m["text.q13b_shuffle_records"] = sum(r["exec"]["shuffle_records"] for r in q13b)
        rows.append(m)
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]} if rows else {}


if __name__ == "__main__":
    found = check(load(sys.argv[1]))
    for p in found:
        print(p)
    print(f"== {'FAIL' if found else 'PASS'}: {len(found)} problems ==")
    sys.exit(1 if found else 0)
