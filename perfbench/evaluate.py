"""Correctness checks and metrics for one harness run.

Every operation the harness attempted is judged here:
  * a read is literally an oracle-backed gate, so its rows must match the
    gate's oracle SQL in DuckDB; in a traced run its answer must also
    equal the answer the other store (behind the HTTP front door) gives
    to the same request;
  * a batch gate's full result must match its SparkEntry oracle SQL in
    DuckDB, compared with graft's own local verify rules (below);
  * every acknowledged write must be visible in the final read-back;
  * a thrown operation or an `errors` envelope is a failure.
"""

import json
import math
import statistics

import duckdb

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
STAGES = ("ingest", "dedup", "ann", "multimodal", "text", "relational",
          "special", "password")


# --- compare rules: copied from tools/verify_local.py (norm, sort_key and
# the body of compare), unchanged except that the two frames are passed in.

def norm(v):
    """Normalize for cross-engine compare: nulls (None or NaN-promoted)
    collapse, all numerics go through float (uids < 2^53 stay exact)."""
    import numpy as np
    if v is None:
        return None
    if isinstance(v, (float, np.floating)):
        return None if math.isnan(v) else float(v)
    if isinstance(v, (int, np.integer)) and not isinstance(v, bool):
        return float(v)
    return v


def sort_key(row):
    return tuple("" if v is None else str(v) for v in row)


def compare_frames(got, want):
    gcols, wcols = sorted(got.columns), sorted(want.columns)
    if gcols != wcols:
        return f"SCHEMA got={gcols} want={wcols}"
    got, want = got[gcols], want[wcols]
    if len(got) != len(want):
        return f"ROWS got={len(got)} want={len(want)}"
    gr = sorted([tuple(norm(v) for v in row) for row in got.itertuples(index=False)], key=sort_key)
    wr = sorted([tuple(norm(v) for v in row) for row in want.itertuples(index=False)], key=sort_key)
    for i, (g, w) in enumerate(zip(gr, wr)):
        for a, b in zip(g, w):
            if a is None and b is None:
                continue
            if isinstance(a, float) and isinstance(b, float):
                if abs(a - b) > 1e-12 * max(1.0, abs(a), abs(b)):
                    return f"VALUE row{i} {g} != {w}"
            elif str(a) != str(b):
                return f"VALUE row{i} {g} != {w}"
    return "OK"

# --- end of copied rules


def oracle_db(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{data_dir}/{t}.parquet')")
    return con


def canon(answer):
    """A response in comparable form: the data envelope with every
    top-level block's objects sorted (result order is not part of the
    answer; order inside an object and in nested lists is)."""
    doc = json.loads(answer)
    if "errors" in doc:
        return None
    data = doc.get("data", {})
    return json.dumps({b: sorted(json.dumps(x) for x in v) if isinstance(v, list) else v
                       for b, v in sorted(data.items())})


def check_read(op):
    """None when the read did not fail and, where the other store answered
    the same request, equals that answer; else the reason."""
    if op.get("error"):
        return f"threw: {op['error']}"
    try:
        got = canon(op["answer"])
    except ValueError:
        return "answer is not JSON"
    if got is None:
        return f"errors envelope: {op['answer'][:200]}"
    if "expected" not in op:
        return None
    want = canon(op["expected"])
    if want is None:
        return f"other store returned errors: {op['expected'][:200]}"
    if got != want:
        return "answer differs from the other store's"
    return None


def check_gate_rows(op, sql, con):
    import pandas as pd
    if "rows" not in op:
        return "no result rows"
    got = pd.DataFrame(op["rows"], columns=["block", "uid", "json"])
    got["uid"] = pd.to_numeric(got["uid"])
    res = compare_frames(got, con.execute(sql).fetchdf())
    return None if res == "OK" else f"oracle: {res}"


def check_gate_dump(path, sql, con):
    res = compare_frames(con.execute(f"SELECT * FROM parquet_scan('{path}/*.parquet')").fetchdf(),
                         con.execute(sql).fetchdf())
    return None if res == "OK" else f"oracle: {res}"


def check_readback(result, spec):
    """The BenchItem nodes the acknowledged writes leave, against the
    final read-back: {write op id: reason} for every acknowledged write
    whose effect is missing."""
    reqs = {r["id"]: r for c in spec["writes"] for r in c}
    acked = [o for o in result["ops"] if o["kind"] == "mutate" and not o.get("error")
             and '"errors"' not in o["answer"]]
    # clients own disjoint uid ranges, so per-uid order is per-client order
    model, last = {}, {}
    for o in sorted(acked, key=lambda o: o["start"]):
        w = reqs[o["id"]]["write"]
        last[w["uid"]] = o["id"]
        if w["op"] == "create":
            model[w["uid"]] = {"bench_name": w["name"], "bench_score": w["score"]}
        elif w["op"] == "update":
            model[w["uid"]]["bench_score"] = w["score"]
        else:
            model.pop(w["uid"], None)
    try:
        seen = {n["uid"]: {"bench_name": n.get("bench_name"), "bench_score": n.get("bench_score")}
                for n in json.loads(result["readback"])["data"]["q"]}
    except (ValueError, KeyError, TypeError):
        seen = {}
    wrong = {}
    for uid in set(model) | set(seen):
        if model.get(uid) != seen.get(uid):
            wrong[last.get(uid, "readback")] = f"read-back of {uid}: {seen.get(uid)} != {model.get(uid)}"
    return wrong


def pct(values, q):
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[min(len(v) - 1, max(0, math.ceil(q / 100 * len(v)) - 1))]


def window_stats(ops):
    """Median and p90 latency, and completed operations per second, of a
    window."""
    if not ops:
        return 0.0, 0.0, 0.0
    ms = [o["ms"] for o in ops]
    span_s = (max(o["start"] + o["ms"] for o in ops) - min(o["start"] for o in ops)) / 1000
    return statistics.median(ms), pct(ms, 90), len(ops) / span_s


def pass_times(ops, size):
    """Wall time in seconds, first start to last end, of each complete
    pass: `size` consecutive operations that together run every template
    (graph_query: one round) or every gate (batch_pipeline) once."""
    ops = sorted(ops, key=lambda o: o["start"])
    size = size or len(ops)
    if not size:
        return []
    return [(max(o["start"] + o["ms"] for o in p) - p[0]["start"]) / 1000
            for p in (ops[i:i + size] for i in range(0, len(ops) - size + 1, size))]


def metric(v, unit):
    return {"value": float(v), "unit": unit}


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def judge(spec, result, data_dir):
    """{op id: reason} for every failed operation."""
    failures = {}
    oracles = result.get("oracles", {})
    con = oracle_db(data_dir) if oracles else None
    for op in result["ops"]:
        if op["kind"] == "gate":
            reason = f"threw: {op['error']}" if op.get("error") else None
            if reason is None and op["gate"] in oracles:
                reason = check_gate_dump(op["answer"], oracles[op["gate"]], con)
        elif op["kind"] == "mutate":
            reason = f"threw: {op['error']}" if op.get("error") else (
                f"errors envelope: {op['answer'][:200]}" if '"errors"' in op["answer"] else None)
        else:
            reason = check_read(op)
            if reason is None and op.get("gate") in oracles:
                reason = check_gate_rows(op, oracles[op["gate"]], con)
        if reason:
            failures[op["id"]] = reason
    if "readback" in result:
        failures.update(check_readback(result, spec))
    if con:
        con.close()
    return failures


def evaluate(workload, spec, result, data_dir, trace):
    ops = result["ops"]
    failures = judge(spec, result, data_dir)
    attempted = len(ops)
    failed = len(failures)
    notes = [f"perfbench: FAILED {k}: {v}" for k, v in sorted(failures.items())]
    metrics = (layer_metrics(workload, spec, result, failed / attempted) if trace
               else end_to_end(spec, result))
    notes.append(f"perfbench: {attempted} operations checked, {failed} failed; samples: "
                 + ", ".join(f"{k}={v}" for k, v in metrics.pop("_samples").items()))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics, "notes": notes}


def _window(ops, phase):
    return [o for o in ops if o["phase"] == phase and o["client"] > 0]


def end_to_end(spec, result):
    win = _window(result["ops"], "untraced")
    passes = pass_times(win, spec.get("round"))
    return {
        "setup_s": metric(result["setup_s"], "s"),
        "pass_s": metric(median(passes), "s"),
        "_samples": {"passes": len(passes), "operations": len(win),
                     "pass_s": [round(p, 3) for p in passes]},
    }


PER_LAYER = (
    ["error_rate", "storage_mb", "read_p50_ms", "read_p90_ms", "read_qps", "write_p50_ms",
     "trace.overhead.pass_s", "trace.spans",
     "dql.parse_us", "dql.parse_corpus_us", "dql.parse_corpus_failures",
     "graphql.rewrite_us", "exec.build_ms", "exec.build_self_ms", "exec.build_jobs",
     "spark.plan_ms", "spark.exec_ms", "spark.jobs", "spark.tasks", "spark.sched_delay_ms",
     "spark.task_cpu_ms", "spark.gc_ms", "spark.shuffle_mb", "spark.spill_mb",
     "spark.longest_task_ms", "spark.rows_read_per_row_out",
     "server.handler_ms.query", "server.handler_ms.graphql", "server.handler_ms.mutate",
     "server.queue_ms", "server.read_after_write_ms", "spark.jobs_per_read",
     "spark.jobs_per_write", "mutation.rows_per_triple", "mutation.storage_mb"]
    + [f"stage.{s}{m}" for s in STAGES for m in
       ("_s", ".build_ms", ".exec_ms", ".parallel_eff", ".longest_task_ms", ".jobs",
        ".shuffle_mb", ".gc_ms")])

UNITS = {"error_rate": "ratio", "read_qps": "1/s", "trace.spans": "count",
         "dql.parse_corpus_failures": "count", "exec.build_jobs": "count",
         "spark.jobs": "count", "spark.tasks": "count", "spark.rows_read_per_row_out": "ratio",
         "spark.jobs_per_read": "count", "spark.jobs_per_write": "count",
         "mutation.rows_per_triple": "ratio"}


def unit_of(name):
    if name in UNITS:
        return UNITS[name]
    if name.startswith("trace.overhead") or name.endswith("parallel_eff"):
        return "ratio"
    if name.endswith("_us"):
        return "us"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith(".jobs"):
        return "count"
    return "ms"


def prometheus(text):
    """{(family, path): value} from an exposition page."""
    out = {}
    for line in text.splitlines():
        if line.startswith("#") or "{" not in line:
            continue
        name, rest = line.split("{", 1)
        labels, value = rest.rsplit("} ", 1)
        path = next((l.split("=", 1)[1].strip('"') for l in labels.split(",")
                     if l.startswith("path=")), "")
        out[(name, path)] = out.get((name, path), 0.0) + float(value)
    return out


def layer_metrics(workload, spec, result, error_rate):
    m = {n: 0.0 for n in PER_LAYER}
    ops = result["ops"]
    m["error_rate"] = error_rate
    m["storage_mb"] = result["storage_mb"]
    m["trace.spans"] = result.get("span_count", 0)
    jobs_by_op = {}
    for j in result.get("jobs", []):
        jobs_by_op.setdefault(j["op"], []).append(j)
    spans = {}
    for s in result.get("harness_spans", []):
        spans.setdefault(s["name"], []).append(s)

    if workload == "batch_pipeline":
        cold = [o for o in ops if o["phase"] == "traced"]
        a = median(pass_times(_window(ops, "warm_untraced"), None))
        b = median(pass_times(_window(ops, "warm_traced"), None))
        per_op = cold
        cores = spec["cores"]
        for s in STAGES:
            gates = [o for o in cold if o["template"] == s]
            if not gates:
                continue
            ids = {o["id"] for o in gates}
            js = [j for o in gates for j in jobs_by_op.get(o["id"], [])]
            wall = sum(o["ms"] for o in gates)
            m[f"stage.{s}_s"] = wall / 1000
            m[f"stage.{s}.build_ms"] = sum(x["ms"] for x in spans.get("gate.build", []) if x["op"] in ids)
            m[f"stage.{s}.exec_ms"] = sum(x["ms"] for x in spans.get("gate.exec", []) if x["op"] in ids)
            m[f"stage.{s}.parallel_eff"] = sum(j["run_ms"] for j in js) / (wall * cores) if wall else 0
            m[f"stage.{s}.longest_task_ms"] = max([j["longest_task_ms"] for j in js], default=0)
            m[f"stage.{s}.jobs"] = len(js)
            m[f"stage.{s}.shuffle_mb"] = sum(j["shuffle_bytes"] for j in js) / 1e6
            m[f"stage.{s}.gc_ms"] = sum(j["gc_ms"] for j in js)
    else:
        untraced, traced = _window(ops, "untraced"), _window(ops, "traced")
        m["read_p50_ms"], m["read_p90_ms"], m["read_qps"] = window_stats(untraced)
        a = median(pass_times(untraced, spec["round"]))
        b = median(pass_times(traced, spec["round"]))
        per_op = traced
        for name, key, scale in (("dql.parse", "dql.parse_us", 1000), ("graphql.rewrite",
                                 "graphql.rewrite_us", 1000), ("exec.build", "exec.build_ms", 1),
                                 ("spark.plan", "spark.plan_ms", 1), ("spark.exec", "spark.exec_ms", 1)):
            m[key] = median(x["ms"] * scale for x in spans.get(name, []))
        m["exec.build_self_ms"] = median(x["self_ms"] for x in spans.get("exec.build", []))
        m["exec.build_jobs"] = mean(sum(j["parent"] == "exec.build" for j in jobs_by_op.get(o["id"], []))
                                    for o in per_op)
        pc = result["parse_corpus"]
        m["dql.parse_corpus_us"] = pc["us_per_query"]
        m["dql.parse_corpus_failures"] = pc["failures"]
        # the HTTP front door: server counters scraped around the check
        # phase, Spark jobs by the request interval that contained them
        front = result["front_door"]
        before, after = prometheus(result["prometheus"]["before"]), prometheus(result["prometheus"]["after"])
        d = lambda k: after.get(k, 0.0) - before.get(k, 0.0)
        handler_s, handled = 0.0, 0.0
        for path in ("query", "graphql", "mutate"):
            secs = d(("graft_request_seconds_total", "/" + path))
            n = d(("graft_http_requests_total", "/" + path))
            handler_s, handled = handler_s + secs, handled + n
            m[f"server.handler_ms.{path}"] = 1000 * secs / n if n else 0.0
        if handled:
            m["server.queue_ms"] = mean(o["ms"] for o in front) - 1000 * handler_s / handled
        fwrites = [o for o in front if o["kind"] == "mutate"]
        m["write_p50_ms"] = median(o["ms"] for o in fwrites)
        by_end = sorted(front, key=lambda o: o["start"] + o["ms"])
        m["server.read_after_write_ms"] = median(
            o["ms"] for prev, o in zip(by_end, by_end[1:])
            if prev["kind"] == "mutate" and o["kind"] != "mutate")
        m["spark.jobs_per_read"] = mean(len(jobs_by_op.get(o["id"], [])) for o in front
                                        if o["kind"] != "mutate")
        m["spark.jobs_per_write"] = mean(len(jobs_by_op.get(o["id"], [])) for o in fwrites)
        reqs = {r["id"]: r for c in spec["writes"] for r in c}
        tw = [reqs[o["id"]]["write"]["triples"] for o in fwrites]
        m["mutation.rows_per_triple"] = result["frame_rows"] / mean(tw) if tw else 0.0
        m["mutation.storage_mb"] = mean(result["write_storage_mb"])
    m["trace.overhead.pass_s"] = b / a if a else 0.0
    # Spark's own counters, per operation of the traced window
    if per_op:
        js = [jobs_by_op.get(o["id"], []) for o in per_op]
        m["spark.jobs"] = mean(len(x) for x in js)
        m["spark.tasks"] = mean(sum(j["tasks"] for j in x) for x in js)
        m["spark.sched_delay_ms"] = mean(sum(j["sched_delay_ms"] for j in x) for x in js)
        m["spark.task_cpu_ms"] = mean(sum(j["cpu_ms"] for j in x) for x in js)
        m["spark.gc_ms"] = mean(sum(j["gc_ms"] for j in x) for x in js)
        m["spark.shuffle_mb"] = mean(sum(j["shuffle_bytes"] for j in x) for x in js) / 1e6
        m["spark.spill_mb"] = mean(sum(j["spill_bytes"] for j in x) for x in js) / 1e6
        m["spark.longest_task_ms"] = mean(max([j["longest_task_ms"] for j in x], default=0) for x in js)
        rows_out = sum(o.get("nrows", 0) for o in per_op)
        rows_in = sum(j["records_read"] for x in js for j in x)
        m["spark.rows_read_per_row_out"] = rows_in / rows_out if rows_out else 0.0
    out = {k: metric(v, unit_of(k)) for k, v in m.items()}
    out["_samples"] = {"traced_operations": len(per_op), "jobs": len(result.get("jobs", []))}
    return out
