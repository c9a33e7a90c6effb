"""Turns one benchmark JVM's raw figures (op latencies, set-up times, spans,
Spark task sums) into the reported metrics. Pure functions over the parsed
JSON, so they are testable without a JVM (see tests/test_metrics.py)."""
import math

# tail percentiles, highest first; a run reports the highest one that has
# at least TAIL_MIN_BEYOND samples beyond it
TAIL_QS = (0.99, 0.9, 0.75)
TAIL_MIN_BEYOND = 10


def percentile(samples, q):
    """Linear-interpolated percentile (numpy's default) of `samples`.
    Monotone in q over the same samples, so p90 >= p50 always holds."""
    if not samples:
        raise ValueError("percentile of no samples")
    xs = sorted(samples)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def latency_summary(samples):
    """p50 and tail of ONE op type's latencies, with the sample count. The
    tail is the highest of TAIL_QS with at least TAIL_MIN_BEYOND samples
    beyond it, taken from the same samples as the p50 (so tail >= p50);
    None when no percentile qualifies."""
    s = {"n": len(samples), "p50_s": percentile(samples, 0.5),
         "tail_q": None, "tail_s": None, "beyond_tail": 0}
    for q in TAIL_QS:
        v = percentile(samples, q)
        beyond = sum(1 for x in samples if x > v)
        if beyond >= TAIL_MIN_BEYOND:
            s.update(tail_q=q, tail_s=v, beyond_tail=beyond)
            break
    return s


def drift(samples):
    """Second-half over first-half median of one op type (time order);
    None with fewer than 4 samples."""
    if len(samples) < 4:
        return None
    h = len(samples) // 2
    return percentile(samples[h:], 0.5) / percentile(samples[:h], 0.5)


def mix_drift(ops, types):
    """Drift of whole passes through the op mix: pass j sums the j-th
    sample of every type in `types`, and the result is the second-half over
    first-half median of those sums. Unlike `drift` it needs only 2 passes,
    so a workload with a few slow ops per type still gets a figure; None
    with fewer than 2 passes."""
    series = [[o["lat_s"] for o in ops if o["type"] == t] for t in types]
    passes = [sum(xs) for xs in zip(*series)]
    if len(passes) < 2:
        return None
    h = len(passes) // 2
    return percentile(passes[h:], 0.5) / percentile(passes[:h], 0.5)


def end_to_end(raw):
    """Every end-to-end figure of one run. Returns (metrics, per_type):
    metrics maps name -> {"value", "unit", "n"}."""
    ops = raw["ops"]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    by_type = {}
    for o in ops:
        by_type.setdefault(o["type"], []).append(o["lat_s"])
    per_type = {}
    for t in raw["latency_types"]:
        xs = by_type.get(t, [])
        if not xs:
            raise ValueError(f"no {t} op completed in the timed window")
        s = latency_summary(xs)
        s["drift"] = drift(xs)
        per_type[t] = s
    setups = [s["synth_s"] + s["build_s"] for s in raw["setups"]]
    m = {
        "setup_s": {"value": (raw["session_s"] + percentile(setups, 0.5) +
                              raw["prepare_s"] + raw["warmup_s"]),
                    "unit": "s", "n": len(setups)},
        "ops_per_s": {"value": (attempted - failed) / raw["active_s"],
                      "unit": "1/s", "n": attempted},
        # CPU seconds the JVM (all Spark task, driver, GC and JIT threads)
        # spent per correct op: the op's cost, inflated less than wall time
        # by CPU steal from other tenants of the host
        "cpu_s_per_op": {"value": (sum(o["cpu_s"] for o in ops if o["ok"]) /
                                   max(1, attempted - failed)),
                         "unit": "s", "n": attempted - failed},
        "fail_ratio": {"value": failed / attempted, "unit": "1", "n": attempted},
    }
    for t, s in per_type.items():
        m[f"{t}_p50_s"] = {"value": s["p50_s"], "unit": "s", "n": s["n"]}
        if s["tail_s"] is not None:
            m[f"{t}_p{round(s['tail_q'] * 100)}_s"] = {"value": s["tail_s"], "unit": "s",
                                                       "n": s["n"]}
    ex = raw.get("extras", {})
    if ex.get("rewrite_s"):
        m["rows_per_s"] = {"value": ex["rows_rewritten"] / ex["rewrite_s"],
                           "unit": "1/s", "n": attempted}
    return m, per_type


def _self_times(spans):
    """Span id -> wall minus the wall of its direct children."""
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end_s"] - s["start_s"]
    return {s["id"]: s["end_s"] - s["start_s"] - child.get(s["id"], 0.0) for s in spans}


def _union(intervals):
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# per-layer metric -> (unit, span layer/name, kind); kind: self = mean self
# seconds per call, count:<c> = mean of counter c per call
SPAN_METRICS = {
    "table.entries_s": ("s", "table/entries", "self"),
    "table.prune_s": ("s", "table/prune", "self"),
    "table.read_s": ("s", "table/read", "self"),
    "table.files_total": ("count", "table/prune", "count:files_total"),
    "table.files_kept": ("count", "table/prune", "count:files_kept"),
    "table.plan_job_s": ("s", "table/plan_job", "self"),
    "table.plan_shards": ("count", "table/plan_job", "count:plan_shards"),
    "table.commit_s": ("s", "table/commit", "self"),
    "table.manifests_reused": ("count", "table/commit", "count:manifests_reused"),
    "table.manifests_rewritten": ("count", "table/commit", "count:manifests_rewritten"),
    "table.meta_bytes_written": ("bytes", "table/commit", "count:meta_bytes_written"),
    "ops.refs_tag_s": ("s", "ops/refs_tag", "self"),
    "ops.merge_s": ("s", "ops/merge", "self"),
    "ops.merge_files_touched": ("count", "ops/merge", "count:merge_files_touched"),
    "ops.compact_s": ("s", "ops/compact", "self"),
    "ops.compact_files_in": ("count", "ops/compact", "count:compact_files_in"),
    "ops.compact_files_out": ("count", "ops/compact", "count:compact_files_out"),
    "ops.cluster_s": ("s", "ops/cluster", "self"),
    "ops.cluster_files_rewritten": ("count", "ops/cluster", "count:cluster_files_rewritten"),
    "ops.cluster_files_kept": ("count", "ops/cluster", "count:cluster_files_kept"),
    "ops.expire_s": ("s", "ops/expire", "self"),
    "ops.expire_files_deleted": ("count", "ops/expire", "count:expire_files_deleted"),
    "ops.delete_files_live": ("count", "table/prune", "count:delete_files_live"),
}

SPARK_FIELDS = ["tasks", "exec_run_s", "exec_cpu_s", "sched_wait_s", "input_bytes",
                "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes", "failed_tasks"]


def per_layer(raw):
    """Per-layer metrics of a traced run, over the traced ops of the
    timed window (the harness traces every other op of each type). Values are
    means per call of the span (or per traced op for `spark.*` and
    `jvm.*`); a layer the workload never enters reads 0."""
    spans = raw["spans"]
    window = [s for s in spans if s["op"] >= 0]
    selft = _self_times(spans)
    by_name = {}
    for s in window:
        by_name.setdefault(f'{s["layer"]}/{s["name"]}', []).append(s)
    op_spans = [s for s in window if s["layer"] == "op"]
    n_ops = max(1, len(op_spans))
    m = {}
    for name, (unit, key, kind) in SPAN_METRICS.items():
        ss = by_name.get(key, [])
        if not ss:
            v = 0.0
        elif kind == "self":
            v = sum(selft[s["id"]] for s in ss) / len(ss)
        else:
            c = kind.split(":", 1)[1]
            v = sum(s["counters"].get(c, 0.0) for s in ss) / len(ss)
        m[name] = {"value": v, "unit": unit}

    prunes = by_name.get("table/prune", [])
    tot = sum(s["counters"].get("files_total", 0) for s in prunes)
    kept = sum(s["counters"].get("files_kept", 0) for s in prunes)
    m["table.prune_kept_ratio"] = {"value": kept / tot if tot else 0.0, "unit": "1"}
    # bloom tier: files kept by a point probe over files that hold the key
    point_ops = {s["op"] for s in op_spans if s["name"] == "point"}
    pk = sum(s["counters"].get("files_kept", 0) for s in prunes if s["op"] in point_ops)
    holders = sum(s["counters"].get("key_holders", 0) for s in op_spans if s["op"] in point_ops)
    m["table.bloom_fp_ratio"] = {"value": pk / holders if holders else 0.0, "unit": "1"}
    shape = raw["shape_end"]
    m["table.manifest_count"] = {"value": float(shape["manifests"]), "unit": "count"}
    m["table.snapshot_count"] = {"value": float(shape["snapshots"]), "unit": "count"}

    ex = raw.get("extras", {})
    m["ops.write_amp"] = {"value": float(ex.get("write_amp", 0.0)), "unit": "1"}
    m["ops.space_amp"] = {"value": float(ex.get("space_amp", 0.0)), "unit": "1"}

    # Spark: task sums and job intervals of spans inside traced window ops
    span_op = {s["id"]: s["op"] for s in spans}
    sp = raw.get("spark") or {}
    sums = dict.fromkeys(SPARK_FIELDS, 0.0)
    for t in sp.get("tasks", []):
        if span_op.get(t["span"], -1) >= 0:
            for f in SPARK_FIELDS:
                sums[f] += t[f]
    jobs_by_op = {}
    for j in sp.get("jobs", []):
        op = span_op.get(j["span"], -1)
        if op >= 0:
            jobs_by_op.setdefault(op, []).append((j["start_s"], j["end_s"]))
    m["spark.jobs"] = {"value": sum(len(v) for v in jobs_by_op.values()) / n_ops, "unit": "count"}
    units = {"tasks": "count", "failed_tasks": "count"}
    for f in SPARK_FIELDS:
        m[f"spark.{f}"] = {"value": sums[f] / n_ops,
                           "unit": units.get(f, "s" if f.endswith("_s") else "bytes")}
    driver = sum((s["end_s"] - s["start_s"]) - _union(jobs_by_op.get(s["op"], []))
                 for s in op_spans)
    m["spark.driver_s"] = {"value": driver / n_ops, "unit": "s"}

    m["jvm.gc_s"] = {"value": sum(s["gc_s"] for s in op_spans) / n_ops, "unit": "s"}
    m["jvm.gc_count"] = {"value": sum(s["gc_count"] for s in op_spans) / n_ops, "unit": "count"}
    m["jvm.heap_peak_bytes"] = {"value": float(raw["heap_peak_bytes"]), "unit": "bytes"}

    ver = [s for s in spans if s["layer"] == "verify" and s["name"] == "scan_equality"]
    m["verify.scan_equality_s"] = {"value": sum(selft[s["id"]] for s in ver), "unit": "s"}
    fin = raw.get("finish", {})
    m["verify.pass_rate"] = {"value": float(fin.get("scan_equality_pass_rate", 0.0)), "unit": "1"}
    m["verify.rows"] = {"value": float(fin.get("scan_equality_rows", 0)), "unit": "count"}

    med = {f: percentile([s[f] for s in raw["setups"]], 0.5) for f in ("synth_s", "build_s")}
    m["setup.synth_s"] = {"value": med["synth_s"], "unit": "s"}
    m["setup.build_s"] = {"value": med["build_s"] + raw["prepare_s"], "unit": "s"}
    m["setup.warmup_s"] = {"value": raw["warmup_s"], "unit": "s"}
    return m


def tracing_overhead(raw):
    """Ops/s of the untraced and the traced halves of one traced run (the
    harness traces every other op of each type, so both halves hold the
    same op mix), and the overhead untraced/traced - 1. Fixed-cadence GC
    ops are left out: too few of them fall in each half."""
    def rate(traced):
        xs = [o["lat_s"] for o in raw["ops"]
              if o["type"] in raw["latency_types"] and bool(o.get("traced")) == traced]
        return len(xs) / sum(xs) if xs else None
    on, off = rate(True), rate(False)
    return {"ops_per_s_traced": on, "ops_per_s_untraced": off,
            "overhead": off / on - 1.0 if on and off else None}
