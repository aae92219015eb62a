"""Metric arithmetic for lakebench: percentiles, span self times, and the
end-to-end and per-layer metrics of one run's raw result."""
import math
import statistics

TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)

READ_KINDS = ("read", "tt_read")
WRITE_KINDS = ("append", "merge", "delete", "optimize")


def percentile(values, p):
    """Linear-interpolation percentile (numpy's default) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n):
    """Highest percentile of the ladder with at least ten samples beyond it,
    or None when there are fewer than twenty samples."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) >= 1000.0:
            return p
    return None


def timing(values):
    """Median, the supported tail percentile and the sample count."""
    out = {"n": len(values)}
    if values:
        out["p50"] = percentile(values, 50.0)
        p = tail_percentile(len(values))
        if p is not None:
            out["tail_p"] = p
            out["tail"] = percentile(values, p)
    return out


# ---- spans -------------------------------------------------------------

LAYERS = (
    ("op.", "unaccounted"),
    ("log_segment", "log_segment"),
    ("replay.", "replay"),
    ("skipping", "skipping"),
    ("scan_build", "scan_build"),
    ("execute", "execute"),
    ("catalyst.", "catalyst"),
    ("spark.job", "spark_jobs"),
    ("fs.", "storage"),
    ("commit.", "commit"),
    ("stage.", "queries"),
)


def layer_of(name):
    for prefix, layer in LAYERS:
        if name.startswith(prefix):
            return layer
    return "other"


def attach_external(spans):
    """Give spans recorded outside the client thread (Spark jobs, Catalyst
    phases; parent -1) the innermost recorded span of their op that
    contains their start as parent. Spans with no op are matched to the
    op whose root contains them when exactly one does."""
    roots = [s for s in spans if s["parent"] == 0]
    own = [s for s in spans if s["parent"] > 0 or s["parent"] == 0]
    out = []
    for s in spans:
        if s["parent"] != -1:
            out.append(s)
            continue
        s = dict(s)
        if s["op"] is None:
            hits = [r for r in roots if r["start_ns"] <= s["start_ns"] <= r["end_ns"]]
            if len(hits) != 1:
                continue
            s["op"] = hits[0]["op"]
        cands = [c for c in own if c["op"] == s["op"]
                 and c["start_ns"] <= s["start_ns"] <= c["end_ns"]]
        if not cands:
            continue
        # innermost: the latest-starting container (containers nest)
        s["parent"] = max(cands, key=lambda c: (c["start_ns"], -c["end_ns"]))["id"]
        out.append(s)
    return out


def self_times(op_spans):
    """Self time of each span of one op, in ns, as a partition of the root
    span: every instant belongs to the deepest span active at it (the
    latest-starting one among equally deep overlapping siblings). Where
    children do not overlap this is a span's duration minus the time its
    children cover. Child intervals are clipped to their parent's.
    Returns {span id: ns}; the values sum to the root's duration."""
    by_id = {s["id"]: s for s in op_spans}
    root = next(s for s in op_spans if s["parent"] == 0)
    depth, clip = {}, {}

    def resolve(s):
        if s["id"] in depth:
            return
        if s["parent"] == 0:
            depth[s["id"]] = 0
            clip[s["id"]] = (s["start_ns"], s["end_ns"])
            return
        parent = by_id[s["parent"]]
        resolve(parent)
        ps, pe = clip[parent["id"]]
        depth[s["id"]] = depth[parent["id"]] + 1
        clip[s["id"]] = (max(ps, min(s["start_ns"], pe)), max(ps, min(s["end_ns"], pe)))

    for s in op_spans:
        resolve(s)
    cuts = sorted({t for iv in clip.values() for t in iv})
    out = {s["id"]: 0 for s in op_spans}
    for a, b in zip(cuts, cuts[1:]):
        active = [i for i, (s, e) in clip.items() if s <= a and e >= b]
        if not active:
            continue
        owner = max(active, key=lambda i: (depth[i], clip[i][0]))
        out[owner] += b - a
    assert sum(out.values()) == root["end_ns"] - root["start_ns"] or not cuts
    return out


def layer_self_ms(spans):
    """Mean self time per op, in ms, by layer, over the ops that have a
    root span; plus the mean op wall time."""
    spans = attach_external(spans)
    ops = {}
    for s in spans:
        ops.setdefault(s["op"], []).append(s)
    totals, walls = {}, []
    for op, ss in ops.items():
        roots = [s for s in ss if s["parent"] == 0]
        if len(roots) != 1:
            continue
        walls.append(roots[0]["end_ns"] - roots[0]["start_ns"])
        for sid, ns in self_times(ss).items():
            layer = layer_of(next(s["name"] for s in ss if s["id"] == sid))
            totals[layer] = totals.get(layer, 0) + ns
    n = len(walls)
    if n == 0:
        return {}, 0.0
    return ({k: v / n / 1e6 for k, v in totals.items()}, sum(walls) / n / 1e6)


# ---- metrics -----------------------------------------------------------

def _ms(ops, kinds):
    return [o["ms"] for o in ops if o["kind"] in kinds and o["ok"]]


def named_metrics(workload, res, params):
    """The wall-clock end-to-end metrics by name: (value, unit), with the
    tail percentile named after the percentile the sample count supports."""
    ops = res["ops"]
    secs = res["measure_s"]
    out = {"setup_wall_s": (statistics.median(res["setup_s"]), "s"),
           "live_heap_mb": (res["live_heap_mb"], "MiB")}

    def lat(prefix, values):
        t = timing(values)
        if "p50" in t:
            out[f"{prefix}_p50_ms"] = (t["p50"], "ms")
        if "tail" in t:
            out[f"{prefix}_p{int(t['tail_p'])}_ms"] = (t["tail"], "ms")
        out[f"{prefix}_samples"] = (t["n"], "count")

    if workload in ("point_reads", "large_log_reads", "ingest_mix"):
        lat("read", _ms(ops, READ_KINDS))
        out["reads_per_s"] = (len(_ms(ops, READ_KINDS)) / secs, "1/s")
    if workload in ("point_reads", "large_log_reads"):
        tt = _ms(ops, ("tt_read",))
        if tt:
            out["tt_read_p50_ms"] = (statistics.median(tt), "ms")
    if workload == "ingest_mix":
        lat("write", _ms(ops, WRITE_KINDS))
        out["writes_per_s"] = (len(_ms(ops, WRITE_KINDS)) / secs, "1/s")
        out["space_amp"] = (res["space_amp"], "ratio")
    if workload == "dedup_pipeline":
        out["pass_ms"] = (median_op_ms(workload, res), "ms")
        out["pipeline_rows_per_s"] = (params["documents"] * res["passes"] / secs, "rows/s")
    failed = failed_ops(res)
    out["failed_share"] = (failed / max(1, len(ops)), "ratio")
    return out


def failed_ops(res):
    return sum(1 for o in res["ops"] if not o["ok"]) + res["checks"]["op_failed"]


def measured_ops(workload, ops):
    """The successful ops of the workload's measured kind: reads (for
    ingest_mix, the reader's latest-version reads under the two writers),
    or pipeline stages."""
    return [o for o in ops if o["ok"]
            and (workload == "dedup_pipeline" or o["kind"] in READ_KINDS)]


def median_op_ms(workload, res, key="ms"):
    """Median wall time (`key="ms"`) or CPU time (`key="cpu_ms"`) of the
    measured op. A pipeline pass is the sum of each stage's median over the
    passes, so one stage slowed by a transient stall does not move the
    whole pass."""
    ops = measured_ops(workload, res["ops"])
    if workload != "dedup_pipeline":
        return statistics.median([o[key] for o in ops])
    stages = {}
    for o in ops:
        stages.setdefault(o["kind"], []).append(o[key])
    return sum(statistics.median(v) for v in stages.values())


def op_cpu_ms(workload, res):
    """The gated op cost in CPU ms. For ingest_mix, the CPU of every op of
    the three clients (conflict retries and failed ops included) over the
    ops completed, so the writers' commits count beside the reads; for the
    other workloads, the median CPU time of the measured op."""
    if workload == "ingest_mix":
        ops = res["ops"]
        return sum(o["cpu_ms"] for o in ops) / max(1, sum(1 for o in ops if o["ok"]))
    return median_op_ms(workload, res, "cpu_ms")


def end_to_end(workload, res):
    """The gated metrics. Set-up and ops are gated as CPU time (the client
    thread plus the Spark tasks it launched): on a shared host the wall
    time of whole runs moves with the CPU the host takes away, which CPU
    time does not count. Wall times are printed by name."""
    return {
        "setup_s": (statistics.median(res["setup_cpu_s"]), "s"),
        "op_cpu_ms": (op_cpu_ms(workload, res), "ms"),
        "live_heap_mb": (res["live_heap_mb"], "MiB"),
    }


def _median_span(spans, name):
    d = [(s["end_ns"] - s["start_ns"]) / 1e6 for s in spans if s["name"] == name]
    return statistics.median(d) if d else 0.0


def per_layer(workload, res, stages=()):
    """Per-layer metrics of a traced run (every name, 0 where a layer does
    not take part in the workload)."""
    ops = res["ops"]
    traced = [o for o in ops if o["traced"] and o["ok"]]
    counters = res.get("counters", {})
    spans = res.get("spans", [])
    n = max(1, len(traced))

    def total(key, kinds=None):
        return sum(counters.get(o["id"], {}).get(key, 0) for o in traced
                   if kinds is None or o["kind"] in kinds)

    def per_op(key, kinds=None):
        k = [o for o in traced if kinds is None or o["kind"] in kinds]
        return total(key, kinds) / len(k) if k else 0.0

    m = {}
    for call in ("list", "open", "create", "rename", "delete"):
        m[f"fs.{call}_calls"] = per_op(f"fs.{call}_calls")
    m["fs.bytes_read"] = per_op("fs.bytes_read")
    m["fs.bytes_written"] = per_op("fs.bytes_written")

    # commits landed per write op, from the commit attribution
    landed = {}
    for c in res.get("commits", []):
        landed[(c["client"], c["i"])] = landed.get((c["client"], c["i"]), 0) + 1
    writes = [o for o in traced if o["kind"] in WRITE_KINDS]
    attempts = sum(counters.get(o["id"], {}).get("log_mkdirs", 0) for o in writes)
    failed_puts = sum(max(0, counters.get(o["id"], {}).get("log_mkdirs", 0)
                          - landed.get((o["client"], o["i"]), 0)) for o in writes)
    failed_puts += total("fs.put_if_absent_failed")
    m["fs.put_if_absent_failed"] = failed_puts / n

    reads = [o for o in traced if o["kind"] in READ_KINDS]
    m["log_segment.ms"] = _median_span(spans, "log_segment")
    m["log_segment.files"] = per_op("log_segment.files", READ_KINDS)
    m["replay.meta_ms"] = _median_span(spans, "replay.meta")
    m["replay.files_ms"] = _median_span(spans, "replay.files")
    layer = res.get("layer", {})
    served = sum(layer.get(k, 0) for k in ("replay.hits", "replay.incremental", "replay.full"))
    all_ops = max(1, len(ops))
    m["replay.cache_hit_ratio"] = layer.get("replay.hits", 0) / served if served else 0.0
    m["replay.full"] = layer.get("replay.full", 0) / all_ops
    m["replay.incremental"] = layer.get("replay.incremental", 0) / all_ops
    m["replay.log_bytes"] = per_op("replay.log_bytes", READ_KINDS)

    files_in = total("skipping.files_in", READ_KINDS)
    kept = total("skipping.files_kept", READ_KINDS)
    useful = total("skipping.files_useful", READ_KINDS)
    m["skipping.ms"] = _median_span(spans, "skipping")
    m["skipping.files_in"] = files_in / len(reads) if reads else 0.0
    m["skipping.files_kept"] = kept / len(reads) if reads else 0.0
    m["skipping.kept_ratio"] = kept / files_in if files_in else 0.0
    m["skipping.useful_ratio"] = useful / kept if kept else 0.0
    m["scan_build.ms"] = _median_span(spans, "scan_build")

    ext = attach_external(spans)
    traced_ids = {o["id"] for o in traced}
    for phase in ("analysis", "optimization", "planning"):
        d = sum((s["end_ns"] - s["start_ns"]) / 1e6 for s in ext
                if s["name"] == f"catalyst.{phase}" and s["op"] in traced_ids)
        m[f"catalyst.{phase}_ms"] = d / n

    for key in ("jobs", "tasks", "job_ms", "executor_run_ms", "input_bytes",
                "shuffle_bytes", "spill_bytes"):
        m[f"spark.{key}"] = per_op(f"spark.{key}")
    m["spark.executor_cpu_ms"] = per_op("spark.executor_cpu_ns") / 1e6
    m["jvm.gc_ms"] = res.get("gc_ms", 0) / all_ops

    for kind in WRITE_KINDS:
        m[f"commit.{kind}_ms"] = _median_span(spans, f"commit.{kind}")
    m["commit.attempts"] = attempts / len(writes) if writes else 0.0
    m["commit.conflicts"] = (failed_puts / len(writes)) if writes else 0.0
    commits = res.get("commits", [])
    m["commit.files_added"] = (sum(c["files_added"] for c in commits) / len(commits)
                               if commits else 0.0)
    m["commit.files_removed"] = (sum(c["files_removed"] for c in commits) / len(commits)
                                 if commits else 0.0)
    m["checkpoint.count"] = layer.get("checkpoint.count", 0)
    m["checkpoint.stall_ms"] = checkpoint_stall(ops, commits)
    user_rows = sum(o.get("user_rows", 0) for o in writes)
    bpr = res.get("info", {}).get("table", {}).get("bytes_per_row", 0.0)
    written = sum(counters.get(o["id"], {}).get("fs.bytes_written", 0) for o in writes)
    m["write.bytes_per_user_byte"] = written / (user_rows * bpr) if user_rows and bpr else 0.0

    for q in stages:
        st = [o for o in traced if o["kind"] == q]
        m[f"stage.{q}.ms"] = statistics.median([o["ms"] for o in st]) if st else 0.0
        m[f"stage.{q}.rows_out"] = (total("spark.output_records", (q,)) / len(st)) if st else 0.0

    self_ms, wall = layer_self_ms(spans)
    for _, lay in LAYERS:
        m[f"self.{lay}_ms"] = self_ms.get(lay, 0.0)
    m["self.op_wall_ms"] = wall
    m.update(trace_overhead(workload, res))
    return m


def checkpoint_stall(ops, commits):
    """Median latency of writes whose commit wrote a checkpoint minus that
    of the other writes (0 when either group is empty)."""
    cp = {(c["client"], c["i"]) for c in commits if c["checkpoint"]}
    writes = [o for o in ops if o["kind"] in WRITE_KINDS and o["ok"]]
    a = [o["ms"] for o in writes if (o["client"], o["i"]) in cp]
    b = [o["ms"] for o in writes if (o["client"], o["i"]) not in cp]
    return statistics.median(a) - statistics.median(b) if a and b else 0.0


def trace_overhead(workload, res):
    """Traced minus untraced median of the measured op, both taken in the
    traced run (every other op is traced)."""
    ops = measured_ops(workload, res["ops"])
    traced = {"ops": [o for o in ops if o["traced"]]}
    plain = {"ops": [o for o in ops if not o["traced"]]}
    if not traced["ops"] or not plain["ops"]:
        return {"trace.overhead_ms": 0.0, "trace.overhead_ratio": 0.0}
    a, b = median_op_ms(workload, traced), median_op_ms(workload, plain)
    return {"trace.overhead_ms": a - b, "trace.overhead_ratio": (a - b) / b}
