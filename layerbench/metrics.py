"""Pure metric arithmetic for the layered benchmark: percentiles, failure
accounting, the end-to-end and per-layer roll-ups, and the result line.
Everything here works on the run record the JVM side writes (run.json),
the span file, and the oracle verdicts, so it is testable without Spark.
"""
import json
import math

TAIL_MIN_BEYOND = 10   # a tail percentile needs this many samples beyond it


def nearest_rank(values, p):
    """Nearest-rank percentile: the smallest sample with at least a share
    ``p`` of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = max(1, math.ceil(p * len(xs)))
    return xs[k - 1]


def beyond(n, p):
    """How many of ``n`` samples lie strictly beyond the nearest-rank
    ``p`` percentile."""
    return n - max(1, math.ceil(p * n))


def percentile_line(name, values, p, unit):
    """One report line for a percentile with its sample count. A tail
    percentile (p > 0.5) is printed only when at least TAIL_MIN_BEYOND
    samples lie beyond it; the median is always printed."""
    n = len(values)
    if n == 0:
        return f"{name} n/a {unit} (n=0)"
    if p > 0.5 and beyond(n, p) < TAIL_MIN_BEYOND:
        return (f"{name} n/a {unit} (n={n}; needs {TAIL_MIN_BEYOND} samples "
                f"beyond p{round(p * 100)})")
    return f"{name} {nearest_rank(values, p):.6g} {unit} (n={n})"


def parse_check(text):
    """Per-query verdicts from the oracle compare's output lines
    (``PASS name ...`` / ``FAIL name: ...``)."""
    out = {}
    for line in text.splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[0] in ("PASS", "FAIL"):
            out[parts[1].rstrip(":")] = parts[0] == "PASS"
    return out


def reuse_verdicts(warmup, cached):
    """Splits the warm-up results into those whose hash was verified for
    this seed before (``cached``: name → hash), which pass without a new
    oracle check, and the names still to check. Returns
    ``(verdicts, todo)``."""
    verdicts, todo = {}, []
    for w in warmup:
        if not w.get("hash"):
            continue
        if cached.get(w["name"]) == w["hash"]:
            verdicts[w["name"]] = True
        else:
            todo.append(w["name"])
    return verdicts, todo


def account(run, verdicts):
    """Marks every timed operation ok or failed and returns
    ``(ops, attempted, failed)``.

    A query operation is ok when it did not throw and its result hash
    equals the hash of this run's warm-up result, and that result passed
    the oracle (now, or as the same hash earlier for this seed). A
    registry operation is ok when it did not throw and the registry's
    final readout matched the one-shot oracle."""
    verified = {w["name"]: w["hash"] for w in run.get("warmup", [])
                if w.get("hash") and verdicts.get(w["name"])}
    reg_ok = {name: verdicts.get(q, False)
              for name, q in run.get("registry_oracles", {}).items()}
    ops = []
    for op in run["ops"]:
        ok = not op.get("error")
        if op["kind"] == "query":
            ok = ok and op.get("hash") is not None and \
                op["hash"] == verified.get(op["name"])
        else:
            ok = ok and reg_ok.get(op["name"], False)
        ops.append(dict(op, ok=ok))
    failed = sum(1 for o in ops if not o["ok"])
    return ops, len(ops), failed


def _median(xs):
    return nearest_rank(xs, 0.5)


def end_to_end(run, ops, primary):
    """The end-to-end metrics of an untraced run (or of the untraced
    passes of a traced one): ``{name: (value, unit, samples)}``.

    ``pass_cpu_s`` is the gated timing: the work CPU of a pass (every
    thread but the JIT compiler's). Neither host steal nor waiting for a
    core counts in it, so it holds on a shared host where the wall time
    of the same pass (``pass_s``) does not."""
    base = [o for o in ops if not o.get("traced")]
    prim = [o["s"] for o in base if o["kind"] == primary]
    passes = [p for p in run["passes"] if not p.get("traced")]

    def mean(key):
        # mean, not median, over the few passes of one run: a registry run
        # alternates compaction and append rounds
        return sum(p[key] for p in passes) / len(passes)

    return {
        # one sample: from process start, so it holds the JVM start
        "setup_s": (run["setup_s"], "s", 1),
        "pass_cpu_s": (mean("cpu_s"), "s", len(passes)),
        "pass_s": (mean("s"), "s", len(passes)),
        "pass_jit_cpu_s": (mean("jit_s"), "s", len(passes)),
        "warmup_s": (run["warmup_s"], "s", 1),
        "op_s_p50": (_median(prim), "s", len(prim)),
        "peak_rss_mb": (run["peak_rss_mb"], "MB", 1),
    }


def workload_lines(run, ops, attempted, failed, workload):
    """The workload-specific end-to-end metrics, by name with unit and
    sample count (percentiles subject to the tail rule)."""
    base = [o for o in ops if not o.get("traced")]
    passes = [p for p in run["passes"] if not p.get("traced")]
    wall = sum(p["s"] for p in passes)
    lines = [f"failed_frac {failed / max(1, attempted):.6g} ratio "
             f"(n={attempted})"]
    if workload == "curation_kernels":
        q = [o["s"] for o in base if o["kind"] == "query"]
        lines += [percentile_line("query_s_p50", q, 0.5, "s"),
                  percentile_line("query_s_p90", q, 0.9, "s"),
                  percentile_line("curation_s", [p["s"] for p in passes],
                                  0.5, "s"),
                  f"queries_per_s {len(q) / wall:.6g} 1/s (n={len(q)})"]
    else:
        c = [o["s"] for o in base if o["kind"] == "commit"]
        r = [o["s"] for o in base if o["kind"] == "readout"]
        docs = sum(p.get("docs", 0) for p in passes)
        lines += [percentile_line("commit_s_p50", c, 0.5, "s"),
                  percentile_line("commit_s_p90", c, 0.9, "s"),
                  percentile_line("readout_s_p50", r, 0.5, "s"),
                  f"ingest_docs_per_s {docs / wall:.6g} docs/s "
                  f"(n={len(passes)})",
                  f"store_bytes_per_input_byte "
                  f"{run['store_bytes'] / max(1, run['landed_bytes']):.6g} "
                  f"ratio (n=1)"]
    return lines


# ---- traced runs ------------------------------------------------------------

LAYER_OF_SPAN = {
    "op": "client", "operators.build": "operators", "action": "driver",
    "job": "scheduler", "catalyst.analysis": "catalyst",
    "catalyst.optimization": "catalyst", "catalyst.planning": "catalyst",
    "refresh": "refresh", "streaming.trigger": "streaming",
    "readout": "readout",
}
SELF_LAYERS = sorted(set(LAYER_OF_SPAN.values()))
# spans the benchmark records itself, with their parent; the rest come
# from listeners and are placed by containment
HARNESS_SPANS = {"op", "operators.build", "action", "refresh", "readout"}


def _union(intervals):
    total, end = 0.0, -math.inf
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans):
    """Self time per layer, summed per operation: each span's duration
    minus the part of it its child spans cover. Listener spans (jobs,
    catalyst phases, triggers) carry no parent and are hung under the
    innermost span of the same operation that contains their start."""
    by_op = {}
    for s in spans:
        if s["op"]:
            by_op.setdefault(s["op"], []).append(s)
    out = {}
    for op, ss in by_op.items():
        kids = {s["id"]: [] for s in ss}
        for s in ss:
            if s["name"] in HARNESS_SPANS:
                if s["parent"] in kids:
                    kids[s["parent"]].append(s)
                continue
            holders = [h for h in ss if h is not s and
                       h["start"] <= s["start"] <= h["end"] and
                       (h["end"] - h["start"]) >= (s["end"] - s["start"])]
            if holders:
                h = min(holders, key=lambda h: h["end"] - h["start"])
                kids[h["id"]].append(s)
        layers = out.setdefault(op, {})
        for s in ss:
            lo, hi = s["start"], s["end"]
            covered = _union([(max(lo, c["start"]), min(hi, c["end"]))
                              for c in kids[s["id"]]
                              if c["end"] > lo and c["start"] < hi])
            layer = LAYER_OF_SPAN.get(s["name"], s["name"])
            layers[layer] = layers.get(layer, 0.0) + \
                max(0.0, (hi - lo) - covered) / 1e3
    return out


def _job_wall_union(spans, op):
    return _union([(s["start"], s["end"]) for s in spans
                   if s["op"] == op and s["name"] == "job"]) / 1e3


def _eager_jobs(spans, op):
    builds = [s for s in spans if s["op"] == op and s["name"] == "operators.build"]
    return sum(1 for s in spans if s["op"] == op and s["name"] == "job" and
               any(b["start"] <= s["start"] <= b["end"] for b in builds))


def per_layer(run, ops, spans, names, workload, primary):
    """Per-operation means (per ``primary`` operation) of every per-layer
    metric over the traced passes; metrics of a layer the workload does
    not exercise are 0."""
    traced = [o for o in ops if o.get("traced")]
    prim = [o for o in traced if o["kind"] == primary]
    counters = run.get("counters", {})
    n = max(1, len(prim))

    def total(key, kind=primary):
        return sum(counters.get(o["id"], {}).get(key, 0.0)
                   for o in traced if o["kind"] == kind)

    m = {k: 0.0 for k in names}
    for key in names:
        if key.split(".")[0] in ("catalyst", "scheduler", "executor",
                                 "shuffle", "scan", "streaming") or \
                key == "functions.fallback_nodes":
            m[key] = total(key) / n
    tp = [p for p in run["passes"] if p.get("traced")]
    m["executor.busy_frac"] = sum(
        counters.get(o["id"], {}).get("executor.task_run_s", 0.0)
        for o in traced) / max(1e-9, run["cpus"] * sum(p["s"] for p in tp))
    m["operators.build_s"] = sum(o.get("build_s", 0.0) for o in prim) / n
    m["jvm.jit_cpu_s"] = sum(o.get("jit_s", 0.0) for o in prim) / n
    m["codegen.classes"] = sum(o.get("codegen_classes", 0) for o in prim) / n
    m["operators.eager_jobs"] = sum(_eager_jobs(spans, o["id"])
                                    for o in prim) / n
    m["operators.driver_gap_s"] = sum(
        o["s"] - _job_wall_union(spans, o["id"]) for o in prim) / n
    for k, v in run.get("kernels", {}).items():
        if k in m:
            m[k] = v
    dsl = run.get("dsl")
    if dsl:
        m["dsl.parse_ms"] = _median(dsl["parse_ms"])
        m["core.runner_s"] = _median(dsl["runner_s"])
    if workload == "registry_ingest":
        m["streaming.start_stop_s"] = sum(
            o["s"] for o in prim) / n - m["streaming.trigger_s"]
        rew = total("sources.files_rewritten")
        car = total("sources.files_carried")
        m["sources.files_rewritten"] = rew / n
        m["sources.files_carried"] = car / n
        m["sources.rewrite_frac"] = rew / max(1.0, rew + car)
        m["sources.segment_mb"] = total("sources.segment_mb") / n
        m["sources.compactions"] = total("sources.compactions")
        m["sources.pruned_read_frac"] = total(
            "sources.pruned_files_opened") / max(
            1.0, total("sources.pruned_files_total"))
        m["sources.store_mb_written"] = sum(
            p["store_growth_mb"] for p in tp) / max(1, len(tp))
        ro = [o for o in traced if o["kind"] == "readout"]
        m["sources.readout_files"] = sum(o.get("files", 0) for o in ro) / \
            max(1, len(ro))
    st = self_times(spans)
    for layer in SELF_LAYERS:
        key = f"self.{layer}_s"
        if key in m:
            m[key] = sum(st.get(o["id"], {}).get(layer, 0.0)
                         for o in traced) / n
    on = [p["cpu_s"] for p in run["passes"] if p.get("traced")]
    off = [p["cpu_s"] for p in run["passes"] if not p.get("traced")]
    if on and off:
        m["trace.overhead_frac"] = (sum(on) / len(on)) / (sum(off) / len(off)) - 1.0
    return m


def result_line(correct, attempted, failed, metrics):
    """The final stdout line: exactly correct/attempted/failed/metrics,
    each metric ``{"value": v, "unit": u}``."""
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })


def report(run, verdicts, bench, workload, primary, trace, spans=()):
    """Report lines, the last one the JSON result, and the exit code: 0
    only when every operation succeeded with a verified result."""
    ops, attempted, failed = account(run, verdicts)
    bad = sorted({o["name"] for o in ops if not o["ok"]})
    lines = [f"verify oracle={sum(verdicts.values())}/{len(verdicts)} "
             f"ops={attempted} failed={failed}" +
             (f" wrong={','.join(bad)}" if bad else "")]
    e2e = end_to_end(run, ops, primary)
    lines += [f"metric {k} {v:.6g} {u} (n={n})" for k, (v, u, n) in e2e.items()]
    lines += ["metric " + ln for ln in
              workload_lines(run, ops, attempted, failed, workload)]
    if trace:
        names = [m["name"] for m in bench["per_layer"]]
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        layer = per_layer(run, ops, list(spans), names, workload, primary)
        lines += [f"layer {k} {layer[k]:.6g} {units[k]}" for k in names]
        lines.append(f"tracing overhead "
                     f"{layer.get('trace.overhead_frac', 0.0):+.3%} "
                     f"(pass_cpu_s, traced vs untraced passes of this run)")
        result = {k: (layer[k], units[k]) for k in names}
    else:
        result = {m["name"]: (e2e[m["name"]][0], m["unit"])
                  for m in bench["end_to_end"]}
    correct = failed == 0
    lines.append(result_line(correct, attempted, failed, result))
    return lines, 0 if correct else 1
