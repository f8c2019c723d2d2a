"""Metrics of one run, from the harness's records and the check verdict.

The gated end-to-end metrics are in process CPU time: the set-up's CPU
seconds and the CPU per successful operation (for the open loop, per
event). A shared 4-vCPU VM lost up to 30% of its CPU to the hypervisor in
contended periods, which moves wall-clock figures far more than CPU time.
The wall-clock figures (throughput, latency percentiles) are reported
alongside, on stderr.

A failed operation (an error, or an output the checks reject) counts in
`failed`, never as a fast operation: its CPU time counts but it does not,
it adds no throughput, and it enters every latency percentile as +inf, so
it misses any latency limit.
"""
import math
import statistics

# (name, unit): the end-to-end metrics (--trace 0) and per-layer metrics
# (--trace 1) every run reports, in BENCHMARK.json's order
END_TO_END = [("setup_s", "s"), ("cpu_ms_per_op", "ms")]
PER_LAYER = [
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"), ("stream.query_planning_ms", "ms"),
    ("codegen.compiles", "count"), ("codegen.compile_ms", "ms"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_busy_s", "s"), ("spark.task_cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.core_util", "ratio"), ("spark.task_retry_frac", "ratio"),
    ("shuffle.write_mb", "MiB"), ("shuffle.read_mb", "MiB"), ("shuffle.spill_mb", "MiB"),
    ("shuffle.fetch_wait_ms", "ms"), ("shuffle.task_skew", "ratio"),
    ("queries.build_ms", "ms"), ("stream.batches", "count"), ("stream.trigger_ms", "ms"),
    ("stream.add_batch_ms", "ms"), ("stream.wal_commit_ms", "ms"),
    ("stream.commit_offsets_ms", "ms"), ("stream.start_stop_ms", "ms"),
    ("stream.nodata_batch_frac", "ratio"),
    ("state.commit_ms", "ms"), ("state.rows_total", "count"),
    ("state.rows_updated", "count"), ("state.rows_removed", "count"),
    ("state.memory_mb", "MiB"), ("state.dropped_by_watermark", "count"),
    ("source.lag_end_s", "s"), ("sink.write_ms", "ms"),
    ("ops.dedup_s", "s"), ("ops.sim_s", "s"), ("ops.cur_s", "s"), ("ops.text_s", "s"),
    ("jvm.peak_rss_mb", "MiB"),
    ("trace.overhead_frac", "ratio"), ("canary.spread", "ratio"),
    ("canary.contended", "count"), ("canary.steal_frac", "ratio"),
]
# a run is contended on its face when its canary spread exceeds
# CANARY_BOUND or the hypervisor stole more than STEAL_BOUND of the CPU
CANARY_BOUND = 0.10
STEAL_BOUND = 0.05
FAMILIES = {"ops.dedup_s": ("q_dedup_", "b_dedup_"), "ops.sim_s": ("q_sim_", "b_sim_"),
            "ops.cur_s": ("q_cur_",), "ops.text_s": ("q_text_",)}


class TooFewSamples(ValueError):
    pass


def percentile(values, q, beyond=10):
    """Nearest-rank percentile; needs `beyond` samples above its rank."""
    xs = sorted(values)
    rank = max(1, math.ceil(q * len(xs)))
    if len(xs) - rank < beyond:
        raise TooFewSamples(f"p{q * 100:g} of {len(xs)} samples has "
                            f"{len(xs) - rank} beyond it, needs {beyond}")
    return xs[rank - 1]


def canary(res):
    c = res["canary_s"]
    spread = (max(c) - min(c)) / statistics.median(c)
    return spread, int(spread > CANARY_BOUND or res["steal_frac"] > STEAL_BOUND)


def _emit(values, units, correct, attempted, failed):
    # a percentile that lands on a failure is +inf: JSON null, in a run
    # that is not correct anyway
    def num(v):
        return float(v) if math.isfinite(v) else None
    return {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
            "metrics": {k: {"value": num(values[k]), "unit": u} for k, u in units}}


def _finish(res, verdict, trace, measure, layers, attempted, failed, detail):
    """`measure()` gives (gated end-to-end values, reported-only wall values)."""
    spread, contended = canary(res)
    detail.update(canary_spread=round(spread, 4), contended=bool(contended),
                  steal_frac=round(res["steal_frac"], 4), peak_rss_mb=res["peak_rss_mb"],
                  failed=failed, attempted=attempted, failed_frac=failed / max(1, attempted))
    ok = not verdict.bad and failed == 0
    units = PER_LAYER if trace else END_TO_END
    try:
        e2e, wall = measure()
        detail.update({k: round(v, 4) for k, v in wall.items()})
        if trace:
            layers.update({"canary.spread": spread, "canary.contended": contended,
                           "canary.steal_frac": res["steal_frac"],
                           "jvm.peak_rss_mb": res["peak_rss_mb"]})
        values = layers if trace else e2e
    except TooFewSamples as e:
        verdict.notes.append(f"FAIL {e}")
        ok, values = False, {k: 0.0 for k, _ in units}
    return {"result": _emit(values, units, ok, max(1, attempted), failed), "detail": detail}


def self_times(spans):
    """Per span name: total duration minus the durations of its children,
    summed over the traced operations (ms)."""
    child = {}
    for sp in spans:
        child[sp["parent"]] = child.get(sp["parent"], 0.0) + sp["end_ms"] - sp["start_ms"]
    out = {}
    for sp in spans:
        name = "op" if sp["name"].startswith("op:") else sp["name"]
        own = sp["end_ms"] - sp["start_ms"] - child.get(sp["id"], 0.0)
        out[name] = out.get(name, 0.0) + max(0.0, own)
    return {k: round(v, 1) for k, v in sorted(out.items())}


def _median_by_key(ops):
    by = {}
    for o in ops:
        by.setdefault(o["key"], []).append(o["wall_s"])
    return {k: statistics.median(v) for k, v in by.items()}


def closed_loop(res, verdict, trace):
    for o in res["ops"]:
        o["ok"] = not o["error"] and o["key"] not in verdict.bad
    ops = [o for o in res["ops"] if o["phase"] != "warm"]
    failed = sum(not o["ok"] for o in res["ops"])
    n_ok = sum(o["ok"] for o in ops)

    def measure():
        lat = [o["wall_s"] if o["ok"] else math.inf for o in ops]
        e2e = {"setup_s": statistics.median(res["setup_cpu_s"]),
               "cpu_ms_per_op": 1000 * sum(o["cpu_s"] for o in ops) / n_ok if n_ok else math.inf}
        wall = {"ops_per_s": n_ok / sum(o["wall_s"] for o in ops),
                "op_p50_s": percentile(lat, 0.5)}
        return e2e, wall

    layers = {}
    if trace:
        layers = {k: 0.0 for k, _ in PER_LAYER}
        layers.update(res["layers"])
        traced = [o for o in ops if o["phase"] == "traced"]
        for name, prefixes in FAMILIES.items():
            fam = [o["wall_s"] for o in traced if o["key"].startswith(prefixes)]
            layers[name] = statistics.mean(fam) if fam else 0.0
        before = _median_by_key([o for o in ops if o["phase"] == "measure"])
        after = _median_by_key(traced)
        common = sorted(set(before) & set(after))
        layers["trace.overhead_frac"] = (sum(after[k] for k in common) /
                                         sum(before[k] for k in common) - 1.0) if common else 0.0
    detail = {"ops": len(ops), "keys": len({o["key"] for o in ops}),
              "setup_wall_s": res["setup_wall_s"], "canary_s": res["canary_s"]}
    return _finish(res, verdict, trace, measure, layers, len(res["ops"]), failed, detail)


def open_loop(res, verdict, trace):
    o = res["open"]
    ev = verdict.events
    win = ev[(ev["ts_ms"] >= o["measure_start_ms"]) & (ev["ts_ms"] < o["end_ms"])]
    # from the creation of the session's last event plus the gap (when the
    # result became final) to its emission: queue wait, not window length
    lat_s = ((win["emit_ms"] - win["closed_ms"]) / 1000.0).where(win["ok"], math.inf)
    failed = int((~win["ok"]).sum())
    good = win[win["ok"]]

    def measure():
        e2e = {"setup_s": statistics.median(res["setup_cpu_s"]),
               "cpu_ms_per_op": 1000 * o["measure_cpu_s"] / len(good) if len(good) else math.inf}
        span_s = (good["emit_ms"].max() - o["measure_start_ms"]) / 1000.0
        wall = {"ops_per_s": len(good) / span_s,
                "op_p50_s": percentile(list(lat_s), 0.5),
                "op_p99_s": percentile(list(lat_s), 0.99)}
        return e2e, wall

    layers = {}
    if trace:
        layers = {k: 0.0 for k, _ in PER_LAYER}
        layers.update(res["layers"])
        layers["source.lag_end_s"] = o["lag_end_s"]
        layers["sink.write_ms"] = o["sink_ms"] / max(1, o["sink_calls"])
        first = lat_s[win["ts_ms"] < o["half_ms"]]
        second = lat_s[win["ts_ms"] >= o["half_ms"]]
        if len(first) and len(second):
            layers["trace.overhead_frac"] = (statistics.median(second) /
                                             statistics.median(first) - 1.0)
    detail = {"events": len(ev), "measured_events": len(win), "lag_end_s": o["lag_end_s"],
              "setup_wall_s": res["setup_wall_s"], "canary_s": res["canary_s"]}
    return _finish(res, verdict, trace, measure, layers, len(win), failed, detail)
