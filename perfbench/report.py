"""Reduce one run record (written by perfbench.Main) to the benchmark's
end-to-end and per-layer metrics."""
import stats

PRIORITY = ["exec", "catalyst", "sources", "construct"]
STAGE_METRIC = {"extract": "etl.bronze_s", "transform": "etl.silver_s",
                "roll_up": "etl.gold_s", "merge_census": "etl.census_s",
                "write_to_volume": "etl.export_s"}
CURATION_OPS = ["dd_minhash_neardup", "dd_cluster", "sim_topk_ivf_pruned",
                "sim_topk_ivfpq_refined", "an_pagerank", "ta_ngram_counts",
                "st_join"]
SECONDS = 1e3  # span times are epoch milliseconds
# an op's job and phase spans may reach outside it by this much (clock
# granularity) before its layer split counts as not reconciled
TOLERANCE_MS, TOLERANCE_SHARE = 5.0, 0.02

# per-layer metric names in report order; every traced run reports all of
# them (a layer a workload never reaches reads 0)
PER_LAYER = (
    ["queries.construct_s", "queries.eager_jobs", "catalyst.analysis_s",
     "catalyst.optimization_s", "catalyst.planning_s",
     "catalyst.codegen_compiles", "exec.jobs",
     "exec.stages", "exec.tasks", "exec.busy_s", "exec.task_cpu_s",
     "exec.task_deser_s", "exec.gc_s", "exec.input_bytes",
     "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
     "exec.spill_bytes", "exec.failed_tasks", "driver.gap_s"]
    + list(STAGE_METRIC.values())
    + ["etl.construct_s", "sources.write_s", "sources.bytes_written",
       "sources.files_written", "sources.write_failures",
       "operators.release_s", "streaming.batches", "streaming.trigger_s",
       "streaming.plan_s", "streaming.wal_s", "streaming.add_batch_s"]
    + [f"op.{n}_s" for n in CURATION_OPS]
    + ["trace.overhead_s", "trace.unreconciled_ops", "check.failed_ratio"])


def unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name == "sources.bytes_written":
        return "bytes"
    if name == "check.failed_ratio":
        return "ratio"
    return "count"


def _dur(span):
    return (span["end"] - span["start"]) / SECONDS


def passes(record):
    """Timed pass spans (warm-up passes excluded), in order."""
    return sorted((s for s in record["spans"]
                   if s["kind"] == "pass" and not s["attrs"]["warmup"]),
                  key=lambda s: s["attrs"]["pass"])


def failed_ops(record):
    return len({(f["pass"], f["op"]) for f in record["failures"]})


def op_walls(record, pass_ids):
    return [_dur(s) for s in record["spans"]
            if s["kind"] == "op" and s["parent"] in pass_ids]


def end_to_end(record, input_gen_s):
    timed = [p for p in passes(record) if not p["attrs"]["traced"]]
    ids = {p["id"] for p in timed}
    walls = op_walls(record, ids)
    out = {
        "setup_s": input_gen_s + stats.median(record["setup_session_s"])
        + record["warmup_s"],
        "pass_s": stats.median(_dur(p) for p in timed),
        "op_p50_s": stats.quantile(walls, 0.5),
        "op_p90_s": stats.quantile(walls, 0.9),
        "cpu_s": stats.median(p["attrs"]["cpu_s"] for p in timed),
        "retained_heap_mb": record["retained_heap_mb"],
    }
    return {k: v for k, v in out.items() if v is not None}, len(walls)


class PassLayers:
    """Per-layer totals of one traced pass."""

    def __init__(self, record, pass_span):
        spans = record["spans"]
        pid = pass_span["id"]
        self.ops = {s["op"]: s for s in spans
                    if s["kind"] == "op" and s["parent"] == pid}
        meta = {s["op"]: s for s in spans if s["kind"] == "op_meta"
                and s["op"] in self.ops}
        by_op = {op: [] for op in self.ops}
        window = (pass_span["start"], pass_span["end"])
        for s in spans:
            if s["kind"] in ("construct", "sink") and s["op"] in by_op:
                by_op[s["op"]].append(s)
            elif s["kind"] in ("job", "phase", "stream"):
                op = s["op"] if s["op"] in by_op else self._owner(s["start"])
                if op is not None:
                    by_op[op].append(s)
                elif window[0] <= s["start"] <= window[1]:
                    by_op.setdefault(None, []).append(s)
        m = dict.fromkeys(PER_LAYER, 0.0)
        self.split = dict.fromkeys(PRIORITY + ["gap"], 0.0)
        self.unreconciled = []
        stage_ops = set(STAGE_METRIC)
        for op, op_span in self.ops.items():
            name = op_span["name"]
            win = (op_span["start"], op_span["end"])
            kids = by_op[op]
            kind = lambda k: [s for s in kids if s["kind"] == k]
            jobs, phases, streams = kind("job"), kind("phase"), kind("stream")
            constructs, sinks = kind("construct"), kind("sink")
            wall = _dur(op_span)
            construct_s = sum(_dur(s) for s in constructs)
            if name in stage_ops:
                m[STAGE_METRIC[name]] += wall
                m["etl.construct_s"] += construct_s
            else:
                m["queries.construct_s"] += construct_s
            if f"op.{name}_s" in m:
                m[f"op.{name}_s"] += wall
            m["queries.eager_jobs"] += sum(
                1 for j in jobs if any(c["start"] <= j["start"] <= c["end"]
                                       for c in constructs))
            for p in phases:
                key = {"analysis": "catalyst.analysis_s",
                       "optimization": "catalyst.optimization_s",
                       "planning": "catalyst.planning_s"}.get(p["name"])
                if key:
                    m[key] += _dur(p)
            open_jobs = [j for j in jobs if j["end"] < 0]
            closed = [j for j in jobs if j["end"] >= 0]
            self._jobs(m, jobs)
            m["exec.busy_s"] += stats.union_length(
                stats.clip((j["start"], j["end"]), win) for j in closed) / SECONDS
            for st in streams:
                a = st["attrs"]
                m["streaming.batches"] += 1
                m["streaming.trigger_s"] += a["trigger_ms"] / SECONDS
                m["streaming.plan_s"] += a["plan_ms"] / SECONDS
                m["streaming.wal_s"] += a["wal_ms"] / SECONDS
                m["streaming.add_batch_s"] += a["add_batch_ms"] / SECONDS
            m["sources.write_s"] += sum(_dur(s) for s in sinks)
            if sinks and not meta.get(op, {}).get("attrs", {}).get("ok", True):
                m["sources.write_failures"] += 1
            parts = stats.self_times(win, {
                "exec": [(j["start"], j["end"]) for j in closed],
                "catalyst": [(p["start"], p["end"]) for p in phases],
                "sources": [(s["start"], s["end"]) for s in sinks],
                "construct": [(c["start"], c["end"]) for c in constructs],
            }, PRIORITY)
            for k, v in parts.items():
                self.split[k] += v / SECONDS
            m["driver.gap_s"] += parts["gap"] / SECONDS
            # the layer parts must account for the op's wall: time a job or
            # phase of this op spent outside the op, or a job that never
            # reported its end, means the split does not reconcile
            stray = sum(stats.outside((s["start"], s["end"]), win)
                        for s in closed + phases)
            if open_jobs or stray > max(TOLERANCE_MS, TOLERANCE_SHARE * (win[1] - win[0])):
                self.unreconciled.append(
                    {"op": name, "wall_s": wall, "outside_s": stray / SECONDS,
                     "open_jobs": len(open_jobs)})
        self._jobs(m, [j for j in by_op.get(None, []) if j["kind"] == "job"])
        m["operators.release_s"] = sum(
            _dur(s) for s in spans if s["kind"] == "release" and s["op"] in self.ops)
        outputs = [s for s in spans if s["kind"] == "sink_output" and s["parent"] == pid]
        m["sources.files_written"] = sum(s["attrs"]["files"] for s in outputs)
        m["sources.bytes_written"] = sum(s["attrs"]["bytes"] for s in outputs)
        m["catalyst.codegen_compiles"] = pass_span["attrs"]["codegen_compiles"]
        self.metrics = m

    def _owner(self, t):
        for op, s in self.ops.items():
            if s["start"] <= t <= s["end"]:
                return op
        return None

    @staticmethod
    def _jobs(m, jobs):
        for j in jobs:
            a = j["attrs"]
            m["exec.jobs"] += 1
            m["exec.stages"] += a["stages"]
            m["exec.tasks"] += a["tasks"]
            m["exec.failed_tasks"] += a["failed_tasks"]
            m["exec.task_cpu_s"] += a["task_cpu_ms"] / SECONDS
            m["exec.task_deser_s"] += a["task_deser_ms"] / SECONDS
            m["exec.gc_s"] += a["gc_ms"] / SECONDS
            m["exec.input_bytes"] += a["input_bytes"]
            m["exec.shuffle_read_bytes"] += a["shuffle_read_bytes"]
            m["exec.shuffle_write_bytes"] += a["shuffle_write_bytes"]
            m["exec.spill_bytes"] += a["spill_bytes"]


def per_layer(record):
    """Per-layer metrics (median over traced passes), the exclusive layer
    split per pass, the ops that did not reconcile, and the tracing
    overhead: the median over traced passes of the pass wall minus the mean
    wall of its untraced neighbours."""
    all_passes = passes(record)
    traced = [p for p in all_passes if p["attrs"]["traced"]]
    untraced = [p for p in all_passes if not p["attrs"]["traced"]]
    layers = [PassLayers(record, p) for p in traced]
    metrics = {k: stats.median(pl.metrics[k] for pl in layers)
               for k in PER_LAYER if k not in
               ("trace.overhead_s", "trace.unreconciled_ops", "check.failed_ratio")}
    # each traced pass against the mean of its untraced neighbours, so a
    # trend over the passes (JIT still settling) does not count as overhead
    wall = {p["attrs"]["pass"]: _dur(p) for p in untraced}
    diffs = []
    for p in traced:
        n = p["attrs"]["pass"]
        near = [wall[k] for k in (n - 1, n + 1) if k in wall]
        diffs.append(_dur(p) - sum(near) / len(near))
    overhead = stats.median(diffs)
    unreconciled = [u for pl in layers for u in pl.unreconciled]
    metrics["trace.overhead_s"] = overhead
    metrics["trace.unreconciled_ops"] = len(unreconciled)
    metrics["check.failed_ratio"] = failed_ops(record) / max(1, record["attempted"])
    split = {k: stats.median(pl.split[k] for pl in layers) for k in PRIORITY + ["gap"]}
    return metrics, split, unreconciled, overhead
