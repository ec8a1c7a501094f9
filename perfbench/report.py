"""Turn a run's ops and spans into end-to-end and per-layer metrics.

End-to-end (tracing off) — the BENCHMARK.json metrics, printed by
every workload:

- ``setup_s``: process start to the first timed op (one preparation,
  benchmark oracle work left out).
- ``op_p50_norm_s``: per op kind, the median op latency; the geometric
  mean over the workload's op kinds (a single kind gives the plain
  value); scaled to the reference host speed (below).
- ``ops_per_s_norm``: ops completed per second of op time, scaled the
  same way.

Host-speed scaling: the shared host's single-thread speed drifts by
±25% over minutes, which moved whole runs and swamped every latency
spread. Between ops (the program idle) the run times a fixed Python
loop; a normalised metric is the raw one times ``REF_PROBE_S`` ÷ the
run's median probe. A slower program moves it; a slower host does not.
The raw ``op_p50_s`` and ``ops_per_s`` are printed as report lines.

Per-layer (tracing on): span times, self times and Spark counters per
layer, each the median over timed ops unless stated otherwise. A layer
a workload does not call reads 0.
"""

from __future__ import annotations

from perfbench.common import geomean, median, quantile, tail_quantile

# Host-speed probe time (perfbench/run.py:calibrate) on the reference
# host: normalised metrics read as if the run had that speed.
REF_PROBE_S = 0.016

LAYERS = ("sources", "pipelines", "quality", "lifecycle", "plans",
          "extensions", "streaming")


def _by_kind(ops: list[dict]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for op in ops:
        if op["ok"]:
            out.setdefault(op["kind"], []).append(op["s"])
    return out


def summarize(wl, ops: list[dict], run: dict):
    """(report lines, end-to-end metrics)."""
    kinds = _by_kind(ops)
    p50 = {k: median(v) for k, v in kinds.items()}
    tail = {k: quantile(v, tail_quantile(len(v))) for k, v in kinds.items()}
    op_p50 = geomean(list(p50.values())) if p50 else float("nan")
    ops_per_s = len(ops) / sum(op["s"] for op in ops)
    speed = REF_PROBE_S / run["cal_s"]  # < 1 on a host slower than reference
    e2e = {
        "setup_s": (run["setup_s"], "s"),
        "op_p50_norm_s": (op_p50 * speed, "s"),
        "ops_per_s_norm": (ops_per_s / speed, "1/s"),
    }
    lines = [
        ("setup_s", run["setup_s"], "s"),
        ("ops_failed_frac", sum(not op["ok"] for op in ops) / len(ops), "ratio"),
        ("peak_rss_mb", run["peak_rss_mb"], "MB"),
    ]
    lines += wl.report(ops, p50, tail)
    for k, v in kinds.items():
        lines.append((f"samples.{k}", len(v), "count"))
        lines.append((f"tail_quantile.{k}", tail_quantile(len(v)), "ratio"))
    lines += [("op_p50_s", op_p50, "s"), ("ops_per_s", ops_per_s, "1/s")]
    lines += [(k, v, u) for k, (v, u) in e2e.items() if k != "setup_s"]
    lines.append(("host_probe_s", run["cal_s"], "s"))
    return lines, e2e


class Spans:
    """Index over the finished spans of the timed ops."""

    def __init__(self, tracer, ops: list[dict]):
        self.children: dict[int | None, list[dict]] = {}
        for s in tracer.spans:
            self.children.setdefault(s["parent"], []).append(s)
        by_id = {s["id"]: s for s in tracer.spans}
        self.roots = [by_id[op["span"]] for op in ops if op["ok"]]

    def under(self, root: dict, name: str | None = None, prefix: str | None = None):
        out, todo = [], list(self.children.get(root["id"], []))
        while todo:
            s = todo.pop()
            if (name is None or s["name"] == name) and (
                    prefix is None or s["name"].startswith(prefix)):
                out.append(s)
            todo.extend(self.children.get(s["id"], []))
        return out

    def per_op(self, fn, kinds: tuple[str, ...] | None = None) -> float:
        """Median over timed ops (of ``kinds``) of ``fn(root)``; ops for
        which ``fn`` returns None are left out; 0 when none remain."""
        vals = []
        for r in self.roots:
            if kinds and r["name"][3:] not in kinds:
                continue
            v = fn(r)
            if v is not None:
                vals.append(v)
        return median(vals) if vals else 0.0

    def span_s(self, name: str, kinds=None) -> float:
        def f(r):
            ss = self.under(r, name)
            return sum(s["end"] - s["start"] for s in ss) if ss else None
        return self.per_op(f, kinds)

    def counter(self, name: str | None, key: str, prefix: str | None = None,
                kinds=None) -> float:
        def f(r):
            if name is None and prefix is None:
                return r["total"][key]
            ss = self.under(r, name, prefix)
            return sum(s["own"][key] for s in ss) if ss else None
        return self.per_op(f, kinds)


def per_layer(wl, ops: list[dict], run: dict, tracer) -> dict[str, tuple[float, str]]:
    sp = Spans(tracer, ops)
    cores = run["cores"]

    def idle(r):
        wall = r["end"] - r["start"]
        return 1.0 - r["total"]["run_s"] / (wall * cores)

    def jobs_per(name):
        per = [s["total"]["jobs"] for r in sp.roots for s in sp.under(r, name)]
        return median(per) if per else 0.0

    builds = [s["end"] - s["start"] for s in tracer.spans
              if s["name"].startswith("lifecycle.build_")]
    m = {
        "session.build_s": (run["session_s"], "s"),
        "session.peak_rss_mb": (run["peak_rss_mb"], "MB"),
        "session.core_idle_frac": (sp.per_op(idle), "ratio"),
        "session.gc_s": (run["gc_s"], "s"),
        "session.failed_tasks": (sum(r["total"]["failed_tasks"] for r in sp.roots), "count"),
        "session.retried_stages": (sum(r["total"]["retried_stages"] for r in sp.roots), "count"),
        "sources.scan_bytes": (sp.counter(None, "input_bytes"), "B"),
        "sources.scan_rows": (sp.counter(None, "input_rows"), "count"),
        "sources.output_bytes": (sp.counter(None, "output_bytes"), "B"),
        "sources.output_files": (median([op["files"] for op in ops if "files" in op] or [0]), "count"),
        "sources.files_per_partition": (median(
            [op["files"] / op["partitions"] for op in ops if op.get("partitions")] or [0]), "count"),
        "pipelines.etl_s": (sp.span_s("pipelines.run_etl"), "s"),
        "pipelines.models_s": (sp.span_s("pipelines.run_models"), "s"),
        "pipelines.shuffle_bytes": (sp.counter(None, "shuffle_write_bytes", prefix="pipelines."), "B"),
        "quality.validate_s": (sp.span_s("quality.validate"), "s"),
        "quality.jobs_per_validate": (jobs_per("quality.validate"), "count"),
        "lifecycle.ingest_s": (sp.span_s("lifecycle.ingest_datasets"), "s"),
        "lifecycle.catalog_s": (sp.span_s("lifecycle.register_lake_table"), "s"),
        "lifecycle.retention_s": (sp.span_s("lifecycle.expire_runs"), "s"),
        "lifecycle.artifact_build_s": (sum(builds), "s"),
        # ops that found every artifact marker fresh / ops
        "lifecycle.artifact_hit_ratio": (
            sum(not op["artifact_built"] for op in ops) / len(ops)
            if wl.uses_artifacts else 0.0, "ratio"),
        "plans.build_s": (sp.span_s("plans.build"), "s"),
        "plans.exec_s": (sp.span_s("plans.exec"), "s"),
        "plans.jobs_per_query": (sp.counter(None, "jobs", kinds=("query",)), "count"),
        "plans.tasks_per_query": (sp.counter(None, "tasks", kinds=("query",)), "count"),
        "plans.shuffle_bytes_per_query": (
            sp.counter(None, "shuffle_write_bytes", kinds=("query",)), "B"),
    }
    for name, unit in (
        ("extensions.dedup_s", "s"), ("extensions.candidate_pairs", "count"),
        ("extensions.lsh_precision", "ratio"), ("extensions.bm25_candidate_rows", "count"),
        ("streaming.trigger_s", "s"), ("streaming.add_batch_s", "s"),
        ("streaming.wal_commit_s", "s"), ("streaming.planning_s", "s"),
    ):
        m[name] = (0.0, unit)
    m.update(wl.layer_metrics(sp, ops))
    for layer in LAYERS:
        def self_s(r, layer=layer):
            ss = sp.under(r, prefix=layer + ".")
            return sum(s["self_s"] for s in ss) if ss else None
        m[f"{layer}.self_s"] = (sp.per_op(self_s), "s")
    m["bench.self_s"] = (sp.per_op(lambda r: r["self_s"]), "s")
    m["trace.overhead_s"] = (median([op["trace_overhead_s"] for op in ops]), "s")
    m["trace.op_p50_norm_s"] = (summarize(wl, ops, run)[1]["op_p50_norm_s"][0], "s")
    return m
