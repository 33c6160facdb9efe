"""Per-layer tracing from outside the engine.

A layer is ``<module>.<public function>``. The tracer wraps each layer's
public function where the engine looks it up (the module that defines
it, plus every module that imported the name), opens a span around the
call and tags the Spark jobs the call launches with ``sc.setJobGroup``.
Executor CPU, shuffle and spill bytes come from Spark's task metrics,
and Python-worker time from the ``time to run Python workers`` SQL
metric, both read back from the uncompressed event log per job group.

Span boundaries:

* In-memory path (``barrier=True``): the engine's plan is lazy and
  fused, so the span closes only after the layer's output is persisted
  and counted. This changes the plan, which is why a traced run also
  times an untraced operation and reports the difference.
* Durable path and folds (``barrier=False``): no barrier is added. Lazy
  work runs inside the :class:`TracedTableIO` commit that materializes
  it, and the commit is the span that carries it.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

from pyspark.sql import DataFrame

from ai_data_matching_spark import extract, pipeline
from ai_data_matching_spark.cache import persist_tracked
from ai_data_matching_spark.operators import (
    blocking,
    clustering,
    consolidate,
    incremental,
    scoring,
)
from ai_data_matching_spark.sources.tables import TableIO

from host import dir_bytes

# layer name -> (defining module, function name)
LAYERS = {
    "blocking.with_extract_sketch_keys": (blocking, "with_extract_sketch_keys"),
    "blocking.latest_crawl_wins": (blocking, "latest_crawl_wins"),
    "blocking.exact_match_edges": (blocking, "exact_match_edges"),
    "blocking.candidate_pairs": (blocking, "candidate_pairs"),
    "blocking.route_unmatched": (blocking, "route_unmatched"),
    "scoring.score_pairs": (scoring, "score_pairs"),
    "scoring.fuzzy_match_edges": (scoring, "fuzzy_match_edges"),
    "scoring.union_edges": (scoring, "union_edges"),
    "clustering.connected_components": (clustering, "connected_components"),
    "clustering.cluster_assignments": (clustering, "cluster_assignments"),
    "consolidate.consolidate_clusters": (consolidate, "consolidate_clusters"),
    "consolidate.match_statistics": (consolidate, "match_statistics"),
    "blocking.with_blocking_keys": (blocking, "with_blocking_keys"),
    "extract.with_extracted_normalized": (extract, "with_extracted_normalized"),
}
COMMIT = "tables.TableIO.commit"
READ_STATE = "tables.TableIO.read_state"
WRITE_METRIC = "tables.TableIO.write_metric"
FOLD = "incremental.run_incremental"
# modules that bind the layer functions by name at import time
_IMPORTERS = (pipeline, incremental)

METRICS = ("wall_s", "cpu_s", "py_s", "shuffle_bytes", "spill_bytes", "rows_out")
COMMIT_STAGES = (
    "extract", "blocked", "exact_edges", "scored", "edges", "labels",
    "blocked_delta", "edges_delta", "labels_delta",
)


def layer_metric_names() -> list[str]:
    """Every per-layer metric a traced run reports, in a fixed order."""
    names = []
    for layer in [*LAYERS, COMMIT]:
        names += [f"{layer}.{m}" for m in METRICS]
    names += [
        "blocking.candidate_pairs.overflow_keys",
        "scoring.match_yield",
        "clustering.connected_components.iterations",
        "clustering.connected_components.distributed",
        f"{COMMIT}.bytes_written",
    ]
    for stage in COMMIT_STAGES:
        names += [f"{COMMIT}.{stage}.wall_s", f"{COMMIT}.{stage}.bytes_written"]
    names += [
        f"{READ_STATE}.wall_s",
        f"{READ_STATE}.chain_length_max",
        f"{WRITE_METRIC}.wall_s",
        f"{FOLD}.self_wall_s",
        f"{FOLD}.self_cpu_s",
        "trace.untraced_op_s",
        "trace.traced_op_s",
        "trace.overhead_frac",
    ]
    return names


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_bytes", ".bytes_written")):
        return "bytes"
    if name.endswith(("_frac", "match_yield")):
        return "frac"
    return "count"


class Tracer:
    """Spans in memory, Spark jobs tagged by the innermost open span."""

    def __init__(self, spark, barrier: bool):
        self.sc = spark.sparkContext
        self.barrier = barrier
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self._patched: list[tuple] = []
        self.counters: dict[str, float] = {}

    @contextlib.contextmanager
    def span(self, layers: list[str]):
        """Open a span charged to ``layers`` (the first is its name); the
        Spark jobs it launches outside nested spans carry its group id."""
        group = "|".join(layers)
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        rec = {
            "name": layers[0],
            "group": group,
            "parent": self._open[-1]["id"] if self._open else None,
            "id": len(self.spans) + len(self._open),
            "t0": time.perf_counter(),
            "rows": 0,
        }
        self._open.append(rec)
        self.sc.setJobGroup(group, group)
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            self._open.pop()
            self.spans.append(rec)
            if prev is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(prev, prev)

    def inside(self, name: str) -> bool:
        return any(s["name"] == name for s in self._open)

    def add(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0) + value

    # -- wrapping ------------------------------------------------------------
    def _boundary(self, layer: str, out, rec: dict):
        """Persist and count a layer's output on the in-memory path."""
        if layer == "clustering.connected_components":
            labels, iterations = out
            self.add("clustering.connected_components.iterations", iterations)
            self.add("clustering.connected_components.distributed", int(iterations > 0))
            if self.barrier:
                rec["rows"] = labels.count()
            return out
        if not self.barrier:
            return out
        if layer == "blocking.candidate_pairs":
            pairs, hot = out
            pairs = persist_tracked(pairs)
            rec["rows"] = pairs.count()
            self.add("blocking.candidate_pairs.overflow_keys", hot.count())
            return pairs, hot
        out = persist_tracked(out)
        rec["rows"] = out.count()
        return out

    def _wrap(self, layer: str, fn):
        def traced(*args, **kwargs):
            with self.span([layer]) as rec:
                out = fn(*args, **kwargs)
                if layer == "scoring.fuzzy_match_edges" and self.barrier:
                    scored, threshold = args[0], kwargs["threshold"]
                    self.add("scoring.pairs_scored", scored.count())
                    hits = scored.filter(scored["score"] >= threshold).count()
                    self.add("scoring.pairs_matched", hits)
                return self._boundary(layer, out, rec)

        return traced

    def install(self) -> None:
        for layer, (module, attr) in LAYERS.items():
            orig = getattr(module, attr)
            wrapped = self._wrap(layer, orig)
            for mod in {module, *_IMPORTERS}:
                if getattr(mod, attr, None) is orig:
                    self._patched.append((mod, attr, orig))
                    setattr(mod, attr, wrapped)
        orig_fold = incremental.run_incremental

        def traced_fold(*args, **kwargs):
            with self.span([FOLD]):
                return orig_fold(*args, **kwargs)

        self._patched.append((incremental, "run_incremental", orig_fold))
        incremental.run_incremental = traced_fold

    def uninstall(self) -> None:
        while self._patched:
            mod, attr, orig = self._patched.pop()
            setattr(mod, attr, orig)


class TracedTableIO(TableIO):
    """TableIO whose commits, state reads and metric writes are spans.
    Commits are natural barriers, so nothing else changes."""

    def __init__(self, root: str, tracer: Tracer):
        super().__init__(root)
        self.tracer = tracer

    def commit(self, df, stage, fingerprint, extra=None):
        layers = [f"{COMMIT}.{stage}", COMMIT]
        # the base run's lazy extract and sketch stages execute here
        if stage == "extract":
            layers.append("extract.with_extracted_normalized")
        elif stage == "blocked" and not self.tracer.inside(FOLD):
            layers.append("blocking.with_blocking_keys")
        before = dir_bytes(self.root)
        with self.tracer.span(layers) as rec:
            out = super().commit(df, stage, fingerprint, extra)
            rec["rows"] = self.last_committed(stage, fingerprint)["row_count"]
        written = dir_bytes(self.root) - before
        self.tracer.add(f"{COMMIT}.{stage}.bytes_written", written)
        self.tracer.add(f"{COMMIT}.bytes_written", written)
        return out

    def read_state(self, spark, stage, fingerprint):
        chain = self.chain_length(stage, fingerprint)
        key = f"{READ_STATE}.chain_length_max"
        self.tracer.counters[key] = max(self.tracer.counters.get(key, 0), chain)
        with self.tracer.span([READ_STATE]):
            return super().read_state(spark, stage, fingerprint)

    def write_metric(self, df, stage, name):
        with self.tracer.span([WRITE_METRIC]):
            return super().write_metric(df, stage, name)


# -- event log -------------------------------------------------------------
def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def group_task_metrics(log_dir: str) -> dict[str, dict[str, float]]:
    """Task metrics summed per job group over every event log in
    ``log_dir``. Read after the session stopped, so the log is flushed."""
    stage_group: dict[int, str | None] = {}
    out: dict[str, dict[str, float]] = {}
    for fn in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fn)) as f:
            for line in f:
                if line.startswith('{"Event":"SparkListenerJobStart"'):
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)  # first runner owns it
                elif line.startswith('{"Event":"SparkListenerTaskEnd"'):
                    ev = json.loads(line)
                    group = stage_group.get(ev["Stage ID"])
                    tm = ev.get("Task Metrics")
                    if group is None or not tm:
                        continue
                    acc = out.setdefault(group, dict.fromkeys(
                        ("cpu_s", "py_s", "shuffle_bytes", "spill_bytes"), 0.0))
                    acc["cpu_s"] += (tm["Executor CPU Time"]
                                     + tm["Executor Deserialize CPU Time"]) / 1e9
                    acc["shuffle_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    acc["spill_bytes"] += tm["Disk Bytes Spilled"]
                    for a in ev["Task Info"].get("Accumulables", ()):
                        if a.get("Name") == "time to run Python workers":
                            acc["py_s"] += int(a.get("Update", 0)) / 1e3
    return out


def layer_metrics(tracer: Tracer, groups: dict[str, dict[str, float]]) -> dict[str, float]:
    """Fold spans and per-group task metrics into ``<layer>.<metric>``."""
    vals: dict[str, float] = dict.fromkeys(layer_metric_names(), 0.0)

    def charge(layer: str, metric: str, v: float) -> None:
        key = f"{layer}.{metric}"
        if key in vals:
            vals[key] += v

    for s in tracer.spans:
        for layer in s["group"].split("|"):
            charge(layer, "wall_s", s["t1"] - s["t0"])
            charge(layer, "rows_out", s["rows"])
    for group, m in groups.items():
        for layer in group.split("|"):
            for metric in ("cpu_s", "py_s", "shuffle_bytes", "spill_bytes"):
                charge(layer, metric, m[metric])
    for key, v in tracer.counters.items():
        if key in vals:
            vals[key] = v
    scored = tracer.counters.get("scoring.pairs_scored", 0)
    if scored:
        vals["scoring.match_yield"] = tracer.counters["scoring.pairs_matched"] / scored
    # fold self time: the fold span minus every span nested directly in it
    by_id = {s["id"]: s for s in tracer.spans}
    for s in tracer.spans:
        if s["name"] == FOLD:
            vals[f"{FOLD}.self_wall_s"] += s["t1"] - s["t0"]
        parent = by_id.get(s["parent"])
        if parent is not None and parent["name"] == FOLD:
            vals[f"{FOLD}.self_wall_s"] -= s["t1"] - s["t0"]
    vals[f"{FOLD}.self_cpu_s"] = groups.get(FOLD, {}).get("cpu_s", 0.0)
    return vals
