"""In-memory span tracing for the traced benchmark run.

The program is not edited: ``install`` replaces the public functions of each
layer with timing wrappers at the names they are looked up by (a module
global such as ``plans.pipeline.apply_changes``, or a ``LakeTable`` method),
and ``uninstall`` puts the originals back. Spans carry a run id, their own
id, their parent's id and their root's id. The benchmark calls the engine
from one thread, so a stack gives the parent, and the children of a span
never overlap: its self time is its duration minus its children's.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.phase: str | None = None  # spans are recorded only when set
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # wrapper bookkeeping, outside the wrapped call
        self._stack: list[dict] = []
        self._patched: list[tuple] = []

    def _open(self, name: str) -> dict:
        parent = self._stack[-1] if self._stack else None
        span = {
            "run": self.run_id,
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "root": parent["root"] if parent else len(self.spans),
            "name": name,
            "phase": self.phase,
        }
        self.spans.append(span)
        self._stack.append(span)
        return span

    def _close(self, span: dict, t0: float, t1: float) -> None:
        self._stack.pop()
        span["t0"], span["t1"] = t0, t1

    @contextmanager
    def span(self, name: str):
        """A span around a block of the benchmark's own code."""
        if self.phase is None:
            yield None
            return
        enter = time.perf_counter()
        s = self._open(name)
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            self._close(s, t0, t1)
            self.overhead_s += (t0 - enter) + (time.perf_counter() - t1)

    def _wrap(self, name: str, fn, counters):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self.phase is None:
                return fn(*args, **kwargs)
            enter = time.perf_counter()
            s = self._open(name)
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                self._close(s, t0, t1)
            if counters is not None:
                s["attrs"] = counters(out)
            self.overhead_s += (t0 - enter) + (time.perf_counter() - t1)
            return out

        return traced

    def install(self, targets) -> None:
        """``targets``: (owner, attribute, span name, counters-or-None)."""
        for owner, attr, name, counters in targets:
            orig = owner.__dict__[attr]
            self._patched.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(name, orig, counters))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def self_times(self) -> None:
        """Annotate every closed span with ``dur`` and ``self``."""
        child = {}
        for s in self.spans:
            s["dur"] = s["t1"] - s["t0"]
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["dur"]
        for s in self.spans:
            s["self"] = s["dur"] - child.get(s["id"], 0.0)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


def _apply_counters(m: dict) -> dict:
    return {
        "rows_applied": m.get("rows_applied", 0),
        "buckets_touched": m.get("buckets_touched", 0),
        "phases": m.get("phases") or {},
    }


def engine_targets() -> list[tuple]:
    """Every layer boundary the traced run records, by the name callers look
    it up under."""
    from cnpj_data_pipeline_spark import session
    from cnpj_data_pipeline_spark.lake.format import LakeTable
    from cnpj_data_pipeline_spark.operators import copart
    from cnpj_data_pipeline_spark.plans import pipeline, sync
    from cnpj_data_pipeline_spark.sources import change_stream

    compacted = lambda sid: {"compactions": int(sid is not None)}  # noqa: E731
    return [
        (session, "get_spark", "session.get_spark", None),
        (pipeline.IngestJob, "run_stream", "plans.pipeline.run_stream", None),
        (pipeline, "apply_changes", "operators.merge.apply_changes",
         _apply_counters),
        (sync, "apply_changes", "operators.merge.apply_changes",
         _apply_counters),
        (copart, "apply_changes_copart",
         "operators.copart.apply_changes_copart", _apply_counters),
        (sync.FeedSyncJob, "run_once", "plans.sync.run_once", None),
        (change_stream, "epoch_row_count",
         "sources.change_stream.epoch_row_count", None),
        (change_stream, "bucketed_layout",
         "sources.change_stream.bucketed_layout", None),
        (LakeTable, "commit", "lake.format.commit", None),
        (LakeTable, "snapshot", "lake.format.snapshot", None),
        (LakeTable, "applied_epochs", "lake.format.applied_epochs", None),
        (LakeTable, "compact_if_needed", "lake.format.compact_if_needed",
         compacted),
        (LakeTable, "read", "lake.format.read", None),
        (LakeTable, "read_keys", "lake.format.read_keys", None),
        (LakeTable, "read_changes", "lake.format.read_changes", None),
    ]


MERGE_PHASES = ("plan", "build_plan", "merge_write", "collect_staged",
                "commit", "compact")
COPART_PHASES = ("plan", "merge_write", "commit", "compact")


def layer_metrics(spans: list[dict], timed_wall_s: float) -> dict:
    """Per-layer numbers of the timed region (spans of phase ``measure``),
    plus the session start of set-up. Every name is always present, so a
    bypassed layer reads 0."""
    out: dict[str, float] = {}

    def add(k: str, v: float) -> None:
        out[k] = out.get(k, 0.0) + v

    layers = {
        "plans.pipeline.run_stream": "self",
        "plans.sync.run_once": "self",
        "operators.merge.apply_changes": "self",
        "operators.copart.apply_changes_copart": "self",
        "sources.change_stream.epoch_row_count": "dur",
        "sources.change_stream.bucketed_layout": "dur",
        "lake.format.commit": "dur",
        "lake.format.compact_if_needed": "dur",
        "lake.format.read": "dur",
        "lake.format.read_keys": "dur",
        "lake.format.read_changes": "dur",
        "lake.format.snapshot": None,
        "lake.format.applied_epochs": None,
        "bench.epoch": "self",
        "bench.lookup": "self",
        "bench.scan": "self",
        "bench.sync": "self",
    }
    for name, kind in layers.items():
        if kind is not None:
            out[f"{name}.{'self_s' if kind == 'self' else 's'}"] = 0.0
        out[f"{name}.calls"] = 0
    for kind, phases in (("merge", MERGE_PHASES), ("copart", COPART_PHASES)):
        for p in phases + ("other",):
            out[f"operators.{kind}.phase.{p}_s"] = 0.0
    for k in ("operators.merge.apply_changes.rows_applied",
              "operators.merge.apply_changes.buckets_touched",
              "operators.copart.apply_changes_copart.rows_applied",
              "operators.copart.apply_changes_copart.buckets_touched",
              "lake.format.compact_if_needed.compactions"):
        out[k] = 0
    out["session.get_spark.s"] = 0.0
    roots = 0.0
    for s in spans:
        if s["name"] == "session.get_spark":
            add("session.get_spark.s", s["dur"])
            continue
        if s["phase"] != "measure":
            continue
        kind = layers.get(s["name"], "dur")
        add(f"{s['name']}.calls", 1)
        if kind is not None:
            suffix = "self_s" if kind == "self" else "s"
            add(f"{s['name']}.{suffix}", s["self" if kind == "self" else "dur"])
        if s["parent"] is None:
            roots += s["dur"]
        attrs = s.get("attrs") or {}
        if "compactions" in attrs:
            add("lake.format.compact_if_needed.compactions",
                attrs["compactions"])
        if "phases" in attrs:
            short = s["name"].split(".")[1]
            known = MERGE_PHASES if short == "merge" else COPART_PHASES
            add(f"{s['name']}.rows_applied", attrs["rows_applied"])
            add(f"{s['name']}.buckets_touched", attrs["buckets_touched"])
            for p, v in attrs["phases"].items():
                add(f"operators.{short}.phase.{p if p in known else 'other'}_s",
                    v)
    out["trace.timed_wall_s"] = timed_wall_s
    out["trace.unattributed_s"] = timed_wall_s - roots
    out["trace.spans"] = len(spans)
    return out
