"""Span recorder for the traced benchmark run.

Spans are recorded from the benchmark's side of each layer boundary: while a
``Tracer`` is installed, the public entry points listed in ``ENTRY_POINTS``
are replaced by wrappers that open a span around the original call. Calls
the engine makes through the same module attributes (``maintain`` calling
``compact.compact``, every job calling ``Table.commit``) are caught too, so
spans nest and each layer's self time is its span time minus its children.

Spans and counts stay in memory and are written out once, by ``dump``.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

from nessie_spark.lakehouse import (
    compact, expire, jobs, maintain, manifest, merge, scan, zorder,
)
from nessie_spark.lakehouse.table import Table

LAYERS = (
    "client", "jobs", "table", "scan", "merge", "compact", "zorder",
    "manifest", "expire", "maintain",
)


def _dir_bytes(path: str) -> int:
    return sum(e.stat().st_size for e in os.scandir(path) if e.is_file())


def _commit_before(args, kwargs):
    return _dir_bytes(os.path.join(args[0].root, "metadata"))


def _commit_attrs(args, kwargs, res, before):
    return {"metadata_bytes": _dir_bytes(os.path.join(args[0].root, "metadata")) - before}


def _plan_attrs(args, kwargs, res, before):
    kind = (
        "lookup" if kwargs.get("key_eq") is not None
        else "range" if kwargs.get("phash_range") is not None
        else "other"
    )
    return {"kind": kind, "files": [e["file_path"] for e in res]}


def _result_fields(*names):
    def attrs(args, kwargs, res, before):
        return {n: getattr(res, n) for n in names}
    return attrs


def _len_attrs(key):
    def attrs(args, kwargs, res, before):
        return {key: len(res)}
    return attrs


# (owner, attribute, layer, before-hook, attrs-hook)
ENTRY_POINTS = (
    (jobs, "append", "jobs", None, None),
    (Table, "commit", "table", _commit_before, _commit_attrs),
    (scan, "scan", "scan", None, None),
    (scan, "plan_files", "scan", None, _plan_attrs),
    (merge, "merge_into", "merge", None,
     _result_fields("matched_files", "updated", "inserted", "unchanged")),
    (compact, "compact", "compact", None,
     _result_fields("bins_executed", "input_files", "output_files", "rows")),
    (zorder, "cluster", "zorder", None,
     _result_fields("input_files", "output_files", "rows")),
    (zorder, "cluster_incremental", "zorder", None,
     _result_fields("input_files", "output_files", "rows")),
    (manifest, "rewrite_manifests", "manifest", None,
     _result_fields("manifests_before", "manifests_after")),
    (expire, "expire_snapshots", "expire", None,
     lambda a, k, r, b: {"expired": len(r.expired_snapshots),
                         "deleted_files": len(r.deleted_data_files)}),
    (expire, "gc_orphans", "expire", None, _len_attrs("orphans")),
    (maintain, "maintain", "maintain", None,
     lambda a, k, r, b: {"actions": len(r.actions)}),
    (maintain, "table_health", "maintain", None, None),
)


class Tracer:
    """In-memory spans (name, start, end, parent, run id) and counts."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []
        self._saved: list[tuple] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sp = {
            "id": len(self.spans), "name": name, "run": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None, "attrs": attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp["id"])
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, key: str, n: float = 1) -> None:
        self.counts[key] = self.counts.get(key, 0) + n

    def _wrap(self, fn, name, before_hook, attrs_hook):
        tracer = self

        def traced(*args, **kwargs):
            before = before_hook(args, kwargs) if before_hook else None
            with tracer.span(name) as sp:
                res = fn(*args, **kwargs)
            if attrs_hook:
                sp["attrs"].update(attrs_hook(args, kwargs, res, before))
            return res

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        for owner, attr, layer, before_hook, attrs_hook in ENTRY_POINTS:
            fn = getattr(owner, attr)
            self._saved.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, f"{layer}.{attr}", before_hook, attrs_hook))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, fn = self._saved.pop()
            setattr(owner, attr, fn)

    # -- aggregation ---------------------------------------------------------

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def total_s(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name))

    def median_ms(self, name: str, **match) -> float:
        ds = [
            (s["end"] - s["start"]) * 1000 for s in self.named(name)
            if all(s["attrs"].get(k) == v for k, v in match.items())
        ]
        return statistics.median(ds) if ds else 0.0

    def attr_sum(self, name: str, key: str) -> float:
        return sum(s["attrs"].get(key, 0) for s in self.named(name))

    def self_ms(self) -> dict[str, float]:
        """Self time per layer: span duration minus the part of it that its
        children cover (children of one span never overlap: one client
        thread)."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            if s["end"] is None:
                continue
            layer = s["name"].split(".", 1)[0]
            own = (s["end"] - s["start"]) - child_s.get(s["id"], 0.0)
            out[layer] = out.get(layer, 0.0) + own * 1000
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans, "counts": self.counts}, fh)
