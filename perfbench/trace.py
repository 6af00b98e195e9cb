"""Spans around the engine's public entry points, with Spark job counts.

A span records name, start, end, parent, wall time, self time (wall
minus the part its child spans cover) and the Spark jobs launched while
it was the innermost open span. Jobs are attributed through the public
``statusTracker().getJobIdsForGroup``: every span runs under a job group
of its own, so a group's job ids are exactly the span's self jobs. The
ids are read when the enclosing operation ends, well inside Spark's
retention of finished jobs.

:func:`install` wraps a function at its defining module and at every
module-level rebinding of the same function object (``sources.ivm``
binds ``mor_changes`` and ``pin as _pin`` at import time, for
example), so the wrapper sees calls through every name. The untraced
run installs nothing.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import sys
import time
from contextlib import contextmanager

PACKAGE = "async_pipes_spark"

#: the span around one whole operation, the root of its span tree
OP = "op"

#: The public entry points wrapped in a traced run, as
#: ``(module under the package, attribute)``. A dotted attribute names
#: a method. The span is named ``<module>.<function>``.
#: ``sources.ivm_join.read_join_view`` is the same function object as
#: ``read_agg_view``, so it is traced under that name.
TRACED = (
    ("session", "pin"),
    ("sources.tables", "load_table"),
    ("pipeline.pipeline", "Pipeline.wait"),
    ("operators.iterate", "iterate_inplace"),
    ("sources.sinks", "mor_upsert"),
    ("sources.sinks", "write_manifest_table"),
    ("sources.sinks", "read_manifest_table"),
    ("sources.sinks", "read_table"),
    ("sources.sinks", "compact_small_files"),
    ("sources.stats", "write_file_stats"),
    ("sources.stats", "refresh_file_stats"),
    ("sources.cdc", "mor_changes"),
    ("sources.ivm", "refresh_agg_view"),
    ("sources.ivm", "read_agg_view"),
    ("sources.ivm_join", "refresh_join_view"),
    ("functions.dedup", "minhash_signatures"),
    ("functions.dedup", "minhash_lsh_pairs"),
    ("functions.dedup", "dedup_group_labels"),
    ("functions.similarity", "embedding_near_dups"),
)


def span_name(module: str, attr: str) -> str:
    """``pipeline.pipeline`` + ``Pipeline.wait`` → ``pipeline.wait``."""
    if "." in attr:
        return f"{module.split('.')[0]}.{attr.split('.')[-1]}"
    return f"{module}.{attr}"


class Tracer:
    """Collects spans for one process. ``enabled=False`` keeps only the
    operation-level job group, which the untraced run needs to count
    jobs per operation."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        """One span. With tracing off only :data:`OP` spans are kept."""
        if not self.enabled and name != OP:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        span_id = next(self._ids)
        rec = {
            "id": span_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{span_id}",
            "child_s": 0.0,
        }
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_s"] = rec["end"] - rec["start"]
            rec["self_s"] = rec["wall_s"] - rec.pop("child_s")
            self._stack.pop()
            if parent is not None:
                parent["child_s"] += rec["wall_s"]
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)

    def resolve_jobs(self, spans: list[dict]) -> None:
        """Read each span's job count once its operation has ended."""
        tracker = self.sc.statusTracker()
        for rec in spans:
            rec["jobs"] = len(tracker.getJobIdsForGroup(rec.pop("group")))

    def install(self) -> None:
        """Wrap every :data:`TRACED` entry point (see module doc)."""
        for module, attr in TRACED:
            mod = importlib.import_module(f"{PACKAGE}.{module}")
            owner, fname = mod, attr
            if "." in attr:
                cls, fname = attr.split(".")
                owner = getattr(mod, cls)
            original = getattr(owner, fname)
            wrapped = self._wrap(original, span_name(module, attr))
            self._set(owner, fname, wrapped)
            if owner is not mod:
                continue
            for name, other in list(sys.modules.items()):
                if other is None or not name.startswith(PACKAGE) or other is mod:
                    continue
                for key, value in list(vars(other).items()):
                    if value is original:
                        self._set(other, key, wrapped)

    def uninstall(self) -> None:
        for owner, key, original in reversed(self._patches):
            setattr(owner, key, original)
        self._patches.clear()

    def _set(self, owner, key: str, value) -> None:
        self._patches.append((owner, key, getattr(owner, key)))
        setattr(owner, key, value)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def layer_totals(spans: list[dict], n_ops: int) -> dict[str, dict[str, float]]:
    """Per span name: calls, self seconds and self jobs per operation."""
    out: dict[str, dict[str, float]] = {}
    for rec in spans:
        t = out.setdefault(rec["name"], {"calls": 0.0, "s": 0.0, "jobs": 0.0})
        t["calls"] += 1
        t["s"] += rec["self_s"]
        t["jobs"] += rec["jobs"]
    for t in out.values():
        for k in t:
            t[k] /= n_ops
    return out
