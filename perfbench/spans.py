"""Spans around calls into the engine's layers, recorded from outside.

``Tracer.instrument()`` replaces public functions and methods of the
package modules with wrappers that open a span per call (name, start,
end, parent, operation id). Module-level names bound by ``from ...
import`` are rebound wherever they occur, so callers inside the
package hit the wrapper too. Each open span sets the Spark job group
to its id, so every job, stage and task in the event log is
attributed to the innermost span that submitted it.

Relayout builds are read from the growth of
``catalog._RELAYOUT_CACHES`` across each ``_relayout`` call; session
cache builds and hits from whether ``session_cached`` ran ``build()``.
Spans stay in memory and are returned by ``Tracer.spans``.
"""

from __future__ import annotations

import functools
import itertools
import os
import sys
import time

from pyspark import SparkContext

PKG = "flat_file_social_media_database_engine_spark"


def relayout_entries() -> int:
    from flat_file_social_media_database_engine_spark.sources import catalog

    return sum(len(c) for c in catalog._RELAYOUT_CACHES.values())


def dir_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


class Tracer:
    """Nested spans for one client thread. With ``enabled=False``
    (untraced runs) ``begin``/``end`` only keep the nesting: no span is
    stored and the job group is never touched."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    # -- spans -----------------------------------------------------------
    def begin(self, name: str, **attrs) -> dict:
        parent = self._stack[-1] if self._stack else None
        span = {
            "id": f"s{next(self._ids)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": parent["op"] if parent else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        if span["op"] is None:
            span["op"] = span["id"]
        self._stack.append(span)
        if self.enabled:
            self._set_group(span["id"], name)
        return span

    def end(self, span: dict) -> float:
        span["end"] = time.time()
        popped = self._stack.pop()
        assert popped is span, "spans must close in LIFO order"
        if self.enabled:
            self.spans.append(span)
            parent = self._stack[-1] if self._stack else None
            if parent is not None:
                self._set_group(parent["id"], parent["name"])
            else:
                self._clear_group()
        return span["end"] - span["start"]

    def timed(self, name: str, fn, *args, **attrs):
        """Run ``fn(*args)`` inside a span; returns (result, seconds)."""
        span = self.begin(name, **attrs)
        try:
            out = fn(*args)
        finally:
            dt = self.end(span)
        return out, dt

    @staticmethod
    def _set_group(span_id: str, name: str) -> None:
        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.setJobGroup(span_id, name)

    @staticmethod
    def _clear_group() -> None:
        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    # -- instrumentation -------------------------------------------------
    def wrap(self, name: str, fn, probe=None):
        """A wrapper opening span ``name`` per call. ``probe``, if given,
        is called before and after and its difference stored on the
        span as ``delta``."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            before = probe() if probe else None
            span = tracer.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(span)
                if probe:
                    span["delta"] = probe() - before

        return wrapper

    def instrument(self) -> None:
        """Wrap the layer entry points of every package module."""
        from flat_file_social_media_database_engine_spark.plans import (
            materialize,
            snapshots,
        )
        from flat_file_social_media_database_engine_spark.sources import (
            catalog,
            csv_source,
            integrity,
        )

        def cached_wrapper(orig):
            tracer = self

            @functools.wraps(orig)
            def session_cached(cache, spark, sf_dir, build):
                def traced_build():
                    span = tracer.begin("materialize.build")
                    try:
                        return build()
                    finally:
                        tracer.end(span)

                span = tracer.begin("materialize.session_cached")
                try:
                    return orig(cache, spark, sf_dir, traced_build)
                finally:
                    tracer.end(span)

            return session_cached

        funcs = [
            (csv_source.load_social_tables, self.wrap(
                "csv_source.load", csv_source.load_social_tables)),
            (integrity.validate_batch, self.wrap(
                "integrity.validate_batch", integrity.validate_batch)),
            (integrity.ri_sweep, self.wrap("integrity.ri_sweep", integrity.ri_sweep)),
            (catalog._relayout, self.wrap(
                "catalog.relayout", catalog._relayout, probe=relayout_entries)),
            (materialize.materialize_parquet, self.wrap(
                "materialize.parquet_pass", materialize.materialize_parquet)),
            (materialize.session_cached, cached_wrapper(materialize.session_cached)),
        ]
        for orig, new in funcs:
            _rebind(orig, new)
        store = snapshots.SnapshotStore
        for meth in ("read", "vacuum"):
            setattr(store, meth, self.wrap(f"snapshots.{meth}", getattr(store, meth)))
        for meth in ("commit", "append"):
            setattr(store, meth, self._store_write(meth, getattr(store, meth)))

    def _store_write(self, meth: str, fn):
        """Span around a snapshot write, recording the bytes it added
        under the store root."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(store, *args, **kwargs):
            before = dir_bytes(store.root)
            span = tracer.begin(f"snapshots.{meth}")
            try:
                return fn(store, *args, **kwargs)
            finally:
                tracer.end(span)
                span["bytes"] = dir_bytes(store.root) - before

        return wrapper


def _rebind(orig, new) -> None:
    """Point every package-module global bound to ``orig`` at ``new``."""
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(PKG):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, new)
