"""Span recorder for the traced run.

Spans are opened around the calls into each layer by patching the
engine's public functions from outside: nothing inside ``dqe_spark``
knows about tracing. Every span keeps (id, name, start, end, parent,
query id, py4j calls at start and end); spans live in memory and are
written out when the run ends.

``engine.py`` binds ``parse``, ``load_metrics`` and ``load_events`` by
name at import, so those names are patched in ``dqe_spark.engine``
itself, not only in the modules that define them.
"""

from __future__ import annotations

import functools
import inspect
import time
from contextlib import contextmanager

class Tracer:
    """In-memory span tree; a no-op unless ``enabled``, which
    ``install`` turns on and ``unpatch`` off again."""

    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.py4j = 0
        self.query_id: str | None = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "query": self.query_id,
            "start": time.perf_counter(),
            "end": None,
            "py4j_start": self.py4j,
            "py4j_end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            rec["py4j_end"] = self.py4j

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a version that runs in a span."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def wrap_module(self, module, name: str) -> None:
        """Span every public function defined in ``module``."""
        for attr, fn in list(vars(module).items()):
            if (
                not attr.startswith("_")
                and inspect.isfunction(fn)
                and fn.__module__ == module.__name__
            ):
                self.wrap(module, attr, name)

    def count_py4j(self, client_cls) -> None:
        """Count py4j round trips by wrapping ``send_command``."""
        send = client_cls.send_command
        tracer = self

        @functools.wraps(send)
        def counted(*a, **kw):
            tracer.py4j += 1
            return send(*a, **kw)

        self._patched.append((client_cls, "send_command", send))
        client_cls.send_command = counted

    def unpatch(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()
        self.enabled = False


def install(tracer: Tracer, spark) -> None:
    """Wrap the layer boundaries the benchmark reaches into and start
    recording."""
    from dqe_spark import engine
    from dqe_spark.dql import compiler
    from dqe_spark.operators import dedup, similarity, text
    from dqe_spark.sources import rollup, store

    tracer.count_py4j(type(spark.sparkContext._gateway._gateway_client))
    tracer.wrap(engine, "plan", "engine.plan")
    tracer.wrap(engine, "parse", "dql.parser.parse")
    tracer.wrap(compiler.Compiler, "compile", "dql.compiler.compile")
    for attr in ("load_metrics", "load_events", "_rollup_stores"):
        tracer.wrap(engine, attr, "sources.load")
    tracer.wrap(engine, "_collect_traced", "exec.collect")
    tracer.wrap_module(dedup, "operators.dedup")
    tracer.wrap_module(similarity, "operators.similarity")
    tracer.wrap_module(text, "operators.text")
    tracer.wrap(store, "ingest", "sources.store.ingest")
    for attr in vars(rollup).copy():
        if attr.startswith("merge_") and attr.endswith("_increment"):
            tracer.wrap(rollup, attr, "sources.rollup.merge")
    tracer.enabled = True


def self_times(spans: list[dict]) -> list[dict]:
    """Each span with ``dur``, ``self`` (duration minus what its child
    spans cover) and ``py4j_self`` (its round trips minus its
    children's)."""
    out = [dict(s, dur=s["end"] - s["start"], py4j=s["py4j_end"] - s["py4j_start"]) for s in spans]
    for s in out:
        s["self"], s["py4j_self"] = s["dur"], s["py4j"]
    for s in out:
        p = s["parent"]
        if p is not None:
            out[p]["self"] -= s["dur"]
            out[p]["py4j_self"] -= s["py4j"]
    return out
