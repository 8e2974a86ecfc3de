"""Spans around the benchmark's calls into the program's modules.

A :class:`Tracer` keeps spans in memory (name, start, end, parent,
run id) and writes them out once, at the end of a traced run. With
tracing off, :meth:`Tracer.span` is a no-op context and no module
function is wrapped.

:meth:`Tracer.wrap_modules` replaces a few public functions on their
modules with timing wrappers. The program calls them by module
attribute (``read_xml`` looks up ``plan_annotated_splits`` and
``resolve_paths`` in ``reader``'s globals and imports ``xsd_to_struct``
at call time), so the spans cover the calls ``read_xml`` makes without
any change inside the package.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.paused = False
        self.pass_index: int | None = None  # set by the pass runner

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled or self.paused:
            yield None
            return
        rec = {"name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "pass_index": self.pass_index,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap_modules(self) -> None:
        if not self.enabled:
            return
        from xml_hive_spark import reader, xsd

        for mod, fname, layer in (
            (reader, "resolve_paths", "reader.resolve_paths"),
            (reader, "plan_annotated_splits", "reader.plan_annotated_splits"),
            (xsd, "xsd_to_struct", "xsd.xsd_to_struct"),
        ):
            setattr(mod, fname, self._wrapped(getattr(mod, fname), layer))

    def _wrapped(self, fn, layer: str):
        @functools.wraps(fn)
        def call(*args, **kwargs):
            # first path argument, to tell the flat file's calls apart
            arg0 = args[0] if args else None
            if isinstance(arg0, list) and arg0:
                arg0 = arg0[0]
            with self.span(layer, arg=arg0 if isinstance(arg0, str) else None) as rec:
                out = fn(*args, **kwargs)
                if rec is not None and isinstance(out, list):
                    rec["n_out"] = len(out)
                return out
        return call

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
