"""Traced launcher for ``scripts/serve.py``: serves exactly like its
``main()``, with spans recorded around the engine's entry points from outside.

    python perfbench/traced_serve.py --index DIR --port P --spans OUT.json

Each span is (name, start, end, parent index, request id), kept in memory
and written to OUT.json when the process gets SIGTERM. Counter events
(name, value, request id) recorded at the same boundaries go in the same
file.
"""

from __future__ import annotations

import functools
import itertools
import json
import signal
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "scripts"))

import serve  # noqa: E402
from ucuddle_search_engine_spark.functions import analyze, mem  # noqa: E402
from ucuddle_search_engine_spark.operators import fuzzy, phrase, wand  # noqa: E402


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []
        self.events: list[tuple] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._req_ids = itertools.count(1)
        self._inflight = 0

    def count(self, name: str, n: float = 1) -> None:
        self.events.append((name, n, getattr(self._local, "req", 0)))

    def wrap(self, name: str, fn, root: bool = False, on_result=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            loc = tracer._local
            stack = getattr(loc, "stack", None)
            if stack is None:
                stack = loc.stack = []
            if root or not stack:
                loc.req = next(tracer._req_ids) if root else 0
            parent = stack[-1] if stack else -1
            with tracer._lock:
                idx = len(tracer.spans)
                tracer.spans.append(None)
            stack.append(idx)
            t0 = time.perf_counter()
            try:
                out = fn(*a, **kw)
            finally:
                t1 = time.perf_counter()
                stack.pop()
                tracer.spans[idx] = (name, t0, t1, parent, loc.req)
            if on_result is not None:
                on_result(a, kw, out)
            return out

        return traced

    def admission(self, orig):
        """mem.admission() returns the shared gate; time its acquire."""
        tracer = self

        class Gate:
            def __init__(self, gate):
                self.gate = gate

            def __enter__(self):
                enter = tracer.wrap("mem.admission", self.gate.__enter__)
                out = enter()
                with tracer._lock:
                    tracer._inflight += 1
                    inflight = tracer._inflight
                tracer.count("mem.inflight", inflight)
                return out

            def __exit__(self, *exc):
                with tracer._lock:
                    tracer._inflight -= 1
                return self.gate.__exit__(*exc)

        @functools.wraps(orig)
        def admission():
            return Gate(orig())

        return admission

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [s for s in self.spans if s is not None],
                       "events": self.events}, f)


def install(tr: Tracer) -> None:
    app_cls = serve.SearchApp
    handler_of = serve.make_handler

    def make_handler(app):
        h = handler_of(app)
        h.do_GET = tr.wrap("serve.http", h.do_GET, root=True)
        return h

    serve.make_handler = make_handler
    app_cls.search = tr.wrap("serve.search", app_cls.search)
    app_cls._search_uncached = tr.wrap("serve.search_uncached", app_cls._search_uncached)
    app_cls._hydrate = tr.wrap("serve.hydrate", app_cls._hydrate)
    app_cls._open = tr.wrap("serve.reload", app_cls._open)
    app_cls._expand_columnar = tr.wrap(
        "fuzzy.expand", app_cls._expand_columnar,
        on_result=lambda a, kw, out: tr.count("fuzzy.terms_out", len(out)))
    fuzzy.expand_terms_py = tr.wrap(
        "fuzzy.expand", fuzzy.expand_terms_py,
        on_result=lambda a, kw, out: tr.count("fuzzy.terms_out", len(out)))
    analyze.Analyzer.analyze_py = tr.wrap("analyze", analyze.Analyzer.analyze_py)
    wand.SegmentSearcher.search_local = tr.wrap(
        "wand.search", wand.SegmentSearcher.search_local,
        on_result=lambda a, kw, out: tr.count("wand.terms_in", len(a[1] if len(a) > 1 else kw["terms"])))
    phrase.phrase_search_local = tr.wrap("phrase.search", phrase.phrase_search_local)
    mem.admission = tr.admission(mem.admission)


def main() -> None:
    argv = sys.argv[1:]
    out = argv[argv.index("--spans") + 1]
    del argv[argv.index("--spans"):argv.index("--spans") + 2]
    tr = Tracer()
    install(tr)

    def stop(*_):
        raise KeyboardInterrupt

    signal.signal(signal.SIGTERM, stop)
    sys.argv = [str(ROOT / "scripts" / "serve.py"), *argv]
    try:
        serve.main()
    except KeyboardInterrupt:
        pass
    finally:
        tr.dump(out)


if __name__ == "__main__":
    main()
