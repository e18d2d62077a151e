"""Spans around calls into the program's layers, recorded from outside.

`Tracer.wrap(module, name)` replaces a module-level function with a
timing wrapper for the duration of a traced run. The program looks
these functions up as module globals at call time (run_conf calls
run_pipeline, run_pipeline calls build_pipeline, config's
parse_conf/compile_conf import the conflang/confcompile functions when
called), so the wrappers see every call the program makes.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: dict[str, list[float]] = defaultdict(list)
        self._restore: list = []

    def wrap(self, module, name: str, label: str) -> None:
        fn = getattr(module, name)

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.spans[label].append(time.perf_counter() - t0)

        setattr(module, name, timed)
        self._restore.append((module, name, fn))

    def close(self) -> None:
        for module, name, fn in reversed(self._restore):
            setattr(module, name, fn)
        self._restore.clear()

    def take(self) -> dict[str, float]:
        """Total seconds per span label since the last take()."""
        out = {k: sum(v) for k, v in self.spans.items()}
        self.spans.clear()
        return out


def conf_layers(tracer: Tracer) -> None:
    """Wrap the conf front end and pipeline layers."""
    from syslog_ng_spark import confcompile, config, conflang

    tracer.wrap(conflang, "parse_conf", "conflang.parse_s")
    tracer.wrap(confcompile, "compile_conf", "confcompile.compile_s")
    tracer.wrap(config, "build_pipeline", "config.build_s")
    tracer.wrap(config, "run_pipeline", "config.run_s")
    tracer.wrap(config, "run_conf_stream", "config.run_conf_stream_s")
