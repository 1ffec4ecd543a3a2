"""Layer spans for the traced run, recorded from outside the engine.

``Tracer.install`` wraps every public function (and every public method
of a public class) defined in a ``spark_tensors_spark`` module, then
rebinds every module-level reference to it: the defining module's
attribute, each ``from x import f`` copy in another module, the class
attribute, and the values of module-level dicts such as the ``QUERIES``
registries.  A wrapped call records a span ``(layer, name, parent,
start, end)`` and runs under ``setJobDescription("<layer>:<name>")``, so
each Spark job it triggers names the innermost layer span in the event
log.  The layer is the engine subpackage (``kg``, ``train``, ...) or
``session`` for ``spark_tensors_spark.session``.

The session memos (module-level ``*_CACHE`` dicts in the ``queries``
package) are swapped for a counting dict: a ``get``/``in`` probe is a
memo call, an insert is a miss, and probe-to-insert is the build.

The wrapper copies the original's ``__module__``/``__qualname__`` and is
the module attribute under that name, so cloudpickle ships it to Python
workers BY REFERENCE: a worker imports the untraced module and runs the
original function.  ``uninstall`` restores every binding.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
import types

PACKAGE = "spark_tensors_spark"
DESC = "spark.job.description"


def layer_of(module_name: str) -> str | None:
    parts = module_name.split(".")
    if parts[0] != PACKAGE or len(parts) < 2:
        return None
    return parts[1]


class MemoDict(dict):
    """A session-memo dict that counts probes and timed inserts."""

    def __init__(self, data, owner: "Tracer"):
        super().__init__(data)
        self._owner = owner
        self._probed: dict = {}

    def _probe(self, key):
        self._owner.memo_calls += 1
        self._probed[key] = time.time()

    def get(self, key, default=None):
        self._probe(key)
        return super().get(key, default)

    def __contains__(self, key):
        self._probe(key)
        return super().__contains__(key)

    def __setitem__(self, key, value):
        now = time.time()
        self._owner.memo_builds.append((self._probed.pop(key, now), now))
        super().__setitem__(key, value)


class Tracer:
    """Spans, memo counters and the bindings needed to undo them."""

    def __init__(self, spark_context):
        self.sc = spark_context
        self.spans: list[tuple[str, str, int | None, float, float]] = []
        self.memo_calls = 0
        self.memo_builds: list[tuple[float, float]] = []
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []
        self._dict_undo: list[tuple[dict, object, object]] = []

    # -- spans ---------------------------------------------------------
    def _wrap(self, fn, layer: str, name: str):
        tracer = self
        desc = f"{layer}:{name}"

        @functools.wraps(fn)
        def span(*args, **kwargs):
            stack = tracer._stack()
            parent = stack[-1] if stack else None
            idx = len(tracer.spans)
            tracer.spans.append((layer, name, parent, time.time(), 0.0))
            stack.append(idx)
            tracer.sc.setLocalProperty(DESC, desc)
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                outer = tracer.spans[stack[-1]] if stack else None
                tracer.sc.setLocalProperty(
                    DESC, f"{outer[0]}:{outer[1]}" if outer else tracer._base()
                )
                lay, nm, par, start, _ = tracer.spans[idx]
                tracer.spans[idx] = (lay, nm, par, start, time.time())

        return span

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _base(self) -> str | None:
        return getattr(self._local, "base", None)

    def set_base_description(self, desc: str | None) -> None:
        """Description of jobs run outside any span (the benchmark's own
        ``count()`` action) on the calling thread."""
        self._local.base = desc
        self.sc.setLocalProperty(DESC, desc)

    # -- install / uninstall --------------------------------------------
    def install(self) -> None:
        mods = [
            m for n, m in list(sys.modules.items())
            if m is not None and (n == PACKAGE or n.startswith(PACKAGE + "."))
        ]
        wrapped: dict[int, object] = {}
        for mod in mods:
            layer = layer_of(mod.__name__)
            if layer is None:
                continue
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if isinstance(obj, types.FunctionType) and id(obj) not in wrapped:
                    wrapped[id(obj)] = self._wrap(obj, layer, obj.__qualname__)
                elif isinstance(obj, type):
                    for mname, meth in list(vars(obj).items()):
                        if mname.startswith("_") or not isinstance(meth, types.FunctionType):
                            continue
                        w = self._wrap(meth, layer, meth.__qualname__)
                        self._rebind(obj, mname, w)
        rebind_in = mods + [sys.modules.get("__spark_entry__")]
        for mod in rebind_in:
            if mod is None:
                continue
            for name, obj in list(vars(mod).items()):
                w = wrapped.get(id(obj))
                if w is not None:
                    self._rebind(mod, name, w)
                elif isinstance(obj, dict):
                    if name.endswith("_CACHE") and layer_of(mod.__name__) == "queries":
                        self._rebind(mod, name, MemoDict(obj, self))
                        continue
                    for k, v in list(obj.items()):
                        w = wrapped.get(id(v)) if callable(v) else None
                        if w is not None:
                            self._dict_undo.append((obj, k, v))
                            obj[k] = w

    def _rebind(self, owner, name: str, value) -> None:
        self._undo.append((owner, name, getattr(owner, name)))
        setattr(owner, name, value)

    def uninstall(self) -> None:
        for owner, name, old in reversed(self._undo):
            cur = getattr(owner, name)
            if isinstance(cur, MemoDict):
                old.update(cur)  # keep entries built while traced
            setattr(owner, name, old)
        for d, k, old in reversed(self._dict_undo):
            d[k] = old
        self._undo.clear()
        self._dict_undo.clear()
