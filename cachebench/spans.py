"""Spans around the calls into each layer, recorded from the benchmark's
own files: a traced run rebinds the layers' public entry points to timing
wrappers while an op is traced and restores them otherwise. Nothing in the
library changes.

Spans stay in memory as ``(span_id, name, start, end, parent_id, op_id)``
tuples (see stats.py) and are written out once, at exit.
"""
from __future__ import annotations

import itertools
import json
import sys
import threading
import time
from typing import Callable, List, Optional

PACKAGE = "dbfs_spark_cache_spark"

# fs functions that touch storage; the pure path/inventory string helpers
# are left out because they do no I/O.
FS_CALLS = (
    "exists", "list_dir", "file_size", "tree_size", "data_file_inventory",
    "inventory_matches", "max_mtime", "read_text", "write_text", "rename",
    "remove",
)


class Tracer:
    def __init__(self) -> None:
        self.spans: List[tuple] = []
        self.outcomes: dict = {}  # span_id -> "hit" / "miss" for classified calls
        self.op_id: Optional[str] = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: List[int] = []
        self._bindings: List[tuple] = []  # (owner, attr, original, wrapper)

    def _stack(self) -> List[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def begin(self, name: str) -> tuple:
        stack = self._stack()
        # A call from a worker thread (management's registry scans run in a
        # thread pool) nests under whatever the main thread has open.
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        with self._lock:
            sid = next(self._ids)
        stack.append(sid)
        return sid, name, time.perf_counter(), parent

    def end(self, token: tuple, outcome: Optional[str] = None) -> None:
        sid, name, start, parent = token
        end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] == sid:
            stack.pop()
        with self._lock:
            self.spans.append((sid, name, start, end, parent, self.op_id))
            if outcome is not None:
                self.outcomes[sid] = outcome

    def wrap(self, fn: Callable, name: str, classify: Optional[Callable] = None):
        tracer = self

        def traced(*args, **kwargs):
            token = tracer.begin(name)
            result = None
            try:
                result = fn(*args, **kwargs)
                return result
            finally:
                tracer.end(token, classify(result) if classify else None)

        traced.__wrapped__ = fn
        return traced

    # -- rebinding ----------------------------------------------------------

    def _bind_function(self, fn: Callable, name: str, classify=None) -> None:
        """Every module-level name in the package that refers to ``fn``
        (``from x import f`` copies the binding into the importer)."""
        wrapper = self.wrap(fn, name, classify)
        for mod_name, module in list(sys.modules.items()):
            if module is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, value in list(vars(module).items()):
                if value is fn:
                    self._bindings.append((module, attr, fn, wrapper))

    def _bind_method(self, cls: type, attr: str, name: str) -> None:
        fn = getattr(cls, attr)
        self._bindings.append((cls, attr, fn, self.wrap(fn, name)))

    def enable(self) -> None:
        """Rebind the layers' entry points to their timing wrappers."""
        if not self._bindings:
            self._find_bindings()
        for owner, attr, _fn, wrapper in self._bindings:
            setattr(owner, attr, wrapper)

    def disable(self) -> None:
        for owner, attr, fn, _wrapper in self._bindings:
            setattr(owner, attr, fn)

    def _find_bindings(self) -> None:
        """The public layer entry points (the package and its operators
        must be imported first)."""
        import importlib

        from pyspark.sql.catalog import Catalog
        from pyspark.sql.readwriter import DataFrameWriter

        core = importlib.import_module(f"{PACKAGE}.core")
        fp = importlib.import_module(f"{PACKAGE}.plans.fingerprint")
        complexity = importlib.import_module(f"{PACKAGE}.complexity")
        hashing = importlib.import_module(f"{PACKAGE}.hashing")
        fs = importlib.import_module(f"{PACKAGE}.fs")
        management = importlib.import_module(f"{PACKAGE}.management")
        staging = importlib.import_module(f"{PACKAGE}.operators.staging")

        def hit_or_miss(result):
            return "miss" if result is None else "hit"

        targets = [
            (core.cache_dataframe, "core.cache_dataframe", None),
            (core.read_cache_if_exist, "core.read_cache_if_exist", hit_or_miss),
            (core.write_cache, "core.write_cache", None),
            (core.create_cached_dataframe, "core.create_cached_dataframe", None),
            (fp.canonical_plan, "plans.fingerprint.canonical_plan", None),
            (fp.input_dir_mod_datetime, "plans.fingerprint.input_dir_mod_datetime", None),
            (fp.find_plain_udfs, "plans.fingerprint.find_plain_udfs", None),
            (complexity.estimate_compute_complexity,
             "complexity.estimate_compute_complexity", None),
            (hashing.hash_input_data, "hashing.hash_input_data", None),
            (staging.stage_cache, "operators.stage_cache", None),
        ]
        targets += [(getattr(fs, n), f"fs.{n}", None) for n in FS_CALLS]
        targets += [
            (fn, f"management.{n}", None)
            for n, fn in vars(management).items()
            if callable(fn) and not n.startswith("_")
            and getattr(fn, "__module__", None) == management.__name__
        ]
        for fn, name, classify in targets:
            self._bind_function(fn, name, classify)
        self._bind_method(DataFrameWriter, "saveAsTable", "spark.save_as_table")
        self._bind_method(Catalog, "tableExists", "catalog.table_exists")

    def dump(self, path: str) -> None:
        with open(path, "w") as out:
            for sid, name, start, end, parent, op in self.spans:
                out.write(json.dumps({
                    "id": sid, "name": name, "start": start, "end": end,
                    "parent": parent, "op": op,
                    "outcome": self.outcomes.get(sid),
                }) + "\n")


class _Span:
    def __init__(self, tracer: Optional[Tracer], name: str) -> None:
        self.tracer = tracer
        self.name = name
        self.token = None

    def __enter__(self):
        if self.tracer is not None:
            self.token = self.tracer.begin(self.name)
        return self

    def __exit__(self, *exc) -> None:
        if self.token is not None:
            self.tracer.end(self.token)


def span(tracer: Optional[Tracer], name: str) -> _Span:
    """A span when tracing, a no-op context otherwise."""
    return _Span(tracer, name)
