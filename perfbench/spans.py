"""Spans recorded by the benchmark around calls into the program's layers.

A span holds a name, its layer, start and end (``perf_counter`` seconds),
the id of the span that caused it and the run id. Spans stay in memory and
are written out once, when the run ends. Nothing here touches the
program's own code: ``wrap_modules`` replaces chosen public functions of
already-imported modules with recording wrappers for the traced run only.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time
from contextlib import contextmanager

# layer -> public functions the traced run wraps. Lazy plan builders record
# their planning cost; the Spark actions they feed run inside the caller's
# span, so that work is the calling job's self time.
WRAPPED = {
    "sources": ["vcf2df_spark.sources.read_transcripts"],
    "encode": ["vcf2df_spark.encode.encode_keyed",
               "vcf2df_spark.encode.with_partition_key",
               "vcf2df_spark.encode.normalize_input"],
    "manifest": ["vcf2df_spark.manifest.build_manifests",
                 "vcf2df_spark.manifest.committed_partitions"],
    "decode": ["vcf2df_spark.decode.decode_blocks"],
    "verify": ["vcf2df_spark.verify.multiset_equal"],
    "datasource": ["vcf2df_spark.datasource.read_warehouse",
                   "vcf2df_spark.datasource.scan_warehouse",
                   "vcf2df_spark.datasource.infer_ctypes"],
    "scan": ["vcf2df_spark.scan.fetch_conversation",
             "vcf2df_spark.scan.pushable_predicates",
             "vcf2df_spark.scan.referenced_columns"],
    "rewrite": ["vcf2df_spark.rewrite.routed_rewrite"],
    "shipping": ["vcf2df_spark.shipping.ensure_shipped"],
    "session": ["vcf2df_spark.session.get_spark"],
}
LAYERS = ["jobs", *WRAPPED]


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._root: int | None = None  # parent for spans opened on pool threads
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else self._root
        sid = next(self._ids)
        rec = {"id": sid, "parent": parent, "run": self.run_id, "name": name,
               "layer": layer, "start": time.perf_counter()}
        stack.append(sid)
        top = parent is None
        if top:
            self._root = sid
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if top:
                self._root = None
            with self._lock:
                self.spans.append(rec)

    def wrap_modules(self) -> None:
        """Install recording wrappers over ``WRAPPED`` in every loaded
        ``vcf2df_spark`` module that holds a reference to the function."""
        for layer, paths in WRAPPED.items():
            for path in paths:
                mod_name, fn_name = path.rsplit(".", 1)
                __import__(mod_name)
                orig = getattr(sys.modules[mod_name], fn_name)
                wrapper = self._wrapper(orig, f"{mod_name.rsplit('.', 1)[1]}.{fn_name}", layer)
                for name, mod in list(sys.modules.items()):
                    if name.startswith("vcf2df_spark") and mod is not None:
                        for attr, val in list(vars(mod).items()):
                            if val is orig:
                                setattr(mod, attr, wrapper)

    def _wrapper(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name, layer):
                return fn(*args, **kwargs)
        return traced

    def self_times(self) -> dict[str, float]:
        """Seconds per layer: each span's duration minus the part of it
        that its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            covered, edge = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], ()), key=lambda c: c["start"]):
                lo, hi = max(c["start"], edge), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            if s["layer"] in out:
                out[s["layer"]] += s["end"] - s["start"] - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")
