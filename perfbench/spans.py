"""Outside-in span tracing for the benchmark's traced run.

Nothing inside ``teleharvest_spark`` is instrumented. ``Tracer.install``
swaps wrappers onto the module attributes of the program's public
functions (every module that bound the function by name is patched),
onto pyspark's action methods, and onto ``ThreadPoolExecutor`` so a
span opened on a pool thread knows the span that submitted it. Spans
are kept in memory; ``Tracer.dump`` writes them out at the end.

Layer attribution:

* a wrapped function's span belongs to the layer its entry names;
* a DataFrame returned by a wrapped function carries that function as
  its *origin*, and DataFrames derived from it (any DataFrame or
  GroupedData method, ``.write``) inherit the origin. An action on a
  frame with a mapped origin belongs to the origin's layer, so the
  lazily-built manifest snapshot is charged to ``manifest.snapshot``
  when ``cli.run`` collects it;
* any other action belongs to the layer of the span it runs under
  (``ACTION_LAYER`` renames the driver's own layer);
* each action span also carries the innermost calling
  ``teleharvest_spark`` module.

Self time is a span's interval minus the union of its children's
intervals; children may overlap because the write tail and
``ValidationResult.materialize`` run them on threads.
"""

from __future__ import annotations

import concurrent.futures
import contextlib
import functools
import importlib
import itertools
import json
import os
import sys
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass

PKG = "teleharvest_spark"


def _write_layer(args, kwargs, caller):
    path = str(args[1] if len(args) > 1 else kwargs.get("path", ""))
    if caller == f"{PKG}.cli" and os.path.basename(path.rstrip("/")) == "violations":
        return "cli.violations_write"
    return "writer.write_partitioned"


# (module, attribute or Class.method, layer — a name or fn(args, kwargs, caller))
FUNCTIONS = [
    (f"{PKG}.session", "get_spark", "session.get_spark"),
    (f"{PKG}.cli", "run", "cli.untraced"),
    (f"{PKG}.plans.contract", "schema_gate", "contract.schema_gate"),
    (f"{PKG}.plans.manifest", "snapshot_of_partitions", "manifest.snapshot"),
    (f"{PKG}.plans.manifest", "read_manifest", "manifest.read"),
    (f"{PKG}.plans.manifest", "pending_partitions", "manifest.read"),
    (f"{PKG}.plans.manifest", "append_manifest_rows", "manifest.append"),
    (f"{PKG}.plans.states", "read_states", "states.read"),
    (f"{PKG}.plans.states", "write_states", "states.write"),
    (f"{PKG}.plans.suite", "run_suite", "suite.run_suite"),
    (f"{PKG}.plans.suite", "ValidationResult.materialize", "suite.materialize"),
    # the suite's one tokens decode runs when its histogram is collected
    (f"{PKG}.operators.drift", "ntok_histogram", "suite.materialize"),
    # the dup-key job is part of run_suite's own work
    (f"{PKG}.operators.uniqueness", "duplicate_keys", "suite.run_suite"),
    (f"{PKG}.operators.uniqueness", "read_key_index", "uniqueness.key_index_read"),
    (f"{PKG}.operators.uniqueness", "write_key_index", "uniqueness.key_index_write"),
    (f"{PKG}.operators.uniqueness", "cross_partition_counts", "uniqueness.cross_partition"),
    (f"{PKG}.sources.writer", "write_partitioned", _write_layer),
    (f"{PKG}.sources.writer", "write_shuffled_shards", "prep.shuffle_op"),
    (f"{PKG}.pipeline", "prep_corpus", "prep.corpus"),
    (f"{PKG}.pipeline", "write_stage_state", "prep.stage_state"),
    (f"{PKG}.operators.quality", "quality_gate", "prep.quality_op"),
    (f"{PKG}.operators.dedup", "exact_duplicates", "prep.dedup_op"),
    (f"{PKG}.operators.dedup", "minhash_lsh_pairs", "prep.dedup_op"),
    (f"{PKG}.operators.dedup", "write_dedup_index", "prep.dedup_op"),
    (f"{PKG}.operators.components", "connected_components", "prep.components_op"),
    (f"{PKG}.operators.packing", "pack_sequences", "prep.pack_op"),
]

# Actions that run directly under cli.run are Spark work the driver
# composition issues itself, not driver time covered by no span.
ACTION_LAYER = {"cli.untraced": "cli.actions"}
# Thread pools: the layer of the pool span by the module that opens it.
POOL_LAYER = {f"{PKG}.cli": "cli.tail", f"{PKG}.plans.suite": "suite.materialize"}

DATAFRAME_ACTIONS = ("collect", "count", "toPandas", "localCheckpoint")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float | None
    parent: int | None
    thread: str
    job: int | None
    module: str | None = None
    origin: str | None = None
    info: str | None = None


def _caller_module(skip: int = 2) -> str | None:
    f = sys._getframe(skip)
    while f is not None:
        name = f.f_globals.get("__name__", "")
        if name == PKG or name.startswith(PKG + "."):
            return name
        f = f.f_back
    return None


class Tracer:
    """Records spans while ``enabled``; wrappers pass straight through
    otherwise, so one process can time traced and untraced jobs."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.job: int | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tl = threading.local()
        self._pools: dict[int, Span] = {}
        self._undo: list[tuple[object, str, object]] = []

    # -- span bookkeeping ---------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._tl, "stack", None)
        if st is None:
            st = self._tl.stack = []
        return st

    def current(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else None

    def _open(self, name, layer, module=None, origin=None, info=None) -> Span:
        cur = self.current()
        return Span(
            id=next(self._ids), name=name, layer=layer, start=time.perf_counter(),
            end=None, parent=cur.id if cur else None,
            thread=threading.current_thread().name, job=self.job,
            module=module, origin=origin, info=info,
        )

    def _close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        with self._lock:
            self.spans.append(sp)

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **kw):
        if not self.enabled:
            yield None
            return
        sp = self._open(name, layer, **kw)
        st = self._stack()
        st.append(sp)
        try:
            yield sp
        finally:
            st.pop()
            self._close(sp)

    # -- patching -----------------------------------------------------
    def _set(self, owner, attr, value) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)))
        setattr(owner, attr, value)

    def install(self) -> "Tracer":
        for mod_name, attr, layer in FUNCTIONS:
            self._wrap_function(mod_name, attr, layer)
        self._wrap_actions()
        self._wrap_pools()
        return self

    def uninstall(self) -> None:
        for owner, attr, value in reversed(self._undo):
            setattr(owner, attr, value)
        self._undo.clear()

    def _wrap_function(self, mod_name: str, attr: str, layer) -> None:
        mod = importlib.import_module(mod_name)
        if "." in attr:
            cls_name, meth = attr.split(".")
            owner = getattr(mod, cls_name)
            orig = owner.__dict__[meth]
            self._set(owner, meth, self._function_wrapper(orig, f"{mod_name}.{attr}", layer))
            return
        orig = getattr(mod, attr)
        wrapper = self._function_wrapper(orig, f"{mod_name}.{attr}", layer)
        for name, m in list(sys.modules.items()):
            if (name == PKG or name.startswith(PKG + ".")) and getattr(m, attr, None) is orig:
                self._set(m, attr, wrapper)

    def _function_wrapper(self, orig, qualname: str, layer):
        tracer = self
        short = qualname[len(PKG) + 1:]

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            caller = _caller_module()
            lay = layer(args, kwargs, caller) if callable(layer) else layer
            info = None
            if short == "pipeline.write_stage_state":
                info = str(args[1] if len(args) > 1 else kwargs.get("stage"))
            with tracer.span(short, lay, module=caller, info=info):
                out = orig(*args, **kwargs)
            if _is_dataframe(out):
                out._pb_origin = lay
            return out

        return wrapper

    def _wrap_actions(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.group import GroupedData
        from pyspark.sql.readwriter import DataFrameWriter

        tracer = self

        def action(orig, name, df_of):
            @functools.wraps(orig)
            def wrapper(obj, *args, **kwargs):
                if not tracer.enabled:
                    return orig(obj, *args, **kwargs)
                origin = getattr(df_of(obj), "_pb_origin", None)
                parent = tracer.current()
                base = parent.layer if parent else "cli.untraced"
                layer = origin or ACTION_LAYER.get(base, base)
                info = None
                if name == "DataFrameWriter.parquet":
                    info = str(args[0] if args else kwargs.get("path"))
                    # cli.run writes the verdicts table itself, to verdicts/<run_id>
                    if base == "cli.untraced" and origin is None and (
                        "verdicts" in info.rstrip("/").split("/")[-2:]
                    ):
                        layer = "cli.verdicts_write"
                with tracer.span(name, layer, module=_caller_module(), origin=origin, info=info):
                    return orig(obj, *args, **kwargs)

            return wrapper

        for name in DATAFRAME_ACTIONS:
            self._set(DataFrame, name, action(DataFrame.__dict__[name], name, lambda d: d))
        self._set(
            DataFrameWriter, "parquet",
            action(DataFrameWriter.__dict__["parquet"], "DataFrameWriter.parquet", lambda w: w._df),
        )

        # origin propagation through transformations
        def propagate(orig, df_of):
            @functools.wraps(orig)
            def wrapper(obj, *args, **kwargs):
                out = orig(obj, *args, **kwargs)
                if tracer.enabled and _is_dataframe(out) and "_pb_origin" not in out.__dict__:
                    origin = getattr(df_of(obj), "_pb_origin", None)
                    if origin is None:
                        origin = next(
                            (a._pb_origin for a in args if _is_dataframe(a) and "_pb_origin" in a.__dict__),
                            None,
                        )
                    if origin is not None:
                        out._pb_origin = origin
                return out

            return wrapper

        for cls, df_of in ((DataFrame, lambda d: d), (GroupedData, lambda g: g._df)):
            for name, attr in list(cls.__dict__.items()):
                if name.startswith("_") or name in DATAFRAME_ACTIONS or not callable(attr):
                    continue
                self._set(cls, name, propagate(attr, df_of))

    def _wrap_pools(self) -> None:
        tracer = self
        TPE = concurrent.futures.ThreadPoolExecutor
        orig_submit, orig_shutdown = TPE.__dict__["submit"], TPE.__dict__["shutdown"]

        @functools.wraps(orig_submit)
        def submit(ex, fn, /, *args, **kwargs):
            if not tracer.enabled:
                return orig_submit(ex, fn, *args, **kwargs)
            pool = tracer._pools.get(id(ex))
            if pool is None:
                caller = _caller_module()
                parent = tracer.current()
                base = parent.layer if parent else "cli.untraced"
                pool = tracer._open("pool", POOL_LAYER.get(caller, base), module=caller)
                tracer._pools[id(ex)] = pool

            def run(*a, **k):
                st = tracer._stack()
                saved = st[:]
                st[:] = [pool]
                try:
                    return fn(*a, **k)
                finally:
                    st[:] = saved

            return orig_submit(ex, run, *args, **kwargs)

        @functools.wraps(orig_shutdown)
        def shutdown(ex, *args, **kwargs):
            try:
                return orig_shutdown(ex, *args, **kwargs)
            finally:
                pool = tracer._pools.pop(id(ex), None)
                if pool is not None:
                    tracer._close(pool)

        self._set(TPE, "submit", submit)
        self._set(TPE, "shutdown", shutdown)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for sp in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(sp)) + "\n")


def _is_dataframe(obj) -> bool:
    from pyspark.sql.classic.dataframe import DataFrame

    return isinstance(obj, DataFrame)


# -- analysis -----------------------------------------------------------


def union_length(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict[int, float]:
    """Span id → interval minus the union of its children's intervals
    (children clipped to the parent)."""
    kids = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out = {}
    for s in spans:
        clipped = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in kids[s.id]
            if c.end > s.start and c.start < s.end
        ]
        out[s.id] = (s.end - s.start) - union_length(clipped)
    return out


def parallel_overlap(spans, root: Span) -> float:
    """Time during ``root`` counted more than once by self times: the
    integral of (number of spans running with no running child − 1).

    Σ self times over the tree = root wall + this overlap. Computed by
    a sweep over span edges, independently of :func:`self_times`.
    """
    kids = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    edges = sorted({t for s in spans for t in (s.start, s.end) if root.start <= t <= root.end})
    extra = 0.0
    for a, b in zip(edges, edges[1:]):
        mid = (a + b) / 2
        frontier = 0
        for s in spans:
            if s.start <= mid < s.end and not any(c.start <= mid < c.end for c in kids[s.id]):
                frontier += 1
        extra += max(frontier - 1, 0) * (b - a)
    return extra


def layer_self_times(spans) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.layer] += st[s.id]
    return dict(out)
