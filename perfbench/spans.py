"""Span tracing for the benchmark's traced run (``--trace 1``).

Wrappers are attached from outside the engine: each target function is
replaced in its defining module or class AND under every module-global
name that is bound to it, because callers such as ``table.py`` bind
``_scan`` and ``write_datafiles`` at import time and would otherwise keep
calling the unwrapped function.

A span records name, start, end, parent span and op id. The parent comes
from a context variable; ``ThreadPoolExecutor.submit`` is patched to carry
the submitting context into the pool thread, so the engine's two-thread
write pairs and its concurrent manifest fetches nest under the span that
waits for them. Self time is computed by a sweep over each op: every
instant is credited to the innermost spans active at that instant, split
evenly when several run concurrently, so per-op self times never count
overlapping work twice.
"""

from __future__ import annotations

import bisect
import concurrent.futures
import contextvars
import functools
import hashlib
import importlib
import inspect
import json
import sys
import threading
import time
from collections import Counter, defaultdict

PKG = "iceberg_rust_archive_spark"

# (module, attribute path, span name). The span name's first component is
# the layer it reports under.
TARGETS = [
    ("plans.engine", "Engine.sql", "engine.sql"),
    ("catalog.base", "Catalog.load_tabular_with_location", "catalog.load"),
    ("catalog.base", "Catalog.update_tabular", "catalog.update"),
    ("operators.scan", "scan", "scan.plan"),
    ("sources.manifests", "read_manifest_list", "manifests.read_list"),
    ("sources.manifests", "read_manifests", "manifests.read_many"),
    ("sources.manifests", "read_manifest", "manifests.read"),
    ("sources.manifests", "_read_manifest_uncached", "manifests.decode"),
    ("sources.manifests", "write_manifest", "manifests.write"),
    ("sources.manifests", "write_manifest_list", "manifests.write_list"),
    ("sources.write", "write_datafiles", "write.datafiles"),
    ("sources.write", "write_delete_and_data", "write.pair"),
    ("sources.write", "write_position_deletes", "write.pos_deletes"),
    ("sources.write", "write_deletion_vectors", "write.dvs"),
    ("sources.stats", "harvest_files", "stats.harvest"),
    ("transaction", "Transaction.commit", "txn.commit"),
    ("transaction", "Transaction.commit_with_retry", "txn.retry"),
    ("plans.mv", "refresh_materialized_view", "mv.refresh"),
    ("maintenance", "compact_table", "maint.compact"),
    ("maintenance", "rewrite_manifests", "maint.rewrite_manifests"),
]

# Layers that must record spans on each workload, and layers that must
# stay idle (pruned_reads is read-only: write and commit code sit idle).
REQUIRED = {
    "pruned_reads": ("engine", "catalog", "scan", "manifests", "spark"),
    "ingest_refresh": ("engine", "catalog", "manifests", "write", "stats",
                       "txn", "mv", "maint"),
    "dml_churn": ("engine", "catalog", "scan", "manifests", "spark", "write",
                  "stats", "txn", "maint"),
}
IDLE = {"pruned_reads": ("write", "stats", "txn", "mv", "maint")}

# refresh strategies that did not recompute the whole view
FULL_STRATEGIES = {"FullOverwrite"}
NO_OP_STRATEGIES = {"Fresh"}

SELF_CHECK_TOLERANCE = 0.10


class Span:
    __slots__ = ("name", "t0", "t1", "parent", "op", "info")

    def __init__(self, name, parent, op):
        self.name = name
        self.parent = parent
        self.op = op
        self.t0 = self.t1 = 0.0
        self.info = None


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.op: int | None = None
        self._current = contextvars.ContextVar("perfbench_span",
                                               default=None)
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    # --- recording -------------------------------------------------------
    def wrap(self, name: str, fn, info=None):
        """``info(bound_args, result)`` extracts counts for the span."""
        sig = inspect.signature(fn) if info else None
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            op = tracer.op
            if op is None:
                return fn(*args, **kwargs)
            span = Span(name, tracer._current.get(), op)
            bound = None
            if info is not None:
                bound = sig.bind(*args, **kwargs)
                if name == "scan.plan" and bound.arguments.get(
                        "report") is None:
                    # scan() fills its planning report only into a dict
                    # the caller passes; callers that pass none get one
                    bound.arguments["report"] = {}
                args, kwargs = bound.args, bound.kwargs
                if name in _BEFORE_CALL:
                    span.info = info(bound.arguments, None)
            token = tracer._current.set(span)
            span.t0 = time.perf_counter()
            try:
                result = fn(*args, **kwargs)
            finally:
                span.t1 = time.perf_counter()
                tracer._current.reset(token)
                with tracer._lock:
                    tracer.spans.append(span)
            if info is not None and name not in _BEFORE_CALL:
                span.info = info(bound.arguments, result)
            return result
        return traced

    # --- installation ----------------------------------------------------
    def _set(self, owner, attr, value):
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def install(self, extra: list[tuple[object, str, str]] = ()):
        """Attach wrappers to every target and to every module-global
        alias of it in the package; ``extra`` adds (owner, attr, name)
        targets from the benchmark's own modules."""
        wrapped = {}
        for mod_name, path, name in TARGETS:
            owner = importlib.import_module(f"{PKG}.{mod_name}")
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            fn = owner.__dict__[attr]
            new = self.wrap(name, fn, _INFO.get(name))
            self._set(owner, attr, new)
            wrapped[id(fn)] = (fn, new)
        for mod in [m for k, m in list(sys.modules.items())
                    if k == PKG or k.startswith(PKG + ".")]:
            for k, v in list(vars(mod).items()):
                if id(v) in wrapped and v is wrapped[id(v)][0]:
                    self._set(mod, k, wrapped[id(v)][1])
        for owner, attr, name in extra:
            self._set(owner, attr, self.wrap(name, getattr(owner, attr)))
        self._set(concurrent.futures.ThreadPoolExecutor, "submit",
                  _context_submit(
                      concurrent.futures.ThreadPoolExecutor.submit))

    def uninstall(self):
        for owner, attr, old in reversed(self._undo):
            setattr(owner, attr, old)
        self._undo.clear()

    def wrapper_cost_s(self, calls: int = 20_000) -> float:
        """Seconds one traced call adds over an untraced one."""
        def noop():
            return None
        traced = self.wrap("calibrate", noop)
        saved, self.op = self.op, -1
        try:
            t0 = time.perf_counter()
            for _ in range(calls):
                traced()
            t_traced = time.perf_counter() - t0
            t0 = time.perf_counter()
            for _ in range(calls):
                noop()
            t_plain = time.perf_counter() - t0
        finally:
            self.op = saved
            self.spans = [s for s in self.spans if s.op != -1]
        return max(0.0, (t_traced - t_plain) / calls)


def _context_submit(submit):
    @functools.wraps(submit)
    def ctx_submit(self, fn, /, *args, **kwargs):
        ctx = contextvars.copy_context()
        return submit(self, ctx.run, fn, *args, **kwargs)
    return ctx_submit


# --- per-span counts -------------------------------------------------------

def _scan_info(a, _result):
    rep = a.get("report") or {}
    snap = a["md"].current_snapshot(a.get("branch"))
    total = int(snap.summary.get("total-data-files", 0)) if snap else 0
    return {"manifests": rep.get("manifests_total", 0),
            "manifests_pruned": rep.get("manifests_pruned", 0),
            "files": rep.get("data_files_planned", 0),
            "files_total": total,
            "bytes": rep.get("data_bytes_planned", 0),
            "deletes": rep.get("equality_delete_files", 0)
            + rep.get("position_delete_files", 0)}


def _files_info(_a, result):
    files = list(result or [])
    return {"files": len(files),
            "bytes": sum(f.file_size_in_bytes or 0 for f in files)}


def _harvest_info(a, _result):
    return {"footers": len(a["paths_with_partitions"])}


def _refresh_info(_a, result):
    return {"strategy": result}


def _rewrite_input_info(a, _result):
    """Data and delete files in the snapshot a maintenance op rewrites
    (read before the call)."""
    snap = a["table"].metadata.current_snapshot()
    if snap is None:
        return {"files": 0}
    return {"files": int(snap.summary.get("total-data-files", 0))
            + int(snap.summary.get("total-delete-files", 0))}


_INFO = {
    "scan.plan": _scan_info,
    "write.datafiles": _files_info,
    "write.pos_deletes": _files_info,
    "write.dvs": _files_info,
    "stats.harvest": _harvest_info,
    "mv.refresh": _refresh_info,
    "maint.compact": _rewrite_input_info,
    "maint.rewrite_manifests": _rewrite_input_info,
}
_BEFORE_CALL = {"maint.compact", "maint.rewrite_manifests"}


# --- analysis --------------------------------------------------------------

def self_times(spans: list[Span], t0: float, t1: float) -> dict[int, float]:
    """Self time per span (keyed by id) over the op interval [t0, t1]:
    each instant goes to the innermost active spans, split evenly."""
    cuts = sorted({t0, t1, *(min(max(s.t0, t0), t1) for s in spans),
                   *(min(max(s.t1, t0), t1) for s in spans)})
    out: dict[int, float] = defaultdict(float)
    by_start = sorted(spans, key=lambda s: s.t0)
    starts = [s.t0 for s in by_start]
    for a, b in zip(cuts, cuts[1:]):
        if b <= a:
            continue
        mid = (a + b) / 2
        active = [s for s in by_start[:bisect.bisect_right(starts, mid)]
                  if s.t1 > mid]
        if not active:
            continue
        parents = {id(s.parent) for s in active if s.parent is not None}
        leaves = [s for s in active if id(s) not in parents]
        for s in leaves:
            out[id(s)] += (b - a) / len(leaves)
    return out


def analyse(workload: str, ops: list[tuple[float, float, str]],
            spans: list[Span], jobs: int, wrapper_cost_s: float) -> dict:
    """Per-layer metrics over the timed ops, plus the self-check. Times
    are per timed op. They are self times, except ``scan.plan_ms``,
    ``mv.refresh_ms`` and ``maint.*_ms``, which are the whole call
    (children included), because those calls mostly delegate."""
    n = len(ops)
    by_op: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        by_op[s.op].append(s)
    self_ms: Counter = Counter()        # span name -> total self ms
    incl_ms: Counter = Counter()        # span name -> total duration ms
    counts: Counter = Counter()         # span name -> calls
    gap_ms = 0.0
    worst = 0.0
    digest = []
    for i, (t0, t1, _label) in enumerate(ops):
        ss = by_op.get(i, [])
        st = self_times(ss, t0, t1)
        wall = t1 - t0
        top = sum(s.t1 - s.t0 for s in ss if s.parent is None)
        gap = wall - top
        gap_ms += gap * 1e3
        for s in ss:
            self_ms[s.name] += st.get(id(s), 0.0) * 1e3
            if s.parent is None or s.parent.name != s.name:
                incl_ms[s.name] += (s.t1 - s.t0) * 1e3
            counts[s.name] += 1
        err = abs(sum(st.values()) + gap - wall) / wall if wall else 0.0
        worst = max(worst, err)
        if i < 6:
            digest.append(sorted(Counter(s.name for s in ss).items()))

    def layer(prefix):
        return sum(v for k, v in self_ms.items()
                   if k.split(".")[0] == prefix)

    def infos(name):
        return [s.info for s in spans if s.name == name and s.info]

    scans = infos("scan.plan")
    ssum = Counter()
    for d in scans:
        ssum.update(d)
    writes = infos("write.datafiles") + infos("write.pos_deletes") \
        + infos("write.dvs")
    files_written = sum(d["files"] for d in writes)
    commits = counts["txn.commit"]
    logical = counts["txn.retry"] + sum(
        1 for s in spans if s.name == "txn.commit"
        and (s.parent is None or s.parent.name != "txn.retry"))
    strategies = [d["strategy"] for d in infos("mv.refresh")]
    refreshed = [x for x in strategies if x not in NO_OP_STRATEGIES]
    reads = counts["manifests.read"]

    def per_op(x):
        return x / n if n else 0.0

    def ratio(a, b):
        return a / b if b else 0.0

    m = {
        "engine.sql_self_ms": per_op(layer("engine")),
        "engine.statements": per_op(counts["engine.sql"]),
        "catalog.load_ms": per_op(self_ms["catalog.load"]),
        "catalog.loads_per_op": per_op(counts["catalog.load"]),
        "catalog.update_ms": per_op(self_ms["catalog.update"]),
        "scan.plan_ms": per_op(incl_ms["scan.plan"]),
        "scan.manifests_total": ratio(ssum["manifests"], len(scans)),
        "scan.manifest_prune_ratio": ratio(ssum["manifests_pruned"],
                                           ssum["manifests"]),
        "scan.files_planned": ratio(ssum["files"], len(scans)),
        "scan.file_prune_ratio": 1 - ratio(ssum["files"],
                                           ssum["files_total"])
        if ssum["files_total"] else 0.0,
        "scan.bytes_planned": ratio(ssum["bytes"], len(scans)),
        "scan.delete_files": ratio(ssum["deletes"], len(scans)),
        "manifests.read_ms": per_op(
            sum(self_ms[k] for k in ("manifests.read_list",
                                     "manifests.read_many",
                                     "manifests.read", "manifests.decode"))),
        "manifests.cache_hit_ratio": 1 - ratio(counts["manifests.decode"],
                                               reads) if reads else 0.0,
        "manifests.write_ms": per_op(self_ms["manifests.write"]
                                     + self_ms["manifests.write_list"]),
        "manifests.written": per_op(counts["manifests.write"]),
        "spark.exec_ms": per_op(layer("spark")),
        "spark.jobs_per_op": per_op(jobs),
        "write.datafiles_ms": per_op(layer("write")),
        "write.files_per_commit": ratio(files_written, commits),
        "write.bytes": per_op(sum(d["bytes"] for d in writes)),
        "stats.harvest_ms": per_op(layer("stats")),
        "stats.footers": per_op(sum(d["footers"]
                                    for d in infos("stats.harvest"))),
        "txn.commit_ms": per_op(layer("txn")),
        "txn.attempts_per_commit": ratio(commits, logical),
        "mv.refresh_ms": per_op(incl_ms["mv.refresh"]),
        "mv.incremental_share": ratio(
            sum(1 for x in refreshed if x not in FULL_STRATEGIES),
            len(refreshed)),
        "maint.compact_ms": per_op(incl_ms["maint.compact"]),
        "maint.rewrite_manifests_ms": per_op(
            incl_ms["maint.rewrite_manifests"]),
        "maint.files_rewritten": per_op(sum(
            d["files"] for d in infos("maint.compact")
            + infos("maint.rewrite_manifests"))),
        "driver.gap_ms": per_op(gap_ms),
        "trace.spans_per_op": per_op(len(spans)),
        "trace.overhead_ms": per_op(len(spans)) * wrapper_cost_s * 1e3,
        "trace.self_check_error": worst,
    }
    layers_seen = Counter(s.name.split(".")[0] for s in spans)
    problems = [f"layer {x!r} recorded no spans"
                for x in REQUIRED.get(workload, ()) if not layers_seen[x]]
    problems += [f"layer {x!r} recorded {layers_seen[x]} spans on a "
                 f"workload that should leave it idle"
                 for x in IDLE.get(workload, ()) if layers_seen[x]]
    if worst > SELF_CHECK_TOLERANCE:
        problems.append(f"self times + driver gap differ from op wall "
                        f"time by {worst:.1%} on some op")
    counts_digest = hashlib.sha256(
        json.dumps(digest).encode()).hexdigest()[:16]
    return {"metrics": m, "problems": problems,
            "counts_digest": counts_digest,
            "layer_spans": dict(layers_seen)}


def dump(path: str, ops, spans: list[Span]) -> None:
    """Write every span of the traced run as JSON lines."""
    ids = {id(s): i for i, s in enumerate(spans)}
    with open(path, "w") as f:
        for i, (t0, t1, label) in enumerate(ops):
            f.write(json.dumps({"op": i, "label": label, "start": t0,
                                "end": t1}) + "\n")
        for i, s in enumerate(spans):
            f.write(json.dumps({
                "span": i, "name": s.name, "start": s.t0, "end": s.t1,
                "parent": ids.get(id(s.parent)), "op": s.op,
                "info": s.info}, default=str) + "\n")
