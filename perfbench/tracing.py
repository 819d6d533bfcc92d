"""Traced mode: per-layer spans recorded from outside the engine package.

The engine itself carries no instrumentation, so every number here is
taken at the boundary of a public call:

* ``Tracer.span`` records name, start, end, parent span and op id, sets
  the Spark job group to the span's id for its duration, and counts the
  py4j gateway calls made while it is the innermost span;
* ``TracedCatalog`` is a delegating ``Catalog`` that times and counts
  commits (``update_tabular``/``commit_transaction``), loads and
  ``CommitFailedError`` conflicts;
* ``instrument`` wraps a few public functions (data and deletion-vector
  writes, scan planning, transaction commit, compaction) with spans for the length of
  a run and restores them afterwards;
* ``spark_metrics`` maps each span's job group to jobs via
  ``statusTracker()`` and reads job times and stage metrics (executor
  CPU, GC, shuffle bytes, input rows) from the UI REST API;
* ``list_files`` snapshots the warehouse so an op's new metadata and
  data files can be counted.

Spans stay in memory until ``write_spans`` writes them at the end.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import threading
import time
import urllib.request
from collections import defaultdict

from iceberg_rust_archive_spark.catalog.base import Catalog, CommitFailedError


class Tracer:
    """Span recorder for one run. Spans are recorded only while an op is
    open and marked traced; otherwise ``span`` is a no-op, so the same
    code path serves traced and untraced ops.

    The engine runs some writes on worker threads (two at once for an
    upsert-shaped commit, a deletion-vector write beside a data write for
    ``UPDATE``), so each thread keeps its own span stack. A span opened
    on a thread with no open span of its own is a child of the innermost
    span of the thread that opened the op; concurrent siblings therefore
    share a parent. Self times are derived after the run from the union
    of each span's child intervals (``finish``), so overlapping children
    are not subtracted twice."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op_stack: list[dict] | None = None  # the op thread's stack
        self._next_id = 1

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, group):
        # job groups are per thread; our own gateway calls are not counted
        self._local.internal = True
        try:
            self.sc.setLocalProperty("spark.jobGroup.id", group)
        finally:
            self._local.internal = False

    def _innermost(self) -> dict | None:
        """The span new work on this thread belongs to."""
        st = self._stack()
        if st:
            return st[-1]
        op = self._op_stack
        return op[-1] if op else None

    def count_py4j(self):
        if getattr(self._local, "internal", False):
            return
        with self._lock:
            sp = self._innermost()
            if sp is not None:
                sp["py4j_calls"] += 1

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` as a child of the innermost open span (see the
        class doc for spans opened on worker threads). Yields the span's
        attribute dict (``{}`` when not recording) so callers can attach
        counters."""
        with self._lock:
            parent = self._innermost()
        if parent is None:
            yield {}
            return
        sp = self._open(name, parent["op"], parent["id"], attrs)
        try:
            yield sp
        finally:
            self._close(sp)

    @contextlib.contextmanager
    def op(self, kind: str, op_id: int, traced: bool):
        """Root span of one benchmark operation."""
        if not traced:
            yield None
            return
        self._op_stack = self._stack()
        sp = self._open(f"op.{kind}", op_id, None, {})
        try:
            yield sp
        finally:
            self._close(sp)
            self._op_stack = None

    def _open(self, name, op_id, parent_id, attrs):
        with self._lock:
            sp_id = self._next_id
            self._next_id += 1
        sp = {"id": sp_id, "name": name, "op": op_id, "parent": parent_id,
              "py4j_calls": 0, "group": f"perfbench-{sp_id}", **attrs}
        self._stack().append(sp)
        self._set_group(sp["group"])
        sp["wall_start"] = time.time()  # to clip Spark job times
        sp["start"] = time.perf_counter()
        return sp

    def _close(self, sp):
        sp["end"] = time.perf_counter()
        sp["wall_end"] = time.time()
        st = self._stack()
        st.remove(sp)
        self._set_group(st[-1]["group"] if st else None)
        with self._lock:
            self.spans.append(sp)

    def finish(self) -> list[dict]:
        """Set ``child_s`` (union of the child spans' intervals) and
        ``self_s`` (duration minus ``child_s``) on every span."""
        kids = defaultdict(list)
        for sp in self.spans:
            kids[sp["parent"]].append((sp["start"], sp["end"]))
        for sp in self.spans:
            sp["child_s"] = _union_within(kids[sp["id"]], sp["start"],
                                          sp["end"])
            sp["self_s"] = sp["end"] - sp["start"] - sp["child_s"]
        return self.spans


class TracedCatalog(Catalog):
    """Delegating catalog proxy: every method forwards to ``inner``;
    commits and loads also record a span."""

    def __init__(self, inner: Catalog, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer

    def __getattr__(self, name):  # attributes such as ``root``
        return getattr(self._inner, name)

    def _timed(self, span_name, method, *args, **kwargs):
        with self._tracer.span(span_name) as sp:
            try:
                return getattr(self._inner, method)(*args, **kwargs)
            except CommitFailedError:
                sp["conflict"] = True
                raise

    def update_tabular(self, identifier, new_metadata,
                       expected_location=None):
        return self._timed("catalog.commit", "update_tabular", identifier,
                           new_metadata, expected_location)

    def commit_transaction(self, changes):
        return self._timed("catalog.commit", "commit_transaction", changes)

    def load_tabular(self, identifier):
        return self._timed("catalog.load", "load_tabular", identifier)

    def load_tabular_with_location(self, identifier):
        return self._timed("catalog.load", "load_tabular_with_location",
                           identifier)


def _forward(name):
    def method(self, *args, **kwargs):
        return getattr(self._inner, name)(*args, **kwargs)
    method.__name__ = name
    return method


# Forward every other Catalog method, including the base-class logic
# (create_tabular, rename_tabular, ...), so the inner catalog's own
# overrides run unchanged.
for _name, _attr in vars(Catalog).items():
    if (callable(_attr) or isinstance(_attr, staticmethod)) \
            and not _name.startswith("__") \
            and _name not in vars(TracedCatalog):
        setattr(TracedCatalog, _name, _forward(_name))
TracedCatalog.__abstractmethods__ = frozenset()


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap the engine's public write (data files and deletion vectors),
    scan-planning, commit and compaction entry points with spans; restore them on exit."""
    from iceberg_rust_archive_spark import maintenance, table, transaction
    from iceberg_rust_archive_spark.sources import write

    def file_writer(orig):
        def wrapper(*args, **kwargs):
            with tracer.span("sources.write") as sp:
                files = orig(*args, **kwargs)
                sp["files"] = len(files)
                sp["bytes"] = sum(f.file_size_in_bytes or 0 for f in files)
                sp["rows"] = sum(f.record_count or 0 for f in files)
                return files
        return wrapper

    def scan(orig):
        def wrapper(*args, **kwargs):
            with tracer.span("operators.scan.plan") as sp:
                if kwargs.get("report") is None:
                    kwargs["report"] = {}
                df = orig(*args, **kwargs)
                md = args[1] if len(args) > 1 else kwargs["md"]
                sp["location"] = md.location
                sp["report"] = {k: v for k, v in kwargs["report"].items()
                                if isinstance(v, (int, float))}
                return df
        return wrapper

    def spanned(name):
        def wrap(orig):
            def wrapper(*args, **kwargs):
                with tracer.span(name):
                    return orig(*args, **kwargs)
            return wrapper
        return wrap

    # write_delete_and_data and Table.update_where_pos call these on
    # worker threads; Table and maintenance import the DV writer at call
    # time, so wrapping it in ``write`` covers them
    patches = [
        (write, "write_datafiles", file_writer),
        (write, "write_deletion_vectors", file_writer),
        (table, "write_datafiles", file_writer),
        (table, "_scan", scan),
        (transaction.Transaction, "commit_with_retry",
         spanned("transaction.commit")),
        (maintenance, "compact_table", spanned("maintenance.compact")),
    ]
    saved = [(obj, name, vars(obj)[name]) for obj, name, _ in patches]
    try:
        for obj, name, wrap in patches:
            setattr(obj, name, wrap(vars(obj)[name]))
        yield
    finally:
        for obj, name, orig in saved:
            setattr(obj, name, orig)


@contextlib.contextmanager
def count_py4j(tracer: Tracer):
    """Count py4j commands sent to the JVM, attributed to the innermost
    open span. Memory commands (``m``) are left out: they release Python
    proxies of JVM objects when the garbage collector runs, at points
    unrelated to the span that happens to be open."""
    import py4j.clientserver
    import py4j.java_gateway
    classes = [py4j.clientserver.ClientServerConnection,
               py4j.java_gateway.GatewayConnection]
    saved = [(c, c.send_command) for c in classes]

    def wrap(orig):
        def send_command(self, command):
            if not command.startswith("m\n"):
                tracer.count_py4j()
            return orig(self, command)
        return send_command
    try:
        for c, orig in saved:
            c.send_command = wrap(orig)
        yield
    finally:
        for c, orig in saved:
            c.send_command = orig


def list_files(root: str) -> dict[str, int]:
    """path → size for every file under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with contextlib.suppress(FileNotFoundError):
                out[p] = os.path.getsize(p)
    return out


def new_files(before: dict, after: dict, part: str) -> tuple[int, int]:
    """(count, bytes) of files in ``after`` but not ``before`` whose path
    has a ``/<part>/`` component."""
    added = [s for p, s in after.items()
             if p not in before and f"/{part}/" in p]
    return len(added), sum(added)


# --- Spark job and stage metrics -------------------------------------------

def _rest(url: str):
    # the UI is local to the Spark driver; never route it through a proxy
    opener = urllib.request.build_opener(urllib.request.ProxyHandler({}))
    with opener.open(url, timeout=30) as resp:
        return json.loads(resp.read().decode("utf-8"))


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return dt.datetime.strptime(s.replace("GMT", "+0000"),
                                "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _union_within(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` inside ``[lo, hi]``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def spark_metrics(sc, spans: list[dict], wait_s: float = 15.0) -> None:
    """Attach ``jobs``, ``spark_s``, ``cpu_s``, ``gc_s``,
    ``shuffle_bytes`` and ``rows_read`` to each span from the jobs run
    under its job group. ``spark_s`` is the time inside the span during
    which at least one of its jobs ran."""
    tracker = sc.statusTracker()
    job_span = {}
    for sp in spans:
        for jid in tracker.getJobIdsForGroup(sp["group"]):
            job_span[jid] = sp
    url = sc.uiWebUrl
    if not url:
        raise RuntimeError("traced mode needs the Spark UI (spark.ui.enabled)")
    port = url.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    deadline = time.monotonic() + wait_s
    while True:
        jobs = {j["jobId"]: j for j in _rest(f"{base}/jobs")}
        stages = {s["stageId"]: s for s in _rest(f"{base}/stages")
                  if s.get("attemptId", 0) == 0}
        pending = [jid for jid in job_span
                   if jid not in jobs or jobs[jid]["status"] == "RUNNING"
                   or any(stages.get(st, {}).get("status") == "ACTIVE"
                          for st in jobs[jid]["stageIds"])]
        if not pending or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    for sp in spans:
        for k in ("jobs", "spark_s", "cpu_s", "gc_s", "shuffle_bytes",
                  "rows_read"):
            sp[k] = 0
    seen_stages = defaultdict(set)
    intervals = defaultdict(list)
    for jid, sp in job_span.items():
        job = jobs.get(jid)
        if job is None:
            continue
        sp["jobs"] += 1
        start, end = _ts(job.get("submissionTime")), \
            _ts(job.get("completionTime"))
        if start is not None and end is not None:
            intervals[sp["id"]].append((start, end))
        for st in job["stageIds"]:
            s = stages.get(st)
            if s is None or st in seen_stages[sp["id"]]:
                continue
            seen_stages[sp["id"]].add(st)
            sp["cpu_s"] += s.get("executorCpuTime", 0) / 1e9
            sp["gc_s"] += s.get("jvmGcTime", 0) / 1e3
            sp["shuffle_bytes"] += (s.get("shuffleReadBytes", 0)
                                    + s.get("shuffleWriteBytes", 0))
            sp["rows_read"] += s.get("inputRecords", 0)
    for sp in spans:
        sp["spark_s"] = _union_within(intervals[sp["id"]], sp["wall_start"],
                                      sp["wall_end"])


def write_spans(path: str, spans: list[dict]) -> None:
    with open(path, "w") as fh:
        for sp in sorted(spans, key=lambda s: s["start"]):
            fh.write(json.dumps(sp, default=str) + "\n")


# --- per-layer metrics -------------------------------------------------------

STMT_TYPES = ("select", "delete", "update", "merge", "call")
#: span name → layer (module) it times
LAYER_OF = {
    "catalog.commit": "catalog", "catalog.load": "catalog",
    "transaction.commit": "transaction",
    "sources.write": "sources.write",
    "operators.scan.plan": "operators.scan",
    "operators.scan.exec": "operators.scan",
    "plans.engine.sql": "plans.engine",
    "plans.mv.refresh": "plans.mv",
    "maintenance.compact": "maintenance",
}
LAYERS = tuple(dict.fromkeys(LAYER_OF.values()))


def _descendants(spans, root_id):
    kids = defaultdict(list)
    for sp in spans:
        kids[sp["parent"]].append(sp)
    out, todo = [], [root_id]
    while todo:
        for sp in kids[todo.pop()]:
            out.append(sp)
            todo.append(sp["id"])
    return out


def layer_metrics(ops: list[dict], spans: list[dict]):
    """Per-layer metrics of a traced run and a detail record.

    Times are self times (a span's duration minus its child spans) and,
    like counts, are per traced op. Exceptions: scan-report counters and
    ``prune_ratio`` are means per scan planned; ``plans.engine.sql_s.*``,
    ``plans.mv.refresh_s`` and ``maintenance.compact_s`` are the mean
    duration of one call, child spans included; the
    ``maintenance.files_*``/``bytes_rewritten`` figures are per
    compaction, and ``maintenance.cpu_s`` includes the rewrite's nested
    write jobs. The detail record has every layer's self time per op."""
    traced = [o for o in ops if o["traced"] and o["ok"]]
    n = max(1, len(traced))
    by = defaultdict(list)
    for sp in spans:
        by[sp["name"]].append(sp)

    def tot(name, key="self_s"):
        return sum(sp.get(key, 0) for sp in by[name])

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    m = {}

    def put(name, value, unit):
        m[name] = {"value": value, "unit": unit}

    put("catalog.commit_s", tot("catalog.commit") / n, "s")
    put("catalog.commit_calls", len(by["catalog.commit"]) / n, "count")
    put("catalog.commit_conflicts",
        sum(1 for sp in by["catalog.commit"] if sp.get("conflict")) / n,
        "count")
    put("catalog.load_s", tot("catalog.load") / n, "s")
    put("catalog.load_calls", len(by["catalog.load"]) / n, "count")

    meta = [new_files(o["files_before"], o["files_after"], "metadata")
            for o in traced]
    put("transaction.commit_s", tot("transaction.commit") / n, "s")
    put("transaction.metadata_files_written",
        sum(c for c, _ in meta) / n, "count")
    put("transaction.metadata_bytes_written",
        sum(b for _, b in meta) / n, "B")

    w = "sources.write"
    put("sources.write.s", tot(w) / n, "s")
    put("sources.write.spark_s", tot(w, "spark_s") / n, "s")
    put("sources.write.driver_s",
        sum(max(0.0, sp["self_s"] - sp["spark_s"]) for sp in by[w]) / n, "s")
    for k, unit in (("files", "count"), ("bytes", "B"), ("rows", "count"),
                    ("cpu_s", "s")):
        put(f"sources.write.{k}", tot(w, k) / n, unit)

    plans = by["operators.scan.plan"]
    reports = [sp.get("report", {}) for sp in plans]
    put("operators.scan.plan_s", tot("operators.scan.plan") / n, "s")
    for k in ("manifests_total", "manifests_pruned", "data_files_planned"):
        put(f"operators.scan.{k}", mean(r.get(k, 0) for r in reports),
            "count")
    put("operators.scan.data_bytes_planned",
        mean(r.get("data_bytes_planned", 0) for r in reports), "B")
    put("operators.scan.delete_files",
        mean(r.get("equality_delete_files", 0)
             + r.get("position_delete_files", 0) for r in reports), "count")
    ratios = []
    for sp in plans:  # planned bytes / bytes under the table's data/
        data = sp["location"].rstrip("/") + "/data/"
        stored = sum(size for p, size in ops[sp["op"]]["files_before"].items()
                     if p.startswith(data))
        if stored:
            ratios.append(sp["report"].get("data_bytes_planned", 0) / stored)
    put("operators.scan.prune_ratio", mean(ratios), "ratio")
    x = "operators.scan.exec"
    put("operators.scan.exec_s", tot(x) / n, "s")
    for k, unit in (("cpu_s", "s"), ("shuffle_bytes", "B"), ("gc_s", "s"),
                    ("jobs", "count"), ("rows_read", "count")):
        put(f"operators.scan.{k}", tot(x, k) / n, unit)

    e = by["plans.engine.sql"]
    for st in STMT_TYPES:
        put(f"plans.engine.sql_s.{st}",
            mean(sp["end"] - sp["start"] for sp in e if sp["stmt"] == st),
            "s")
    put("plans.engine.spark_s", sum(sp["spark_s"] for sp in e) / n, "s")
    put("plans.engine.driver_s",
        sum(max(0.0, sp["self_s"] - sp["spark_s"]) for sp in e) / n, "s")
    put("plans.engine.jobs", sum(sp["jobs"] for sp in e) / n, "count")

    r = by["plans.mv.refresh"]
    put("plans.mv.refresh_s", mean(sp["end"] - sp["start"] for sp in r), "s")
    put("plans.mv.incremental_ratio",
        mean(sp.get("strategy") == "IncrementalAggregate" for sp in r),
        "ratio")

    c = by["maintenance.compact"]
    put("maintenance.compact_s", mean(sp["end"] - sp["start"] for sp in c),
        "s")
    compacts = [o for o in traced if "live_files_before" in o]
    put("maintenance.files_before",
        mean(o["live_files_before"] for o in compacts), "count")
    put("maintenance.files_after",
        mean(o["live_files_after"] for o in compacts), "count")
    nested = [[sp] + _descendants(spans, sp["id"]) for sp in c]
    put("maintenance.bytes_rewritten",
        mean(sum(d.get("bytes", 0) for d in tree if d["name"] == w)
             for tree in nested), "B")
    put("maintenance.cpu_s",
        sum(d.get("cpu_s", 0) for tree in nested for d in tree) / n, "s")

    for layer in LAYERS:
        put(f"{layer}.py4j_calls",
            sum(sp["py4j_calls"] for sp in spans
                if LAYER_OF.get(sp["name"]) == layer) / n, "count")

    roots = [sp for sp in spans if sp["parent"] is None]
    dur = sum(sp["end"] - sp["start"] for sp in roots)
    put("trace.coverage", sum(sp["child_s"] for sp in roots) / dur
        if dur else 0.0, "ratio")
    overhead_s, overhead_ratio, by_kind = tracing_overhead(ops)
    put("trace.overhead_s", overhead_s, "s")
    put("trace.overhead_ratio", overhead_ratio, "ratio")
    put("trace.spans", len(spans) / n, "count")

    coverage = {}
    for kind in sorted({sp["name"][3:] for sp in roots}):
        rs = [sp for sp in roots if sp["name"] == f"op.{kind}"]
        d = sum(sp["end"] - sp["start"] for sp in rs)
        coverage[kind] = sum(sp["child_s"] for sp in rs) / d if d else 0.0
    self_s = {layer: sum(sp["self_s"] for sp in spans
                         if LAYER_OF.get(sp["name"]) == layer) / n
              for layer in LAYERS}
    self_s["benchmark"] = sum(sp["self_s"] for sp in roots) / n
    extra = {"traced_ops": len(traced), "coverage_by_kind": coverage,
             "self_s_per_op": self_s, "overhead_by_kind": by_kind}
    return m, extra


def tracing_overhead(ops: list[dict]):
    """Traced minus untraced latency, from the alternating ops of each
    kind: (seconds per op, ratio, per-kind medians)."""
    import statistics
    by_kind = {}
    num = den = count = 0.0
    for kind in sorted({o["kind"] for o in ops}):
        tr = [o["latency_s"] for o in ops
              if o["kind"] == kind and o["ok"] and o["traced"]]
        un = [o["latency_s"] for o in ops
              if o["kind"] == kind and o["ok"] and not o["traced"]]
        if not tr or not un:
            continue
        mt, mu = statistics.median(tr), statistics.median(un)
        k = len(tr) + len(un)
        by_kind[kind] = {"traced_s": mt, "untraced_s": mu, "ops": k}
        num += k * mt
        den += k * mu
        count += k
    if not count:
        return 0.0, 0.0, by_kind
    return (num - den) / count, num / den - 1.0, by_kind
