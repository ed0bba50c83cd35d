"""Spans around calls into the package's layers, Spark task metrics from
an event log, and SQL metrics from the final AQE plans.

Spans are recorded only in the traced run (``--trace 1``). They are
kept in memory and written out once, when the run ends. Nothing inside
the package changes: ``install`` wraps the package's public functions
from the outside and returns the function that puts the originals back.
"""

from __future__ import annotations

import functools
import json
import struct
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Spans (name, start, end, parent, run id) plus counters, both
    keyed by ``layer.operation`` names."""

    def __init__(self, run_id: str | None = None):
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._active: dict[str, int] = defaultdict(int)

    def active(self, name: str) -> bool:
        return self._active[name] > 0

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(idx)
        self._active[name] += 1
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._active[name] -= 1
            self._stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        self.counts[name] += n

    def times(self) -> dict[str, dict[str, float]]:
        """name -> {"total": inclusive seconds, "self": seconds not
        covered by child spans, "n": span count}."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict[str, float]] = defaultdict(lambda: {"total": 0.0, "self": 0.0, "n": 0})
        for i, s in enumerate(self.spans):
            d = s["end"] - s["start"]
            o = out[s["name"]]
            o["total"] += d
            o["self"] += d - child[i]
            o["n"] += 1
        return dict(out)

    def layer_self(self) -> dict[str, float]:
        """Self time summed by layer (the part of a name before '.')."""
        out: dict[str, float] = defaultdict(float)
        for name, t in self.times().items():
            out[name.split(".", 1)[0]] += t["self"]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------------------
# wrappers around the package's layer functions
# ---------------------------------------------------------------------------


def _wrap(tracer: Tracer, name: str, fn, after=None, outermost=False):
    @functools.wraps(fn)
    def inner(*a, **k):
        if outermost and tracer.active(name):
            return fn(*a, **k)
        with tracer.span(name):
            out = fn(*a, **k)
        if after is not None:
            after(out, a)
        return out
    return inner


def _wrap_gen(tracer: Tracer, name: str, fn, counter: str):
    """Time every ``next()`` of the generator ``fn`` returns."""
    @functools.wraps(fn)
    def inner(*a, **k):
        it = fn(*a, **k)
        while True:
            with tracer.span(name):
                try:
                    v = next(it)
                except StopIteration:
                    return
            tracer.count(counter)
            yield v
    return inner


def install(tracer: Tracer):
    """Wrap codec, compress and tcp_client entry points; returns a
    function that restores the originals."""
    from duckdb_extension_clickhouse_native_spark.native import codec, compress, writer
    from duckdb_extension_clickhouse_native_spark.sources import tcp_client, tcp_protocol

    undo: list[tuple] = []

    def patch(owner, attr, new):
        undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def decoded(out, _a):
        if out is None:
            return
        if hasattr(out, "columns"):  # a Block
            tracer.count("codec.bytes", sum(c.array.nbytes for c in out.columns))
        else:  # a pyarrow Array from decode_column
            tracer.count("codec.bytes", out.nbytes)

    orig_header = codec.read_block_header

    @functools.wraps(orig_header)
    def read_block_header(buf):
        hdr = orig_header(buf)
        if hdr is not None and hdr[1] > 0:
            tracer.count("codec.blocks")
            if tracer.active("native_datasource.read"):
                tracer.count("native_datasource.rows_read", hdr[1])
        return hdr

    def hashed(_out, a):
        # the hashed bytes are a frame's 9-byte header + payload
        method, comp, raw = struct.unpack("<BII", bytes(a[0][:9]))
        tracer.count("compress.comp_bytes", comp)
        tracer.count("compress.raw_bytes", raw)

    def frame(out, _a):
        if out is not False:
            tracer.count("compress.frames")

    read_block = _wrap(tracer, "codec.decode", codec.read_block, decoded, outermost=True)
    decode_column = _wrap(tracer, "codec.decode", codec.decode_column, decoded, outermost=True)
    write_block = _wrap(tracer, "codec.encode", codec.write_block, outermost=True)
    patch(codec, "read_block_header", read_block_header)
    patch(codec, "read_block", read_block)
    patch(codec, "decode_column", decode_column)
    patch(codec, "write_block", write_block)
    for mod in (tcp_protocol, writer):
        for attr, new in (("read_block", read_block), ("write_block", write_block)):
            if hasattr(mod, attr):
                patch(mod, attr, new)
    patch(compress, "cityhash128", _wrap(tracer, "compress.checksum", compress.cityhash128, hashed))
    R, W = compress.CompressedReader, compress.CompressedWriter
    patch(R, "_load_frame", _wrap(tracer, "compress.decompress", R._load_frame, frame))
    patch(W, "_emit", _wrap(tracer, "compress.compress", W._emit, frame))

    C = tcp_client.ClickHouseTCPClient
    orig_connect = C.connect

    @functools.wraps(orig_connect)
    def connect(self):
        if self._sock is not None:
            return orig_connect(self)
        with tracer.span("tcp_client.connect"):
            return orig_connect(self)

    patch(C, "connect", connect)
    patch(C, "execute_blocks", _wrap_gen(tracer, "tcp_client.fetch", C.execute_blocks, "tcp_client.blocks"))
    patch(C, "probe_schema", _wrap(tracer, "tcp_client.probe", C.probe_schema))

    def restore() -> None:
        for owner, attr, old in reversed(undo):
            setattr(owner, attr, old)

    return restore


# ---------------------------------------------------------------------------
# Spark event log: task metrics per job, SQL metrics per final plan
# ---------------------------------------------------------------------------

_SCAN_NODES = ("BatchScan", "PythonDataSourceScan")


def _walk(plan: dict):
    yield plan
    for c in plan.get("children", []):
        yield from _walk(c)


def parse_event_log(path: str, mark: str) -> dict:
    """Sums over every task of the jobs whose local property ``mark`` is
    set, and SQL metrics read from the final (last adaptive) plan of
    each SQL execution those jobs belong to."""
    with open(path) as f:
        events = [json.loads(line) for line in f]
    stages: set[int] = set()
    executions: set[int] = set()
    for e in events:
        if e.get("Event") == "SparkListenerJobStart" and (e.get("Properties") or {}).get(mark):
            stages.update(e.get("Stage IDs", []))
            ex = (e.get("Properties") or {}).get("spark.sql.execution.id")
            if ex is not None:
                executions.add(int(ex))
    tasks = 0
    t = defaultdict(float)
    acc = defaultdict(float)  # accumulator id -> summed task updates
    plans: dict[int, dict] = {}
    for e in events:
        ev = e.get("Event", "")
        if ev == "SparkListenerTaskEnd":
            if e.get("Stage ID") not in stages:
                continue
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            tasks += 1
            dur = info["Finish Time"] - info["Launch Time"]
            run = m.get("Executor Run Time", 0)
            deser = m.get("Executor Deserialize Time", 0)
            ser = m.get("Result Serialization Time", 0)
            get = info.get("Getting Result Time", 0)
            t["run_ms"] += run
            t["deser_ms"] += deser
            t["gc_ms"] += m.get("JVM GC Time", 0)
            t["sched_ms"] += max(0, dur - run - deser - ser - get)
            sw = m.get("Shuffle Write Metrics") or {}
            t["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            t["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
            for a in info.get("Accumulables", []):
                if str(a.get("Update", "")).lstrip("-").isdigit():
                    acc[a["ID"]] += float(a["Update"])
        elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            if e["executionId"] in executions:
                plans[e["executionId"]] = e["sparkPlanInfo"]
        elif ev.endswith("SparkListenerDriverAccumUpdates"):
            for aid, v in e.get("accumUpdates", []):
                acc[aid] += float(v)
    sql = defaultdict(float)
    for plan in plans.values():
        for node in _walk(plan):
            for m in node.get("metrics", []):
                if node["nodeName"].startswith(_SCAN_NODES) and m["name"] == "number of output rows":
                    sql["scan_output_rows"] += acc.get(m["accumulatorId"], 0.0)
    return {"tasks": tasks, **t, **sql}
