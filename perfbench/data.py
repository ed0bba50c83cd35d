"""Seeded inputs for the workloads and their DuckDB answers.

Everything here is a pure function of ``(workload, seed)``: the same
seed gives byte-identical Arrow tables. Plain generated tables are
cached as Arrow IPC files under ``perfbench/.work/cache`` keyed by
(workload, seed, size); anything the package's own writer produces is
rebuilt by the workloads on every run, so it is never shared between
two commits.

The expected answer of every job comes from DuckDB over the same Arrow
table, never from the program under test.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.ipc as ipc

# the workloads' sizes (rows)
BULK_ROWS = 1_000_000
BULK_PARTS = 7  # >= local[n]; an odd count keeps the default packing away from a tie (see README)
INGEST_ROWS = 100_000

BLOCK_ROWS = 65_409  # ClickHouse's default max_block_size
LC_CATEGORIES = 64
CACHE_KEEP = 8  # newest cached tables kept (a 1M-row bulk table is ~65 MB)

# ClickHouse column types of the bulk table, as clickhouse-local writes them
BULK_CH_TYPES = [
    "Int64",
    "UInt64",
    "Float64",
    "DateTime",
    "String",
    "LowCardinality(String)",
    "Nullable(Int64)",
]


def _strings(rng: np.random.Generator, n: int, max_len: int) -> pa.Array:
    """n lowercase ASCII strings of seeded length 0..max_len, built from
    one offsets buffer and one data buffer (no per-row Python)."""
    lengths = rng.integers(0, max_len + 1, n, dtype=np.int32)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    data = rng.integers(97, 123, int(offsets[-1]), dtype=np.uint8)
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data.tobytes())
    )


def _categories(rng: np.random.Generator, n: int, k: int) -> pa.Array:
    """Skewed low-cardinality strings: a few categories dominate."""
    names = pa.array([f"cat_{i:03d}" for i in range(k)])
    weights = 1.0 / np.arange(1, k + 1)
    idx = rng.choice(k, size=n, p=weights / weights.sum()).astype(np.int32)
    return pa.DictionaryArray.from_arrays(pa.array(idx), names).cast(pa.string())


def bulk_table(seed: int, rows: int = BULK_ROWS) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    nulls = rng.random(rows) < 0.2
    return pa.table(
        {
            "id": rng.integers(-(2**31), 2**31, rows, dtype=np.int64),
            "u": rng.integers(0, 2**32, rows, dtype=np.uint64),
            "f": rng.standard_normal(rows) * 1000.0,
            "ts": pa.array(
                1_600_000_000 + rng.integers(0, 30_000_000, rows), pa.timestamp("s")
            ),
            "s": _strings(rng, rows, 24),
            "lc": _categories(rng, rows, LC_CATEGORIES),
            "n": pa.array(rng.integers(0, 1_000_000, rows), mask=nulls),
        }
    )


def ingest_table(seed: int, rows: int = INGEST_ROWS) -> pa.Table:
    """``k`` is 0..rows-1 so range splits over it partition the rows."""
    rng = np.random.default_rng([seed, 3])
    return pa.table(
        {
            "k": np.arange(rows, dtype=np.int64),
            "g": rng.integers(0, 1000, rows, dtype=np.int32),
            "x": rng.standard_normal(rows) * 100.0,
            "s": _strings(rng, rows, 32),
            "ts": pa.array(
                1_600_000_000 + rng.integers(0, 30_000_000, rows), pa.timestamp("s")
            ),
        }
    )


GENERATORS = {"bulk_scan": bulk_table, "ingest": ingest_table}
ROWS = {"bulk_scan": BULK_ROWS, "ingest": INGEST_ROWS}


def cache_path(cache_dir: str, workload: str, seed: int) -> str:
    return os.path.join(cache_dir, f"{workload}-s{seed}-r{ROWS[workload]}.arrow")


def cached_table(cache_dir: str, workload: str, seed: int) -> pa.Table:
    """The generated table, from the (workload, seed, size) cache when
    present. The cache file is written atomically; only the newest
    ``CACHE_KEEP`` tables stay."""
    path = cache_path(cache_dir, workload, seed)
    if os.path.exists(path):
        with ipc.open_file(path) as f:
            return f.read_all()
    table = GENERATORS[workload](seed)
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with ipc.new_file(tmp, table.schema) as w:
        w.write_table(table)
    os.replace(tmp, path)
    cached = [os.path.join(cache_dir, f) for f in os.listdir(cache_dir) if f.endswith(".arrow")]
    for old in sorted(cached, key=os.path.getmtime)[:-CACHE_KEEP]:
        os.remove(old)
    return table


# ---------------------------------------------------------------------------
# DuckDB answers. Each returns rows as sorted tuples of plain Python
# values, the same shape workloads.py builds from Spark rows.
# ---------------------------------------------------------------------------

BULK_FILTER_F = 2500.0  # f > 2500 keeps ~0.6% of rows (f ~ N(0, 1000))


def duck(table: pa.Table):
    import duckdb

    con = duckdb.connect()
    con.register("t", table)
    return con


def _rows(con, sql: str) -> list[tuple]:
    return sorted(con.execute(sql).fetchall(), key=repr)


def bulk_answers(table: pa.Table) -> dict:
    con = duck(table)
    return {
        "count": _rows(con, "SELECT count(*) FROM t"),
        "noop": _rows(con, "SELECT count(*) FROM t"),
        "agg": _rows(
            con,
            "SELECT lc, count(*), sum(id), sum(u)::BIGINT, sum(f), min(ts), max(ts), "
            "sum(length(s)), count(n), sum(n) FROM t GROUP BY lc",
        ),
        "filter": _rows(con, f"SELECT id, s FROM t WHERE f > {BULK_FILTER_F}"),
    }


def ingest_answer(table: pa.Table) -> list[tuple]:
    con = duck(table)
    return _rows(con, "SELECT count(*), sum(k), sum(g), sum(x), sum(length(s)) FROM t")


def same_rows(got: list[tuple], want: list[tuple], rel: float = 1e-9) -> bool:
    """Exact match except floats, which agree to ``rel`` (Spark and
    DuckDB sum doubles in different orders)."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not math.isclose(a, b, rel_tol=rel, abs_tol=1e-6):
                    return False
            elif a != b:
                return False
    return True
