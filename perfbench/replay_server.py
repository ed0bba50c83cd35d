"""Record-then-replay proxy in front of the package's mock native-TCP
server, run as its own process so the server's work is not measured
as the client's.

    python3 perfbench/replay_server.py <checkout root> <table.arrow>

It serves ``SELECT ... FROM t`` over the ClickHouse native protocol,
``t`` being the Arrow table in a DuckDB connection, through
``mock_tcp_server.build_tcp_handler``. The first time a query text is
seen, the mock server answers it and the proxy records the exact bytes
it sent back; every later time those bytes are replayed verbatim, so
the frames' CityHash128 checksums are intact and the client still
verifies them. An unrecorded query text is forwarded to the mock
server; once ``replay`` mode is on, each such query counts as a miss.

Control on stdin, one command a line; answers on stdout:
``replay`` (start counting misses), ``stats`` (one JSON line),
``quit``. The first stdout line is ``port <n>``.
"""

from __future__ import annotations

import io
import json
import sys
import threading


class _Tee(io.RawIOBase):
    """Reads through to ``raw`` and keeps a copy of every byte."""

    def __init__(self, raw):
        self.raw = raw
        self.seen = bytearray()

    def readable(self) -> bool:
        return True

    def read(self, n: int = -1) -> bytes:
        b = self.raw.read(n)
        self.seen += b
        return b


class Replay:
    def __init__(self):
        self.lock = threading.Lock()
        self.recorded: dict[tuple, bytes] = {}
        self.replaying = False
        self.hits = 0
        self.misses = 0
        self.bytes_out = 0

    def stats(self) -> dict:
        with self.lock:
            return {
                "recorded": len(self.recorded),
                "hits": self.hits,
                "misses": self.misses,
                "bytes_out": self.bytes_out,
            }


def build_handler(con, state: Replay):
    from duckdb_extension_clickhouse_native_spark.sources import tcp_protocol as proto
    from duckdb_extension_clickhouse_native_spark.sources.mock_tcp_server import (
        build_tcp_handler,
    )

    Base = build_tcp_handler(con, codec="lz4")

    class Handler(Base):
        def _handle_query(self, revision: int) -> None:
            tee = _Tee(self.rfile)
            _qid, query, compression = proto.read_query_packet(tee, revision)
            # the client's end-of-external-tables Data packet(s)
            while True:
                if proto.read_varuint(tee) != proto.CLIENT_DATA:
                    raise ValueError("expected client Data packet")
                if proto.read_data_packet(tee, revision, compression=compression) is None:
                    break
            key = (query, compression, revision)
            with state.lock:
                out = state.recorded.get(key)
                if out is not None:
                    state.hits += 1
                elif state.replaying:
                    state.misses += 1
            if out is None:
                real_in, real_out = self.rfile, self.wfile
                self.rfile, self.wfile = io.BytesIO(bytes(tee.seen)), io.BytesIO()
                try:
                    super()._handle_query(revision)
                    out = self.wfile.getvalue()
                finally:
                    self.rfile, self.wfile = real_in, real_out
                with state.lock:
                    state.recorded.setdefault(key, out)
            with state.lock:
                state.bytes_out += len(out)
            self.wfile.write(out)
            self.wfile.flush()

    return Handler


def main(argv: list[str]) -> int:
    root, table_path = argv[1], argv[2]
    sys.path.insert(0, root)
    import duckdb
    import pyarrow.ipc as ipc

    from duckdb_extension_clickhouse_native_spark.sources.mock_tcp_server import serve_tcp

    with ipc.open_file(table_path) as f:
        table = f.read_all()
    con = duckdb.connect()
    con.register("t", table)
    state = Replay()
    _host, port = serve_tcp(build_handler(con, state))
    print(f"port {port}", flush=True)
    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "replay":
            with state.lock:
                state.replaying = True
            print("ok", flush=True)
        elif cmd == "stats":
            print(json.dumps(state.stats()), flush=True)
        elif cmd == "quit":
            break
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
