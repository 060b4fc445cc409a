"""The `connect` factory the benchmark hands to `sinks.UpsertSink`.

It is pickled to the Python workers, which import this module by name, so
it imports nothing but the standard library. With `log_dir` set, each
connection times its `executemany` and `commit` calls and appends one
line per connection ("<ms>\t<rows>") to a per-process file there.
"""

from __future__ import annotations

import os
import sqlite3
import time

BUSY_TIMEOUT_S = 30.0  # wait this long for the write lock, then fail


class Connect:
    def __init__(self, db: str, log_dir: str | None = None):
        self.db, self.log_dir = db, log_dir

    def __call__(self):
        con = sqlite3.connect(self.db, timeout=BUSY_TIMEOUT_S)
        # the database runs in WAL mode; a commit then needs no fsync
        con.execute("PRAGMA synchronous=NORMAL")
        return con if self.log_dir is None else _TimedConnection(con, self.log_dir)


class _TimedConnection:
    def __init__(self, con, log_dir: str):
        self.con, self.log_dir = con, log_dir
        self.ms, self.rows = 0.0, 0

    def cursor(self):
        return _TimedCursor(self, self.con.cursor())

    def commit(self) -> None:
        t0 = time.perf_counter()
        self.con.commit()
        self.ms += (time.perf_counter() - t0) * 1e3

    def close(self) -> None:
        self.con.close()
        path = os.path.join(self.log_dir, f"{os.getpid()}.tsv")
        with open(path, "a") as fh:
            fh.write(f"{self.ms}\t{self.rows}\n")


class _TimedCursor:
    def __init__(self, owner: _TimedConnection, cur):
        self.owner, self.cur = owner, cur

    def executemany(self, sql: str, rows) -> None:
        t0 = time.perf_counter()
        self.cur.executemany(sql, rows)
        self.owner.ms += (time.perf_counter() - t0) * 1e3
        self.owner.rows += len(rows)


def read_logs(log_dir: str) -> list[tuple[float, int]]:
    out = []
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                ms, rows = line.split("\t")
                out.append((float(ms), int(rows)))
    return out
