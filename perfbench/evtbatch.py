"""Inputs and oracle check of the evt_batch workload.

gen() writes a seeded events table at sf0.1 with the schema and value
domains of the driver test data (the layout scripts/gen_sf.py also
writes). Oracle compares each query's Spark result with its DuckDB
twin from graft.queries.Events.oracles over the same table: as exact
multisets in DuckDB, or else the way scripts/check.py compares (columns
sorted by name, rows sorted, values compared as strings, float columns
within a relative 1e-12).
"""
import glob
import json
import os
import threading

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENTS = 100_000   # sf0.1
USERS = 1_500
TYPES = np.array(["click", "view", "purchase", "signup", "error"])


def gen(seed, data_dir):
    os.makedirs(data_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    base_ns = np.datetime64("2024-01-01T00:00:00", "ns").astype(np.int64)
    ts = base_ns + np.cumsum(rng.exponential(30 * 86_400e9 / EVENTS, EVENTS)).astype(np.int64)
    props = np.array([f'{{"k": {k}}}' for k in range(100)])
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(EVENTS, dtype=np.int64)),
        "ts": pa.array(ts // 1000, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, USERS, EVENTS).astype(np.int64)),
        "event_type": pa.array(TYPES[rng.integers(0, len(TYPES), EVENTS)]),
        "value": pa.array(np.round(rng.exponential(20.0, EVENTS), 2)),
        "props": pa.array(props[rng.integers(0, 100, EVENTS)]),
    }), os.path.join(data_dir, "events.parquet"))


def _canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _same(got, want):
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    for c in got.columns:
        g, w = got[c], want[c]
        if g.dtype.kind == "f" and w.dtype.kind == "f":
            ok = np.isclose(g.to_numpy(), w.to_numpy(), rtol=1e-12, atol=0.0, equal_nan=True)
            if not ok.all():
                return False
        elif not g.astype(str).equals(w.astype(str)):
            return False
    return True


def _same_in_sql(con):
    """Exact multiset equality of tables got and want, in DuckDB: same
    column names and types, and no row of one missing from the other."""
    types = [dict(con.execute(f"SELECT column_name, column_type FROM (DESCRIBE {t})").fetchall())
             for t in ("got", "want")]
    if types[0] != types[1]:
        return False
    cols = ", ".join(f'"{c}"' for c in sorted(types[0]))
    return con.execute(
        f"SELECT (SELECT count(*) FROM got) = (SELECT count(*) FROM want) AND NOT EXISTS "
        f"(SELECT {cols} FROM got EXCEPT ALL SELECT {cols} FROM want)").fetchone()[0]


class Oracle:
    """Computes the DuckDB twins while the benchmark's JVM starts and
    makes its untimed pass: it waits for the JVM to write
    `oracle_sql.json`, computes each twin, then writes `oracle_ready`,
    which the JVM waits for before it sets up and times anything."""

    def __init__(self, out_dir, data_dir):
        self.out_dir = out_dir
        self.con = duckdb.connect()
        self.con.execute(f"CREATE VIEW events AS SELECT * FROM '{data_dir}/events.parquet'")
        self.oracles = {}
        self.failed = set()
        self.thread = threading.Thread(target=self._compute, daemon=True)
        self.stop = threading.Event()
        self.thread.start()

    def _compute(self):
        path = os.path.join(self.out_dir, "oracle_sql.json")
        while not os.path.exists(path):
            if self.stop.wait(0.1):
                return
        with open(path) as fh:
            self.oracles = json.load(fh)
        for name, sql in self.oracles.items():
            try:
                self.con.execute(f'CREATE TABLE "want_{name}" AS {sql}')
            except duckdb.Error:
                self.failed.add(name)
        open(os.path.join(self.out_dir, "oracle_ready"), "w").close()

    def close(self):
        self.stop.set()
        self.thread.join()
        self.con.close()

    def wrong(self):
        """Names of the queries whose result differs from its twin. A
        result that is not exactly equal in DuckDB is compared once more
        as scripts/check.py compares, which admits float rounding."""
        self.thread.join()
        con = self.con
        wrong = []
        for name in sorted(self.oracles):
            ok = False
            if name not in self.failed and glob.glob(os.path.join(self.out_dir, name, "*.parquet")):
                try:
                    con.execute(f"CREATE OR REPLACE TABLE got AS "
                                f"SELECT * FROM '{self.out_dir}/{name}/*.parquet'")
                    con.execute(f'CREATE OR REPLACE VIEW want AS SELECT * FROM "want_{name}"')
                    ok = _same_in_sql(con) or _same(
                        _canon(con.execute("SELECT * FROM got").df()),
                        _canon(con.execute("SELECT * FROM want").df()))
                except duckdb.Error:
                    ok = False
            if not ok:
                wrong.append(name)
        return wrong if self.oracles else ["(no oracle SQL written)"]
