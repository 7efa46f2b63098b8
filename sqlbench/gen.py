"""Seeded input tables, written as parquet for the engine to import.

The same seed gives the same bytes. Only `point_select` imports tables;
`ingest` builds its tables with INSERT statements generated on the JVM side.
"""

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# t1..t5: t(i).f(i) references t(i+1).k(i+1); t5.f5 points into t5's key range
POINT_SELECT_ROWS = [20000, 10000, 10000, 10000, 10000]


def point_select(seed, out):
    rng = np.random.default_rng(seed)
    tables = {}
    user_bytes = 0
    for i, n in enumerate(POINT_SELECT_ROWS, start=1):
        target = POINT_SELECT_ROWS[min(i, len(POINT_SELECT_ROWS) - 1)]
        names = [f"ü-{x}" for x in rng.integers(0, 5000, n)]
        table = pa.table({
            f"k{i}": pa.array(np.arange(n, dtype=np.int64)),
            f"f{i}": pa.array(rng.integers(0, target, n, dtype=np.int64)),
            f"a{i}": pa.array(rng.integers(0, 1000, n, dtype=np.int32)),
            f"b{i}": pa.array(rng.integers(0, 100, n, dtype=np.int32)),
            f"s{i}": pa.array(names, type=pa.string()),
        })
        d = Path(out) / f"t{i}"
        d.mkdir(parents=True, exist_ok=True)
        pq.write_table(table, d / "part-0.parquet")
        tables[f"t{i}"] = n
        user_bytes += n * (8 + 8 + 4 + 4) + sum(len(s.encode("utf-8")) for s in names)
    return tables, user_bytes


def generate(workload, seed, out):
    """Writes the workload's input tables under `out`; returns
    ({table: rows}, bytes of the values written)."""
    if workload == "point_select":
        return point_select(seed, out)
    return {}, 0

