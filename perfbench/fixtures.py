"""The benchmark's input tables.

``data/`` holds unmodified copies of the ten sf0.01 correctness fixtures
(the schemas in FIXTURES.md). ``write_fixtures`` writes them into a run's
work dir with the rows of every table in an order drawn from the seed:
the same multiset of rows, so query results and loop iteration counts do
not depend on the seed and the DuckDB oracle applies, while partition
contents and the order rows arrive in do.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def write_fixtures(out_dir: str, order_seed: int) -> None:
    """Write every table of ``DATA_DIR`` under ``out_dir`` with its rows
    permuted by ``order_seed``; column types are kept as stored."""
    os.makedirs(out_dir, exist_ok=True)
    order = np.random.default_rng(order_seed)
    for name in sorted(os.listdir(DATA_DIR)):
        table = pq.read_table(os.path.join(DATA_DIR, name))
        table = table.take(order.permutation(table.num_rows))
        pq.write_table(table, os.path.join(out_dir, name))
