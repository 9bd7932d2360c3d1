"""Packed pair-key guard of ``_copurchase_edges``: pairs are counted on
one bigint ``pa<<32 | pb``, which unpacks exactly only for partkeys in
[0, 2^31). A key outside that range must fail the query loudly instead
of silently colliding."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tda596_lab02mapreduce_spark.queries.association import _copurchase_edges


def _fixture(tmp_path, partkeys: list[int]) -> str:
    """One customer, one order holding every part in ``partkeys``."""
    pq.write_table(
        pa.table({"o_orderkey": [1], "o_custkey": [1]}),
        tmp_path / "orders.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "l_orderkey": [1] * len(partkeys),
                "l_partkey": pa.array(partkeys, pa.int64()),
            }
        ),
        tmp_path / "lineitem.parquet",
    )
    return str(tmp_path)


@pytest.mark.parametrize(
    "partkeys", [[-3, -1, 2], [1, 2**31]], ids=["negative", "past_2^31"]
)
def test_pair_key_guard_rejects_out_of_range_partkeys(spark, tmp_path, partkeys):
    e = _copurchase_edges(spark, _fixture(tmp_path, partkeys))
    try:
        with pytest.raises(Exception, match="_copurchase_edges"):
            e.collect()
    finally:
        e.unpersist()


def test_pair_key_guard_admits_in_range_partkeys(spark, tmp_path):
    e = _copurchase_edges(spark, _fixture(tmp_path, [0, 1, 2**31 - 1]))
    try:
        assert e.collect() == []  # one customer: every pair is below support 5
    finally:
        e.unpersist()
