"""The dirty-table batteries' mutators (tools/adversarial_tables.py):
each writes byte-identical tables for one seed, different ones for
another, and keeps its key column intact. Spark-free."""

from __future__ import annotations

import hashlib

import pyarrow.parquet as pq
import pytest

from tools.adversarial_tables import (
    BASE_SF,
    BATTERIES,
    GENERATORS,
    dirty_tables,
    write_dirty,
)

KEYS = {
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "events": ["event_id"],
    "orders": ["o_orderkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
}


@pytest.mark.parametrize("battery", BATTERIES)
def test_mutator_is_seeded_and_keeps_keys(battery, tmp_path):
    def write(run: str, seed: int) -> dict[str, str]:
        out = tmp_path / run
        out.mkdir()
        write_dirty(battery, str(out), seed)
        return {
            t: hashlib.sha256((out / f"{t}.parquet").read_bytes()).hexdigest()
            for t in dirty_tables(battery)
        }

    first = write("a", 7)
    assert write("b", 7) == first
    assert write("c", 13) != first

    for table in dirty_tables(battery):
        dirty = pq.read_table(tmp_path / "a" / f"{table}.parquet")
        keys = dirty.select(KEYS[table]).to_pylist()
        if battery in GENERATORS:
            assert None not in (r[k] for r in keys for k in r)
            assert len({tuple(r.values()) for r in keys}) == len(keys)
        else:
            base = pq.read_table(f"{BASE_SF}/{table}.parquet")
            assert keys == base.select(KEYS[table]).to_pylist()
