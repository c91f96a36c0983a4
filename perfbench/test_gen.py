"""The seeded generator is deterministic: the same seed and sizes give
byte-identical files, another seed gives different ones.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

CASES = {
    "events": (gen.write_events, dict(n_readings=2_000, dup_share=0.05, hot_share=0.1, n_devices=50)),
    "documents": (gen.write_documents, dict(n_docs=300, near_share=0.05)),
    "embeddings": (gen.write_embeddings, dict(n_vecs=300, n_labels=10)),
}


def _bytes(tmp_path, sub: str, table: str, seed: int) -> bytes:
    write, sizes = CASES[table]
    with open(write(str(tmp_path / sub), seed, **sizes), "rb") as f:
        return f.read()


@pytest.mark.parametrize("table", sorted(CASES))
def test_same_seed_same_bytes(tmp_path, table):
    assert _bytes(tmp_path, "a", table, 7) == _bytes(tmp_path, "b", table, 7)


@pytest.mark.parametrize("table", sorted(CASES))
def test_other_seed_other_bytes(tmp_path, table):
    assert _bytes(tmp_path, "a", table, 7) != _bytes(tmp_path, "b", table, 8)


def test_event_loads_deterministic_and_disjoint(tmp_path):
    import pyarrow.parquet as pq

    kw = dict(n_readings=500, dup_share=0.1, hot_share=0.1, n_devices=20)
    a = gen.write_event_loads(str(tmp_path / "a"), 3, 3, **kw)
    b = gen.write_event_loads(str(tmp_path / "b"), 3, 3, **kw)
    for pa_, pb_ in zip(a, b):
        with open(pa_, "rb") as fa, open(pb_, "rb") as fb:
            assert fa.read() == fb.read()
    ids = [i for p in a for i in pq.read_table(p)["event_id"].to_pylist()]
    assert len(ids) == len(set(ids)) == 3 * 550


def test_events_properties(tmp_path):
    """The stated duplicate share and hot device are in the data, and the
    readings have the fixture's value distribution."""
    t = gen.events_table(5, n_readings=10_000, dup_share=0.05, hot_share=0.1, n_devices=100)
    df = t.to_pandas()
    assert len(df) == 10_500
    assert df.duplicated(["user_id", "ts"]).sum() >= 500
    assert 0.08 < (df["user_id"] == 0).mean() < 0.12
    assert df["value"].notna().all()
    assert 47 < df["value"].mean() < 53
    assert 0.11 < (df["value"] > 100).mean() < 0.16


def test_documents_properties():
    """Near-duplicates are an original plus "dup", sources cycle by id."""
    df = gen.documents_table(5, n_docs=5_000, near_share=0.05).to_pandas()
    near = df["text"].str.endswith(" dup")
    assert 0.04 < near.mean() < 0.06
    originals = set(df.loc[~near, "text"])
    assert df.loc[near, "text"].str[: -len(" dup")].isin(originals).all()
    assert (df["source"] == "src" + (df["doc_id"] % 20).astype(str)).all()
    assert df["text"].str.split().str.len().between(10, 101).all()
