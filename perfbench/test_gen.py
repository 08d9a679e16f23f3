"""The benchmark's own tests: seeded inputs are reproducible.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def without_paths(spec):
    if isinstance(spec, list):
        return [without_paths(x) for x in spec]
    return {k: v for k, v in spec.items() if k != "path"}


GENERATORS = {
    "sales_etl": lambda d, seed: gen.orders_jsonl(os.path.join(d, "o.jsonl"), seed, 3, 300),
    "bi_queries": lambda d, seed: gen.star_schema(d, seed, 3, 0.002),
    "corpus_build": lambda d, seed: gen.corpus_dir(d, seed, 3, 120, 120),
    "corpus_ingest": lambda d, seed: gen.ingest_batches(d, seed, [0, 1, 2], 60, 30),
}


@pytest.mark.parametrize("workload", sorted(GENERATORS))
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, workload):
    make = GENERATORS[workload]
    a, b, c = (str(tmp_path / x) for x in "abc")
    for d in (a, b, c):
        os.makedirs(d)
    spec_a, spec_b = make(a, 7), make(b, 7)
    make(c, 8)
    assert digest(a) == digest(b)
    assert without_paths(spec_a) == without_paths(spec_b)
    assert digest(a).keys() == digest(c).keys()
    assert all(digest(a)[k] != digest(c)[k] for k in digest(a) if "region" not in k and "nation" not in k)


def test_ops_get_distinct_inputs(tmp_path):
    one, two = str(tmp_path / "1"), str(tmp_path / "2")
    gen.corpus_dir(one, 7, 0, 100, 100)
    gen.corpus_dir(two, 7, 1, 100, 100)
    assert set(digest(one).values()).isdisjoint(digest(two).values())


def test_orders_plant_every_edge_case(tmp_path):
    spec = gen.orders_jsonl(str(tmp_path / "o.jsonl"), 7, 1, 2000)
    assert spec["rows"] > 0 and spec["rejects"] > 0 and spec["corrupt"] > 0
    assert spec["line_items"] > spec["rows"] + spec["rejects"]
    # the op window is two months; orders outside it are planted too
    assert spec["start"] == "2024-02-01" and spec["end"] == "2024-03-31"


def test_planted_duplicates_are_exact_copies(tmp_path):
    import pyarrow.parquet as pq

    spec = gen.corpus_dir(str(tmp_path), 7, 0, 300, 300)
    docs = {r["doc_id"]: r["text"] for r in pq.read_table(str(tmp_path / "documents.parquet")).to_pylist()}
    vecs = {r["vec_id"]: r["embedding"] for r in pq.read_table(str(tmp_path / "embeddings.parquet")).to_pylist()}
    assert spec["doc_exact"] and spec["vec_exact"]
    assert all(docs[c] == docs[s] and c > s for c, s in spec["doc_exact"])
    assert all(vecs[c] == vecs[s] and c > s for c, s in spec["vec_exact"])
