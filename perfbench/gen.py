"""Seeded input generators for the benchmark workloads.

Every input is a pure function of ``(seed, workload, op index)``: the
same seed writes byte-identical files, another seed writes different
ones. Generation uses numpy, pyarrow and the standard library only, so
it runs before any Spark session exists and stays out of every timing.

The star-schema tables mirror the shape of the repo's synthetic test
data (TPC-H-ish ``region nation customer supplier part orders
lineitem`` plus ``events documents embeddings``); the orders JSONL
mirrors the Square order documents the reference ETL ingests.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from decimal import Decimal
from zoneinfo import ZoneInfo

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Stream ids keep the random streams of the workloads apart.
STREAM = {"sales_etl": 1, "bi_queries": 2, "corpus_build": 3, "corpus_ingest": 4}

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def rng(seed: int, *key: int) -> np.random.Generator:
    return np.random.default_rng([seed, *key])


def _write(table: pa.Table, path: str) -> None:
    # One row group, no statistics that embed wall time: the file bytes
    # depend on the rows only.
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------------------------
# star schema (bi_queries)
# ---------------------------------------------------------------------------

_ADJ = ("red", "new", "hot", "small", "cold", "large", "old", "blue")
_NOUN = ("bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo")
_SEGMENTS = ("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD")
_PTYPES = ("MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
_LANGS = ("en", "zh", "es", "de", "fr")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

_DAY0 = np.datetime64("1995-01-01", "D")
_ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - _DAY0).astype(np.int64))


def _pick(r: np.random.Generator, values: tuple[str, ...], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[r.integers(0, len(values), n)])


def _money(r: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(r.uniform(lo, hi, n), 2)


def star_schema(out_dir: str, seed: int, op: int, sf: float) -> dict[str, int]:
    """Write one star-schema sf dir; returns rows per table."""
    r = rng(seed, STREAM["bi_queries"], op)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs = int(50_000 * sf)
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(_REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(r, _SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
            }
        ),
    }
    names = tuple(f"{a} {b}" for a in _ADJ for b in _NOUN)
    pk = np.arange(n_part)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": _pick(r, names, n_part),
            "p_brand": _pick(r, tuple(f"Brand#{i}" for i in range(1, 26)), n_part),
            "p_type": _pick(r, _PTYPES, n_part),
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    odays = r.integers(0, _ORDER_DAYS + 1, n_ord)
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(r, ("P", "O", "F"), n_ord),
            "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
            "o_orderdate": pa.array((_DAY0 + odays).astype("datetime64[us]")),
            "o_orderpriority": _pick(r, _PRIORITIES, n_ord),
        }
    )
    lok = r.integers(0, n_ord, n_li)
    ship = _DAY0 + odays[lok] + r.integers(1, 96, n_li)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(lok, pa.int64()),
            "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
            "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(r, 901.0, 104_999.0, n_li),
            "l_discount": r.integers(0, 11, n_li) / 100.0,
            "l_tax": r.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(r, ("R", "A", "N"), n_li),
            "l_linestatus": _pick(r, ("O", "F"), n_li),
            "l_shipdate": pa.array(ship.astype("datetime64[us]")),
        }
    )
    # events.ts is TIMESTAMP(NANOS) in the test data; keep that shape so
    # the loader's nanos-as-long path is the one exercised.
    secs = np.sort(r.uniform(0, 30 * 86400, n_ev))
    ts_us = np.datetime64("2024-01-01T00:00:00", "us") + (secs * 1e6).astype("timedelta64[us]")
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts_us.astype("datetime64[ns]")),
            "user_id": pa.array(r.integers(0, max(int(15_000 * sf), 10), n_ev), pa.int64()),
            "event_type": _pick(r, _EVENT_TYPES, n_ev),
            "value": _money(r, 0.01, 490.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
        }
    )
    tables["documents"] = documents_table(r, n_docs, 0, dup_frac=0.02, near_frac=0.02)[0]
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}


# ---------------------------------------------------------------------------
# documents / embeddings (corpus_build, corpus_ingest)
# ---------------------------------------------------------------------------


def _text(r: np.random.Generator) -> str:
    return " ".join(np.asarray(VOCAB)[r.integers(0, len(VOCAB), int(r.integers(10, 101)))])


def _near(r: np.random.Generator, text: str) -> str:
    words = text.split(" ")
    for j in r.integers(0, len(words), max(1, len(words) // 20)):
        words[j] = VOCAB[int(r.integers(0, len(VOCAB)))]
    return " ".join(words)


def documents_table(
    r: np.random.Generator,
    n: int,
    first_id: int,
    dup_frac: float,
    near_frac: float,
    outside: dict[int, str] | None = None,
    outside_frac: float = 0.0,
) -> tuple[pa.Table, dict[int, str], list[tuple[int, int]]]:
    """``n`` documents with ids from ``first_id``.

    An ``outside_frac`` share are exact copies of a document of
    ``outside``; a ``dup_frac`` share exact copies and a ``near_frac``
    share near copies (about one word in twenty replaced) of an earlier
    original (not copied) document of this table. Returns the table, the texts by id and the
    planted exact copies as ``(copy_id, source_id)``.
    """
    texts: dict[int, str] = {}
    exact: list[tuple[int, int]] = []
    out_ids = list(outside or ())
    originals: list[int] = []  # copies are made of originals only: no chains
    kinds = r.uniform(0, 1, n)
    for k in range(n):
        doc_id, u = first_id + k, kinds[k]
        if out_ids and u < outside_frac:
            src = out_ids[int(r.integers(0, len(out_ids)))]
            texts[doc_id] = outside[src]
            exact.append((doc_id, src))
        elif originals and u < outside_frac + dup_frac + near_frac:
            src = originals[int(r.integers(0, len(originals)))]
            if u < outside_frac + dup_frac:
                texts[doc_id] = texts[src]
                exact.append((doc_id, src))
            else:
                texts[doc_id] = _near(r, texts[src])
        else:
            texts[doc_id] = _text(r)
            originals.append(doc_id)
    ids = list(texts)
    vals = [texts[i] for i in ids]
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": vals,
            "lang": _pick(r, _LANGS, n),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": pa.array([len(v) for v in vals], pa.int64()),
        }
    )
    return table, texts, exact


def embeddings_table(
    r: np.random.Generator, n: int, dim: int = 64, dup_frac: float = 0.03
) -> tuple[pa.Table, list[tuple[int, int]]]:
    """Unit vectors around ten label centres; a ``dup_frac`` share are
    exact copies of an earlier original vector and as many again near
    copies."""
    centres = r.normal(size=(10, dim))
    labels = r.integers(0, 10, n)
    vecs = centres[labels] * 0.35 + r.normal(size=(n, dim))
    kinds = r.uniform(0, 1, n)
    exact, originals = [], [0]
    for k in range(1, n):
        if kinds[k] < 2 * dup_frac:
            j = originals[int(r.integers(0, len(originals)))]
            vecs[k] = vecs[j] if kinds[k] < dup_frac else vecs[j] + r.normal(scale=0.02, size=dim)
            labels[k] = labels[j]
            if kinds[k] < dup_frac:
                exact.append((k, j))
        else:
            originals.append(k)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return table, exact


def corpus_dir(out_dir: str, seed: int, op: int, n_docs: int, n_vecs: int) -> dict:
    """One corpus_build input: an sf dir holding ``documents`` and
    ``embeddings`` with planted exact and near duplicates."""
    r = rng(seed, STREAM["corpus_build"], op)
    os.makedirs(out_dir, exist_ok=True)
    docs, _, doc_exact = documents_table(r, n_docs, 0, dup_frac=0.03, near_frac=0.03)
    emb, vec_exact = embeddings_table(r, n_vecs)
    _write(docs, os.path.join(out_dir, "documents.parquet"))
    _write(emb, os.path.join(out_dir, "embeddings.parquet"))
    return {"docs": n_docs, "vecs": n_vecs, "doc_exact": doc_exact, "vec_exact": vec_exact}


def ingest_batches(
    out_dir: str, seed: int, indices: list[int], standing: int, batch: int
) -> list[dict]:
    """Batches ``indices`` of a stream whose batch 0 is the standing
    corpus and whose batch ``i`` > 0 is a micro-batch of ``batch`` docs.

    Each micro-batch copies some documents exactly from the standing
    corpus and from itself, so the gate sees planted duplicates on both
    the corpus side and the batch side.
    """
    os.makedirs(out_dir, exist_ok=True)
    out = []
    # every micro-batch copies from the standing corpus, so it is built first
    standing_table, standing_texts, standing_exact = documents_table(
        rng(seed, STREAM["corpus_ingest"], 0), standing, 0, 0.02, 0.02
    )
    for i in indices:
        r = rng(seed, STREAM["corpus_ingest"], i)
        if i == 0:
            table, exact = standing_table, standing_exact
        else:
            first = standing + (i - 1) * batch
            table, _, exact = documents_table(
                r, batch, first, 0.03, 0.03, outside=standing_texts, outside_frac=0.04
            )
        path = os.path.join(out_dir, f"batch-{i:04d}.parquet")
        _write(table.select(["doc_id", "text", "source"]), path)
        out.append({"path": path, "docs": table.num_rows, "exact": exact})
    return out


# ---------------------------------------------------------------------------
# Square orders (sales_etl)
# ---------------------------------------------------------------------------

LOCATIONS = ((1, "Wrigleyville", "SQ-WRIG"), (2, "Southport", "SQ-SOUT"), (3, "Lakeview", "SQ-LAKE"))
_MENU = (
    ("Iced Lavender Latte", 565),
    ("Espresso", 300),
    ("Cold Brew", 450),
    ("Blueberry Muffin", 400),
    ("Chai Latte", 525),
    ("Cortado", 375),
)
_DENYLISTED = ("To Go Cup", "Dine In", "Free Water")
_MODS = (("Oat Milk", 100), ("Extra Shot", 75), ("To Go", 0), ("Whipped Cream", 0))
_DENY = ("dine in", "to go", "free water")
_CHI = ZoneInfo("America/Chicago")
_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def month_window(op: int) -> tuple[str, str]:
    """Op ``op`` covers two calendar months starting ``op`` months after
    the first: consecutive ops overlap by one month."""
    y, m = divmod(op, 12)
    start = dt.date(2024 + y, m + 1, 1)
    y2, m2 = divmod(op + 2, 12)
    end = dt.date(2024 + y2, m2 + 1, 1) - dt.timedelta(days=1)
    return start.isoformat(), end.isoformat()


def orders_jsonl(path: str, seed: int, op: int, n_orders: int) -> dict:
    """Write ``n_orders`` order documents for op ``op`` and return what
    a correct run of the sales pipeline over them must produce."""
    r = rng(seed, STREAM["sales_etl"], op)
    start, end = month_window(op)
    lo = dt.datetime.fromisoformat(start).replace(tzinfo=dt.timezone.utc)
    hi = dt.datetime.fromisoformat(end).replace(tzinfo=dt.timezone.utc) + dt.timedelta(days=1)
    span = (hi - lo).total_seconds()
    expected: dict[tuple[int, str], list] = {}
    rejects = corrupt = n_items = 0
    lines = []
    for k in range(n_orders):
        loc = LOCATIONS[int(r.integers(0, len(LOCATIONS)))]
        # ~10% of orders fall outside the window on either side
        off = r.uniform(-0.06 * span, 1.06 * span)
        ms = int(r.integers(0, 1000))
        closed = lo + dt.timedelta(seconds=float(int(off)), milliseconds=ms)
        in_window = lo <= closed < hi
        truncated = r.uniform() < 0.01
        order = {
            "id": f"o{op}-{k}",
            "location_id": loc[2],
            "closed_at": closed.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ms:03d}Z",
        }
        kind = r.uniform()
        if kind < 0.02:
            order["closed_at"] = None
            in_window = False
        if kind > 0.98:
            items = None  # no line_items key: skipped by the explode
        else:
            items = []
            for _ in range(int(r.integers(1, 5))):
                c = r.uniform()
                if c < 0.08:
                    name, base = _DENYLISTED[int(r.integers(0, 3))], int(r.integers(0, 2)) * 150
                elif c < 0.14:
                    name, base = "Free Cookie", 0
                else:
                    name, base = _MENU[int(r.integers(0, len(_MENU)))]
                qty = str(int(r.integers(1, 5)))
                if r.uniform() < 0.03:
                    qty = ("two", "0", "-1")[int(r.integers(0, 3))]
                mods = [
                    {"name": _MODS[j][0], "base_price_money": {"amount": _MODS[j][1], "currency": "USD"}}
                    for j in sorted(set(r.integers(0, len(_MODS), int(r.integers(0, 3))).tolist()))
                ]
                mod_cents = sum(m["base_price_money"]["amount"] for m in mods)
                gross = None if r.uniform() < 0.05 else base + mod_cents
                item = {
                    "name": name,
                    "variation_name": None if r.uniform() < 0.3 else ("Small", "Large")[int(r.integers(0, 2))],
                    "quantity": qty,
                    "base_price_money": {"amount": base, "currency": "USD"},
                    "gross_sales_money": None if gross is None else {"amount": gross, "currency": "USD"},
                    "modifiers": mods,
                }
                items.append(item)
                n_items += 1
                if truncated or not in_window or base <= 0 or any(d in name.lower() for d in _DENY):
                    continue
                if not (qty.isdigit() and int(qty) > 0):
                    rejects += 1
                    continue
                local = closed.astimezone(_CHI)
                cents = gross if gross is not None else base + mod_cents
                key = (loc[0], local.strftime("%Y-%m"))
                acc = expected.setdefault(key, [0, Decimal(0)])
                acc[0] += 1
                acc[1] += Decimal(cents) / 100
            order["line_items"] = items
        line = json.dumps(order, separators=(",", ":"))
        if truncated:
            line = line[: len(line) // 2]
            corrupt += 1
        lines.append(line)
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return {
        "path": path,
        "orders": n_orders,
        "start": start,
        "end": end,
        "partitions": {f"{k[0]}/{k[1]}": [v[0], str(v[1])] for k, v in sorted(expected.items())},
        "rows": sum(v[0] for v in expected.values()),
        "revenue": str(sum((v[1] for v in expected.values()), Decimal(0))),
        "rejects": rejects,
        "corrupt": corrupt,
        "line_items": n_items,
    }
