"""Seeded generator for the benchmark's input tables.

Writes the same ten Parquet tables, with the same schemas, that the
package's catalog declares (``catalog.TABLES``): a TPC-H-shaped star
schema plus ``events``, ``documents`` and ``embeddings``. The same seed
always yields byte-identical values. Primary keys are unique, so CQL
reads over the files have one well-defined answer.

Scale: ``sf`` sizes the TPC-H tables and ``events`` like the TPC-H
scale factor (sf0.1: 600k lineitem rows); ``docs`` and ``vecs`` size the
corpus tables independently, because the pipeline stages cost per job,
not per row.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "the a data spark row column table query filter join agg group sort "
    "hash merge scan part line order customer key value window stream "
    "batch vector fast slow big small"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["cold", "hot", "red", "old", "small", "large", "green", "blue"]
_NOUN = ["widget", "plate", "ring", "rod", "gear", "bolt", "pipe", "valve"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)])


# ``multimodal_audio_flac`` disagrees with its own oracle on a document
# whose UTF-8 length is a multiple of 400 (50 samples): a known defect,
# probed on every llm_pipeline run (``wl_llm_pipeline.known_defects``)
# and kept out of the timed corpus so that its ops do not fail
FLAC_DEFECT_LENGTH = 400


def _doc_texts(rng, n: int) -> list[str]:
    """Random word streams; every 25th doc repeats an earlier one exactly
    and every 25th (offset 12) is a one-word edit of an earlier one, so
    the exact and near-duplicate stages have work to find."""
    texts: list[str] = []
    words = np.array(_WORDS, dtype=object)
    for i in range(n):
        if i >= 25 and i % 25 == 0:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i >= 25 and i % 25 == 12:
            src = texts[int(rng.integers(0, i))].split()
            src[int(rng.integers(0, len(src)))] = str(words[rng.integers(0, len(words))])
            text = " ".join(src)
        else:
            text = " ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))])
        if len(text) % FLAC_DEFECT_LENGTH == 0:
            text += " a"
        texts.append(text)
    return texts


def generate(out_dir: str, seed: int, sf: float, docs: int, vecs: int) -> dict[str, int]:
    """Write every table under ``out_dir``; returns row counts by table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 100)
    n_evt = max(int(1_000_000 * sf), 100)
    n_user = max(int(15_000 * sf), 5)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    pk = np.arange(n_part, dtype=np.int64)
    tables["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, _TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2400, n_ord) * _DAY_US),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    # 1..7 lines per order, numbered 1..k: (l_orderkey, l_linenumber) is unique
    per = rng.integers(1, 8, n_ord)
    l_ord = np.repeat(np.arange(n_ord, dtype=np.int64), per)
    starts = np.repeat(np.cumsum(per) - per, per)
    l_line = (np.arange(len(l_ord)) - starts + 1).astype(np.int32)
    n_li = len(l_ord)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_ord),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(l_line),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, n_li) * _DAY_US),
    })
    # millisecond timestamps: the sstable codec stores CQL timestamps in ms
    ts_ms = np.sort(rng.integers(0, 30 * 86_400_000, n_evt))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": _ts(_EPOCH_2024 + ts_ms * 1000),
        "user_id": pa.array(rng.integers(0, n_user, n_evt, dtype=np.int64)),
        "event_type": _pick(rng, _EVENT_TYPES, n_evt),
        "value": _money(rng, 0.01, 500.0, n_evt),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
    })
    texts = _doc_texts(rng, docs)
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
        "text": texts,
        "lang": _pick(rng, _LANGS, docs),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    labels = rng.integers(0, 10, vecs)
    centers = rng.normal(0.0, 1.0, (10, 64))
    emb = centers[labels] + rng.normal(0.0, 0.6, (vecs, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(vecs, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
