"""Seeded input generators for the benchmark.

Two kinds of input, both written under the benchmark's work directory:

- ``write_tables``: the ten parquet tables the registry queries read
  (``gomrjob_spark.catalog.TABLES``), with the column types and value
  shapes of the engine's TPC-H-ish/events/documents/embeddings fixtures.
  Sizes are fixed by ``TABLE_ROWS``; the generator is vectorized so a
  fresh checkout pays seconds, not minutes.
- ``write_mr_inputs``: the line files the MapReduce workload reads —
  schema-less JSON lines and ``key\\tvalue`` lines — plus the goldens
  the jobs are checked against. The goldens are computed here from the
  generated arrays, independently of the engine (the reference's
  ``mrtest`` idea: byte-sorted expected output lines).
"""

from __future__ import annotations

import gzip
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table (the engine fixtures' sf0.01 sizes)
TABLE_ROWS = {
    "region": 5,
    "nation": 25,
    "supplier": 100,
    "customer": 1500,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

_WORDS = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
_LANGS = np.array(["en", "es", "fr", "de", "zh"])
_EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_ADJ = np.array(["small", "red", "blue", "hot", "large", "old", "cold", "new"])
_NOUN = np.array(["ring", "widget", "bolt", "gear", "gizmo", "plate", "rod", "anvil"])
_PTYPES = np.array(["ECONOMY", "SMALL", "LARGE", "STANDARD", "MEDIUM", "PROMO"])


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Two-decimal doubles, as the fixtures store money."""
    return rng.integers(lo, hi, n) / 100.0


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    idx = rng.integers(0, len(_WORDS), int(lens.sum()))
    words = np.array(_WORDS)[idx]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    # ~5% near-duplicates (an earlier doc plus a marker token) and a few
    # exact duplicates, so the dedup operators have work to find
    for i in range(1, n):
        r = rng.random()
        if r < 0.05:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        elif r < 0.052:
            texts[i] = texts[int(rng.integers(0, i))]
    return texts


def make_tables(seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n = TABLE_ROWS
    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nk = np.arange(n["nation"], dtype=np.int32)
    out["nation"] = pd.DataFrame(
        {"n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk], "n_regionkey": nk % 5}
    )
    sk = np.arange(n["supplier"], dtype=np.int64)
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{i:09d}" for i in sk],
            "s_nationkey": rng.integers(0, 25, len(sk)).astype(np.int32),
            "s_acctbal": _cents(rng, -99999, 999999, len(sk)),
        }
    )
    ck = np.arange(n["customer"], dtype=np.int64)
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": rng.integers(0, 25, len(ck)).astype(np.int32),
            "c_acctbal": _cents(rng, -99999, 999999, len(ck)),
            "c_mktsegment": rng.choice(_SEGMENTS, len(ck)),
        }
    )
    pk = np.arange(n["part"], dtype=np.int64)
    out["part"] = pd.DataFrame(
        {
            "p_partkey": pk,
            "p_name": np.char.add(np.char.add(rng.choice(_ADJ, len(pk)), " "), rng.choice(_NOUN, len(pk))),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, len(pk)).astype(str)),
            "p_type": rng.choice(_PTYPES, len(pk)),
            "p_size": rng.integers(1, 51, len(pk)).astype(np.int32),
            "p_retailprice": (9000 + pk % 1000) / 10.0,
        }
    )
    ok = np.arange(n["orders"], dtype=np.int64)
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": ok,
            "o_custkey": rng.integers(0, n["customer"], len(ok)).astype(np.int64),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), len(ok)),
            "o_totalprice": _cents(rng, 100000, 50000000, len(ok)),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", len(ok)),
            "o_orderpriority": rng.choice(_PRIORITIES, len(ok)),
        }
    )
    m = n["lineitem"]
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n["orders"], m).astype(np.int64),
            "l_partkey": rng.integers(0, n["part"], m).astype(np.int64),
            "l_suppkey": rng.integers(0, n["supplier"], m).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _cents(rng, 90000, 10500000, m),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), m),
            "l_linestatus": rng.choice(np.array(["F", "O"]), m),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", m),
        }
    )
    e = n["events"]
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, e)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(e, dtype=np.int64),
            "ts": ts.astype("datetime64[us]"),
            "user_id": rng.integers(0, max(1, e * 3 // 200), e).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, e),
            "value": np.round(rng.exponential(40.0, e), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    d = n["documents"]
    texts = _texts(rng, d)
    out["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(d, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, d, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": [f"src{i % 20}" for i in range(d)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    v = n["embeddings"]
    labels = rng.integers(0, 10, v).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = rng.normal(0.0, 1.0, (v, 64)) + 0.5 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pd.DataFrame(
        {"vec_id": np.arange(v, dtype=np.int64), "embedding": list(vecs), "label": labels}
    )
    return out


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet`` (one file each,
    so the streaming file-replay globs see one file per table); returns
    the row count per table. Idempotent: a finished directory carries a
    ``_DONE`` marker and is reused."""
    marker = os.path.join(out_dir, "_DONE")
    if os.path.exists(marker):
        with open(marker) as f:
            return json.load(f)
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, df in make_tables(seed).items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.cast(
                pa.schema(
                    [
                        ("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32()),
                    ]
                )
            )
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = len(df)
    with open(marker, "w") as f:
        json.dump(rows, f)
    return rows


# -- MapReduce workload inputs ----------------------------------------------

#: JSON field-name vocabulary; drawn with Zipf weights so a few names
#: dominate the field-count output
_FIELDS = [f"f{i:02d}" for i in range(40)]


def _zipf_weights(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


@dataclass
class MrInputs:
    """Paths of the generated MapReduce inputs and what the jobs must
    produce from them."""

    json_dir: str
    kv_dir: str
    json_lines: int
    kv_lines: int
    bad_json_lines: int
    malformed_kv_lines: int
    #: golden ``k\\tv`` output lines (byte-sorted) per job
    goldens: dict[str, list[str]] = field(default_factory=dict)


def _write_parts(lines: np.ndarray, out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for i, chunk in enumerate(np.array_split(lines, n_files)):
        body = "\n".join(chunk.tolist()) + "\n"
        # level 1: the files are written once per run, outside every
        # timed region; reading them back decompresses at full cost
        with gzip.open(os.path.join(out_dir, f"part-{i:05d}.gz"), "wt", compresslevel=1) as f:
            f.write(body)


def _sorted_lines(pairs: dict[str, int]) -> list[str]:
    return sorted((f"{k}\t{v}" for k, v in pairs.items()), key=lambda s: s.encode())


def _join_records(rec: np.ndarray, toks: np.ndarray, n: int) -> np.ndarray:
    """Comma-join ``toks`` per record id (``rec`` sorted ascending): one
    vectorized concatenation per token position, not one per record."""
    pos = np.arange(len(rec)) - np.searchsorted(rec, rec)
    body = np.full(n, "", dtype=object)
    for k in range(int(pos.max()) + 1 if len(pos) else 0):
        sel = pos == k
        body[rec[sel]] = body[rec[sel]] + ("," if k else "") + toks[sel]
    return body


def write_mr_inputs(
    out_dir: str, seed: int, json_lines: int, kv_lines: int, n_files: int, n_keys: int
) -> MrInputs:
    """Generate both line datasets under ``out_dir`` and their goldens.

    JSON lines: 1-6 distinct Zipf-drawn field names per record with
    small int values, ``_HEARTBEAT_`` on ~5% of records, ~2% raw
    non-JSON lines. KV lines: Zipf-hot keys over ``n_keys`` names with
    int values, ~1% lines with no tab, ~1% non-int values. Everything is
    vectorized; no per-line Python.
    """
    rng = np.random.default_rng(seed)

    # JSON lines: draw 1-6 field ids per record, keep each id once per
    # record (a JSON object has unique names)
    n_fields = rng.integers(1, 7, json_lines)
    rec = np.repeat(np.arange(json_lines), n_fields)
    fid = rng.choice(len(_FIELDS), len(rec), p=_zipf_weights(len(_FIELDS)))
    uniq = np.unique(rec * len(_FIELDS) + fid)
    rec, fid = uniq // len(_FIELDS), uniq % len(_FIELDS)
    vals = rng.integers(0, 1000, len(rec))
    heartbeat = rng.random(json_lines) < 0.05
    bad = rng.random(json_lines) < 0.02
    toks = np.char.add(np.array([f'"{f}":' for f in _FIELDS])[fid], vals.astype(str))
    body = _join_records(rec, toks.astype(object), json_lines)
    hb = np.where(heartbeat, np.where(body == "", '"_HEARTBEAT_":1.5', ',"_HEARTBEAT_":1.5'), "")
    lines = ("{" + pd.Series(body) + pd.Series(hb) + "}").to_numpy()
    lines[bad] = "not json {"
    good = ~bad
    n_hb = int((heartbeat & good).sum())
    kept = good[rec]  # field draws of the records that parse
    counts = np.bincount(fid[kept], minlength=len(_FIELDS))
    per_field = {f: int(c) for f, c in zip(_FIELDS, counts) if c}
    if n_hb:
        per_field["_HEARTBEAT_"] = n_hb
    field_counts = {json.dumps(f): c for f, c in per_field.items()}
    field_counts[json.dumps("lines_read")] = int(good.sum())
    # chain: step 1 counts name=value pairs, step 2 folds them back to
    # per-field counts
    pair_ids, pair_counts = np.unique(fid[kept] * 1000 + vals[kept], return_counts=True)
    pairs = {f"{_FIELDS[i // 1000]}={i % 1000}": int(c) for i, c in zip(pair_ids, pair_counts)}
    if n_hb:
        pairs["_HEARTBEAT_=1.5"] = n_hb
    json_dir = os.path.join(out_dir, "json")
    _write_parts(lines, json_dir, n_files)

    # KV lines
    keys = rng.choice(n_keys, kv_lines, p=_zipf_weights(n_keys))
    values = rng.integers(0, 100000, kv_lines)
    no_tab = rng.random(kv_lines) < 0.01
    non_int = (rng.random(kv_lines) < 0.01) & ~no_tab
    key_names = np.char.add("k", np.char.zfill(np.arange(n_keys).astype(str), 4))
    sep = np.where(no_tab, " ", np.where(non_int, "\tx", "\t"))
    lines = (pd.Series(key_names[keys]) + pd.Series(sep) + pd.Series(values.astype(str))).to_numpy()
    kv_dir = os.path.join(out_dir, "kv")
    _write_parts(lines, kv_dir, n_files)

    # the Python max reducer keeps only keys with at least one int value
    ok = ~no_tab & ~non_int
    has_int = np.bincount(keys[ok], minlength=n_keys) > 0
    key_max = np.full(n_keys, -1, dtype=np.int64)
    np.maximum.at(key_max, keys[ok], values[ok])

    return MrInputs(
        json_dir=json_dir,
        kv_dir=kv_dir,
        json_lines=json_lines,
        kv_lines=kv_lines,
        bad_json_lines=int(bad.sum()),
        malformed_kv_lines=int(no_tab.sum()),
        goldens={
            "field_count": _sorted_lines(field_counts),
            "hot_key_max": _sorted_lines(
                dict(zip(key_names[has_int], key_max[has_int].tolist()))
            ),
            "chain_step1": _sorted_lines(pairs),
            "chain_step2": _sorted_lines(per_field),
        },
    )
