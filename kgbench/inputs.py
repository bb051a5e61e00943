"""Seeded benchmark inputs and their oracle answers.

Everything here runs outside the timed section. Inputs are generated from
the workload seed, written as parquet with pyarrow and an explicit schema
(``ts`` as ``timestamp[us]``, which Spark and DuckDB both read), and cached
per (workload, seed) under the benchmark's output directory together with
the oracle's answer, so a repeated seed skips generation and oracle time.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TRIPLE_COLS = ["subj", "pred", "obj", "conv_id", "turn_idx", "rule_id"]

TRANSCRIPTS_SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), False),
        pa.field("turn_idx", pa.int32(), False),
        pa.field("role", pa.string(), False),
        pa.field("text", pa.string(), False),
        pa.field("tool", pa.string(), True),
        pa.field("ts", pa.timestamp("us"), False),
    ]
)
ENTITY_DICT_SCHEMA = pa.schema(
    [
        pa.field("entity_id", pa.string(), False),
        pa.field("canonical", pa.string(), False),
        pa.field("aliases", pa.list_(pa.string()), False),
        pa.field("etype", pa.string(), False),
        pa.field("prior", pa.float64(), False),
    ]
)


def triple_digest(rows: pd.DataFrame) -> tuple[str, int]:
    """Order-insensitive sha256 over the DISTINCT triple-key rows, and their
    count. The same function digests the oracle's rows and the rows read
    back from the pipeline's published table."""
    keys = (
        rows[TRIPLE_COLS[0]].astype(str)
        .str.cat([rows[c].astype(str) for c in TRIPLE_COLS[1:]], sep="\x1f")
        .drop_duplicates()
        .sort_values(kind="mergesort")
    )
    return hashlib.sha256("\n".join(keys).encode()).hexdigest(), len(keys)


def _write(table: pd.DataFrame, schema: pa.Schema, path: str) -> None:
    pq.write_table(
        pa.Table.from_pandas(table, preserve_index=False).cast(schema), path
    )


def _cached(cache_dir: str, build) -> dict:
    """Build into a temp dir and rename, so an interrupted build never
    leaves a half-written cache entry behind."""
    meta_path = os.path.join(cache_dir, "oracle.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    tmp = cache_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = build(tmp)
    with open(os.path.join(tmp, "oracle.json"), "w") as f:
        json.dump(meta, f, indent=1)
    shutil.rmtree(cache_dir, ignore_errors=True)
    os.rename(tmp, cache_dir)
    return meta


# ---------------------------------------------------------------------------
# Pipeline corpus
# ---------------------------------------------------------------------------


def pipeline_inputs(cache_root: str, name: str, n_convs: int, seed: int) -> dict:
    """Generate (or reuse) the seeded corpus of a pipeline workload, with
    the oracle's digest of its triple set and the oracle's precision and
    recall against the generator's expected triples."""
    from kgpipe import oracle, synth

    def build(d: str) -> dict:
        c = synth.generate(n_convs=n_convs, seed=seed)
        _write(c.transcripts, TRANSCRIPTS_SCHEMA, os.path.join(d, "transcripts.parquet"))
        _write(c.entity_dict, ENTITY_DICT_SCHEMA, os.path.join(d, "entity_dict.parquet"))
        triples = oracle.run_pipeline(c.transcripts, c.entity_dict)
        digest, n_distinct = triple_digest(triples)
        precision, recall = oracle.precision_recall(triples, c.expected_triples)
        return {
            "digest": digest,
            "distinct_triples": n_distinct,
            "turns": len(c.transcripts),
            "precision": precision,
            "recall": recall,
        }

    d = os.path.join(cache_root, f"{name}-{seed}")
    meta = _cached(d, build)
    meta["dir"] = d
    return meta


# ---------------------------------------------------------------------------
# Registry tables
#
# Same schemas, row counts and value distributions as the sf test tables
# (TESTDATA.md), as measured on sf0.01 and sf0.1: uniform foreign keys,
# uniform prices, 30 days of events from 15,000 x sf users, 5% of documents
# a near duplicate of another (the same text plus the word "dup", no exact
# duplicates), isotropic unit embeddings with labels that carry no
# structure. kgbench/tablecheck.py compares a generated set with a real one
# on what the 15 queries depend on; README.md records the comparison.
# ---------------------------------------------------------------------------

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    texts = [
        " ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), int(k))])
        for k in rng.integers(10, 100, n)
    ]
    copies = rng.choice(n, n // 20, replace=False)
    originals = np.setdiff1d(np.arange(n), copies)
    for c, o in zip(copies, rng.choice(originals, len(copies))):
        texts[c] = texts[o] + " dup"
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(len(_LANGS), n, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def registry_tables(rng: np.random.Generator, scale: float) -> dict[str, pd.DataFrame]:
    n_li, n_ord, n_cust = int(6_000_000 * scale), int(1_500_000 * scale), int(150_000 * scale)
    n_ev, n_users = int(1_000_000 * scale), int(15_000 * scale)
    n_doc, n_emb = max(500, int(50_000 * scale)), max(500, int(20_000 * scale))
    day = np.timedelta64(1, "D")
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, int(200_000 * scale), n_li),
            "l_suppkey": rng.integers(0, int(10_000 * scale), n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": (np.datetime64("1995-01-02") + rng.integers(0, 2500, n_li) * day
                           ).astype("datetime64[us]"),
        }
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
            "o_orderdate": (np.datetime64("1995-01-01") + rng.integers(0, 2405, n_ord) * day
                            ).astype("datetime64[us]"),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, n_ord)],
        }
    )
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-1000, 10_000, n_cust), 2),
            "c_mktsegment": np.array(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
            )[rng.integers(0, 5, n_cust)],
        }
    )
    ev_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.datetime64("2024-01-01T00:00:00", "us") + ev_us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
                rng.integers(0, 5, n_ev)
            ],
            "value": np.maximum(np.round(rng.exponential(50, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    vecs = rng.normal(size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pd.DataFrame(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        }
    )
    return {
        "lineitem": lineitem,
        "orders": orders,
        "customer": customer,
        "events": events,
        "documents": _documents(rng, n_doc),
        "embeddings": embeddings,
    }


def registry_inputs(cache_root: str, name: str, scale: float, seed: int, queries: list[str]) -> dict:
    """Generate (or reuse) the registry tables and each query's DuckDB
    oracle answer: row count and order-insensitive value digest."""
    import duckdb

    import __spark_entry__ as entry

    def build(d: str) -> dict:
        rng = np.random.default_rng(seed)
        for table, df in registry_tables(rng, scale).items():
            df.to_parquet(os.path.join(d, f"{table}.parquet"), index=False)
        sqls = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for table in ("lineitem", "orders", "customer", "events", "documents", "embeddings"):
                con.execute(
                    f"CREATE VIEW {table} AS SELECT * FROM '{d}/{table}.parquet'"
                )
            answers = {}
            for q in queries:
                rows, digest = frame_digest(con.execute(sqls[q]).df())
                answers[q] = {"rows": rows, "digest": digest}
        finally:
            con.close()
        return {"queries": answers}

    d = os.path.join(cache_root, f"{name}-{seed}")
    meta = _cached(d, build)
    meta["dir"] = d
    return meta


def normalize_frame(df: pd.DataFrame) -> pd.DataFrame:
    """Bring a Spark or DuckDB result to one value form before digesting:
    integers as int64, floats as float64, timestamps as microsecond
    strings, everything else as str."""
    out = pd.DataFrame(index=range(len(df)))
    for c in df.columns:
        s = df[c].reset_index(drop=True)
        kind = s.dtype.kind
        if kind in "iu":
            out[c] = s.astype(np.int64)
        elif kind == "f":
            out[c] = s.astype(np.float64)
        elif kind == "M":
            out[c] = s.astype("datetime64[us]").astype(str)
        else:
            out[c] = s.astype(str)
    return out


def frame_digest(df: pd.DataFrame) -> tuple[int, str]:
    """Row count and order-insensitive value digest of a query result:
    values normalized, columns sorted by name, floats rendered exactly
    (float.hex), rows sorted."""
    df = normalize_frame(df)
    cols = [
        df[c].map(float.hex) if df[c].dtype.kind == "f" else df[c].astype(str)
        for c in sorted(df.columns)
    ]
    lines = cols[0].str.cat(cols[1:], sep="\x1f") if len(cols) > 1 else cols[0]
    return len(df), hashlib.sha256("\n".join(sorted(lines)).encode()).hexdigest()
