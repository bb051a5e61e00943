"""Compare generated registry tables with a real set of sf test tables.

Usage (from the repository root):

    python3 kgbench/tablecheck.py --real <dir with the sf0.01 tables> --scale 0.01 --seeds 1 2 3

Prints, for the real tables and for the tables kgbench generates from each
seed, the properties the 15 headline queries depend on: table sizes, key
cardinalities, duplicate structure, the same-user events per hour that the
range join counts, neighbour similarity in the embeddings, and every
query's DuckDB result row count. kgbench/README.md records the output.
"""

from __future__ import annotations

import argparse
import shutil
import sys
import tempfile
from pathlib import Path

import numpy as np

ROOT = Path(__file__).resolve().parent.parent
TABLES = ("lineitem", "orders", "customer", "events", "documents", "embeddings")


def profile(d: str, headline: list[str]) -> dict[str, float]:
    import duckdb

    import __spark_entry__ as entry

    sqls = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")

        def one(sql: str) -> float:
            return con.execute(sql).fetchone()[0]

        out = {f"rows.{t}": one(f"SELECT COUNT(*) FROM {t}") for t in TABLES}
        out.update({
            "lineitem.orderkeys": one("SELECT COUNT(DISTINCT l_orderkey) FROM lineitem"),
            "lineitem.suppkeys": one("SELECT COUNT(DISTINCT l_suppkey) FROM lineitem"),
            "orders.custkeys": one("SELECT COUNT(DISTINCT o_custkey) FROM orders"),
            "orders.max_per_cust": one(
                "SELECT MAX(n) FROM (SELECT COUNT(*) n FROM orders GROUP BY o_custkey)"),
            "events.users": one("SELECT COUNT(DISTINCT user_id) FROM events"),
            "events.max_per_user": one(
                "SELECT MAX(n) FROM (SELECT COUNT(*) n FROM events GROUP BY user_id)"),
            "events.mean_prior_1h": one(
                f"SELECT AVG(prior_cnt) FROM ({sqls['join_range_asof']})"),
            "documents.mean_words": one(
                "SELECT AVG(LEN(STRING_SPLIT(TRIM(text), ' '))) FROM documents"),
            "documents.exact_dup_rows": one(
                "SELECT COUNT(*) - COUNT(DISTINCT LOWER(TRIM(text))) FROM documents"),
            "embeddings.mean_top1_cos": one(
                f"SELECT AVG(cosine) FROM ({sqls['ann_bruteforce_topk']}) WHERE rnk = 1"),
            "embeddings.mean_top10_cos": one(
                f"SELECT AVG(cosine) FROM ({sqls['ann_bruteforce_topk']}) WHERE rnk = 10"),
        })
        for q in headline:
            out[f"query_rows.{q}"] = one(f"SELECT COUNT(*) FROM ({sqls[q]})")
    finally:
        con.close()
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--real", required=True)
    ap.add_argument("--scale", type=float, default=0.01)
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    args = ap.parse_args(argv)
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(Path(__file__).resolve().parent))
    from bench import HEADLINE
    from inputs import registry_tables

    cols = {"real": profile(args.real, HEADLINE)}
    (ROOT / ".kgbench").mkdir(exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="tablecheck-", dir=ROOT / ".kgbench")
    try:
        for seed in args.seeds:
            for t, df in registry_tables(np.random.default_rng(seed), args.scale).items():
                df.to_parquet(f"{tmp}/{t}.parquet", index=False)
            cols[f"seed {seed}"] = profile(tmp, HEADLINE)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    names = list(cols)
    print("| property | " + " | ".join(names) + " |")
    print("| --- |" + " --- |" * len(names))
    for key in cols["real"]:
        cells = [f"{cols[n][key]:.3f}".rstrip("0").rstrip(".") for n in names]
        print(f"| {key} | " + " | ".join(cells) + " |")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
