"""Surgical decomposition of the FUSED pipeline's Stage E at the 64M-turn
size, where the 2->8 pair measures 0.687 overall and stage attribution
blames E (eff 0.53) and D (0.79) — see scaling_2v8_fused_flat_64M.md and
profile_2v8_64M.md (every stage scales >= 0.94 in ISOLATION, so the gap is
a composition effect).

This probe rebuilds the exact fused state (A -> B -> C persist -> driver CC,
same plans as pipeline.Pipeline with checkpoints=False), then times E's
sub-plans separately at pinned local[2] and local[8], FLAT 8g heap (the
primary evidence mode):

  cache_scan   linked.count() — InMemoryTableScan throughput of the
               persisted Stage-C blocks (memory + spilled-to-disk parts)
  joins        + the two broadcast cc-label joins and coalesce projection
  dedup_sq /   + part_key column, repartition(N, part_key), distinct()
  dedup_128    for N = min(128, 2*cores) (status quo) and N = 128
               (bounded per-task aggregate state at any level)
  write_sq /   the full E including the partitionBy(part_key) parquet sink
  write_128    for the same two N — write_sq should reproduce the fused
               run's E_triples wall (validates the decomposition)

then re-runs the C boundary with a DISK_ONLY persist (hypothesis: at 64M
the deserialized-to-heap cache spills anyway and its resident remainder
GC-taxes E's shuffle+write; DISK_ONLY frees the heap):

  rebuild_disk  re-materialize A->B->C under StorageLevel.DISK_ONLY
  cache_scan_disk / write_128_disk  the same probes against the disk cache

Single measured pass per probe (the JVM is warm from the build; the cache
state matches the real fused run, which also enters E right after D).
Raw per-level JSON is flushed to BENCH/profile_stageE_raw_local{N}.json
IMMEDIATELY after each level so a report-generation bug can't lose data
(it did once: level-dependent probe names -> KeyError after 60 minutes).

Usage: python BENCH/profile_stageE_64M.py [--turns 64000000] [--n 2 --n4 8]
STRICTLY sequential with any other Spark work (see run_scaling.py hygiene).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, shutil, sys, tempfile, time
sys.path.insert(0, {repo!r})
from kgpipe import canon, extract, link, pipeline, schemas
from kgpipe.session import get_spark
from pyspark import StorageLevel
from pyspark.sql import functions as F

cores = {cores}
corpus = {corpus!r}
spark = get_spark(
    "profileE",
    master=f"local[{{cores}}]",
    shuffle_partitions=2 * cores,
)
spark.sparkContext.setLogLevel("ERROR")
t = spark.read.schema(schemas.TRANSCRIPTS).parquet(corpus + "/transcripts.parquet")
e = spark.read.schema(schemas.ENTITY_DICT).parquet(corpus + "/entity_dict.parquet")

out = {{}}


def timed(name, fn):
    t0 = time.time()
    r = fn()
    out[name] = {{"wall_s": round(time.time() - t0, 2), "rows": r}}
    print(f"PROBE {{name}}: {{json.dumps(out[name])}}", file=sys.stderr)


# ---- fused prefix: A -> B -> C persist -> driver CC (same as Pipeline
# checkpoints=False: only C persists; D's actions materialize it) --------
a = pipeline.stage_ingest(t)
raw = extract.stage_extract(a, e)


def build_d(linked_df):
    t0 = time.time()
    rewritten, cc = canon.stage_canon(linked_df)
    return rewritten, round(time.time() - t0, 2)


linked = link.stage_link(raw, e).persist()
rewritten, w = build_d(linked)
out["build_D"] = {{"wall_s": w, "rows": None}}
print(f"PROBE build_D: {{json.dumps(out['build_D'])}}", file=sys.stderr)

timed("cache_scan", lambda: linked.count())
timed("joins", lambda: rewritten.count())

nt_sq = min(128, 2 * cores)
out["nt_sq"] = {{"wall_s": None, "rows": nt_sq}}


def dedup(nt):
    return (
        rewritten.withColumn("part_key", pipeline.part_key_col("subj"))
        .repartition(nt, "part_key")
        .distinct()
        .count()
    )


timed("dedup_sq", lambda: dedup(nt_sq))
timed("dedup_128", lambda: dedup(128))


def full_write(rw, nt):
    d = (
        rw.withColumn("part_key", pipeline.part_key_col("subj"))
        .repartition(nt, "part_key")
        .distinct()
        .withColumn("lineage_id", pipeline.lineage_col())
    )
    out_dir = tempfile.mkdtemp(prefix=f"profE_{{nt}}_")
    d.write.partitionBy("part_key").mode("overwrite").parquet(out_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    return None


timed("write_sq", lambda: full_write(rewritten, nt_sq))
timed("write_128", lambda: full_write(rewritten, 128))

# ---- DISK_ONLY C-boundary variant ---------------------------------------
linked.unpersist(blocking=True)
linked_disk = link.stage_link(raw, e).persist(StorageLevel.DISK_ONLY)
rewritten_disk, w = build_d(linked_disk)
out["rebuild_disk"] = {{"wall_s": w, "rows": None}}
print(f"PROBE rebuild_disk: {{json.dumps(out['rebuild_disk'])}}", file=sys.stderr)
timed("cache_scan_disk", lambda: linked_disk.count())
timed("write_128_disk", lambda: full_write(rewritten_disk, 128))

print("RESULT " + json.dumps({{"cores": cores, "jobs": out}}))
"""


def run_level(cores: int, corpus: str) -> dict:
    code = CHILD.format(repo=REPO, cores=cores, corpus=corpus)
    env = dict(os.environ)
    env["KGPIPE_DRIVER_MEM"] = "8g"  # flat mode: identical heap both levels
    out = subprocess.run(
        ["taskset", "-c", f"0-{cores - 1}", sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=10800,
        env=env,
    )
    for line in out.stderr.splitlines():
        if line.startswith("PROBE "):
            sys.stderr.write(line + "\n")
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            res = json.loads(line[len("RESULT "):])
            raw_path = os.path.join(
                REPO, "BENCH", f"profile_stageE_raw_local{cores}.json"
            )
            with open(raw_path, "w") as f:
                json.dump(res, f, indent=1)
            return res
    raise RuntimeError(f"no RESULT from local[{cores}]:\n{out.stderr[-3000:]}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--turns", type=int, default=64_000_000)
    ap.add_argument("--n", type=int, default=2)
    ap.add_argument("--n4", type=int, default=8)
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    from bench import corpus_parquet

    n_convs = max(200, args.turns // 70)
    corpus = corpus_parquet(n_convs)

    hi = run_level(args.n4, corpus)
    lo = run_level(args.n, corpus)

    ratio = args.n4 / args.n
    lines = [
        f"# Fused Stage-E decomposition, {args.n}->{args.n4} pair "
        f"(~{n_convs * 70:,} turns, flat 8g heap, single pass per probe)",
        "",
        f"sq task count: local[{args.n}] nt={lo['jobs'].get('nt_sq', {}).get('rows')}"
        f", local[{args.n4}] nt={hi['jobs'].get('nt_sq', {}).get('rows')}",
        "",
        f"| probe | local[{args.n}] s | local[{args.n4}] s | speedup | efficiency |",
        "| --- | --- | --- | --- | --- |",
    ]
    for name in lo["jobs"]:
        a = lo["jobs"][name].get("wall_s")
        b = hi["jobs"].get(name, {}).get("wall_s")
        if a and b:
            sp = a / b
            lines.append(f"| {name} | {a} | {b} | {sp:.2f}x | {sp / ratio:.3f} |")
    print(json.dumps({"corpus_turns_approx": n_convs * 70,
                      f"local{args.n}": lo, f"local{args.n4}": hi}))
    with open(os.path.join(REPO, "BENCH",
                           f"profile_stageE_{args.turns / 1_000_000:g}M.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
