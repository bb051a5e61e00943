"""Checkpoint-mode Stage D / Stage E decomposition at the 16M-turn gate size.

Round-3 verdict: the production (ckpt, scaled-resources) 2->8 pair regressed
0.845 -> 0.723 with stage efficiencies B 0.83, C 0.72, D 0.53, E 0.56 — this
probe answers WHERE ckpt D and E lose their scaling, stage-isolated so a fix
can be attributed.

Protocol: one shared setup run (unpinned local[32]) materializes the
B/C/D parquet checkpoints on tmpfs; then per level (taskset-pinned fresh
JVM, scaled heap per run_scaling.py's scaled mode) the probes time
 - D phases from the C checkpoint: unlinked-distinct, blocking+CC, rewrite+write
 - E from the D checkpoint at the data-sized task count AND at a forced 128
Writes BENCH/profile_ckpt16M.md.

MEASUREMENT HYGIENE (BENCH/run_scaling.py): nothing else may run on the box.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SETUP = r"""
import sys, time
sys.path.insert(0, {repo!r})
from kgpipe import pipeline, schemas
from kgpipe.session import get_spark

spark = get_spark("ckptprobe_setup", master="local[32]", shuffle_partitions=64)
spark.sparkContext.setLogLevel("ERROR")
t = spark.read.schema(schemas.TRANSCRIPTS).parquet({corpus!r} + "/transcripts.parquet")
e = spark.read.schema(schemas.ENTITY_DICT).parquet({corpus!r} + "/entity_dict.parquet")
cfg = pipeline.PipelineConfig(work_dir={work!r}, input_fingerprint="ckptprobe",
                              checkpoints=True)
p = pipeline.Pipeline(cfg)
p.run(spark, t, e, stop_after="D")
print("SETUP_DONE")
"""

PROBE = r"""
import json, sys, time, tempfile
sys.path.insert(0, {repo!r})
import os as _os
from kgpipe import canon, io_tables, pipeline, rules
from kgpipe.session import get_spark
from pyspark.sql import functions as F

cores = {cores}
work = {work!r}
shm = f"/dev/shm/kgckptprobe_{{cores}}"
_os.makedirs(shm, exist_ok=True)
spark = get_spark("ckptprobe", master=f"local[{{cores}}]",
                  shuffle_partitions=2 * cores,
                  extra_conf={{"spark.local.dir": shm}})
spark.sparkContext.setLogLevel("ERROR")
res = {{}}

# warm the JVM (codegen, parquet reader, shuffle machinery) so the first
# timed probe isn't charged for session startup
linked = io_tables.read_stage(spark, work + "/C_link")
spark.range(2_000_000).selectExpr("sum(id)").collect()
linked.limit(100_000).groupBy("pred").count().collect()

# ---------------- Stage D from the C checkpoint --------------------------
t0 = time.time()
unl = canon.unlinked_surfaces(linked).persist()
n_unl = unl.count()
res["D_unlinked_distinct"] = {{"wall_s": round(time.time() - t0, 2), "rows": n_unl}}

t0 = time.time()
if n_unl <= canon.DRIVER_ALLPAIRS_MAX_SURFACES:
    comp = rules.cluster_surfaces([r["surface"] for r in unl.collect()])
    cc = spark.createDataFrame(comp[comp.duplicated("component", keep=False)],
                               canon.CC_SCHEMA)
    cc._kg_cc_small = True
    path = "driver_allpairs"
else:
    cc = canon.connected_components(canon.candidate_pairs(unl))
    path = "lsh"
n_cc = cc.count()
res["D_block_cc"] = {{"wall_s": round(time.time() - t0, 2), "rows": n_cc,
                      "path": path,
                      "cc_driver": bool(getattr(cc, "_kg_cc_small", False))}}

t0 = time.time()
hint = F.broadcast if getattr(cc, "_kg_cc_small", False) else (lambda df: df)
subj_cc = hint(cc.select(F.col("node").alias("_s_node"), F.col("component").alias("_s_comp")))
obj_cc = hint(cc.select(F.col("node").alias("_o_node"), F.col("component").alias("_o_comp")))
out = (
    linked.join(subj_cc, linked.subj_raw == F.col("_s_node"), "left")
    .join(obj_cc, linked.obj_raw == F.col("_o_node"), "left")
    .select(
        F.coalesce("subj_link", F.when(F.col("subj_kind") == "node", F.col("subj_raw")),
                   "_s_comp", "subj_raw").alias("subj"),
        "pred",
        F.coalesce("obj_link", F.when(F.col("obj_kind") == "node", F.col("obj_raw")),
                   "_o_comp", "obj_raw").alias("obj"),
        "conv_id", "turn_idx", "rule_id",
    )
)
ddir = tempfile.mkdtemp(prefix="probeD_", dir=shm)
io_tables.write_stage(out, ddir + "/D_canon", "D_canon", "probe")
cc.write.mode("overwrite").parquet(ddir + "/D_cc_labels")
res["D_rewrite_write"] = {{"wall_s": round(time.time() - t0, 2)}}

# ---------------- Stage E from the D checkpoint --------------------------
canoned = io_tables.read_stage(spark, work + "/D_canon")
d_rows = io_tables.read_manifest(work + "/D_canon")["rows"]
auto_tasks = pipeline.publish_task_count(d_rows, 128, spark.sparkContext.defaultParallelism)
# two alternating passes per variant, min taken — the first E execution
# pays one-off warmup (D parquet listing, shuffle codegen), which a single
# fixed-order pass would charge entirely to the first variant
walls = {{}}
for label, n_tasks in (("auto%d" % auto_tasks, auto_tasks), ("128", 128)) * 2:
    t0 = time.time()
    with_key = canoned.withColumn("part_key", pipeline.part_key_col("subj", 128)) \
        .repartition(n_tasks, "part_key")
    triples = with_key.distinct().withColumn("lineage_id", pipeline.lineage_col())
    edir = tempfile.mkdtemp(prefix="probeE_", dir=shm)
    io_tables.write_stage(triples, edir + "/E_triples", "E_triples", "probe",
                          partition_by=["part_key"])
    n = io_tables.read_manifest(edir + "/E_triples")["rows"]
    walls.setdefault(label, []).append(round(time.time() - t0, 2))
for label, ws in walls.items():
    res[f"E_publish_t{{label}}"] = {{"wall_s": min(ws), "all_walls": ws, "rows": n}}

print("RESULT " + json.dumps({{"cores": cores, "d_rows": d_rows, "probes": res}}))
"""


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--turns", type=int, default=16_000_000)
    ap.add_argument("--n", type=int, default=2)
    ap.add_argument("--n4", type=int, default=8)
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    from bench import corpus_parquet

    n_convs = max(200, args.turns // 70)
    corpus = corpus_parquet(n_convs)
    work = f"/dev/shm/kgckptprobe_setup_{n_convs}"

    if not os.path.exists(os.path.join(work, "D_canon", "_MANIFEST.json")):
        out = subprocess.run(
            [sys.executable, "-c", SETUP.format(repo=REPO, corpus=corpus, work=work)],
            capture_output=True, text=True, timeout=3600,
            env={**os.environ, "KGPIPE_DRIVER_MEM": "48g"},
        )
        if "SETUP_DONE" not in out.stdout:
            raise RuntimeError(f"setup failed:\n{out.stderr[-3000:]}")

    results = {}
    for cores in (args.n, args.n4):
        env = dict(os.environ)
        env["KGPIPE_DRIVER_MEM"] = f"{min(3 * cores, 48)}g"  # scaled protocol
        out = subprocess.run(
            ["taskset", "-c", f"0-{cores - 1}", sys.executable, "-c",
             PROBE.format(repo=REPO, cores=cores, work=work)],
            capture_output=True, text=True, timeout=3600, env=env,
        )
        for line in out.stdout.splitlines():
            if line.startswith("RESULT "):
                results[cores] = json.loads(line[len("RESULT "):])
                break
        else:
            raise RuntimeError(f"no RESULT at local[{cores}]:\n{out.stderr[-3000:]}")

    lo, hi = results[args.n], results[args.n4]
    ratio = args.n4 / args.n
    lines = [
        f"# Ckpt-mode Stage D/E decomposition, {args.n}->{args.n4} pair "
        f"(~{n_convs * 70:,} turns, scaled heap, tmpfs scratch, single pass per probe)",
        "",
        f"D rows (publish input): {lo['d_rows']:,}",
        "",
        "| probe | local[%d] s | local[%d] s | speedup | efficiency |" % (args.n, args.n4),
        "| --- | --- | --- | --- | --- |",
    ]
    for name in lo["probes"]:
        a = lo["probes"][name]["wall_s"]
        hname = name if name in hi["probes"] else next(
            (k for k in hi["probes"] if k.split("_t")[0] == name.split("_t")[0]
             and name.startswith("E_")), None)
        if hname is None:
            continue
        b = hi["probes"][hname]["wall_s"]
        sp = a / b if b else float("inf")
        lines.append(f"| {name} | {a} | {b} | {sp:.2f}x | {sp / ratio:.3f} |")
    lines += ["", "Raw: " + json.dumps(results, default=str)]
    with open(os.path.join(REPO, "BENCH", "profile_ckpt16M.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(json.dumps(results))
    return 0


if __name__ == "__main__":
    sys.exit(main())
