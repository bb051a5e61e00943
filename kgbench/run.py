"""kgbench: the kgpipe benchmark.

Usage (from the repository root):

    python3 kgbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One process runs one workload on a fresh Spark session (``local[4]``,
shuffle partitions 2x cores, as ``kgpipe.session.get_spark`` sets them) as
a closed loop with one client: each iteration is one complete unit of work,
and the next starts only after the previous one has finished and its work
dir is deleted. Inputs come from ``--seed`` and are cached per (workload,
seed) under ``.kgbench/``; every iteration's output is checked against the
pandas / DuckDB oracles. The last line of stdout is the result object; the
line before it carries the raw samples. See kgbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".kgbench"
CORES = 4
# Both workloads iterate in about 4-5 s on a 4-core machine. A run measures a
# fixed number of iterations derived from --seconds, so every run samples
# the same stretch of the JIT warm-up curve (see README.md).
NOMINAL_ITERATION_S = 5.0

WORKLOADS = {
    # ~56k turns: n_convs = 50_000 // 70 at synth's ~70-80 turns per conv
    "fused-50k": {"kind": "pipeline", "n_convs": 50_000 // 70},
    "registry-sf0.01": {"kind": "registry", "scale": 0.01},
}

END_TO_END = {"run_s": "s", "setup_s": "s"}

REGISTRY_MODULES = ("relational", "dedup", "ann", "textstats")
EVENTLOG_METRICS = {
    "task_cpu_s": "s",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "gc_s": "s",
    "tasks": "count",
}


def per_layer_units(headline: list[str]) -> dict[str, str]:
    """Every per-layer metric, in report order, with its unit."""
    units = {
        "setup.session_s": "s",
        "setup.warmup_s": "s",
        "pipeline.triples_per_s": "1/s",
        "pipeline.work_bytes_per_triple": "bytes",
        "ingest.s": "s",
        "ingest.rows_in": "count",
        "ingest.rows_dropped": "count",
        "extract.s": "s",
        "extract.rows_out": "count",
        "extract.triples_per_turn": "ratio",
        "extract.python_s": "s",
        "extract.python_bytes": "bytes",
        "link.s": "s",
        "link.linked_ratio": "ratio",
        "canon.s": "s",
        "canon.unlinked_surfaces": "count",
        "canon.components": "count",
        "canon.jobs": "count",
        "publish.s": "s",
        "publish.rows_in": "count",
        "publish.rows_out": "count",
        "publish.write_tasks": "count",
        "publish.expected_write_tasks": "count",
        "publish.files": "count",
        "io_tables.read_s": "s",
        "io_tables.bytes_written": "bytes",
    }
    for layer in ("ingest", "extract", "link", "canon", "publish"):
        for m, u in EVENTLOG_METRICS.items():
            units[f"{layer}.{m}"] = u
    for q in headline:
        units[f"registry.{q}.s"] = "s"
    for mod in REGISTRY_MODULES:
        units[f"{mod}.s"] = "s"
    units["trace.overhead_s"] = "s"
    return units


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# pipeline workload
# ---------------------------------------------------------------------------


class PipelineWorkload:
    """Iteration = one fused ``Pipeline.run`` (in-memory stage boundaries,
    the throughput configuration) from the call to the counted output."""

    def __init__(self, spark, name: str, seed: int, inp: dict, work_root: str):
        from kgpipe import schemas

        self.spark = spark
        self.fingerprint = f"{name}-{seed}"
        self.inp = inp
        self.work_root = work_root
        self.transcripts = spark.read.schema(schemas.TRANSCRIPTS).parquet(
            f"{inp['dir']}/transcripts.parquet")
        self.entity_dict = spark.read.schema(schemas.ENTITY_DICT).parquet(
            f"{inp['dir']}/entity_dict.parquet")

    def iteration(self, tracer=None) -> dict:
        from inputs import TRIPLE_COLS, triple_digest
        from kgpipe import pipeline
        from spans import dir_bytes

        work = tempfile.mkdtemp(prefix="iter-", dir=self.work_root)
        cfg = pipeline.PipelineConfig(
            work_dir=work, input_fingerprint=self.fingerprint, checkpoints=False)
        prev_group = tracer.group("pipeline") if tracer else None
        try:
            t0 = time.perf_counter()
            out = pipeline.Pipeline(cfg).run(self.spark, self.transcripts, self.entity_dict)
            triples = out.count()
            run_s = time.perf_counter() - t0
            work_bytes = dir_bytes(work)

            def rows():
                return out.select(*TRIPLE_COLS).toPandas()

            digest, n = triple_digest(tracer.extra_job(rows) if tracer else rows())
        finally:
            if tracer:
                tracer.group(prev_group)
                tracer.release()
            self.spark.catalog.clearCache()
            shutil.rmtree(work, ignore_errors=True)
        ok = (digest == self.inp["digest"]
              and n == triples == self.inp["distinct_triples"])
        return {
            "run_s": run_s,
            "triples": triples,
            "work_bytes": work_bytes,
            "failed": 0 if ok else 1,
            "attempted": 1,
        }


# ---------------------------------------------------------------------------
# registry workload
# ---------------------------------------------------------------------------


class RegistryWorkload:
    """Iteration = the 15 bench.py HEADLINE queries back to back, each forced
    by a ``noop`` write through an ``observe`` node that counts the rows and
    sums a 64-bit hash of each row. The count is checked against DuckDB and
    the hash against the value the query gave in set-up, when its collected
    result was compared with DuckDB value by value. Each query's DataFrame
    is built once in set-up (file listing, schema, analysis); an iteration
    times optimisation, planning and execution."""

    def __init__(self, spark, inp: dict, headline: list[str]):
        import __spark_entry__ as entry

        self.spark = spark
        self.inp = inp
        queries = entry.queries()
        self.frames = {q: queries[q](spark, inp["dir"]) for q in headline}
        self.layers = {q: queries[q].__module__.rsplit(".", 1)[-1] for q in headline}
        self.ref: dict[str, tuple[int, str]] = {}

    def _observed(self, q: str):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        df = self.frames[q]
        obs = Observation()
        df = df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
        )
        return df, obs

    def verify(self) -> dict:
        """Set-up pass: collect each query's result through the same
        ``observe`` node, compare the rows with DuckDB, and keep the
        observed row count and hash as the reference."""
        from inputs import frame_digest

        failed = 0
        for q in self.frames:
            want = self.inp["queries"][q]
            try:
                df, obs = self._observed(q)
                rows, digest = frame_digest(df.toPandas())
                m = obs.get
            except Exception:
                traceback.print_exc()
                failed += 1
                continue
            if (rows, digest) != (want["rows"], want["digest"]) or m["n"] != rows:
                print(f"kgbench: {q} differs from the DuckDB oracle", file=sys.stderr)
                failed += 1
                continue
            self.ref[q] = (m["n"], str(m["h"]))
        return {"failed": failed, "attempted": len(self.frames)}

    def iteration(self, tracer=None) -> dict:
        times: dict[str, float] = {}
        failed = 0
        for q in self.frames:

            def run_query():
                df, obs = self._observed(q)
                df.write.format("noop").mode("overwrite").save()
                return obs

            try:
                t0 = time.perf_counter()
                obs = (tracer.span(f"registry.{q}", self.layers[q], run_query)
                       if tracer else run_query())
                times[q] = time.perf_counter() - t0
                m = obs.get
                if (m["n"], str(m["h"])) != self.ref.get(q):
                    print(f"kgbench: {q} result changed", file=sys.stderr)
                    failed += 1
            except Exception:
                traceback.print_exc()
                failed += 1
        self.spark.catalog.clearCache()
        return {
            "run_s": sum(times.values()),
            "query_s": times,
            "failed": failed,
            "attempted": len(self.frames),
        }


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def measure(workload, n: int, tracer=None) -> list[dict]:
    """Closed loop of n iterations."""
    recs = []
    for i in range(n):
        if tracer:
            tracer.iteration = i
        recs.append(workload.iteration(tracer))
    return recs


def per_layer(spec: dict, units: dict, setup: dict, untraced: list[dict],
              traced: list[dict], tracer, events: dict) -> dict[str, float]:
    vals = dict.fromkeys(units, 0.0)
    vals["setup.session_s"] = setup["session_s"]
    vals["setup.warmup_s"] = setup["warmup_s"]
    vals["trace.overhead_s"] = (
        median([r["run_s"] for r in traced]) - median([r["run_s"] for r in untraced]))
    n_iter = len(traced)
    secs = [tracer.layer_seconds(i) for i in range(n_iter)]

    def layer_s(layer: str) -> float:
        return median([s.get(layer, 0.0) for s in secs])

    if spec["kind"] == "registry":
        for q in traced[0]["query_s"]:
            vals[f"registry.{q}.s"] = median([r["query_s"].get(q, 0.0) for r in traced])
        for mod in REGISTRY_MODULES:
            vals[f"{mod}.s"] = layer_s(mod)
        return vals

    def count(key: str) -> float:
        return median([tracer.counts[i].get(key, 0.0) for i in range(n_iter)])

    triples = traced[0]["triples"]
    vals.update({
        "pipeline.triples_per_s": triples / median([r["run_s"] for r in traced]),
        "pipeline.work_bytes_per_triple": median([r["work_bytes"] for r in traced]) / triples,
        "ingest.s": layer_s("ingest"),
        "extract.s": layer_s("extract"),
        "link.s": layer_s("link"),
        "canon.s": layer_s("canon"),
        "publish.s": layer_s("publish"),
        "io_tables.read_s": layer_s("io_tables.read"),
    })
    for key in ("ingest.rows_in", "ingest.rows_dropped", "extract.rows_out",
                "canon.unlinked_surfaces", "canon.components", "publish.rows_in",
                "publish.rows_out", "publish.files", "publish.expected_write_tasks",
                "io_tables.bytes_written"):
        vals[key] = count(key)
    rows_out = count("ingest.rows_out")
    vals["extract.triples_per_turn"] = vals["extract.rows_out"] / rows_out if rows_out else 0.0
    slots = count("link.surface_slots")
    vals["link.linked_ratio"] = count("link.linked_slots") / slots if slots else 0.0
    for layer in ("ingest", "extract", "link", "canon", "publish"):
        ev = events.get(layer, {})
        for m in EVENTLOG_METRICS:
            vals[f"{layer}.{m}"] = ev.get(m, 0.0) / n_iter
    vals["extract.python_s"] = events.get("extract", {}).get("python_s", 0.0) / n_iter
    vals["extract.python_bytes"] = events.get("extract", {}).get("python_bytes", 0.0) / n_iter
    vals["canon.jobs"] = events.get("canon", {}).get("jobs", 0.0) / n_iter
    vals["publish.write_tasks"] = events.get("publish", {}).get("last_stage_tasks", 0.0)
    return vals


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = WORKLOADS[args.workload]

    if not (ROOT / "kgpipe" / "__init__.py").is_file():
        print(f"kgbench: no kgpipe package under {ROOT}", file=sys.stderr)
        return 2
    run_dir = OUT / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        return run(args, spec, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, spec: dict, run_dir: Path) -> int:
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    # the engine reads these at call time to force a plan or a setting; the
    # benchmark measures the defaults
    for var in [v for v in os.environ if v.startswith("KGPIPE_") or v == "SPARK_GRAFT_CPUS"]:
        del os.environ[var]
    # everything the run writes stays under the checkout: Python temp files,
    # Spark's local dirs and the JVMs' temp dirs (no hsperfdata in /tmp)
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(Path(__file__).resolve().parent))

    from bench import HEADLINE
    from inputs import pipeline_inputs, registry_inputs
    from kgpipe.session import get_spark

    cache = str(OUT / "inputs")
    if spec["kind"] == "pipeline":
        inp = pipeline_inputs(cache, args.workload, spec["n_convs"], args.seed)
    else:
        inp = registry_inputs(cache, args.workload, spec["scale"], args.seed, HEADLINE)

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(tmp),
        "spark.driver.extraJavaOptions": jvm_opts,
    }
    eventlog = run_dir / "eventlog"
    if args.trace:
        eventlog.mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": eventlog.as_uri(),
            "spark.eventLog.compress": "false",
        })
    attempted = failed = 0
    t0 = time.perf_counter()
    spark = get_spark(f"kgbench-{args.workload}", master=f"local[{CORES}]", cores=CORES,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        t1 = time.perf_counter()
        if spec["kind"] == "pipeline":
            work_root = str(run_dir / "work")
            os.makedirs(work_root)
            workload = PipelineWorkload(spark, args.workload, args.seed, inp, work_root)
            # the first iteration in a fresh JVM pays class loading, code
            # generation and Python-worker start
            warm = [workload.iteration()]
        else:
            # the verification pass is the cold pass
            workload = RegistryWorkload(spark, inp, HEADLINE)
            warm = [workload.verify()]
        # the iteration right after the cold pass is still far off the
        # JIT's settled speed and varies most from run to run
        warm.append(workload.iteration())
        for r in warm:
            attempted += r["attempted"]
            failed += r["failed"]
        setup = {"session_s": session_s, "warmup_s": time.perf_counter() - t1}

        from spans import Tracer, eventlog_by_group

        tracer = None
        if args.trace:
            # one JVM gives both halves, so trace.overhead_s compares like with like
            half = max(1, int(args.seconds / 2 // NOMINAL_ITERATION_S))
            untraced = measure(workload, half)
            tracer = Tracer(spark, inp.get("turns"))
            if spec["kind"] == "pipeline":
                tracer.install_pipeline()
            try:
                recs = measure(workload, half, tracer)
            finally:
                tracer.unpatch()
        else:
            untraced = recs = measure(
                workload, max(2, int(args.seconds // NOMINAL_ITERATION_S)))
        for r in recs if not args.trace else untraced + recs:
            attempted += r["attempted"]
            failed += r["failed"]
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss_mb = (vm_hwm_kb(jvm_pid) + vm_hwm_kb("self")) / 1024
    finally:
        stop_spark(spark)

    run_s = [r["run_s"] for r in recs]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "samples": len(run_s),
        "run_s": run_s,
        "setup": setup,
        "inputs": {k: v for k, v in inp.items() if k not in ("dir", "queries")},
        "error_rate": failed / attempted,
        "peak_rss_mb": peak_rss_mb,
    }
    if spec["kind"] == "pipeline" and args.trace:
        from kgpipe import canon

        # canon takes the MinHash-LSH path above this many unlinked surfaces
        detail["canon_driver_allpairs_max_surfaces"] = canon.DRIVER_ALLPAIRS_MAX_SURFACES
    if spec["kind"] == "pipeline":
        detail["triples_per_s"] = [r["triples"] / r["run_s"] for r in recs]
        detail["work_bytes_per_triple"] = [r["work_bytes"] / r["triples"] for r in recs]
    if args.trace:
        units = per_layer_units(HEADLINE)
        vals = per_layer(spec, units, setup, untraced, recs, tracer,
                         eventlog_by_group(str(eventlog)))
        metrics = {k: {"value": vals[k], "unit": u} for k, u in units.items()}
        trace_dir = OUT / "traces"
        trace_dir.mkdir(exist_ok=True)
        tracer.dump(str(trace_dir / f"{args.workload}-{args.seed}.json"))
    else:
        vals = {
            "run_s": median(run_s),
            "setup_s": setup["session_s"] + setup["warmup_s"],
        }
        metrics = {k: {"value": vals[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
