"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload catalog_churn --seed 7 \\
        --seconds 20 --trace 0

Run from the root of a checkout of the repository.  The benchmark
generates its inputs from ``--seed``, sets up, runs the workload's
closed loop over a fixed sequence of ops (``--seconds`` sets how many
rounds of it, from each workload's nominal round length, never the
clock), checks the outputs and prints, as the last line of standard
output, one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` spans are recorded around every
call into the program and the metrics are the per-layer ones, with the
self-time report on the lines before.  The line before the result holds
the detail: per-op-kind latencies with sample counts, host telemetry
and workload figures.  The exit code is 0 only when every check passed.

Spark runs on ``local[nproc]``.  Everything the run writes goes under
``.perfbench/`` in the checkout; the work directory is removed at the
end, span dumps stay in ``.perfbench/out``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import random
import shutil
import statistics
import sys
import time

import analytics
import harness
import host
import tracing

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# workload -> (module, class); see README.md for why each is here
WORKLOADS = {
    "catalog_churn": ("catalog", "Churn"),
    "corpus_dedup": ("corpus", "Dedup"),
}
SIZES = ("normal", "tiny")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=SIZES, default="normal",
                   help="input sizes; 'tiny' is for the self-test")
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file Spark and Python write inside the work directory,
    and size the driver for a shared machine."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        f"--driver-java-options -Djava.io.tmpdir={os.path.join(work, 'tmp')} "
        "pyspark-shell")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "dlx_spark", "__init__.py")):
        print("perfbench: no dlx_spark package next to perfbench/; run from "
              "the root of a repository checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(ROOT, ".perfbench", "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    isolate(work)
    module = importlib.import_module(WORKLOADS[args.workload][0])
    cores = host.usable_cores()
    tele = host.Telemetry(cores)
    spark = None
    try:
        t0 = time.perf_counter()
        from dlx_spark.session import get_spark
        spark = get_spark("perfbench", cpus=cores)
        spark.sparkContext.setLogLevel("ERROR")
        t_session = time.perf_counter()
        tracer = tracing.Tracer(spark, bool(args.trace))
        tracer.add("session.start", "session", t0, t_session)
        run = harness.Run(spark, tracer, args.seconds,
                          random.Random(args.seed), work, args.size)
        with tracer.span("setup", "bench"):
            wl = getattr(module, WORKLOADS[args.workload][1])(run)
            wl.setup()
        setup_s = time.perf_counter() - t0
        tele.mark("before_timed")
        disk0 = wl.disk()
        with tracer.span("timed", "bench") as root:
            run.start_clock()
            wl.timed()
            run.stop_clock()
        tele.mark("after_timed")
        disk1 = wl.disk()
        figures = wl.figures()
        e2e = {
            "setup_s": (setup_s, "s"),
            "ops_per_s": (sum(map(len, run.lat.values())) / run.elapsed,
                          "1/s"),
            "read_p50_s": (median(run.lat, "read"), "s"),
            "write_p50_s": (median(run.lat, "write"), "s"),
            "rows_per_s": (figures["rows_per_s"], "rows/s"),
            "space_amp": (figures["space_amp"], "ratio"),
            "peak_rss_mb": (host.peak_rss_mb(
                spark.sparkContext._gateway.proc.pid), "MB"),
        }
        detail_e2e = {k: v for k, (v, _) in e2e.items()}
        layer = {}
        if args.trace:
            layer = layer_metrics(spark, tracer, root, wl, disk0, disk1, cores)
            print(tracing.report(tracer))
            tracer.dump(os.path.join(
                out_dir, f"spans-{args.workload}-{args.seed}.json"))
    finally:
        if spark is not None:
            host.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    detail = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "size": args.size,
              "elapsed_s": run.elapsed, "ops": run.summary(),
              "host": tele.info, "figures": figures,
              "e2e": detail_e2e, "mismatches": run.mismatches[:20]}
    print(json.dumps({"detail": detail}))
    metrics = layer if args.trace else e2e
    print(json.dumps({
        "correct": run.correct, "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0 if run.correct else 1


def _role(lat: dict, role: str) -> list[float]:
    if not lat[role]:
        raise RuntimeError(f"the timed phase made no {role} op")
    return lat[role]


def median(lat: dict, role: str) -> float:
    return statistics.median(_role(lat, role))


def layer_metrics(spark, tracer, root, wl, disk0, disk1, cores) -> dict:
    """The per-layer metrics of BENCHMARK.json, for either workload: a
    layer the workload does not call reads 0."""
    probes = wl.probes()   # first, so their spans count in the self times
    med = tracer.median
    timed = tracing.total(tracer.spans, root)
    wall = root["end"] - root["start"]
    selfs = tracer.self_times()
    out = {
        "session.start_s": (med("session.start"), "s"),
        "query.construct_s": (med("query.construct"), "s"),
        "query.execute_s": (med("query.execute"), "s"),
        "store.search.jobs": (med("search", "jobs"), "count"),
        "store.search.input_bytes": (med("search", "input_bytes"), "B"),
        "store.get.s": (med("store.get"), "s"),
        "store.get.jobs": (med("store.get", "jobs"), "count"),
        "store.commit.s": (med("store.commit"), "s"),
        "store.commit.jobs": (med("store.commit", "jobs"), "count"),
        "store.commit_frame.s": (med("store.commit_frame"), "s"),
        "store.commit_frame.jobs": (med("store.commit_frame", "jobs"), "count"),
        "store.commit_frame.task_s": (med("store.commit_frame", "task_s"), "s"),
        "store.commit_frame.shuffle_bytes": (
            med("store.commit_frame", "shuffle_write_bytes"), "B"),
        "store.propagate.s": (med("store.propagate"), "s"),
        "store.propagate.jobs": (med("store.propagate", "jobs"), "count"),
        "tableio.bytes_written": (disk1[0] - disk0[0], "B"),
        "tableio.files_written": (disk1[1] - disk0[1], "count"),
        "index.filter_new_s": (med("index.filter_new"), "s"),
        "index.dedup_batch.jobs": (med("index.dedup_batch", "jobs"), "count"),
        "index.compact_s": (med("index.compact"), "s"),
        "spark.jobs": (timed["jobs"], "count"),
        "spark.tasks": (timed["tasks"], "count"),
        "spark.task_s": (timed["task_s"], "s"),
        "spark.core_util": (timed["task_s"] / (wall * cores), "ratio"),
        "spark.shuffle_read_bytes": (timed["shuffle_read_bytes"], "B"),
        "spark.shuffle_write_bytes": (timed["shuffle_write_bytes"], "B"),
        "spark.spill_bytes": (timed["spill_bytes"], "B"),
        "spark.cached_relations": (
            spark.sparkContext._jsc.sc().getPersistentRDDs().size(), "count"),
        "trace.readback_s": (tracer.cost_s, "s"),
    }
    for key, layer in SELF_LAYERS.items():
        out[f"self.{key}_s"] = (selfs.get(layer, {}).get("self_s", 0.0), "s")
    out.update(PROBES)
    out.update(probes)
    return out


# layer probes and on-disk figures one workload measures; the other
# reads 0 (the layer does no work there)
PROBES = {
    "marc_io.parse_rps": (0.0, "rows/s"),
    "dataframe.derive_s": (0.0, "s"),
    "store.keyset.s": (0.0, "s"),
    "tableio.segments": (0, "count"),
    "tableio.auto_compactions": (0, "count"),
    "dedup.signature_dps": (0.0, "docs/s"),
    "index.probe_s": (0.0, "s"),
    "index.links_per_doc": (0.0, "ratio"),
    "index.files": (0, "count"),
}
for _q in analytics.QUERIES:
    PROBES.update({f"contract.{_q}.s": (0.0, "s"),
                   f"contract.{_q}.construct_s": (0.0, "s"),
                   f"contract.{_q}.jobs": (0, "count"),
                   f"contract.{_q}.shuffle_bytes": (0, "B")})


# per_layer self-time metric name -> span layer
SELF_LAYERS = {
    "session": "session",
    "marc_io": "sources.marc_io",
    "query": "marc.query",
    "store_read": "marc.store.read",
    "store_write": "marc.store.write",
    "dedup_index": "operators.dedup_index",
    "contract": "contract",
    "bench": "bench",
}


if __name__ == "__main__":
    sys.exit(main())
