"""Run one benchmark workload against the docarray_spark engine.

    python3 perfbench/run.py --workload docstore_1m --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}; with --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
The lines before it are a human-readable report: every op type's p50/p90
latency and median engine CPU time with its sample count, the error rate,
the host probe and the end-to-end metrics that are reported but not gated. The full
record of the run (and, traced, the span file) is written under
``.perfbench_out/`` in the checkout.

Exits 2 without a result line when the engine is not present in the
current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("docstore_1m", "store_crud", "entries_sf0.01")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: the smoke-test sizes (not comparable with full)")
    return ap.parse_args(argv)


def make_workload(name: str, bench, tiny: bool):
    if name == "docstore_1m":
        from pb.docstore import Docstore

        return Docstore(bench, n_docs=20_000, n_chunks=4) if tiny else Docstore(bench)
    if name == "store_crud":
        from pb.crud import Crud

        return Crud(bench, n_docs=1_000) if tiny else Crud(bench)
    from pb.entries import Entries

    return Entries(bench)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "docarray_spark"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        print("perfbench: run from the root of a docarray_spark checkout "
              "(docarray_spark/ and __spark_entry__.py not found)", file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    from pb import machine, report
    from pb import spans as sp
    from pb.harness import MASTER, Bench

    out_dir = os.path.join(root, ".perfbench_out")
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(work, exist_ok=True)
    facts = machine.host_facts()
    probe_before = machine.speed_probe()
    # set explicitly, well below the host's 15 GB: the 1M-doc cache needs
    # about 1 GB of heap, the others far less
    driver_memory = "3g" if args.workload == "docstore_1m" else "2g"
    bench = Bench(root, work, args.workload, args.seed, args.seconds, bool(args.trace),
                  driver_memory)
    phases = {}
    t_phase = time.perf_counter()

    def phase(name):
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = now - t_phase
        t_phase = now

    try:
        with machine.RssSampler(bench.engine_pid) as rss:
            bench.start_spark()
            phase("session")
            wl = make_workload(args.workload, bench, args.scale == "tiny")
            bench.warmup_job()
            phase("warmup_job")
            wl.setup()
            phase("setup")
            # the client builds its oracle while the engine warms up; both
            # are untimed
            oracle = threading.Thread(target=wl.prepare)
            oracle.start()
            try:
                bench.warmup(wl.warmup_ops())
            finally:
                oracle.join()
            phase("warmup")
            bench.loop(wl.next_pass)
            loop_end = time.time()
            phase("loop")
            wl.finish()
            rss.sample()
        probe_after = machine.speed_probe()
        if bench.trace:
            sc = bench.spark.sparkContext
            loop_span = sp.Span("pb-untraced", "untraced", bench.loop_start, loop_end)
            attribution, sql = sp.collect_and_attribute(sc, bench.tracer.spans + [loop_span])
            metrics = report.per_layer(bench, wl, attribution, sql)
            detail_extra = {"balance": report.balance(bench, attribution, metrics),
                            "unattributed": attribution["unattributed"]}
            span_file = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl")
            bench.tracer.write(span_file)
        else:
            reported = report.end_to_end(bench, wl, rss.peak)
            metrics = {k: v for k, v in reported.items() if k in report.GATED}
            detail_extra = {"reported": reported}
    finally:
        bench.stop_spark()
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(bench.ops)
    failed = sum(1 for r in bench.ops if not r.ok)
    wrong = [r.error for r in bench.ops if not r.ok]
    correct = failed == 0 and attempted > 0 and detail_extra.get("balance", {}).get("ok", True)
    ops = report.op_latency_summary(bench)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "master": MASTER,
        "driver_memory": driver_memory, "host": facts,
        "probe_before": probe_before, "probe_after": probe_after,
        "session_s": bench.session_s, "setup_reps_s": bench.setup_reps,
        "loop_wall_s": bench.loop_wall_s, "phases_s": phases, "ops": ops,
        "warmup_ops_s": {r.type: r.wall_s for r in bench._warm_ops}, "workload_extra": wl.extra(),
        "build_s": bench.pass_cost(wl.per_pass, "build_s", traced=False if bench.trace else None),
        "error_rate": failed / attempted if attempted else 1.0, "errors": wrong[:20],
        "metrics": metrics, **detail_extra,
    }
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)

    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"nproc={facts['nproc']} driver_memory={driver_memory} master={MASTER}")
    print(f"# probe before {probe_before} after {probe_after}")
    for t, s in sorted(ops.items()):
        print(f"# {t}_p50_ms {s['p50_ms']:.3f} ms  {t}_p90_ms {s['p90_ms']:.3f} ms  "
              f"{t}_cpu_ms {s['cpu_p50_ms']:.3f} ms  (n={s['n']}; "
              f"highest percentile with 10 samples beyond: {s['supported_percentile']})")
    for k, v in wl.extra().items():
        if v is not None:
            print(f"# {k} {v:.6g}")
    if detail["build_s"] is not None:
        print(f"# build_s {detail['build_s']:.6g} s  (the part of pass_s until the public calls return)")
    print(f"# error_rate {detail['error_rate']:.6g}  ({failed} of {attempted} ops failed or wrong)")
    for k, v in detail_extra.get("reported", metrics).items():
        print(f"# {k} {v['value']:.6g} {v['unit']}{'' if k in metrics else '  (not gated)'}")
    print(json.dumps({"correct": bool(correct), "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
