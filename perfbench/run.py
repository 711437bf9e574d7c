#!/usr/bin/env python3
"""tokencoder benchmark.

    python3 perfbench/run.py --workload bulk_roundtrip --seed 1 \\
        --seconds 30 --trace 0

``--workload all`` runs every workload, one after the other, each in its
own process (``orc_archive`` too, which BENCHMARK.json does not gate).
The last stdout line is one compact JSON object:

- ``--trace 0``: the end-to-end metrics (BENCHMARK.json ``end_to_end``);
- ``--trace 1``: the per-layer ledger (BENCHMARK.json ``per_layer``).

Per-rep records, labels and trace spans go to a sidecar file under
``perfbench/_results``.  Run it from the root of a checkout that holds
the program (``orc_rust_spark``); elsewhere it exits with status 2.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import env, stats  # noqa: E402

SETUP_REPS = 3


def _mbps_samples(reqs: list[dict]) -> list[float]:
    return [q["payload"] / (q["ms"] / 1e3) / 1e6 for q in reqs
            if q["ok"] and q["ms"] > 0]


def _setup(wl, seed: int, run_dir: str, spark, rep: int):
    """One set-up: Spark session, corpus, inputs, warm-up."""
    from perfbench import corpus as C
    from perfbench.workloads import Ctx
    if spark is not None:
        spark.stop()
    spark = env.start_spark(run_dir)
    spark.range(1).collect()
    data_dir = os.path.join(run_dir, f"setup-{rep}")
    env.clean(os.path.join(run_dir, f"setup-{rep - 1}"))
    corpus = C.generate(wl.spec, seed)
    input_dir = os.path.join(data_dir, "input")
    C.write_parquet(corpus, wl.spec, input_dir)
    ctx = Ctx(spark, data_dir, seed, corpus, input_dir)
    wl.prepare(ctx)
    warm = wl.warm(ctx)
    return spark, ctx, all(q["ok"] for q in warm), warm


def _loop(wl, ctx, seconds: float) -> list[dict]:
    """Closed loop for ``seconds`` with one client: a write, then
    ``wl.reads_per_write`` reads, and again.  Every request is kept
    with its external-CPU labels."""
    records = []
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        probe = env.CpuProbe()
        write = len(records) % (wl.reads_per_write + 1) == 0
        q = wl.write(ctx) if write else wl.read(ctx)
        q.update(probe.stop(), seq=len(records))
        records.append(q)
    return records


def _end_to_end(wl, ctx, setups, records, rss_mb) -> tuple[dict, dict, bool]:
    storage = wl.storage(ctx)
    writes = [q for q in records if q["kind"] == "write"]
    reads = [q for q in records if q["kind"] == "read"]
    read_ms = [q["ms"] for q in reads if q["ok"]]
    lat = stats.latency_summary(read_ms) if read_ms else None
    attempted = len(records)
    failed = sum(not q["ok"] for q in records)
    w, r = _mbps_samples(writes), _mbps_samples(reads)
    metrics = {
        "setup_s": stats.median(setups),
        "write_MBps": stats.median(w) if w else 0.0,
        "read_MBps": stats.median(r) if r else 0.0,
        "read_p50_ms": lat["p50"] if lat else 0.0,
        "read_tail_ms": lat["tail"] if lat else 0.0,
        "bytes_per_token": storage["stored"] / ctx.corpus.n_tokens,
        "size_vs_ref": storage["stored"] / storage["ref"],
        "success_rate": 1.0 - failed / max(attempted, 1),
        "peak_rss_MB": rss_mb,
    }
    detail = {
        "storage": storage,
        "read_latency": lat,
        "read_tail_percentile": stats.tail_label(lat["tail_pct"] if lat else None),
        "quartiles": {
            "setup_s": stats.quartiles(setups),
            "write_MBps": stats.quartiles(w) if w else None,
            "read_MBps": stats.quartiles(r) if r else None,
        },
        "attempted": attempted, "failed": failed,
    }
    ok = storage["stored_tokens"] == ctx.corpus.n_tokens and failed == 0
    return metrics, detail, ok


def run_one(args, run_dir: str) -> tuple[str, dict]:
    from perfbench.workloads import WORKLOADS
    wl = WORKLOADS[args.workload]
    env.prepare_process_env(run_dir)
    probe_ms = [env.cpu_probe_ms()]
    spark = None
    sidecar: dict = {"workload": wl.name, "seed": args.seed,
                     "seconds": args.seconds, "trace": args.trace,
                     "host": {"cores": env.host_cores(),
                              "ram_bytes": env.host_ram_bytes(),
                              "spark_cores": env.spark_cores(),
                              "driver_memory": env.driver_memory()},
                     "versions": env.versions()}
    try:
        setups, warm_ok = [], True
        for rep in range(1 if args.trace else SETUP_REPS):
            t0 = time.perf_counter()
            spark, ctx, ok, warm = _setup(wl, args.seed, run_dir, spark, rep)
            setups.append(time.perf_counter() - t0)
            warm_ok &= ok
            sidecar.setdefault("warmup", []).append(warm)
        sidecar["setup_s"] = setups
        sidecar["labels"] = {"arrow": env.arrow_settings(spark),
                             **sidecar["versions"],
                             "cpu_probe_ms": probe_ms}
        if args.trace:
            metrics, ok = _traced(wl, ctx, args.seconds, sidecar)
            attempted = sidecar["attempted"]
            failed = sidecar["failed"]
        else:
            with env.WorkerRss(env.jvm_pid(spark)) as rss:
                records = _loop(wl, ctx, args.seconds)
            sidecar["requests"] = records
            sidecar["worker_hwm_bytes"] = rss.by_pid
            metrics, detail, ok = _end_to_end(wl, ctx, setups, records,
                                              rss.peak_mb)
            sidecar.update(detail)
            attempted, failed = detail["attempted"], detail["failed"]
        correct = ok and warm_ok
        probe_ms.append(env.cpu_probe_ms())
    finally:
        env.shutdown_spark()
    spec = _load_spec()
    metrics = _with_units(metrics, spec["per_layer" if args.trace
                                        else "end_to_end"])
    sidecar["metrics"] = metrics
    return stats.result_line(correct, attempted, failed, metrics), sidecar


def _traced(wl, ctx, seconds: float, sidecar: dict) -> tuple[dict, bool]:
    """Per-layer run: untraced then traced halves of the loop (their
    ratio is the tracing overhead), then the ledger probes."""
    from perfbench import ledger
    from perfbench.trace import Tracer
    spark = ctx.spark
    plain = _loop(wl, ctx, seconds / 2)
    tracer = Tracer()
    ctx.tracer = tracer
    group = "perfbench-loop"
    spark.sparkContext.setJobGroup(group, "traced loop")
    jvm = env.jvm_pid(spark)
    run0, gc0 = ledger.executor_totals(spark)
    cpu0 = env.jvm_and_python_ticks(jvm)
    with tracer.span("loop") as root:
        traced = _loop(wl, ctx, seconds / 2)
    cpu1 = env.jvm_and_python_ticks(jvm)
    run1, gc1 = ledger.executor_totals(spark)
    spark.sparkContext.setJobGroup("perfbench-ledger", "ledger")
    ctx.tracer = None
    n_req = len(traced)
    layer, ledger_ok = ledger.measure(ctx, tracer)
    records = plain + traced
    build = [s["end"] - s["start"] for s in tracer.spans
             if s["name"] == "plans.build_df" and s["end"] is not None]
    metrics = dict(layer)
    metrics.update({
        "plans.build_ms": stats.median(build) * 1e3 if build else 0.0,
        "spark.task_skew": ledger.task_skew(spark, group),
        "spark.executor_run_s": (run1 - run0) / max(n_req, 1),
        "spark.jvm_gc_s": (gc1 - gc0) / max(n_req, 1),
        "spark.jvm_cpu_s": env.ticks_to_s(cpu1[0] - cpu0[0]) / max(n_req, 1),
        "spark.python_cpu_s": (env.ticks_to_s(cpu1[1] - cpu0[1])
                               / max(n_req, 1)),
        "trace.span_coverage": tracer.coverage(root["id"]),
        "trace.overhead": _overhead(plain, traced),
    })
    selfs = tracer.self_times(root["id"])
    for name in ("plans", "spark", "bench"):
        metrics[f"{name}.loop_self_s"] = selfs.get(name, 0.0) / max(n_req, 1)
    sidecar["requests"] = records
    sidecar["trace"] = tracer.dump()
    sidecar["attempted"] = len(records)
    sidecar["failed"] = sum(not q["ok"] for q in records)
    return metrics, ledger_ok and sidecar["failed"] == 0


def _overhead(plain: list[dict], traced: list[dict]) -> float:
    """Traced over untraced median latency of reads (of writes when a
    short half-loop holds no read; each half-loop starts with one)."""
    for kind in ("read", "write"):
        a, b = ([q["ms"] for q in recs if q["kind"] == kind and q["ok"]]
                for recs in (plain, traced))
        if a and b:
            return stats.median(b) / stats.median(a)
    raise RuntimeError("no request succeeded in both half-loops")


def _load_spec() -> dict:
    with open(os.path.join(env.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _with_units(values: dict, entries: list[dict]) -> dict:
    """Every metric BENCHMARK.json declares, in its order, with its unit."""
    return {m["name"]: (values[m["name"]], m["unit"]) for m in entries}


def run_all(args) -> int:
    """Every workload from one seed; a combined compact summary line."""
    from perfbench.workloads import WORKLOADS
    summary, all_ok = {}, True
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(f"{name}: exit {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        res = json.loads(lines[-1])
        all_ok &= res["correct"]
        summary[name] = {k: f"{v['value']:.4g} {v['unit']}"
                         for k, v in res["metrics"].items()}
        summary[name]["failed/attempted"] = f"{res['failed']}/{res['attempted']}"
    print(json.dumps({"correct": all_ok, "seed": args.seed,
                      "workloads": summary}, separators=(",", ":")))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a SIGTERM unwinds like an exception, so every `finally` that ends
    # Spark and its workers still runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not env.program_present():
        print("perfbench: the program (orc_rust_spark) is not in this "
              f"checkout ({env.ROOT})", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)} or all", file=sys.stderr)
        return 2
    run_dir = os.path.join(env.WORK, f"{args.workload}-{os.getpid()}")
    try:
        line, sidecar = run_one(args, run_dir)
    finally:
        env.clean(run_dir)
    os.makedirs(env.RESULTS, exist_ok=True)
    side = os.path.join(env.RESULTS, f"{args.workload}-seed{args.seed}"
                        f"-trace{args.trace}.json")
    with open(side, "w") as f:
        json.dump(sidecar, f, default=str)
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
