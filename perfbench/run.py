"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_refresh --seed 1 --seconds 10 --trace 0

One invocation runs one workload in a fresh process.  The last stdout
line is the result object ``{correct, attempted, failed, metrics}``; the
line before it is a report with the workload's named metrics, input
sizes, environment and (traced) the per-layer counters and the tracing
overhead.  See perfbench/README.md for the workloads and every metric.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_START = time.time()  # process start, for setup_s
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402

# End-to-end metrics every workload reports (BENCHMARK.json end_to_end).
GENERIC = {
    "setup_s": "s",
    "op_wall_s_p50": "s",
    "op_cpu_s_p50": "s",
    "peak_rss_mb": "MB",
    "bytes_per_row": "B",
    "result_quality": "share",
}

# Spans whose counters are reported, with the workload and the
# end-to-end metric each should move.
SPANS = {
    "session.get_spark": ("all", "setup_s"),
    "session.first_job": ("all", "setup_s"),
    "sources.retrieve": ("etl_refresh", "op_wall_s_p50, op_cpu_s_p50"),
    "pipelines.transform": ("etl_refresh", "op_wall_s_p50, op_cpu_s_p50"),
    "pipelines.load": ("etl_refresh", "op_wall_s_p50, op_cpu_s_p50"),
    "database.build_star": ("etl_refresh", "op_wall_s_p50, op_cpu_s_p50"),
    "text.quality_filter": ("corpus_dedup", "op_wall_s_p50, op_cpu_s_p50"),
    "dedup.exact": ("corpus_dedup", "op_wall_s_p50, op_cpu_s_p50"),
    "dedup.lsh_pairs": ("corpus_dedup", "op_wall_s_p50, op_cpu_s_p50"),
    "dedup.components": ("corpus_dedup", "op_wall_s_p50, op_cpu_s_p50"),
    "dedup.survivors_write": ("corpus_dedup", "op_wall_s_p50, op_cpu_s_p50"),
}
COUNTERS = {
    "wall_s": "s", "self_s": "s", "jobs": "count", "tasks": "count",
    "task_busy_s": "s", "driver_s": "s", "shuffle_write_mb": "MB",
}
EXTRAS = {
    "pipelines.rows_in": ("etl_refresh", "op_wall_s_p50, op_cpu_s_p50"),
    "pipelines.rows_loaded": ("etl_refresh", "op_wall_s_p50, op_cpu_s_p50"),
    "pipelines.keep_ratio": ("etl_refresh", "op_wall_s_p50, op_cpu_s_p50"),
    "pipelines.core_util": ("etl_refresh", "op_wall_s_p50"),
    "sources.bytes_written": ("etl_refresh", "bytes_per_row (store_bytes_per_row)"),
    "sources.files_written": ("etl_refresh", "bytes_per_row (store_bytes_per_row)"),
    "dedup.pairs": ("corpus_dedup", "op_cpu_s_p50, result_quality"),
    "dedup.components.rounds": ("corpus_dedup", "op_wall_s_p50, op_cpu_s_p50"),
    "dedup.docs_dropped": ("corpus_dedup", "result_quality (dedup_recall, dedup_precision)"),
    "spark.spill_mb": ("all", "failed_frac"),
    "spark.failed_tasks": ("all", "failed_frac"),
}
EXTRA_UNITS = {
    "pipelines.keep_ratio": "share", "pipelines.core_util": "share",
    "sources.bytes_written": "B", "spark.spill_mb": "MB",
}


def per_layer_names() -> dict[str, str]:
    """Per-layer metric names with units (BENCHMARK.json per_layer): every
    span and extra, plus the tracing overhead of each end-to-end metric."""
    out = {f"{s}.{c}": u for s in SPANS for c, u in COUNTERS.items()}
    out.update({k: EXTRA_UNITS.get(k, "count") for k in EXTRAS})
    out.update({f"trace_overhead.{k}": u for k, u in GENERIC.items()})
    return out


def source_digest() -> str:
    """Digest of the package (code and data) and the benchmark's code: an
    untraced result is the tracing-overhead base only for the code that
    produced it."""
    h = hashlib.sha256()
    for top in ("dfx_indicators_etl_spark", "perfbench"):
        for d, dirs, names in sorted(os.walk(os.path.join(REPO, top))):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            for name in sorted(names):
                if top == "perfbench" and not name.endswith(".py"):
                    continue
                path = os.path.join(d, name)
                h.update(os.path.relpath(path, REPO).encode() + b"\0")
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def untraced_base(args) -> tuple[str, float]:
    """Path of the untraced result of this workload, seed and code, the
    base of the tracing overhead, and the seconds spent on the twin run.
    When no such result is recorded yet, the untraced twin runs first,
    in its own process, before this run's set-up starts."""
    out_dir = os.path.join(REPO, ".perfbench_out")
    path = os.path.join(out_dir, f"{args.workload}-{args.seed}-{source_digest()}-untraced.json")
    t0 = time.time()
    if args.trace and not os.path.exists(path):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        proc = subprocess.Popen(cmd, cwd=REPO, stdout=subprocess.DEVNULL)
        try:
            rc = proc.wait()
        finally:
            if proc.poll() is None:  # interrupted: stop the twin and its JVM
                proc.terminate()
                proc.wait()
        if rc != 0 or not os.path.exists(path):
            raise RuntimeError(f"untraced twin run failed (exit {rc})")
    return path, time.time() - t0


class Ctx:
    def __init__(self, work: str, tracer):
        self.work, self.repo, self.tracer, self.spark = work, REPO, tracer, None
        self.jvm_pid = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(REPO, "dfx_indicators_etl_spark", "__init__.py")):
        print("perfbench: dfx_indicators_etl_spark package not found next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    # a terminated run still stops Spark (and any twin run) and removes
    # its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base, twin_s = untraced_base(args)
    work = os.path.join(REPO, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    harness.prepare_env(work)
    try:
        return run_one(args, work, WORKLOADS[args.workload], T_START + twin_s, base)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_one(args, work: str, cls, t_start: float, base_path: str) -> int:
    from spans import Tracer

    traced = bool(args.trace)
    tracer = Tracer(enabled=traced)
    ctx = Ctx(work, tracer)
    wl = cls(ctx)

    t_gen = time.time()
    inputs = wl.generate(args.seed)
    gen_s = time.time() - t_gen
    inputs["gen_s"] = round(gen_s, 3)

    from dfx_indicators_etl_spark.session import get_spark
    from dfx_indicators_etl_spark.sources import m49

    with tracer.span("session.get_spark"):
        spark = get_spark(app_name=f"perfbench-{cls.name}",
                          extra_conf=harness.spark_conf(work, event_log=traced))
    spark.sparkContext.setLogLevel("ERROR")
    if traced:
        tracer.sc = spark.sparkContext
    ctx.spark = spark
    pid = ctx.jvm_pid = harness.jvm_pid(spark)
    try:
        with tracer.span("session.first_job"):
            m49.load_m49(spark).count()
        wl.setup()
        setup_s = time.time() - t_start - gen_s

        t_run = time.time()
        wl.run(t_run + args.seconds)
        run_s = time.time() - t_run
        rss = harness.peak_rss_mb(pid)  # before the checks' own jobs

        attempted, failed, errors = wl.check()
        named = wl.report()
        env = harness.env_record(spark)
        if traced:
            env["anchors"] = harness.anchors(spark, work)
    finally:
        harness.stop_spark(spark)

    generic = dict(named.pop("_generic"))
    samples = named.pop("_samples")
    generic.setdefault("quality", 1.0 - failed / attempted)
    e2e = {
        "setup_s": setup_s,
        "op_wall_s_p50": generic["op_wall_s_p50"],
        "op_cpu_s_p50": generic["op_cpu_s_p50"],
        "peak_rss_mb": rss,
        "bytes_per_row": generic["bytes_per_row"],
        "result_quality": generic["quality"],
    }
    report_named = {
        "setup_s": (setup_s, "s"),
        "failed_frac": (failed / attempted, "share"),
        "peak_rss_mb": (rss, "MB"),
        **named,
    }
    report = {
        "workload": cls.name,
        "seed": args.seed,
        "trace": args.trace,
        "run_s": round(run_s, 3),
        "samples": samples,
        "inputs": inputs,
        "named_metrics": {k: {"value": v, "unit": u} for k, (v, u) in report_named.items()},
        "errors": errors[:20],
        "env": env,
    }
    out_dir = os.path.join(REPO, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    if traced:
        layers = layer_metrics(tracer, work, wl)
        with open(base_path) as f:
            base = json.load(f)
        for k in GENERIC:
            layers[f"trace_overhead.{k}"] = (e2e[k] - base[k], GENERIC[k])
        report["tracing_overhead_base"] = os.path.basename(base_path)
        report["per_layer"] = {
            k: {"value": v, "unit": u, "moves": _moves(k), "workload": _wl_of(k)}
            for k, (v, u) in layers.items()
        }
        tracer.dump(os.path.join(out_dir, f"{cls.name}-{args.seed}-spans.jsonl"))
        metrics = {k: {"value": layers[k][0], "unit": u} for k, u in per_layer_names().items()}
    else:
        with open(base_path, "w") as f:
            json.dump(e2e, f)
        metrics = {k: {"value": e2e[k], "unit": GENERIC[k]} for k in GENERIC}
    with open(os.path.join(out_dir, f"{cls.name}-{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1)

    print(json.dumps(report), flush=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


def _moves(name: str) -> str:
    for key, (_, metric) in {**SPANS, **EXTRAS}.items():
        if name == key or name.startswith(key + "."):
            return metric
    return name.split(".", 1)[1] if name.startswith("trace_overhead.") else ""


def _wl_of(name: str) -> str:
    for key, (wl, _) in {**SPANS, **EXTRAS}.items():
        if name == key or name.startswith(key + "."):
            return wl
    return "all"


def layer_metrics(tracer, work: str, wl) -> dict[str, tuple[float, str]]:
    """Per-span counters from the job groups in the event log, summed
    over each timed operation and averaged across operations."""
    from spans import parse_event_log, self_times, span_counters

    log_dir = os.path.join(work, "eventlog")
    lines = []
    for d, _, names in sorted(os.walk(log_dir)):
        for name in sorted(names):
            if not name.startswith("."):
                with open(os.path.join(d, name)) as f:
                    lines.extend(f)
    log = parse_event_log(lines)
    spans = tracer.spans
    counters = span_counters(spans, log)
    selft = self_times(spans)
    timed = [s for s in spans if s.op_id and s.op_id != "warm"]
    out: dict[str, tuple[float, str]] = {}
    for span_name in SPANS:
        if span_name.startswith("session."):
            group = [s for s in spans if s.name == span_name]
            n_ops = 1
        else:
            group = [s for s in timed if s.name == span_name]
            n_ops = max(1, len({s.op_id for s in group}))
        vals = {
            "wall_s": sum(s.wall for s in group),
            "self_s": sum(selft[s.id] for s in group),
            **{c: sum(counters[s.id][c] for s in group)
               for c in ("jobs", "tasks", "task_busy_s", "driver_s", "shuffle_write_mb")},
        }
        for c, unit in COUNTERS.items():
            out[f"{span_name}.{c}"] = (vals[c] / n_ops, unit)
    extras = {k: (0.0, EXTRA_UNITS.get(k, "count")) for k in EXTRAS}
    extras.update(wl.layer_extras(spans, counters))
    all_stages = list(log.stage_tasks.values())
    extras["spark.spill_mb"] = (sum(s["spill_b"] for s in all_stages) / 1e6, "MB")
    extras["spark.failed_tasks"] = (sum(s["failed_tasks"] for s in all_stages), "count")
    out.update(extras)
    return out


if __name__ == "__main__":
    sys.exit(main())
