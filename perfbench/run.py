"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload as a closed loop (one client, ``SPARK_GRAFT_CPUS`` =
``nproc``) from the root of a checkout, checks every result, and prints as
its last line ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics of a traced
run with ``--trace 1``. The full record, with host and provenance, goes to
``perfbench/out/``. ``--size smoke`` shrinks the inputs for the
benchmark's own tests.
"""

from __future__ import annotations

import argparse
import itertools
import json
import math
import re
import statistics
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

import harness
from harness import ROOT

OUT_DIR = Path(__file__).resolve().parent / "out"

#: Session rebuilds per run; ``setup_s`` is their median.
RESTARTS = 3


@dataclass
class Record:
    op: object
    latency_s: float = 0.0
    result: object = None
    error: str | None = None
    trace: dict = field(default_factory=dict)


def execute(op, tracer=None, probe=None) -> Record:
    rec = Record(op)
    t0 = time.perf_counter()
    try:
        if tracer is None:
            df = op.build()
            rec.result = op.fetch(df) if op.fetch else df
        else:
            rec.result = _execute_traced(op, rec, tracer, probe)
        rec.latency_s = time.perf_counter() - t0
    except Exception as e:  # an operation that raises is a failed operation
        rec.error = f"{type(e).__name__}: {str(e)[:300]}"
    return rec


def _execute_traced(op, rec, tracer, probe):
    """Runs ``op`` under layer spans; the instrument reads between the
    spans are tracing bookkeeping, not a layer."""
    from spans import planning_phases

    exec0, jars0, jobs0 = probe.execution_mark(), probe.jar_count(), probe.job_mark()
    with tracer.span("queries.build" if op.is_query else "ddl.statement"):
        df = op.build()
    rec.trace["build_jobs"] = probe.job_mark() - jobs0
    result = df
    if op.is_query:
        with tracer.span("collect") as s:
            result = op.fetch(df)
        rec.trace["collect_s"] = s.duration
        rec.trace["phases"] = planning_phases(df)
        rec.trace["df"] = df
    rec.trace["javac"] = probe.jar_count() > jars0
    rec.trace["executions"] = (exec0, probe.execution_mark())
    return result


def timed_rounds(wl, seconds: float) -> int:
    """Rounds a run measures: ``seconds`` over the workload's nominal round
    time. The count depends on ``--seconds`` only, so a slow or busy
    machine does not change how much warm-up a run's figures contain."""
    return max(1, round(seconds / wl.round_s))


def run_loop(rounds, n_rounds: int, tracer=None, probe=None):
    """Runs ``n_rounds`` whole rounds; returns the records and the wall
    time."""
    records = []
    t0 = time.perf_counter()
    for ops in itertools.islice(rounds, n_rounds):
        for op in ops:
            if tracer is not None:
                tracer.op = len(records)
            records.append(execute(op, tracer, probe))
    return records, time.perf_counter() - t0


def verify(records) -> None:
    """Checks results after the timed loop, then drops them."""
    for rec in records:
        if rec.error is None:
            try:
                rec.error = rec.op.check(rec.result)
            except Exception as e:
                rec.error = f"check raised {type(e).__name__}: {e}"
        rec.result = None


# --- metrics -----------------------------------------------------------------


def round_ms(records) -> float:
    """Median time of one round: the sum over the round's statements of
    each statement's median latency. Medians keep the first, cold round
    and stray stalls out; a failed statement counts as missing."""
    by_label: dict[str, list] = {}
    for r in records:
        by_label.setdefault(r.op.label, []).append(
            r.latency_s if r.error is None else float("inf"))
    return sum(statistics.median(xs) for xs in by_label.values()) * 1e3


def end_to_end(records, setup, rss) -> dict:
    return {
        "setup_s": (setup.setup_s, "s"),
        "round_ms": (round_ms(records), "ms"),
        "rss_mb": (rss.median_mb, "MB"),
    }


def details(wl, records, wall_s, setup) -> dict:
    """Figures printed and stored but not gated: the run's own, then the
    workload's (each of those exists on one workload only)."""
    failed = sum(1 for r in records if r.error is not None)
    return {
        "wall_s": (wall_s, "s", len(records)),
        "error_rate": (failed / len(records), "ratio", len(records)),
        "cold_start_s": (setup.cold_start_s, "s", 1),
        **wl.details([r for r in records if r.error is None]),
    }


# --- the traced run ------------------------------------------------------------


def traced_run(wl, spark, setup, dirs) -> dict:
    """A warm-up pass, an untraced and a traced pass over the same number
    of rounds (their wall times give the tracing overhead), then a
    noop-sink pass and a UDF-profiler pass; returns the per-layer numbers
    and the traced pass's records."""
    import spans

    rounds = wl.trace_rounds
    run_loop(wl.rounds("warmup"), rounds)
    _, untraced_s = run_loop(wl.rounds("untraced"), rounds)
    tracer = spans.Tracer()
    probe = spans.SparkProbe(spark, dirs.jar_cache / "adhesive_java_cache")
    restore = spans.patch_layers(tracer)
    try:
        m0 = probe.marks()
        records, traced_s = run_loop(wl.rounds("traced"), rounds, tracer, probe)
        m1 = probe.marks()
    finally:
        restore()
    layers = layer_metrics(records, tracer, setup)
    layers.update(probe.exec_totals(m0, m1))
    py = probe.python_totals(m0, m1)
    for key in ("pyworker.bytes_to_python", "pyworker.bytes_from_python"):
        py[key.replace("bytes", "mb")] = py.pop(key) / 2**20
    layers.update(py)

    noop_s = 0.0
    for rec in records:
        df = rec.trace.pop("df", None)
        if df is not None:
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            noop_s += time.perf_counter() - t0
    layers["collect.s"] = sum(r.trace.get("collect_s", 0.0) for r in records) - noop_s

    python_labels = set()
    for r in records:
        lo, hi = r.trace.get("executions", (0, 0))
        if probe.python_execs.intersection(range(lo + 1, hi + 1)):
            python_labels.add(r.op.label)
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    try:
        for ops in itertools.islice(wl.rounds("profile"), rounds):
            for op in ops:
                if not op.is_query or op.label in python_labels:
                    execute(op)
        body_s, profiled_s = spans.profile_bodies(spark, dirs.tmp / "profile")
    finally:
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
    layers["pyworker.udf_body_s"] = body_s
    layers["pyworker.profiled_s"] = profiled_s

    layer_s = sum(s.duration for s in tracer.spans if s.parent is None)
    layers["trace.unattributed_pct"] = 100 * (traced_s - layer_s) / traced_s
    layers["trace.overhead_pct"] = 100 * (traced_s - untraced_s) / untraced_s
    layers["trace.untraced_s"] = untraced_s
    layers["trace.traced_s"] = traced_s
    verify(records)
    return layers, records


def layer_metrics(records, tracer, setup) -> dict:
    by_name: dict[str, list] = {}
    for s in tracer.spans:
        by_name.setdefault(s.name, []).append(s)

    def self_total(name):
        return sum(s.self_s for s in by_name.get(name, []))

    def p50(xs):
        return statistics.median(xs) if xs else 0.0

    out = {"session.build_s": statistics.median(setup.build_s)}
    parses = [s.duration * 1e6 for s in by_name.get("ddl.parse", [])]
    out["ddl.statements"] = sum(1 for r in records if not r.op.is_query)
    out["ddl.parse_us_p50"] = p50(parses)
    creates = by_name.get("factory.create", [])
    out["factory.creates"] = len(creates)
    per_lang: dict[str, list] = {}
    java_creates = javac_runs = 0
    for s in creates:
        rec = records[s.op]
        lang = rec.op.attrs.get("lang", "?").lower()
        if lang == "java":
            java_creates += 1
            if rec.trace.get("javac"):
                javac_runs += 1
                continue
            lang = "java_warm"
        per_lang.setdefault(lang, []).append(s.duration * 1e3)
    for lang, xs in sorted(per_lang.items()):
        out[f"factory.create_ms_p50.{lang}"] = p50(xs)
    javac = [s.duration * 1e3 for s in by_name.get("factory.compile_java", [])
             if records[s.op].trace.get("javac")]
    out["factory.javac_ms_p50"] = p50(javac)
    out["factory.java_creates"] = java_creates
    out["factory.javac_runs"] = javac_runs
    out["factory.java_cache_hits"] = java_creates - javac_runs
    out["sources.loads"] = len(by_name.get("sources.load", []))
    out["sources.load_ms"] = self_total("sources.load") * 1e3
    for name in sorted(by_name):
        if name.startswith("operators."):
            out[f"{name}.build_s"] = self_total(name)
    queries = [r for r in records if r.op.is_query and r.error is None]
    out["queries.build_s"] = sum(
        s.duration for s in by_name.get("queries.build", []))
    out["queries.build_jobs"] = sum(r.trace.get("build_jobs", 0) for r in queries)
    for phase in ("analysis", "optimization", "planning"):
        out[f"plan.{phase}_ms"] = sum(r.trace["phases"].get(phase, 0.0) for r in queries)
    out["collect.rows"] = sum(len(r.result) for r in queries)
    out["collect.mb"] = sum(harness.result_bytes(r.result) for r in queries) / 2**20
    return out


# --- entry point -----------------------------------------------------------------


def parse_args(argv):
    from workloads import SIZES, WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full")
    return p.parse_args(argv)


def program_present() -> bool:
    return (ROOT / "adhesive_spark" / "__init__.py").is_file() and (
        ROOT / "__spark_entry__.py").is_file()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not program_present():
        print(f"perfbench: the program (adhesive_spark/) is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    dirs = harness.isolate(f"{args.workload}-{args.seed}")
    try:
        return run(args, dirs)
    finally:
        dirs.cleanup()


def run(args, dirs) -> int:
    from adhesive_spark.session import AdhesiveSession
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](args.seed, args.size)
    spark, setup = harness.set_up(harness.session_conf(dirs), RESTARTS)
    try:
        wl.prepare(spark, AdhesiveSession(spark), dirs)
        host = harness.host_info(args.seed, spark)
        if args.trace:
            layers, records = traced_run(wl, spark, setup, dirs)
            metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
            gated = {k: metrics[k] for k in gated_layers()}
            info = {"per_layer": metrics, "predicts": PREDICTS}
        else:
            n = timed_rounds(wl, args.seconds)
            cpu0 = harness.tree_cpu_s()
            with harness.RssSampler() as rss:
                records, wall_s = run_loop(wl.rounds("timed"), n)
            cpu_s = harness.tree_cpu_s() - cpu0
            verify(records)
            e2e = end_to_end(records, setup, rss)
            gated = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
            more = details(wl, records, wall_s, setup)
            more["cpu_s_per_round"] = (cpu_s / n, "s", n)
            more["peak_rss_mb"] = (rss.peak_mb, "MB", len(rss.samples))
            info = {"details": {k: {"value": v, "unit": u, "samples": c}
                                for k, (v, u, c) in more.items()}}
    finally:
        harness.stop_all(spark)
    failed = sum(1 for r in records if r.error is not None)
    record = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size, "host": host,
        "setup": {"cold_start_s": setup.cold_start_s, "restart_s": setup.restart_s},
        "attempted": len(records), "failed": failed,
        "failures": [r.error for r in records if r.error][:20],
        "metrics": gated, **info,
    }
    OUT_DIR.mkdir(exist_ok=True)
    out = OUT_DIR / f"{wl.name}-seed{args.seed}-trace{args.trace}.json"
    out.write_text(json.dumps(record, indent=1, default=str).replace("Infinity", "null"))
    for name, m in {**gated, **info.get("details", {}), **info.get("per_layer", {})}.items():
        n = f"  (n={m['samples']})" if "samples" in m else ""
        print(f"{name:40s} {m['value']:14.4f} {m['unit']}{n}")
    for f in record["failures"]:
        print(f"FAILED: {f}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": len(records),
                      "failed": failed, "metrics": _finite(gated)}))
    return 0


def _finite(metrics: dict) -> dict:
    """A statement that failed in every round makes ``round_ms`` infinite;
    JSON has no infinity, so such a value is written as null."""
    return {k: {**m, "value": m["value"] if math.isfinite(m["value"]) else None}
            for k, m in metrics.items()}


def gated_layers() -> list[str]:
    """The per-layer metrics ``BENCHMARK.json`` lists: each is measured on
    every workload. The traced run's other figures (factory create and
    javac percentiles, operator build times, profiler times) exist on some
    workloads only and go to the record under ``per_layer``."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [m["name"] for m in spec["per_layer"]]


def unit_of(name: str) -> str:
    """Unit of a per-layer figure, from the ``s``/``ms``/``mb``/... part of
    its name."""
    parts = re.split(r"[._]", name)[1:]
    for tag, unit in (("pct", "%"), ("us", "us"), ("ms", "ms"), ("mb", "MB"), ("s", "s")):
        if tag in parts:
            return unit
    return "count"


#: Which end-to-end figure each layer should move, on which workload. The
#: gated figure comes first; the workload-specific figure it sums up, from
#: the run record's ``details``, is in brackets.
PREDICTS = {
    "session.build_s": "setup_s on all workloads",
    "ddl.parse_us_p50, factory.create_ms_p50.*":
        "round_ms [ddl_p50_ms, ddl_p90_ms] on interactive_ddl",
    "factory.javac_ms_p50, factory.javac_runs, factory.java_cache_hits":
        "round_ms [java_compile_p50_ms] on interactive_ddl",
    "plan.*, exec.jobs, exec.stages, exec.tasks":
        "round_ms [call_p50_ms] on interactive_ddl; round_ms on corpus_headliners",
    "exec.run_s, exec.cpu_s, exec.gc_s, exec.*_mb":
        "round_ms on corpus_headliners; round_ms [*_rows_per_s] on udf_scan",
    "pyworker.*": "round_ms [*_rows_per_s] on udf_scan; round_ms [call_p50_ms] on interactive_ddl",
    "pyworker.udf_body_s": "round_ms [python_rows_per_s] on udf_scan",
    "queries.build_s, queries.build_jobs, operators.*.build_s, sources.*, collect.*":
        "round_ms on corpus_headliners",
}


if __name__ == "__main__":
    sys.exit(main())
