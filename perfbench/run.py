"""Benchmark of the structure pipeline and the corpus-curation queries.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Run from the repository root. One process, one ``local[nproc]`` Spark
session per workload. Set-up (session start, then the median of three
input generations) is timed apart from the measured closed loop,
which runs operations for ``--seconds`` and reports their median. Output
checks run once per run, untimed; every mismatch counts as a failed
operation. The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``) of BENCHMARK.json. Lines before it name each workload's
own end-to-end metrics with their units. ``--workload all`` runs every
workload in turn and exits non-zero if any check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time
import traceback

from spans import group_jobs
from workloads import CURATION_QUERIES, EDGES, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
END_TO_END = (("setup_s", "s"), ("op_p50_s", "s"), ("peak_rss_mb", "MB"))

# per-layer metric -> (unit, end-to-end metric it should move, workload)
LAYERS: dict[str, tuple[str, str, str]] = {
    "session.get_spark_s": ("s", "setup_s", "all"),
    "session.warm_python_workers_s": ("s", "setup_s", "all"),
    "plans.lake.parse_mmcif_atoms_many_s": ("s", "ingest_atoms_per_s", "structure_pipeline"),
    "plans.lake.parse_mmcif_atoms_many_tasks": ("count", "ingest_atoms_per_s", "structure_pipeline"),
    "sources.dssp.parse_dssp_residues_s": ("s", "ingest_atoms_per_s", "structure_pipeline"),
    "sources.dssp.add_dssp_full_chain_s": ("s", "ingest_atoms_per_s", "structure_pipeline"),
    "sources.sifts.parse_sifts_residues_s": ("s", "ingest_atoms_per_s", "structure_pipeline"),
    "sources.validation.parse_validation_residues_s": ("s", "ingest_atoms_per_s", "structure_pipeline"),
    "sources.annotation.parse_gff_features_s": ("s", "ingest_atoms_per_s", "structure_pipeline"),
    "plans.lake.write_partitioned_s": ("s", "ingest_atoms_per_s", "structure_pipeline"),
    "plans.lake.files_written": ("count", "lake_bytes_per_input_byte", "structure_pipeline"),
    "plans.lake.bytes_written": ("bytes", "lake_bytes_per_input_byte", "structure_pipeline"),
    "plans.lake.read_lake_s": ("s", "merge_atoms_per_s", "structure_pipeline"),
    "plans.lake.files_read": ("count", "merge_atoms_per_s", "structure_pipeline"),
    "sources.annotation.annotation_aggregation_s": ("s", "merge_atoms_per_s", "structure_pipeline"),
    "plans.mergers.lake_table_merger_s": ("s", "merge_atoms_per_s", "structure_pipeline"),
    **{f"plans.mergers.{kind}.{edge}": (unit, "merge_atoms_per_s", "structure_pipeline")
       for edge in EDGES
       for kind, unit in (("unmatched_rows", "count"), ("match_ratio", "ratio"))},
    "operators.structures.residues_aggregation_s": ("s", "merge_atoms_per_s", "structure_pipeline"),
    "sinks.writers.write_table_s": ("s", "merge_atoms_per_s", "structure_pipeline"),
    "sinks.writers.bytes_written": ("bytes", "merge_atoms_per_s", "structure_pipeline"),
    **{f"{layer}_{kind}": (unit, "request_p50_s", "entry_requests")
       for layer in ("operators.structures.select_structures", "sources.dssp.select_dssp",
                     "sources.sifts.select_sifts", "sources.validation.select_validation")
       for kind, unit in (("s", "s"), ("jobs", "count"))},
    "plans.mergers.table_merger_s": ("s", "request_p50_s", "entry_requests"),
    "plans.generator.request_jobs": ("count", "request_p50_s", "entry_requests"),
    "plans.generator.request_tasks": ("count", "request_p50_s", "entry_requests"),
}
for _module, _q in CURATION_QUERIES:
    for _kind in ("build", "search"):
        LAYERS[f"{_module}.{_q}.{_kind}_s"] = ("s", f"curation_{_kind}_s", "corpus_curation")
        LAYERS[f"{_module}.{_q}.{_kind}_jobs"] = ("count", f"curation_{_kind}_s", "corpus_curation")
LAYERS["trace.overhead_s"] = ("s", "op_p50_s", "all")
LAYERS["trace.dominant_self_s"] = ("s", "op_p50_s", "all")


def _configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    work directory, and start the JVM quietly with a modest heap."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # -Xms equal to the heap cap: a heap that grows on demand makes the
    # JVM's resident size depend on how many ops fit in the run
    java_opts = f"-Xms2g -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = None


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _stop(spark) -> None:
    """Stop Spark, then wait for the JVM and every process under it (the
    Python worker daemon and workers), killing any left after 10 s."""
    from pyspark import SparkContext

    from spans import descendants

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway else None
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 10
    while True:
        alive = [p for p in started if _running(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)


def _loop(wl, seconds: float, state: dict, jobs: list | None = None) -> list[float]:
    """Closed loop: start ops until ``seconds`` have passed (at least
    one). A failed op is counted and its time dropped. With ``jobs``
    given, each op runs under its own job group and its (jobs, tasks) are
    appended."""
    times: list[float] = []
    start = time.perf_counter()
    first = i = state["ops"]
    while i == first or time.perf_counter() - start < seconds:
        wl.prepare(i)
        if jobs is not None:
            wl.spark.sparkContext.setJobGroup(f"pb-op{i}", "op")
        t = time.perf_counter()
        try:
            wl.op(i)
            times.append(time.perf_counter() - t)
        except Exception:  # one failed op must not end the run
            traceback.print_exc()
            state["failed"] += 1
        state["attempted"] += 1
        if jobs is not None:
            wl.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            jobs.append(group_jobs(wl.spark, f"pb-op{i}"))
        i += 1
    state["ops"] = i
    return times


def _check(wl, state: dict) -> None:
    try:
        n, bad = wl.check()
    except Exception:
        traceback.print_exc()
        n, bad = 1, ["check raised"]
    for msg in bad:
        print(f"CHECK FAILED {wl.name}: {msg}", file=sys.stderr)
    state["attempted"] += n
    state["failed"] += len(bad)


def _layer_metrics(tracer, n_ops: int) -> dict[str, float]:
    """Per-op means of each span name's self time, jobs and tasks."""
    per_op: dict[str, list[float]] = {}
    for s in tracer.spans:
        for suffix, value in (("_s", s.self_s), ("_jobs", s.jobs), ("_tasks", s.tasks)):
            per_op.setdefault(s.name + suffix, []).append(value)
    # spans of one name recur within an op: report the per-op total
    return {k: sum(v) / n_ops for k, v in per_op.items()}


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> int:
    try:
        import proteofav_spark
        from proteofav_spark.session import get_spark, warm_python_workers
    except ImportError as exc:
        print(f"cannot import the package under test from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(proteofav_spark.__file__).startswith(ROOT + os.sep):
        print(f"proteofav_spark was imported from outside {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"{name}-{seed}-{os.getpid()}")
    _configure_env(work)
    from spans import PeakRss, Tracer, median

    state = {"attempted": 0, "failed": 0, "ops": 0}
    spark = None
    try:
        with PeakRss() as rss:
            t0 = time.perf_counter()
            spark = get_spark(f"perfbench-{name}", cpus=str(len(os.sched_getaffinity(0))))
            t1 = time.perf_counter()
            warm_python_workers(spark)
            t2 = time.perf_counter()
            tracer = Tracer(spark, enabled=False)
            wl = WORKLOADS[name](spark, os.path.join(work, "data"), seed, tracer)
            reps = []
            for rep in range(SETUP_REPS):
                t = time.perf_counter()
                wl.setup(rep)
                reps.append(time.perf_counter() - t)
            setup_s = (t2 - t0) + median(reps)

            t3 = time.perf_counter()
            if wl.check_warms:
                _check(wl, state)
            for _ in range(wl.warmup_ops):
                _loop(wl, 0, state)
            t4 = time.perf_counter()
            if not trace:
                ops = _loop(wl, seconds, state)
            else:
                jobs: list = []
                plain = _loop(wl, seconds / 2, state, jobs)
                tracer.enabled = True
                ops = _loop(wl, seconds / 2, state)
                tracer.enabled = False
            t5 = time.perf_counter()
            if not wl.check_warms:
                _check(wl, state)
            t6 = time.perf_counter()
        report = wl.report(ops) if ops else {}
    finally:
        if spark is not None:
            _stop(spark)
    print(f"{name} phases: session {t2 - t0:.1f} s, set-up {t3 - t2:.1f} s, warm-up "
          f"{t4 - t3:.1f} s, measured {t5 - t4:.1f} s, checks {t6 - t5:.1f} s, stop "
          f"{time.perf_counter() - t6:.1f} s; ops {[round(t, 2) for t in ops]}", file=sys.stderr)

    if not ops:
        print(f"{name}: every operation failed", file=sys.stderr)
        metrics = {}
    elif not trace:
        metrics = {"setup_s": setup_s, "op_p50_s": median(ops), "peak_rss_mb": rss.peak_mb}
        report["error_rate"] = (state["failed"] / state["attempted"], "failed/attempted")
        report["peak_rss_mb"] = (rss.peak_mb, "MB")
        report["setup_s"] = (setup_s, "s")
        for k, (v, unit) in report.items():
            print(f"{name}  {k} = {v:.6g} {unit}")
        print(f"{name}  operations measured = {len(ops)}")
    else:
        layers = _layer_metrics(tracer, len(ops))
        layers.update(wl.counts())
        layers["session.get_spark_s"] = t1 - t0
        layers["session.warm_python_workers_s"] = t2 - t1
        if wl.op_layer and jobs:
            layers[f"{wl.op_layer}_jobs"] = median([j for j, _ in jobs])
            layers[f"{wl.op_layer}_tasks"] = median([k for _, k in jobs])
        layers["trace.overhead_s"] = median(ops) - median(plain)
        timed = {k: v for k, v in layers.items() if k.endswith("_s") and k in LAYERS
                 and not k.startswith(("session.", "trace."))}
        dominant = max(timed, key=timed.get) if timed else "none"
        layers["trace.dominant_self_s"] = timed.get(dominant, 0.0)
        metrics = {k: layers.get(k, 0.0) for k in LAYERS}
        print(f"{name}  dominant layer: {dominant} ({metrics['trace.dominant_self_s']:.4f} s "
              f"self per op); tracing overhead {metrics['trace.overhead_s']:.4f} s per op")
        tracer.dump(os.path.join(ROOT, ".perfbench", "traces", f"{name}-seed{seed}.json"))
    shutil.rmtree(work, ignore_errors=True)

    unit = {**dict(END_TO_END), **{k: u for k, (u, _, _) in LAYERS.items()}}
    correct = bool(ops) and state["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, state["attempted"]),
        "failed": state["failed"] if ops else max(1, state["failed"]),
        "metrics": {k: {"value": v, "unit": unit[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


def run_all(seed: int, seconds: float, trace: bool) -> int:
    """Every workload in its own process; one combined result line."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in tuple(WORKLOADS):
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", str(int(trace))],
            stdout=subprocess.PIPE, text=True, timeout=600,
        )
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        try:
            res = json.loads(lines[-1])
        except (IndexError, ValueError):
            res = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
        total["correct"] &= res["correct"] and proc.returncode == 0
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        total["metrics"].update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(total))
    return 0 if total["correct"] else 1


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=(*tuple(WORKLOADS), "all"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    if a.workload == "all":
        return run_all(a.seed, a.seconds, bool(a.trace))
    return run_workload(a.workload, a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    sys.exit(main())
