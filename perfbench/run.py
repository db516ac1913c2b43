#!/usr/bin/env python3
"""Benchmark of the payor_mdm_spark DAGs, end to end and layer by layer.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload er_full --seed 42 --seconds 20 --trace 0

One run starts a Spark session on ``local[<cores>]``, builds the workload's
input from ``--seed``, runs one untimed warm-up pass, then runs timed passes
until ``--seconds`` have gone by (at least one; three when traced). Every
pass commits into a fresh checkpoint store and is checked after its timer
stops. Scratch files (inputs, stores, ``spark.local.dir``, temp files) live
under ``.perfbench_work/`` in the checkout and are removed at exit.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes and reports the per-layer metrics (see
``tracing.py``), including the tracing overhead.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` (passes, warm-up included) and ``metrics``. The line before it
records the environment. Exit codes: 0 a result was printed (a pass that
failed its check shows as ``"correct": false`` and in ``failed``), 2 the
program is not in this checkout, 3 the native scoring kernels are
unavailable (a silent Python fallback would measure another program); with
2 or 3 nothing is reported.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

from workloads import DOC_STAGES, ER_STAGES, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "payor_mdm_spark")

# Input size per workload: entities for er_full, documents for docs_corpus.
# Sized so a run stays near a minute on 4 cores (see README.md, "Sizing").
SIZES = {"er_full": 200, "docs_corpus": 500}
DRIVER_MEMORY = "4g"
MB = 1024 * 1024
ALL_STAGES = ER_STAGES + DOC_STAGES

END_TO_END = {
    "wall_s": "s",
    "setup_s": "s",
    "bytes_written_per_input_byte": "B/B",
    "pairwise_f1": "ratio",
}
STAGE_METRICS = {
    "s": "s", "jobs": "count", "task_s": "s", "shuffle_mb": "MB",
    "skew": "ratio", "rows": "count",
}
OTHER_LAYER_METRICS = {
    "pipeline.outside_s": "s",
    "pipeline.outside_jobs": "count",
    "pipeline.jobs": "count",
    "pipeline.spill_mb": "MB",
    "catalog.written_mb": "MB",
    "catalog.commit_stats_s": "s",
    "kernel.pairs_per_s": "1/s",
    "kernel.native": "count",
    "failed_frac": "ratio",
    "session.start_s": "s",
    "setup.warmup_s": "s",
    "jvm.peak_rss_mb": "MB",
    "tracing.overhead_s": "s",
}
PER_LAYER = {
    **{f"{stage}.{metric}": unit
       for stage in ALL_STAGES for metric, unit in STAGE_METRICS.items()},
    **OTHER_LAYER_METRICS,
}


class EnvironmentFailure(RuntimeError):
    """The host cannot run the program as it is meant to run."""


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


@dataclass
class Pass:
    wall_s: float
    f1: float = 0.0
    written_bytes: int = 0
    rows: dict[str, int] = field(default_factory=dict)
    problems: list[str] = field(default_factory=list)
    layers: dict[str, float] | None = None


def source_digest() -> str:
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(PACKAGE)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith((".py", ".c")):
                path = os.path.join(d, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def git_commit() -> str | None:
    """HEAD of the checkout's own ``.git``, read without running git, which
    would search the directories above the checkout; None without one."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[len("ref: "):]
        if os.path.exists(os.path.join(git, ref)):
            with open(os.path.join(git, ref)) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return None


def start_session(work: str, cores: int):
    from payor_mdm_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_confs={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # -XX:-UsePerfData: no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                "-XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> float:
    """Stop Spark, end the JVM and wait for it; returns the peak RSS in MB
    of the largest process that ended (the driver JVM)."""
    from pyspark import SparkContext

    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    return resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024.0


def tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def scoring_kernel_rate(cols) -> float:
    """Pairs per second of the scoring UDF's batch function, called in this
    process on one batch (median of three calls)."""
    from payor_mdm_spark.functions.ensemble import make_string_scores_udf

    fn = make_string_scores_udf().func
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        out = fn(*cols)
        times.append(time.perf_counter() - t0)
        if len(out) != len(cols[0]):
            raise RuntimeError("scoring kernel returned a short batch")
    return len(cols[0]) / statistics.median(times)


def run_pass(spark, workload, store_dir: str, tag: str | None,
             reference: dict[str, int] | None) -> Pass:
    """One DAG call into a fresh store: timed, then checked, then removed."""
    from payor_mdm_spark.sources.catalog import CheckpointStore

    from tracing import traced

    inputs = workload.load()
    store = CheckpointStore(spark, store_dir)
    trace = None
    t0 = time.perf_counter()
    try:
        if tag is None:
            workload.execute(inputs, store)
        else:
            with traced(spark.sparkContext, tag) as trace:
                workload.execute(inputs, store)
    except Exception:  # noqa: BLE001 — a failed pass is counted, not fatal
        log(f"DAG call raised:\n{traceback.format_exc()}")
        shutil.rmtree(store_dir, ignore_errors=True)
        return Pass(wall_s=time.perf_counter() - t0, problems=["raised"])
    result = Pass(wall_s=time.perf_counter() - t0)
    try:
        result.rows = {
            s: sum(n for _, n in store.commit_stats(s)) for s in workload.stages
        }
        result.written_bytes = tree_bytes(store_dir)
        result.problems, result.f1 = workload.check(store_dir)
        if reference is not None and result.rows != reference:
            result.problems.append(
                f"stage rows {result.rows} differ from the warm-up's {reference}"
            )
        if trace is not None:
            result.layers = layer_metrics(spark.sparkContext, trace, result)
            if hasattr(workload, "kernel_batch"):
                result.layers["kernel.pairs_per_s"] = scoring_kernel_rate(
                    workload.kernel_batch(store)
                )
    except Exception:  # noqa: BLE001 — a check that raises fails the pass
        log(f"check raised:\n{traceback.format_exc()}")
        result.problems.append("check raised")
    finally:
        shutil.rmtree(store_dir, ignore_errors=True)
    return result


def layer_metrics(sc, trace, p: Pass) -> dict[str, float]:
    from tracing import stage_metrics

    stats = stage_metrics(sc, trace)
    out: dict[str, float] = {}
    for stage in ALL_STAGES:
        spans = [s for s in trace.spans if s.name == stage]
        groups = [stats[s.group] for s in spans]
        out[f"{stage}.s"] = sum(s.seconds for s in spans)
        out[f"{stage}.jobs"] = sum(g.jobs for g in groups)
        out[f"{stage}.task_s"] = sum(g.task_s for g in groups)
        out[f"{stage}.shuffle_mb"] = sum(g.shuffle_mb for g in groups)
        out[f"{stage}.skew"] = max((g.skew for g in groups), default=0.0)
        out[f"{stage}.rows"] = p.rows.get(stage, 0)
    # outside = what no stage of the workload owns: the jobs after the last
    # commit and the groups closed by the DAG's own metric tables
    out["pipeline.jobs"] = sum(g.jobs for g in stats.values())
    out["pipeline.outside_s"] = p.wall_s - sum(
        s.seconds for s in trace.spans if s.name in ALL_STAGES
    )
    out["pipeline.outside_jobs"] = out["pipeline.jobs"] - sum(
        out[f"{stage}.jobs"] for stage in ALL_STAGES
    )
    out["pipeline.spill_mb"] = sum(g.spill_mb for g in stats.values())
    out["catalog.written_mb"] = p.written_bytes / MB
    out["catalog.commit_stats_s"] = trace.commit_stats_s
    out["kernel.pairs_per_s"] = 0.0
    return out


def run(workload_name: str, seed: int, seconds: float, trace: bool,
        size: int | None = None) -> tuple[dict, dict]:
    """One benchmark run; returns (result, environment record)."""
    cores = len(os.sched_getaffinity(0))
    size = size or SIZES[workload_name]
    work = os.path.join(ROOT, ".perfbench_work", f"{workload_name}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the package from the checkout; temp files of
    # this process, gcc and the JVM stay inside the work directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    passes: list[Pass] = []
    spark = None
    try:
        t_setup = time.perf_counter()
        from payor_mdm_spark.functions import native_kernels

        if native_kernels.get_lib() is None:
            raise EnvironmentFailure(
                "native scoring kernels unavailable (no C compiler, or the "
                "package directory is read-only); refusing to report"
            )
        spark = start_session(work, cores)
        session_s = time.perf_counter() - t_setup
        workload = WORKLOADS[workload_name](spark, work, seed, size)
        t_warm = time.perf_counter()
        warm = run_pass(spark, workload, os.path.join(work, "store-warmup"),
                        None, None)
        passes.append(warm)
        log(f"warm-up: {warm.wall_s:.3f} s"
            f"{' FAILED ' + '; '.join(warm.problems) if warm.problems else ''}")
        setup_s = time.perf_counter() - t_setup
        warmup_s = time.perf_counter() - t_warm
        measured: list[Pass] = []
        t_measure = time.perf_counter()
        # traced runs alternate untraced / traced / untraced ... passes, so
        # the overhead estimate brackets the traced pass. A pass that fails
        # its check is still timed; a DAG call that raised is not repeated.
        min_passes = 3 if trace else 1
        while "raised" not in warm.problems and (
            len(measured) < min_passes or time.perf_counter() - t_measure < seconds
        ):
            k = len(measured)
            tag = f"pass{k}" if trace and k % 2 == 1 else None
            p = run_pass(spark, workload, os.path.join(work, f"store-{k}"),
                         tag, warm.rows)
            log(f"pass {k}{' traced' if tag else ''}: {p.wall_s:.3f} s"
                f"{' FAILED ' + '; '.join(p.problems) if p.problems else ''}")
            measured.append(p)
            passes.append(p)
            if "raised" in p.problems:
                break
        env = {
            "workload": workload_name, "seed": seed, "seconds": seconds,
            "trace": int(trace), "size": workload.size,
            "git_commit": git_commit(), "source_sha256": source_digest(),
            "nproc": cores, "master": spark.sparkContext.master,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "pyspark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0],
            "work_dir": os.path.relpath(work, ROOT),
            "spark_local_dir": spark.conf.get("spark.local.dir"),
            "pass_walls_s": [round(p.wall_s, 4) for p in measured],
        }
    finally:
        peak_rss_mb = stop_session(spark) if spark is not None else 0.0
        shutil.rmtree(work, ignore_errors=True)

    ok = [p for p in measured if not p.problems] or measured or [warm]
    if trace:
        traced_ps = [p for p in ok if p.layers is not None]
        untraced = [p.wall_s for p in ok if p.layers is None]
        units = PER_LAYER
        metrics = {
            name: statistics.median(p.layers.get(name, 0.0) for p in traced_ps)
            if traced_ps else 0.0
            for name in units
        }
        metrics.update({
            "kernel.native": 1.0,
            "failed_frac": sum(1 for p in passes if p.problems) / len(passes),
            "session.start_s": session_s,
            "setup.warmup_s": warmup_s,
            "jvm.peak_rss_mb": peak_rss_mb,
            "tracing.overhead_s": (
                statistics.median(p.wall_s for p in traced_ps)
                - statistics.median(untraced)
            ) if traced_ps and untraced else 0.0,
        })
    else:
        metrics = {
            "wall_s": statistics.median(p.wall_s for p in ok),
            "setup_s": setup_s,
            "bytes_written_per_input_byte":
                statistics.median(p.written_bytes for p in ok)
                / workload.input_bytes,
            "pairwise_f1": statistics.median(p.f1 for p in ok),
        }
        units = END_TO_END
    failed = sum(1 for p in passes if p.problems)
    result = {
        "correct": failed == 0,
        "attempted": len(passes),
        "failed": failed,
        "metrics": {
            name: {"value": metrics[name], "unit": unit}
            for name, unit in units.items()
        },
    }
    return result, env


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(PACKAGE, "__init__.py")):
        log(f"the payor_mdm_spark package is not at {PACKAGE}; run from the "
            "root of a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    try:
        result, env = run(args.workload, args.seed, args.seconds,
                          bool(args.trace))
    except EnvironmentFailure as e:
        log(f"environment failure: {e}")
        return 3
    print(json.dumps({"env": env}), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
