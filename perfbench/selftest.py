#!/usr/bin/env python3
"""Self-test of the benchmark at tiny sizes (a few minutes on 4 cores).

    python3 perfbench/selftest.py

Checks that

* ``BENCHMARK.json`` names valid metrics and units, and its workloads are
  the ones ``run.py`` knows;
* an untraced and a traced run of every workload emit exactly the
  end-to-end and the per-layer metrics of ``BENCHMARK.json``, each with its
  unit, and pass their checks;
* the output checks reject corrupted tables: an ``xref`` with a row
  dropped, an ``xref`` with entities merged, an ``xref`` with two
  conversations swapped between masters (row and master counts unchanged,
  so only the pairwise F1 catches it), a ``doc_keepers`` with a keeper
  dropped;
* ``run.py`` refuses, without printing a result, in a directory that holds
  only ``BENCHMARK.json`` and ``perfbench/``.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import run

TINY = {"er_full": 80, "docs_corpus": 100}
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def check_spec(spec: dict) -> None:
    for group in ("end_to_end", "per_layer"):
        for m in spec[group]:
            assert NAME.match(m["name"]), m
            assert UNIT.match(m["unit"]), m
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.SIZES)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == run.END_TO_END, (e2e, run.END_TO_END)


def run_tiny(name: str, trace: bool) -> dict:
    """One run at the tiny size, in its own process: a Python process can
    start Spark only once, because pandas UDFs keep handles into the first
    JVM."""
    code = (
        f"import json, sys; sys.path.insert(0, {run.ROOT!r}); import run; "
        f"result, _ = run.run({name!r}, 42, 0, {trace}, {TINY[name]}); "
        "print(json.dumps(result))"
    )
    out = subprocess.run([sys.executable, "-c", code], cwd=run.HERE,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-4000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def check_result(result: dict, expected: dict[str, str]) -> None:
    assert result["correct"] and result["failed"] == 0, result
    assert result["attempted"] >= 2, result
    got = {name: m["unit"] for name, m in result["metrics"].items()}
    assert got == expected, sorted(set(got) ^ set(expected))
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), (name, m)


def rewrite(store_dir: str, name: str, change) -> None:
    """Replace a committed table with ``change`` applied to its rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from workloads import read_table

    path = os.path.join(store_dir, name)
    table = read_table(store_dir, name, None)
    shutil.rmtree(path)
    os.makedirs(path)
    pq.write_table(pa.Table.from_pandas(change(table), preserve_index=False),
                   os.path.join(path, "part-00000.parquet"))


def merge_entities(xref):
    masters = sorted(xref["master_entity_id"].unique())
    merged = set(masters[: max(2, len(masters) // 10)])
    xref = xref.copy()
    xref.loc[xref["master_entity_id"].isin(merged), "master_entity_id"] = masters[0]
    return xref


def swap_masters(xref):
    """Move one conversation of a multi-conversation master to another
    master and that master's conversation back: a wrong clustering with
    the same rows and masters."""
    xref = xref.reset_index(drop=True)
    masters = xref["master_entity_id"].tolist()
    i = next(k for k, m in enumerate(masters) if masters.count(m) >= 2)
    j = next(k for k, m in enumerate(masters) if m != masters[i])
    xref.loc[[i, j], "master_entity_id"] = [masters[j], masters[i]]
    return xref


def check_rejects_corruption() -> None:
    from payor_mdm_spark.sources.catalog import CheckpointStore

    from workloads import DocsCorpus, ErFull

    work = os.path.join(run.ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    spark = run.start_session(work, len(os.sched_getaffinity(0)))
    try:
        cases = [
            (ErFull, TINY["er_full"], "xref", lambda t: t.iloc[1:]),
            (ErFull, TINY["er_full"], "xref", merge_entities),
            (ErFull, TINY["er_full"], "xref", swap_masters),
            (DocsCorpus, TINY["docs_corpus"], "doc_keepers", lambda t: t.iloc[1:]),
        ]
        for i, (cls, size, table, change) in enumerate(cases):
            workload = cls(spark, os.path.join(work, f"w{i}"), 42, size)
            store_dir = os.path.join(work, f"store{i}")
            workload.execute(workload.load(), CheckpointStore(spark, store_dir))
            problems, _ = workload.check(store_dir)
            assert not problems, problems
            rewrite(store_dir, table, change)
            problems, _ = workload.check(store_dir)
            assert problems, f"{cls.name}: corrupted {table} passed the check"
            print(f"selftest: {cls.name} rejects corrupted {table}: {problems}",
                  flush=True)
    finally:
        run.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def check_refuses_without_program() -> None:
    bare = os.path.join(run.ROOT, ".perfbench_work", f"bare-{os.getpid()}")
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(run.HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "er_full",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
        )
        assert out.returncode != 0 and not out.stdout.strip(), out
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_spec(spec)
    check_refuses_without_program()
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for name in TINY:
        for trace, expected in ((False, run.END_TO_END), (True, per_layer)):
            check_result(run_tiny(name, trace), expected)
            print(f"selftest: {name} trace={int(trace)} ok", flush=True)
    sys.path.insert(0, run.ROOT)
    check_rejects_corruption()
    print("selftest: all checks passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
