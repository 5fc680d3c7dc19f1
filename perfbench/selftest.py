"""Fast self-test of the benchmark on the sf0.001 tables.

    python3 perfbench/selftest.py

Runs the first two operations of each workload, one workload untraced
and one traced, each with two operations that must fail: one raises,
one returns a result that differs from the oracle it is checked
against. Checks that

- the metric names and units printed match BENCHMARK.json, for the
  end-to-end metrics untraced and the per-layer metrics traced;
- both forced failures are counted in ``failed`` and ``fail_ratio``,
  and the run still finishes and reports;
- the incremental load passes its check and its bytes on disk are
  counted;
- the traced run attributes every Spark job to a span, including the
  jobs fired from ``par.build_concurrently``'s pool threads.

Exits 0 when every check holds and 1 otherwise.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import sys

import run


def _raise(spark, sf_dir):
    raise RuntimeError("forced failure")


def forced_failures(workload: run.Workload) -> tuple[run.Op, ...]:
    queries = [op for op in run.workload_ops(workload) if op.name != run.LOAD_OP]
    # the first query checked against the second query's oracle
    wrong = run.Op("forced_wrong_result", queries[0].build, queries[1].oracle_sql)
    return run.Op("forced_exception", _raise, None), wrong


def check(label: str, ok: bool, problems: list[str]) -> None:
    print(f"{'ok  ' if ok else 'FAIL'} {label}")
    if not ok:
        problems.append(label)


def main() -> int:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    problems: list[str] = []
    check(
        "BENCHMARK.json lists the benchmark's workloads",
        [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS),
        problems,
    )
    os.makedirs(run.WORK_DIR, exist_ok=True)
    run_dir = os.path.join(run.WORK_DIR, f"selftest-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        run.prepare_environment(run_dir)
        for trace, workload in enumerate(run.WORKLOADS.values()):
            small = dataclasses.replace(workload, ops=workload.ops[:2])
            result, meta = run.run(
                small, seed=0, seconds=0, trace=bool(trace), sf="sf0.001",
                extra_ops=forced_failures(workload),
            )
            tag = f"{workload.name} trace={trace}"
            emitted = {k: v["unit"] for k, v in result["metrics"].items()}
            check(f"{tag}: metric names and units match", emitted == declared[trace], problems)
            check(
                f"{tag}: forced failures counted",
                result["attempted"] == 4
                and result["failed"] == 2
                and not result["correct"]
                and meta["fail_ratio"] == 0.5
                and sorted(f["op"] for f in meta["failures"])
                == ["forced_exception", "forced_wrong_result"],
                problems,
            )
            values = [v["value"] for v in result["metrics"].values()]
            check(
                f"{tag}: values are finite numbers",
                all(isinstance(v, (int, float)) and v == v for v in values),
                problems,
            )
            if run.LOAD_OP in small.ops:
                check(
                    f"{tag}: load checked and its bytes counted",
                    len(meta["loads"]) == 1
                    and meta["loads"][0]["problem"] is None
                    and meta["stored_bytes_per_input_byte"] > 0,
                    problems,
                )
            if trace:
                totals = meta["layer_totals"]
                jobs = totals.get("spark.jobs", 0)
                span_jobs = {
                    k: v for k, v in totals.items() if k.endswith(".jobs") and k != "spark.jobs"
                }
                check(
                    f"{tag}: every job attributed to a span, some to program spans",
                    jobs > 0
                    and sum(span_jobs.values()) == jobs
                    and sum(v for k, v in span_jobs.items() if k != "action.jobs") > 0,
                    problems,
                )
                check(
                    f"{tag}: jobs fired in build_concurrently threads attributed",
                    totals.get("operators.par.build_concurrently.jobs", 0) > 0,
                    problems,
                )
    finally:
        os.chdir(run.ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    print("selftest:", "FAILED " + "; ".join(problems) if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
