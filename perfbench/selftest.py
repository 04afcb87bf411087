"""Self-test: the output checks catch a corrupted output.

Run from the repository root (about a minute):

    python3 perfbench/selftest.py

On small inputs it runs one clean op of each workload, which must pass its
check, then corrupts outputs and requires each corruption to be reported:
a dropped CSV row and a changed ``tempo`` value in the daily datasets, and
a changed cell in a registry query's rows.  Exits 0 only if every case
behaves.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys

import run


def _edit_first_csv(out_dir: str, dataset: str, edit) -> None:
    path = sorted(glob.glob(os.path.join(out_dir, dataset, "*.csv")))[0]
    with open(path) as fh:
        lines = fh.read().splitlines()
    with open(path, "w") as fh:
        fh.write("\n".join(edit(lines)) + "\n")


def _bump_tempo(lines: list[str]) -> list[str]:
    header = lines[0].split(",")
    col = header.index("tempo")
    row = lines[1].split(",")
    row[col] = str(int(row[col]) + 1)
    return [lines[0], ",".join(row)] + lines[2:]


def main() -> int:
    sys.path.insert(0, run.ROOT)
    import check
    import workloads

    work = os.path.join(run.HERE, ".work", f"selftest-{os.getpid()}")
    os.makedirs(work)
    spark = run.start_session(work, len(os.sched_getaffinity(0)))
    results = []
    try:
        daily = workloads.Daily(spark, work, seed=7)
        daily.n_lines, daily.n_polls = 10, 40
        daily.setup()
        cases = [
            ("daily clean output passes", None, False),
            ("daily dropped lentidao row is caught",
             ("lentidao", lambda ls: ls[:1] + ls[2:]), True),
            ("daily changed tempo is caught",
             ("velocidades_agregadas", _bump_tempo), True),
        ]
        for i, (what, corrupt, expect_problems) in enumerate(cases):
            daily.op(i)
            if corrupt is not None:
                _edit_first_csv(daily._out(i), *corrupt)
            problems = daily.check(i)
            results.append((what, bool(problems) == expect_problems, problems))

        queries = workloads.Queries(spark, work, seed=7)
        queries.n_rows, queries.n_users = 2000, 40
        queries.setup()
        q = workloads.registry.REGISTRY["velocidades_agregadas"]
        rows = q.fn(spark, queries.sf_dir).toPandas()
        clean = check.query_problems(rows, q.oracle, queries.sf_dir)
        results.append(("query clean rows pass", not clean, clean))
        rows.loc[0, "tempo"] += 1
        bad = check.query_problems(rows, q.oracle, queries.sf_dir)
        results.append(("query changed cell is caught", bool(bad), bad))
    finally:
        run.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    for what, ok, problems in results:
        print(f"{'PASS' if ok else 'FAIL'}  {what}  {problems[:2]}")
    return 0 if all(ok for _, ok, _ in results) else 1


if __name__ == "__main__":
    sys.exit(main())
