"""Interleaved A/B of the pairing registry rows: warm walls and plan shapes.

Usage::

    python plans/pr2/pairs_ab.py --parent PARENT_CHECKOUT --change . \\
        --sf SF_DIR --pairs 10 --out plans/pr2/pairs_ab.json

Each pair runs one worker process per tree, alternating which tree goes
first.  A worker starts a ``local[4]`` session, runs every row once to
warm up, then times each row once (construction + ``collect()``), with
``release_session_caches()`` after every query, and records the final
adaptive plan's shape (``tests/planshape.summary``) and a digest of the
sorted result rows from the timed run, so the report also shows whether
both trees return the same rows.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROWS = [
    "minhash_near_dups", "dedup_cluster_keep_best", "simhash_hamming_pairs",
    "media_fp_pairs", "video_frame_containment", "containment_stop_frames",
    "audio_containment", "ngram_jaccard_pairs", "doc_editdist_near_dup",
    "embedding_near_dup_pairs", "geo_pairs",
]
HERE = Path(__file__).resolve()


def worker(tree: str, sf: str) -> dict:
    sys.path.insert(0, tree)
    spec = importlib.util.spec_from_file_location(
        "planshape", HERE.parents[2] / "tests" / "planshape.py"
    )
    planshape = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(planshape)
    from etl_olho_vivo_spark import registry
    from etl_olho_vivo_spark.caching import release_session_caches
    from etl_olho_vivo_spark.session import get_spark

    spark = get_spark(cpus=4)
    registry.queries()
    out = {}
    for timed in (False, True):
        for name in ROWS:
            t0 = time.perf_counter()
            df = registry.REGISTRY[name].fn(spark, sf)
            rows = df.collect()
            wall = time.perf_counter() - t0
            if timed:
                digest = hashlib.sha256(
                    "\n".join(sorted(map(repr, rows))).encode()
                ).hexdigest()[:16]
                out[name] = {
                    "wall_s": wall, "rows": len(rows), "digest": digest,
                    "shape": planshape.summary(df),
                }
            release_session_caches()
    return out


def quartiles(xs: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return {"q1": round(q1, 3), "median": round(med, 3), "q3": round(q3, 3)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--worker")
    ap.add_argument("--parent")
    ap.add_argument("--change", default=".")
    ap.add_argument("--sf", required=True)
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--out")
    args = ap.parse_args()
    if args.worker:
        print(json.dumps(worker(args.worker, args.sf)))
        return
    trees = {
        "parent": os.path.abspath(args.parent),
        "change": os.path.abspath(args.change),
    }
    runs: dict[str, list[dict]] = {"parent": [], "change": []}
    for i in range(args.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            proc = subprocess.run(
                [sys.executable, str(HERE), "--worker", trees[side],
                 "--sf", args.sf],
                cwd=trees[side], capture_output=True, text=True, check=True,
            )
            runs[side].append(json.loads(proc.stdout.strip().splitlines()[-1]))
            print(f"pair {i + 1} {side} done", file=sys.stderr, flush=True)
    report = {
        "setup": {
            "sf": os.path.basename(os.path.normpath(args.sf)),
            "master": "local[4]", "pairs": args.pairs,
            "timing": "warm: second run in the worker, fn() + collect()",
        },
        "rows": {},
    }
    for name in ROWS:
        row = {}
        for side in ("parent", "change"):
            walls = [r[name]["wall_s"] for r in runs[side]]
            row[side] = {
                **quartiles(walls),
                "walls_s": [round(w, 3) for w in walls],
                "rows": runs[side][-1][name]["rows"],
                "digests": sorted({r[name]["digest"] for r in runs[side]}),
                "shape": runs[side][-1][name]["shape"],
            }
        row["same_rows"] = (
            len(row["parent"]["digests"]) == 1
            and row["parent"]["digests"] == row["change"]["digests"]
        )
        row["median_ratio"] = round(
            row["change"]["median"] / row["parent"]["median"], 3
        )
        report["rows"][name] = row
    text = json.dumps(report, indent=1)
    if args.out:
        Path(args.out).write_text(text + "\n")
    print(text)


if __name__ == "__main__":
    main()
