"""Benchmark of the engine's transit entry points.

Run from the repository root:

    python3 perfbench/run.py --workload daily --seed 1 --seconds 10 --trace 0

One process, one client thread, a ``local[<cores>]`` session with
``SPARK_DRIVER_MEM`` pinned.  A run sets up (session start, seeded input
generation, warm-up to steady state), then runs operations in a closed
loop for ``--seconds``, checks every output, and prints one summary line
(``#``-prefixed, every number with its unit) followed, as the last line,
by the JSON result.  ``--trace 0`` reports the end-to-end metrics of
``BENCHMARK.json``; ``--trace 1`` alternates untraced and traced
operations and reports its per-layer metrics, including the tracing
overhead.  Details (per-query latencies, layer seconds, host stamps, one
record per operation) go to ``perfbench/out/``; spans of a traced run go
to a ``.spans.jsonl`` file beside them.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"
CALIB_PY_LOOP = 300_000
CALIB_JVM_ROWS = 10_000_000


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def start_session(work: str, cores: int):
    """The engine's own session factory, with every scratch path (shuffle
    files, temp files) kept inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "SPARK_DRIVER_MEM": DRIVER_MEM,
    })
    from etl_olho_vivo_spark.session import get_spark

    spark = get_spark(cpus=cores, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory (VmHWM) of the JVM plus its child processes
    (the Python workers)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    pids, frontier = {jvm_pid}, [jvm_pid]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in pids:
                pids.add(c)
                frontier.append(c)
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as fh:
                kb += next(int(line.split()[1]) for line in fh
                           if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
    return kb / 1024.0


def host_stamp(spark, cores: int) -> dict:
    """Load average and two fixed-work probes, recorded, never compared:
    they tell host steal apart from a change in the program."""
    def best(fn, runs=3):
        out = []
        for _ in range(runs):
            t = time.perf_counter()
            fn()
            out.append(time.perf_counter() - t)
        return min(out)

    def py_spin():
        s = 0
        for i in range(CALIB_PY_LOOP):
            s += i * i & 1023

    def jvm_sum():
        spark.range(0, CALIB_JVM_ROWS, 1, cores).selectExpr(
            "sum(xxhash64(id) & 1048575)").collect()

    jvm_sum()  # compile outside the minimum
    return {"loadavg": list(os.getloadavg()), "cpu_jiffies": cpu_jiffies(),
            "calib_py_s": best(py_spin), "calib_jvm_s": best(jvm_sum)}


def cpu_jiffies() -> dict:
    """Host-wide CPU time so far: total and stolen by the hypervisor."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return {"total": sum(f[:8]), "steal": f[7]}


def run_ops(w, first: int, seconds: float, tracer=None, status=None) -> list:
    """Closed loop: one operation after another until ``seconds`` pass.

    Outputs are checked after the loop, so checking takes no time from
    it.  With a tracer, every second op is traced under its own job group
    (so a traced run makes at least two ops).
    """
    ops = []
    deadline = time.perf_counter() + seconds
    min_ops = 1 if tracer is None else 2
    i = first
    while time.perf_counter() < deadline or len(ops) < min_ops:
        traced = tracer is not None and len(ops) % 2 == 1
        rec = {"i": i, "label": w.op_label(i), "traced": traced,
               "problems": []}
        t = time.perf_counter()
        try:
            if traced:
                with tracer.span(w.name, op=rec["label"]), \
                        status.group(f"op{i}"):
                    rec["parts"] = w.op(i, tracer)
            else:
                rec["parts"] = w.op(i)
        except Exception as e:  # noqa: BLE001 - a failed op is counted
            traceback.print_exc(file=sys.stderr)
            rec["problems"].append(f"raised {e!r}"[:300])
        rec["lat"] = time.perf_counter() - t
        if traced:
            rec["stats"] = status.group_stats(f"op{i}")
            rec["persisted_bytes"] = status.persisted()[1]
        w.after_op()
        if traced:
            rec["leaked_rdds"] = status.persisted()[0]
        ops.append(rec)
        i += 1
    for rec in ops:
        rec["problems"] += w.check(rec["i"])
    return ops


def per_layer(w, ops: list, layer_metrics: dict, session_s: float,
              cores: int, by_query: dict) -> dict:
    """Per-layer metrics of a traced run: status-store counters of the
    traced ops under the workload's ``plan`` prefix (per op; ratios as
    ratios of sums), the registry split per pass and per query, plus the
    workload's layers."""
    traced = [r for r in ops if r["traced"]]
    plain = [r for r in ops if not r["traced"]]
    wall = sum(r["lat"] for r in traced)
    n = len(traced)

    def total(key):
        return sum(r["stats"][key] for r in traced)

    p = w.plan
    m = {
        "session.start_s": session_s,
        "trace.overhead_s": statistics.median(r["lat"] for r in traced)
        - statistics.median(r["lat"] for r in plain),
        f"{p}.jobs": total("jobs") / n,
        f"{p}.stages": total("stages") / n,
        f"{p}.tasks": total("tasks") / n,
        f"{p}.busy_frac": total("task_s") / (wall * cores),
        f"{p}.idle_frac": 1 - total("busy_s") / wall,
        f"{p}.gc_s": total("gc_s") / n,
        f"{p}.spill_bytes": total("spill_bytes") / n,
        "caching.leaked_rdds": max(r["leaked_rdds"] for r in traced),
    }
    if "construct_s" in traced[0].get("parts", {}):
        for part in ("construct_s", "plan_s", "exec_s"):
            m[f"registry.{part}"] = sum(r["parts"][part] for r in traced) / n
        for name, v in by_query.items():
            m[f"registry.{name}.p50_s"] = statistics.median(v)
    m.update(layer_metrics)
    m["caching.persisted_bytes_peak"] = max(
        [r["persisted_bytes"] for r in traced]
        + [layer_metrics.get("caching.persisted_bytes_peak", 0)])
    return m


def main(argv=None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = load_spec()
    sys.path.insert(0, ROOT)
    import spans
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}")
    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(HERE, ".work", f"{run_id}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        t = time.perf_counter()
        spark = start_session(work, cores)
        session_s = time.perf_counter() - t
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        w = workloads.WORKLOADS[args.workload](spark, work, args.seed)
        t = time.perf_counter()
        w.setup()
        gen_s = time.perf_counter() - t
        warmup = []
        for i in range(w.warmup_ops):
            t = time.perf_counter()
            w.op(i)
            w.after_op()
            warmup.append(time.perf_counter() - t)
        warmup_s = sum(warmup)
        setup_s = time.perf_counter() - t_start

        stamps = {"before": host_stamp(spark, cores)}
        tracer = status = None
        if args.trace:
            tracer = spans.Tracer(run_id)
            status = spans.StatusStore(spark)
        ops = run_ops(w, w.warmup_ops, args.seconds, tracer, status)
        run_problems = w.run_problems()
        for r in ops:
            r["problems"] += run_problems
        layer_metrics, layer_seconds = w.layers(
            tracer, status, statistics.median(
                r["lat"] for r in ops if r["traced"])
        ) if args.trace else ({}, {})
        stamps["after"] = host_stamp(spark, cores)
        jiffies = [stamps[k]["cpu_jiffies"] for k in ("before", "after")]
        stamps["steal_frac"] = (jiffies[1]["steal"] - jiffies[0]["steal"]) / max(
            1, jiffies[1]["total"] - jiffies[0]["total"])
        rss = peak_rss_mb(jvm_pid)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(1 for r in ops if r["problems"])
    plain = [r for r in ops if not r["traced"]]
    # latency of the ops that passed; of all ops only if none did
    lat = [r["lat"] for r in plain if not r["problems"]] or [
        r["lat"] for r in plain]
    by_query: dict[str, list[float]] = {}
    for r in plain:
        for k, v in r.get("parts", {}).get("query_s", {}).items():
            by_query.setdefault(k, []).append(v)
    if args.trace:
        measured = per_layer(w, ops, layer_metrics, session_s, cores,
                             by_query)
        names = spec["per_layer"]
    else:
        measured = {
            "latency_p50_s": statistics.median(lat),
            "rows_per_s": w.rows_per_op * len(lat) / sum(lat),
            "peak_rss_mb": rss,
            "setup_s": setup_s,
        }
        names = spec["end_to_end"]
    metrics = {}
    for m in names:
        value = measured.get(m["name"])
        if value is None and m["name"].startswith(w.off_path):
            value = 0
        if value is None:
            raise KeyError(f"{args.workload} did not measure {m['name']}")
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}

    detail = {
        "run_id": run_id, "cores": cores, "attempted": len(ops),
        "failed": failed, "failed_frac": failed / len(ops),
        "latency_n": len(lat),
        "setup": {"session_s": session_s, "gen_s": gen_s,
                  "warmup_s": warmup_s, "warmup_op_s": warmup},
        "latency_p50_s_by_query": {k: statistics.median(v)
                                   for k, v in sorted(by_query.items())},
        "layer_seconds": layer_seconds,
        "host": stamps, "metrics": metrics,
        "problems": {r["i"]: r["problems"] for r in ops if r["problems"]},
        "ops": [{k: v for k, v in r.items() if k != "problems"} for r in ops],
    }
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    if tracer is not None:
        tracer.write(os.path.join(out_dir, f"{run_id}.spans.jsonl"))

    for i, p in detail["problems"].items():
        print(f"# op {i} failed its check: {p}", file=sys.stderr)
    words = [f"# {run_id}", f"ops={len(ops)}",
             f"failed_frac={detail['failed_frac']:.4f}",
             f"latency_n={len(lat)}"]
    words += [f"{k}={v['value']:.6g}{v['unit']}" for k, v in metrics.items()]
    words += [f"{k}={v:.4g}s" for k, v in detail["setup"].items()
              if not isinstance(v, list)]
    words += [f"{k}={v:.4g}s" for k, v in layer_seconds.items()]
    words += [f"p50[{k}]={v:.4g}s"
              for k, v in detail["latency_p50_s_by_query"].items()]
    words += [f"steal_frac={stamps['steal_frac']:.4f}"]
    words += [f"{when}.{k}={v:.4g}s" for when in ("before", "after")
              for k, v in stamps[when].items() if k.startswith("calib")]
    words += [f"{when}.loadavg={stamps[when]['loadavg'][0]:.2f}"
              for when in ("before", "after")]
    print(" ".join(words))
    print(json.dumps({"correct": failed == 0, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
