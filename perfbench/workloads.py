"""The benchmark's workloads: inputs, the timed operation, output checks
and the traced split into layers.

``daily``   one op = ``plans.daily.run_daily`` over the generated raw JSON
            zone into a fresh output directory.  Data work dominates, in
            ``io.flatten``, ``operators.speed`` and ``io.sinks``.
``queries`` one op = one pass over the 7 frozen ``HEADLINE`` registry
            queries (each ``q.fn()`` plus a noop write) over the generated
            ``events`` table, in an order shuffled by the seed; one client,
            closed loop.  Fixed per-query cost dominates: construction,
            planning, job and stage launch.

A workload's ``plan`` prefixes the status-store counters of its traced
ops; ``off_path`` names the per-layer metric prefixes of layers its op
never calls, which read 0 on it.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

import check
import gen
from bench import HEADLINE
from etl_olho_vivo_spark import registry
from etl_olho_vivo_spark.caching import release_session_caches
from etl_olho_vivo_spark.io.flatten import (
    corrupt_records,
    ingest_posicoes,
    read_raw_posicoes,
)
from etl_olho_vivo_spark.io.sinks import write_csv, write_posicoes_parquet
from etl_olho_vivo_spark.operators import speed
from etl_olho_vivo_spark.plans.daily import run_daily

# run_daily's lag tiebreakers (plans/daily.py)
DAILY_TIEBREAKERS = ("codigo_linha", "py", "px")
# timings of each prefix in the traced layer split
LAYER_REPS = 3


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def count_obs(df, name: str):
    """``df`` observed with a row count that rides its own action."""
    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def tree_size(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, Hadoop side files excluded."""
    n = size = 0
    for d, _, names in os.walk(path):
        for f in names:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


class Workload:
    """Defaults: no per-op or per-run check, no traced decomposition."""

    name = ""
    plan = ""
    off_path: tuple[str, ...] = ()

    def after_op(self) -> None:
        """Untimed, after every op: release the caches registry queries
        leave in the session bag (bench.py does the same)."""
        release_session_caches()

    def check(self, i: int) -> list[str]:
        return []

    def run_problems(self) -> list[str]:
        """Problems found once per run; each fails every op of the run."""
        return []

    def layers(self, tracer, status, op_wall: float) -> tuple[dict, dict]:
        return {}, {}


class Daily(Workload):
    name = "daily"
    plan = "plans.daily"
    off_path = ("registry.",)
    warmup_ops = 3
    # 50 lines x 20 vehicles polled every 120 s for 10 hours (~290k pings)
    n_lines, vehicles_per_line, n_polls = 50, 20, 300

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.raw = os.path.join(work, "raw")
        self._expected = None

    def setup(self) -> None:
        self.pings = gen.write_raw_zone(
            self.raw, self.seed, self.n_lines, self.vehicles_per_line,
            self.n_polls)
        self.rows_per_op = self.pings.num_rows
        self.input_bytes = tree_size(self.raw)[1]

    def _out(self, i: int) -> str:
        return os.path.join(self.work, f"out{i}")

    def op_label(self, i: int) -> str:
        return "run_daily"

    def op(self, i: int, tracer=None) -> dict:
        run_daily(self.spark, self.raw, self._out(i))
        return {}

    def check(self, i: int) -> list[str]:
        """The op's three CSV datasets against the DuckDB reference."""
        if self._expected is None:
            self._expected = check.daily_reference(self.pings)
        try:
            return check.daily_problems(
                self._expected, check.daily_output(self._out(i)))
        finally:
            shutil.rmtree(self._out(i), ignore_errors=True)

    def layers(self, tracer, status, op_wall: float) -> tuple[dict, dict]:
        """Layer self times by prefix materialization, each to noop.

        Follows run_daily's composition: the flattened frame, the cleaned
        speed frame (persisted, as run_daily does), then each derived
        frame.  The sinks write the same frames, so a sink's self time is
        its write minus the noop of what it writes.  Every prefix is timed
        ``LAYER_REPS`` times and self times come from the medians.  A
        layer's ``share`` is its self time over ``op_wall``, the median
        traced op; run_daily flattens twice (for the fact sink and for the
        cleaned frame) but ``io.flatten.s`` is one pass, so the remainder
        holds the second pass and the time outside the layers' jobs.
        Returns (per-layer metrics, layer seconds).
        """
        spark, out = self.spark, os.path.join(self.work, "layers")
        t: dict[str, list[float]] = {}

        def timed(key, fn):
            s = time.perf_counter()
            fn()
            t.setdefault(key, []).append(time.perf_counter() - s)

        m: dict = {}
        for rep in range(LAYER_REPS):
            with tracer.span("daily.layers", rep=rep):
                pos = ingest_posicoes(spark, self.raw)
                with tracer.span("io.flatten"), \
                        status.group(f"io.flatten#{rep}"):
                    counted, rows = count_obs(pos, "rows_out")
                    timed("flatten", lambda: noop(counted))
                cached = speed.cleaned_speeds(
                    pos, tiebreakers=DAILY_TIEBREAKERS
                ).persist(StorageLevel.MEMORY_AND_DISK)
                with tracer.span("operators.speed"), \
                        status.group(f"operators.speed#{rep}"):
                    # this pass also fills the cache the derived frames read
                    counted, kept = count_obs(cached, "kept")
                    timed("cleaned", lambda: noop(counted))
                    derived = {
                        "lentidao": speed.lentidao(cached),
                        "velocidades_agregadas":
                            speed.velocidades_agregadas(cached),
                        "acessiveis": speed.acessiveis(cached),
                    }
                    timed("derived",
                          lambda: [noop(df) for df in derived.values()])
                m["caching.persisted_bytes_peak"] = max(
                    m.get("caching.persisted_bytes_peak", 0),
                    status.persisted()[1])
                with tracer.span("io.sinks"):
                    timed("csv", lambda: [
                        write_csv(df, os.path.join(out, name))
                        for name, df in derived.items()])
                    timed("fact", lambda: write_posicoes_parquet(
                        pos, os.path.join(out, "posicoes")))
                cached.unpersist(True)
            files, written = tree_size(out)
            shutil.rmtree(out, ignore_errors=True)
        lagged = speed.with_lag(
            speed.with_intervals(pos), DAILY_TIEBREAKERS
        ).filter(F.col("px_anterior").isNotNull()).count()
        # a noop write, not count(): Spark rejects scans that read only
        # the corrupt-record column, and count() would prune ``hr``
        quarantined, corrupt = count_obs(
            corrupt_records(read_raw_posicoes(spark, self.raw)), "corrupt")
        noop(quarantined)

        med = {k: statistics.median(v) for k, v in t.items()}
        seconds = {
            "io.flatten.s": med["flatten"],
            "operators.speed.s":
                med["cleaned"] - med["flatten"] + med["derived"],
            "io.sinks.csv_s": med["csv"] - med["derived"],
            "io.sinks.fact_s": med["fact"] - med["flatten"],
        }
        flat = status.group_stats("io.flatten#0")
        spd = status.group_stats("operators.speed#0")
        m.update(seconds)
        m.update({
            "io.flatten.share": seconds["io.flatten.s"] / op_wall,
            "io.flatten.input_bytes": flat["input_bytes"],
            "io.flatten.rows_out": rows.get["n"],
            "io.flatten.corrupt_rows": corrupt.get["n"],
            "operators.speed.share": seconds["operators.speed.s"] / op_wall,
            "operators.speed.shuffle_bytes": spd["shuffle_write_bytes"],
            "operators.speed.keep_ratio": kept.get["n"] / lagged,
            "io.sinks.share": (seconds["io.sinks.csv_s"]
                               + seconds["io.sinks.fact_s"]) / op_wall,
            "io.sinks.bytes_written": written,
            "io.sinks.files_written": files,
            "io.sinks.write_amp": written / self.input_bytes,
        })
        return m, seconds


class Queries(Workload):
    name = "queries"
    plan = "registry"
    off_path = ("io.", "operators.speed.", "plans.daily.")
    warmup_ops = 3
    # the shape of the sf0.01 events test table (TESTDATA.md)
    n_rows, n_users = 10_000, 150

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.sf_dir = os.path.join(work, "sf")

    def setup(self) -> None:
        gen.write_events(self.sf_dir, self.seed, self.n_rows, self.n_users)
        # every query scans the events table once
        self.rows_per_op = self.n_rows * len(HEADLINE)
        self.input_bytes = tree_size(self.sf_dir)[1]

    def op_label(self, i: int) -> str:
        return "headline_pass"

    def order(self, i: int) -> list[str]:
        """HEADLINE in the seeded order of pass ``i``."""
        names = list(HEADLINE)
        random.Random(f"{self.seed}-{i}").shuffle(names)
        return names

    def op(self, i: int, tracer=None) -> dict:
        """One pass: each query's ``q.fn()`` plus its noop write, session
        caches released after each.

        Traced, each query is split into construction, planning and
        execution spans.  A noop write would plan the query again in a
        QueryExecution of its own, so the traced op plans the frame's own
        QueryExecution (``executedPlan``) and runs that plan
        (``toRdd().count()``, a job over every partition, as the noop
        write runs).  Adaptive re-planning between stages stays in the
        execution span."""
        parts = {"query_s": {}, "construct_s": 0.0, "plan_s": 0.0,
                 "exec_s": 0.0}
        for name in self.order(i):
            fn = registry.REGISTRY[name].fn
            t = time.perf_counter()
            if tracer is None:
                noop(fn(self.spark, self.sf_dir))
            else:
                with tracer.span("registry", query=name):
                    with tracer.span("registry.construct") as c:
                        df = fn(self.spark, self.sf_dir)
                    qe = df._jdf.queryExecution()
                    with tracer.span("registry.plan") as p:
                        qe.executedPlan()
                    with tracer.span("registry.exec") as e:
                        qe.toRdd().count()
                for key, s in (("construct_s", c), ("plan_s", p),
                               ("exec_s", e)):
                    parts[key] += s.end - s.start
            parts["query_s"][name] = time.perf_counter() - t
            release_session_caches()
        return parts

    def run_problems(self) -> list[str]:
        """Each query once against its oracle SQL, outside the timed loop."""
        out = []
        for name in HEADLINE:
            q = registry.REGISTRY[name]
            rows = q.fn(self.spark, self.sf_dir).toPandas()
            release_session_caches()
            out += [f"{name}: {p}"
                    for p in check.query_problems(rows, q.oracle, self.sf_dir)]
        return out


WORKLOADS = {w.name: w for w in (Daily, Queries)}
