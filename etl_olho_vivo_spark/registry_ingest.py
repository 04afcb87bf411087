"""Ingestion-edge + compaction + streaming-parity queries.

Four surfaces a 100 TB pipeline exercises constantly, each with the
strongest check it admits:

- ``olhovivo_source_scan`` — the custom Python DataSource (SURVEY §2.1 S1,
  ``sources/olhovivo_api.py``) scanned end-to-end through the stage-2
  flatten, hash-checked against a DuckDB ``range()`` twin of the
  deterministic offline fetcher.  The *data source itself* is under the
  oracle, not just the transforms downstream of it.
- ``latest_event_per_user`` — CDC/snapshot compaction ("latest record
  wins").  Implemented as a single-pass ``max_by`` aggregate (mergeable
  partial state, map-side combine) rather than a row_number window: at
  100 TB the window plan must fully sort every partition of the fact,
  while the aggregate ships one candidate row per key per map task.
- ``doc_editdist_near_dup`` — string-similarity near-dup via blocked
  Levenshtein: candidate pairs only *within* a (lang, source) block, so
  the join is key-equi (shuffle-partitionable) and never a cross product;
  the quadratic edit-distance only runs inside blocks.  Complements the
  dedup suite (exact / MinHash / SimHash / n-gram Jaccard / embedding).
- ``streaming_interval_counts`` — Structured Streaming parity in BOTH
  delivery modes: the events fact replayed through ``readStream`` (file
  source, availableNow) into a complete-mode 30-min windowed aggregate
  (final totals == the batch aggregation), UNIONed with an append-mode
  run over a three-file staging (newest half → second quarter → oldest
  quarter, ``maxFilesPerTrigger=1``) where ``withWatermark`` must drop
  the whole oldest quarter as late (Spark's late-event filter lags the
  eviction watermark by one batch) and emit only watermark-finalized
  windows — the at-scale late-data semantics, hash-checked, not just
  final totals.
"""

from __future__ import annotations

import itertools
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_olho_vivo_spark.operators.pairs import blocked_pairs
from etl_olho_vivo_spark.registry import register
from etl_olho_vivo_spark.sources.events_adapter import POSICOES_FROM_EVENTS_SQL
from etl_olho_vivo_spark.sources.tables import read_table

_STREAM_SEQ = itertools.count()


_ORC_BUILT: set[str] = set()


@register(
    "orc_roundtrip",
    """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       epoch_ms(o_orderdate) AS o_date_ms, o_orderpriority
FROM orders
""",
    doc="ORC format roundtrip (round 15 — source/sink breadth beyond "
    "the reference's JSON/CSV/parquet): the orders table written to "
    "an ORC scratch store and read back must hash-equal the original "
    "parquet values (the oracle never sees ORC — DuckDB reads the "
    "source parquet, so parity IS losslessness of the roundtrip "
    "across bigint/varchar/double).  The date column travels as "
    "epoch MILLISECONDS (bigint), not a timestamp: ORC timestamps "
    "carry local-wall semantics, and Brazil's pre-2019 DST makes "
    "some midnight wall times nonexistent under the driver's hostile "
    "America/Sao_Paulo session — epoch integers are the engine's "
    "TZ-free discipline (verify SKILL.md).  Scratch store per "
    "(sf_dir, pid) with the shared dead-sibling sweep.  bench=False: "
    "warm time here is tmpfs write+read speed, not a query plan "
    "(registry.Query.bench docstring, the measurement-free case).",
    driver=False,
    bench=False,
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import hashlib
    import os
    import shutil

    from etl_olho_vivo_spark.registry_data import _sweep_dead_scratch

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8] + f"_{os.getpid()}"
    root = f"{tempfile.gettempdir()}/etl_olho_vivo_orc"
    path = f"{root}/{tag}"
    if tag not in _ORC_BUILT or not os.path.exists(path):
        _sweep_dead_scratch(root)
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        (
            read_table(spark, sf_dir, "orders")
            .select(
                "o_orderkey", "o_custkey", "o_orderstatus",
                "o_totalprice",
                F.unix_millis(F.col("o_orderdate")).alias("o_date_ms"),
                "o_orderpriority",
            )
            .write.mode("overwrite")
            .orc(path)
        )
        _ORC_BUILT.add(tag)
    return spark.read.orc(path)


@register(
    "olhovivo_source_scan",
    """
WITH g AS (
  SELECT poll, li, vi,
         7 * 100000 + li AS cl,
         (7 * 100000 + li) * 100 + vi AS vid,
         (poll * 997 + vi * 31 + li * 7) % 30000 AS step
  FROM range(0, 4) p(poll), range(0, 3) l(li), range(0, 5) v(vi)
)
SELECT CAST(1000 + li AS VARCHAR) || '-' || CAST(10 + li % 90 AS VARCHAR)
         AS letreiro,
       cl AS codigo_linha,
       CAST((li % 2) + 1 AS INT) AS sentido_linha,
       'DEST_' || CAST(li AS VARCHAR) AS destino_linha,
       'ORIG_' || CAST(li AS VARCHAR) AS origem_linha,
       vid AS prefixo_veiculo,
       (vid % 10) < 7 AS acessibilidade,
       1704067200 + poll * 30 - (vi % 30) AS "timestamp",
       -23.8 + step * 1e-5 AS py,
       -46.85 + ((step * 7919) % 30000) * 1e-5 AS px
FROM g
""",
    doc="S1 REST source as a first-class scan: spark.read.format('olhovivo') "
    "(4 polls × 3 lines × 5 vehicles, seed 7) → flatten_posicoes.  The "
    "oracle regenerates the deterministic offline fetcher in pure SQL "
    "(range() cross products + the same integer arithmetic), so the custom "
    "DataSource, its partition fan-out, AND the ISO8601→epoch flatten are "
    "all under the value-hash.  Doubles match bit-for-bit because both "
    "sides compute `-23.8 + int*1e-5` as one IEEE exact-rounded expression.",
)
def q_olhovivo_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_olho_vivo_spark.io.flatten import flatten_posicoes
    from etl_olho_vivo_spark.sources.olhovivo_api import register as register_source

    register_source(spark)
    raw = (
        spark.read.format("olhovivo")
        .options(polls=4, lines=3, vehicles=5, seed=7)
        .load()
    )
    return flatten_posicoes(raw)


@register(
    "latest_event_per_user",
    """
SELECT user_id,
       event_id   AS last_event_id,
       event_type AS last_event_type,
       epoch_ms(ts) AS last_ts_ms,
       value      AS last_value
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""",
    doc="CDC snapshot compaction (latest record per key): Spark side is a "
    "single-pass max_by aggregate keyed on (ts, event_id) — mergeable "
    "partial state, so each map task ships ONE candidate per key and no "
    "full sort ever happens (the row_number-window plan the oracle uses "
    "would sort the whole 100 TB fact).  Tiebreak on event_id makes the "
    "winner unique and engine-independent.  driver=False (round 9, "
    "yielding its slot to dsir_select): README rotation category 1 — "
    "the max_by/max(struct) argmax pattern keeps a driver row via "
    "dedup_cluster_keep_best on documents; this row stays benchmarked "
    "and local-parity-swept.",
    driver=False,
)
def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events")
    ordkey = F.struct(F.col("ts"), F.col("event_id"))
    payload = F.struct("event_id", "event_type", "ts", "value")
    return (
        e.groupBy("user_id")
        .agg(F.max_by(payload, ordkey).alias("last"))
        .select(
            "user_id",
            F.col("last.event_id").alias("last_event_id"),
            F.col("last.event_type").alias("last_event_type"),
            F.unix_millis(F.col("last.ts")).alias("last_ts_ms"),
            F.col("last.value").alias("last_value"),
        )
    )


#: full-text edit-distance threshold for doc_editdist_near_dup; the
#: length-band width is T+1 so |band diff| >= 2 implies a length gap
#: > T, which already exceeds the threshold (Levenshtein lower bound)
_EDITDIST_T = 60


@register(
    "doc_editdist_near_dup",
    f"""
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       levenshtein(a.text, b.text) AS lev_dist
FROM documents a JOIN documents b
  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
WHERE levenshtein(a.text, b.text) <= {_EDITDIST_T}
""",
    doc="Blocked edit-distance near-dup with the LENGTH-BAND escape "
    "and the EXACT-DUP COLLAPSE — the oracle is the naive "
    "quadratic join, so the value-hash proves both are LOSSLESS.  "
    "Stage 1 collapses identical texts: groupBy (lang, source, "
    "md5(text)) keeps one representative (gid = min doc_id) per "
    "distinct text (the fingerprint-identity convention of exact "
    "dedup), because candidate pairs in a duplicate-heavy crawl are "
    "DOMINATED by exact copies and an O(len·T) DP per copy-pair is "
    "pure waste — DP work becomes a function of DISTINCT texts only "
    "(measured at 10× verbatim replicas: 64 s → ~3 s, the DP cost no "
    "longer scales with duplication).  Stage 2 pairs representatives "
    "within (lang, source, length-band ±1): Levenshtein >= "
    "|len(a)-len(b)|, and with band width T+1 any pair two bands "
    "apart has a length gap > T, so it can never reach the threshold; "
    "pairs land exactly once by the half-plane band rule (README, "
    "Scale design).  Stage 3 expands verified representative pairs back "
    "to member pairs with slim merge joins (least/greatest restores "
    "the doc_a < doc_b orientation — ids interleave across groups) "
    "and unions within-group pairs at distance 0 (levenshtein(t,t) = "
    "0): output cardinality is the answer's own size, never DP-bound.  "
    "The pairing is operators/pairs.blocked_pairs (merge join, "
    "exchange pinned by number — each output partition does O(len·T) "
    "DP work that byte counts misjudge); the DP itself is "
    "threshold-banded (levenshtein's 3-arg form, O(len·T) not O(len²)) "
    "and runs only after the |len diff| <= T lower-bound prune.  "
    "Completes the dedup family: exact / MinHash / SimHash / n-gram Jaccard / "
    "embedding-cosine / edit-distance.",
)
def q_doc_editdist_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_olho_vivo_spark.caching import SESSION_BAG

    d = read_table(spark, sf_dir, "documents")
    width = _EDITDIST_T + 1

    # stage 1: exact-dup collapse (fingerprint identity, skew-safe
    # groupBy aggregate — never a window over the text hash).
    # n_members rides the same partial aggregate for free: stage 3's
    # diagonal leg only needs groups that actually have within-group
    # pairs, and count(*) here is what lets it skip the singletons.
    fp = d.select(
        "lang", "source", "doc_id", "text", F.md5("text").alias("fp")
    )
    groups = SESSION_BAG.add(
        fp.groupBy("lang", "source", "fp").agg(
            F.min("doc_id").alias("gid"), F.first("text").alias("text"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )
    members = SESSION_BAG.add(
        fp.select("lang", "source", "fp", "doc_id")
        .join(
            groups.select("lang", "source", "fp", "gid").hint("merge"),
            on=["lang", "source", "fp"],
        )
        .select("gid", "doc_id")
    )

    # stage 2: banded DP over distinct-text representatives only.  The
    # cheap length lower bound is a plain filter, so it joins the pair
    # orientation in the join condition; levenshtein evaluates ONCE,
    # above the join, wrapped in explode_outer(filter(array(·))) — a
    # .filter(dist >= 0) on the alias would be pushed below the project
    # with the DP SUBSTITUTED into the join condition.  The outer
    # generator is the pushdown barrier (InferFiltersFromGenerate skips
    # outer generates), and the NULL-drop filters the GENERATED
    # attribute, which cannot move below it.  3-arg levenshtein marks
    # distances > T as -1.
    dp = F.explode_outer(F.filter(
        F.array(F.levenshtein("text_a", "text_b", _EDITDIST_T)),
        lambda x: x >= 0,
    ))
    rep_pairs = blocked_pairs(
        groups.select(
            "lang", "source", "gid", "text",
            F.length("text").alias("len"),
            (F.length("text") / width).cast("int").alias("band"),
        ),
        id="gid", pair=("gid_a", "gid_b"), keys=("lang", "source"),
        near=("band",), carry=("len", "text"), pin=True,
        verify=lambda p: p.filter(
            F.abs(F.col("len_a") - F.col("len_b")) <= _EDITDIST_T
        ).select("*", dp.alias("lev_dist")).filter(
            F.col("lev_dist").isNotNull()
        ),
    ).select("gid_a", "gid_b", "lev_dist")

    # stage 3: expand verified representative pairs back to member
    # pairs.  Within-group pairs ride the SAME expansion as the
    # diagonal (gid, gid, 0) rows — levenshtein(t, t) = 0 — so there is
    # ONE member join pass, not a separate self-join; the filter keeps
    # every cross-group member pair (ids interleave across groups,
    # least/greatest restores the doc_a < doc_b orientation) and the
    # ordered half of each diagonal block.
    # Only groups with >= 2 members can emit a within-group pair — a
    # singleton's diagonal row joins to its one member on both sides
    # and the (da < db) orientation filter drops it.  In a mostly-
    # singleton corpus the filter removes almost the whole diagonal
    # leg from the two expansion joins (n_members is free in the
    # stage-1 aggregate).
    diag = groups.filter(F.col("n_members") >= 2).select(
        F.col("gid").alias("gid_a"),
        F.col("gid").alias("gid_b"),
        F.lit(0).alias("lev_dist"),
    )
    ma = members.select(
        F.col("gid").alias("gid_a"), F.col("doc_id").alias("da")
    )
    mb = members.select(
        F.col("gid").alias("gid_b"), F.col("doc_id").alias("db")
    )
    return (
        rep_pairs.unionByName(diag)
        .join(ma.hint("merge"), "gid_a")
        .join(mb.hint("merge"), "gid_b")
        .filter((F.col("gid_a") != F.col("gid_b")) | (F.col("da") < F.col("db")))
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "lev_dist",
        )
    )


def _run_events_stream(
    spark: SparkSession,
    sf_dir: str,
    prefix: str,
    build,
    output_mode: str,
    stage_fn=None,
    reader_options: dict | None = None,
) -> DataFrame:
    """Shared parity-query harness: replay the events parquet through a
    readStream file source, run ``build(stream_df)``, collect the memory
    sink via Arrow, clean up every per-run resource.

    One definition for every streaming parity query — the staging
    symlink, nanos-ts fixup, sink lifecycle, and cleanup ordering must
    not drift between them.

    ``stage_fn(spark, src, stage_dir)`` overrides how the landing
    directory is populated (default: one symlink to the events parquet —
    no copy); ``reader_options`` are passed to the file-stream reader
    (e.g. ``maxFilesPerTrigger`` for multi-micro-batch replays).
    """
    import os
    import shutil

    from etl_olho_vivo_spark.sources.tables import pin_parquet_instant_confs

    pin_parquet_instant_confs(spark)
    src = os.path.join(sf_dir, "events.parquet")
    batch_schema = spark.read.parquet(src).schema
    # The file-stream source monitors a *directory*; stage the single-file
    # table behind one (symlink — no data copy, same as a real landing zone).
    stage = tempfile.mkdtemp(prefix=f"stream_{prefix}_")
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{prefix}_")
    name = f"{prefix}_{next(_STREAM_SEQ)}"
    try:
        if stage_fn is None:
            os.symlink(
                os.path.abspath(src), os.path.join(stage, "events.parquet")
            )
        else:
            stage_fn(spark, src, stage)
        reader = spark.readStream.schema(batch_schema)
        for k, v in (reader_options or {}).items():
            reader = reader.option(k, v)
        stream = reader.parquet(stage)
        ts_type = dict(
            (f.name, f.dataType.simpleString()) for f in batch_schema
        )
        if ts_type.get("ts") == "bigint":  # TIMESTAMP(NANOS) read as nanos
            stream = stream.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        query = (
            build(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        # Detach the (tiny) result from the memory sink so the per-run
        # sink table and temp dirs can be dropped immediately — this
        # driver materialization is a parity-check convenience; production
        # streams write to files (see streaming/pipeline.py).  Arrow
        # round-trip, not collect(): localizing thousands of Row objects
        # costs ~1.4 s in driver pickling; toPandas/createDataFrame moves
        # the same rows as Arrow batches (~4x faster here).
        result = spark.table(name)
        return spark.createDataFrame(result.toPandas(), result.schema)
    finally:
        spark.catalog.dropTempView(name)
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)



def _stage_thirds_by_time(spark: SparkSession, src: str, stage: str) -> None:
    """Stage the events table as THREE parquet files — newest-half slice
    first, then the second-quarter slice, then the oldest quarter — so
    the file stream replays newest → middle → oldest.

    Why three, not two: since the multi-stateful-operator work
    (Spark 3.4+), a stateful operator carries TWO watermarks — late-event
    FILTERING uses the watermark committed before the *previous* batch
    (``eventTimeWatermarkForLateEvents``) while state EVICTION/emission
    uses the one committed after it (``eventTimeWatermarkForEviction``) —
    verified against this runtime's StateStoreSave node, which showed
    ``Append, 0, <max−delay>`` on the second micro-batch.  So one-batch-old
    stragglers still land, and a two-file replay drops nothing.  With
    three files: batch 0 (newest slice, contains max(ts)) commits
    watermark ``max(ts) − delay``; batch 1 (middle slice) lands and is
    emitted; batch 2 (oldest quarter) finally runs with the late-event
    filter at ``max(ts) − delay`` and every row of it — all targeting
    long-finalized windows — must be dropped.  File order is pinned via
    mtime (FileStreamSource processes oldest-mtime first, ``latestFirst``
    defaults false).
    """
    import glob
    import os
    import shutil

    df = spark.read.parquet(src)
    ts_type = dict((f.name, f.dataType.simpleString()) for f in df.schema)
    # nanosecond event time, whatever the physical ts type
    # (TIMESTAMP(NANOS) read as bigint nanos, or a micros timestamp)
    ns = (
        F.col("ts")
        if ts_type.get("ts") == "bigint"
        else F.unix_micros(F.col("ts")) * F.lit(1000)
    )
    lo, hi = df.agg(F.min(ns), F.max(ns)).first()  # 1-row driver agg
    cut = lo + (hi - lo) // 2  # oracle twin: tmin + (tmax - tmin) // 2
    cutlo = lo + (hi - lo) // 4  # oracle twin: tmin + (tmax - tmin) // 4
    slices = [
        ns >= F.lit(cut),
        (ns >= F.lit(cutlo)) & (ns < F.lit(cut)),
        ns < F.lit(cutlo),
    ]
    for i, pred in enumerate(slices):
        tmp = tempfile.mkdtemp(prefix="stage_half_")
        try:
            df.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
            part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            dst = os.path.join(stage, f"events_{i}.parquet")
            shutil.move(part, dst)
            # distinct whole-second mtimes: replay order = newer half first
            os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


@register(
    "streaming_interval_counts",
    """
WITH t AS (SELECT (epoch_ms(ts) // 1000 // 1800) * 1800 AS bucket_start,
                  event_type
           FROM events),
complete_agg AS (
  SELECT bucket_start, event_type, count(*) AS n_events
  FROM t GROUP BY 1, 2
),
nst AS (SELECT epoch_ns(ts) AS ns, event_type FROM events),
s AS (SELECT min(ns) AS tmin, max(ns) AS tmax FROM nst),
newer AS (
  SELECT ns, event_type FROM nst, s
  WHERE ns >= s.tmin + (s.tmax - s.tmin) // 4
),
append_agg AS (
  SELECT (ns // 1000000000 // 1800) * 1800 AS bucket_start, event_type,
         count(*) AS n_events
  FROM newer GROUP BY 1, 2
)
SELECT 'complete' AS kind, bucket_start, event_type, n_events
FROM complete_agg
UNION ALL
SELECT 'append' AS kind, a.bucket_start, a.event_type, a.n_events
FROM append_agg a, s
WHERE (a.bucket_start + 1800) * 1000 <= s.tmax // 1000000 - 600000
""",
    doc="Structured Streaming under the oracle, BOTH delivery modes. "
    "kind='complete': the events fact replayed through a readStream file "
    "source (Trigger.AvailableNow) into a complete-mode 30-min F.window "
    "aggregate — final totals equal the batch groupBy bit-for-bit. "
    "kind='append': the same fact staged as three files (newest half, "
    "second quarter, oldest quarter — maxFilesPerTrigger=1, mtime-pinned "
    "order) through withWatermark('ts', '10 minutes') in APPEND mode.  "
    "Batch 0 commits watermark max(ts)−10min; Spark's late-event filter "
    "uses the watermark from TWO batches back "
    "(eventTimeWatermarkForLateEvents, split from the eviction watermark "
    "since the multi-stateful-operator work), so the middle slice still "
    "lands while batch 2's entire oldest quarter is late and must be "
    "dropped; only windows whose end ≤ the final watermark may be "
    "emitted.  The oracle's append branch is therefore the newest-3/4 "
    "aggregate with the emission cutoff (bucket_end ≤ max_ts − 10min) — "
    "certifying the late-data drop and the append finalization rule, "
    "not just final totals.",
)
def q_streaming_interval_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    def interval_agg(stream: DataFrame) -> DataFrame:
        return (
            stream.groupBy(
                F.window("ts", "30 minutes").alias("w"), "event_type"
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.unix_timestamp("w.start").alias("bucket_start"),
                "event_type",
                "n_events",
            )
        )

    complete = _run_events_stream(
        spark, sf_dir, "streaming_interval_counts", interval_agg, "complete"
    )
    append = _run_events_stream(
        spark,
        sf_dir,
        "streaming_watermark_append",
        lambda s: interval_agg(s.withWatermark("ts", "10 minutes")),
        "append",
        stage_fn=_stage_thirds_by_time,
        reader_options={"maxFilesPerTrigger": "1"},
    )
    return complete.withColumn("kind", F.lit("complete")).unionByName(
        append.withColumn("kind", F.lit("append"))
    )


@register(
    "streaming_lag_parity",
    f"""
WITH pos AS ({POSICOES_FROM_EVENTS_SQL}),
lagged AS (
  SELECT prefixo_veiculo, codigo_linha, "timestamp", px, py, event_id,
         lag("timestamp") OVER w AS timestamp_anterior,
         lag(px) OVER w AS px_anterior,
         lag(py) OVER w AS py_anterior
  FROM pos
  WINDOW w AS (PARTITION BY prefixo_veiculo ORDER BY "timestamp", event_id)
)
SELECT prefixo_veiculo, codigo_linha, "timestamp", px, py, event_id,
       timestamp_anterior, px_anterior, py_anterior
FROM lagged WHERE timestamp_anterior IS NOT NULL
""",
    doc="The stateful streaming lag under the oracle: the events fact "
    "replayed through readStream -> posicoes adapter -> "
    "applyInPandasWithState keyed ping-pairing "
    "(streaming/pipeline.py:stream_ping_pairs), checked against the batch "
    "lag window twin in DuckDB.  A single availableNow micro-batch with "
    "an (timestamp, event_id) in-batch sort makes the arrival order equal "
    "the batch ORDER BY, so the online per-vehicle state machine emits "
    "exactly the batch lag pairs — value-hash parity for the custom "
    "stateful operator, not just the built-in windowed agg.",
)
def q_streaming_lag_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_olho_vivo_spark.sources.events_adapter import posicoes_project
    from etl_olho_vivo_spark.streaming.pipeline import stream_ping_pairs

    def build(stream: DataFrame) -> DataFrame:
        pos = posicoes_project(stream).select(
            # slim the stateful exchange: only what pairing + parity needs
            "prefixo_veiculo", "codigo_linha", "timestamp", "px", "py",
            "event_id",
        )
        return stream_ping_pairs(
            pos, tiebreakers=("event_id",), carry=("event_id",)
        )

    return _run_events_stream(
        spark, sf_dir, "streaming_lag_parity", build, "append"
    )


@register(
    "streaming_session_parity",
    """
WITH gaps AS (
  SELECT event_id, user_id, epoch_ms(ts) // 1000 AS s,
         CASE WHEN epoch_ms(ts) // 1000
                   - lag(epoch_ms(ts) // 1000)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > 1800
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
)
SELECT event_id, user_id,
       CAST(sum(new_session) OVER (
         PARTITION BY user_id ORDER BY s, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS session_idx
FROM gaps
""",
    doc="Online gap sessionization under the oracle (round 10): the "
    "events fact replayed through readStream → applyInPandasWithState "
    "keyed per-user session state (streaming/pipeline.py:"
    "stream_sessionize — state is (last second, session counter), an "
    "event opens a new session when its gap exceeds 1800 s), checked "
    "value-for-value against the batch cumulative-sum window twin "
    "(sessionize_events' oracle verbatim).  The single availableNow "
    "micro-batch with an in-batch (s, event_id) sort makes arrival "
    "order equal the batch ORDER BY; session indices are insensitive "
    "to intra-second order by construction (an equal-second run can "
    "never contain a gap boundary).  Third custom stateful operator "
    "under exact parity, beside the lag pairing and the watermarked "
    "window agg.  driver=False: the 50-slot window is full; this row "
    "is bench-swept and locally parity-swept like the other demoted "
    "rows.",
    driver=False,
)
def q_streaming_session_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_olho_vivo_spark.streaming.pipeline import stream_sessionize

    return _run_events_stream(
        spark, sf_dir, "streaming_session_parity", stream_sessionize,
        "append",
    )
