"""Extended relational + vector surface: as-of join, semi join, cube,
exact quantiles, cell-blocked embedding near-dup, tf-idf.

Same determinism discipline as the sibling registries: integer/cents
arithmetic wherever a value is aggregated, rounding before anything
transcendental-derived is ordered or emitted, total orderings with unique
tiebreakers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_olho_vivo_spark.operators.asof import asof_join
from etl_olho_vivo_spark.operators.pairs import blocked_pairs
from etl_olho_vivo_spark.operators.similarity import ivf_assign
from etl_olho_vivo_spark.registry import register
from etl_olho_vivo_spark.sources.tables import read_table


@register(
    "asof_click_view",
    """
SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
       v.event_id AS view_event_id,
       epoch_us(c.ts) - epoch_us(v.ts) AS lag_us
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON c.user_id = v.user_id AND c.ts >= v.ts
""",
    doc="As-of join: each click enriched with the user's most recent "
    "prior-or-simultaneous view.  Engine implements it as union + one "
    "keyed window (O(L+R), single shuffle — operators/asof.py); the "
    "oracle certifies the semantics against DuckDB's native ASOF JOIN.",
)
def q_asof_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts"))
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", ts_us.alias("ts_us")
    )
    views = e.filter(F.col("event_type") == "view").select(
        F.col("user_id"),
        ts_us.alias("ts_us"),
        F.col("event_id").alias("view_event_id"),
        ts_us.alias("view_ts_us"),
    )
    out = asof_join(
        clicks,
        views,
        on="user_id",
        ts="ts_us",
        right_cols=["view_event_id", "view_ts_us"],
        tiebreak="view_event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts_us",
        "view_event_id",
        (F.col("ts_us") - F.col("view_ts_us")).alias("lag_us"),
    )


@register(
    "orders_with_recent_lineitem",
    """
SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND epoch_ms(l.l_shipdate) >= 896659200000
)
""",
    doc="LEFT SEMI join (EXISTS): orders with any lineitem shipped on/after "
    "1998-06-01.  Semi joins never duplicate or widen the probe side — at "
    "scale the build side is only (orderkey) after pushdown.",
)
def q_orders_with_recent_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    li = read_table(
        spark, sf_dir, "lineitem",
        ts_ms_filter=("l_shipdate", ">=", 896659200000),
    )
    return o.join(
        li, o.o_orderkey == li.l_orderkey, "left_semi"
    ).select("o_orderkey", "o_custkey", "o_totalprice")


_GB_EXT_MEASURES = """
       count(*) AS n,
       CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid
"""


@register(
    "groupby_extensions",
    f"""
SELECT 'cube' AS mode, l_returnflag, l_linestatus, {_GB_EXT_MEASURES}
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
UNION ALL
SELECT 'rollup' AS mode, l_returnflag, l_linestatus, {_GB_EXT_MEASURES}
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
UNION ALL
SELECT 'gsets' AS mode, l_returnflag, l_linestatus, {_GB_EXT_MEASURES}
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
""",
    doc="The full GROUP BY extension surface in one tagged union: CUBE "
    "(all four grouping sets), ROLLUP (hierarchy subtotals), and an "
    "asymmetric explicit GROUPING SETS, each with grouping_id to "
    "disambiguate NULL-as-group from NULL-as-value.  Physically ONE cube "
    "aggregation (one scan, one Expand, one partial-aggregated exchange): "
    "every ROLLUP/GROUPING SETS set is a subset of the cube's sets — "
    "gid ∈ {0:(f,l), 1:(f), 2:(l), 3:()} — so the three branches are an "
    "explode of per-row mode tags over the tiny cube RESULT, not "
    "re-scans and not a self-union (whose analyzer dedup re-aliases "
    "later branches and defeats cache reuse; the oracle keeps three "
    "literal GROUP BY clauses — same values).  Money summed in integer "
    "cents — order-independent, bit-exact at any scale.",
)
def q_groupby_extensions(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    cube = li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("revenue_cents"),
        F.grouping_id().alias("gid"),
    )
    # ROLLUP(f,l) = sets {(f,l),(f),()} = gid {0,1,3}; the asymmetric
    # GROUPING SETS here names the same three sets.  gid=2 ((l) alone)
    # belongs to the cube only.
    modes = F.when(
        F.col("gid").isin(0, 1, 3),
        F.array(F.lit("cube"), F.lit("rollup"), F.lit("gsets")),
    ).otherwise(F.array(F.lit("cube")))
    return cube.select(
        F.explode(modes).alias("mode"),
        "l_returnflag", "l_linestatus", "n", "revenue_cents", "gid",
    )


@register(
    "quantity_quantiles",
    """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.25), 6) AS q25,
       round(quantile_cont(l_quantity, 0.5), 6)  AS q50,
       round(quantile_cont(l_quantity, 0.75), 6) AS q75,
       round(quantile_cont(l_quantity, 0.95), 6) AS q95
FROM lineitem GROUP BY l_returnflag
""",
    doc="Exact interpolated quantiles per group (SQL PERCENTILE_CONT "
    "semantics in both engines).  The exact form sorts within each group; "
    "the documented scale path swaps in approx_percentile (t-digest) when "
    "a group no longer fits a partition.  driver=False since round 15 "
    "(rotation, r14 verdict #1): yielded its driver slot to "
    "video_frame_containment; the aggregate family stays driver-checked "
    "via groupby_extensions + bucketed_order_rollup, and this row keeps "
    "its local oracle sweep.",
    driver=False,
)
def q_quantity_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    qs = {"q25": 0.25, "q50": 0.5, "q75": 0.75, "q95": 0.95}
    return li.groupBy("l_returnflag").agg(
        *[
            F.round(F.expr(f"percentile(l_quantity, {p})"), 6).alias(name)
            for name, p in qs.items()
        ]
    )


# quantization oracle fragment from the ONE shared grid definition
from etl_olho_vivo_spark.operators.similarity import duck_quantize_expr

_D_QUANT = "(" + duck_quantize_expr("{a}") + ")"


@register(
    "embedding_near_dup_pairs",
    f"""
WITH v AS (
  SELECT vec_id, label, {_D_QUANT.format(a='embedding')} AS qv
  FROM embeddings
),
c AS (SELECT vec_id AS cell_id, qv AS qc FROM v WHERE vec_id < 16),
d AS (
  SELECT v.vec_id, v.label, v.qv, c.cell_id,
         CAST(list_sum(list_transform(range(0, len(v.qv)),
           i -> (v.qv[i+1] - c.qc[i+1]) * (v.qv[i+1] - c.qc[i+1])))
           AS BIGINT) AS dist
  FROM v, c
),
a AS (
  SELECT vec_id, label, qv, cell_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dist, cell_id) AS rn FROM d
  ) WHERE rn = 1
),
p AS (
  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b, x.cell_id,
         round(
           CAST(list_sum(list_transform(range(0, len(x.qv)),
             i -> x.qv[i+1] * y.qv[i+1])) AS DOUBLE)
           / (sqrt(CAST(list_sum(list_transform(range(0, len(x.qv)),
                i -> x.qv[i+1] * x.qv[i+1])) AS DOUBLE))
            * sqrt(CAST(list_sum(list_transform(range(0, len(y.qv)),
                i -> y.qv[i+1] * y.qv[i+1])) AS DOUBLE))), 6) AS cos_sim
  FROM a x JOIN a y ON x.cell_id = y.cell_id AND x.vec_id < y.vec_id
)
SELECT vec_a, vec_b, cell_id, cos_sim FROM p WHERE cos_sim >= 0.4
""",
    doc="Embedding-cosine near-dup: candidate pairs restricted to the same "
    "IVF cell (the blocking that avoids the O(n²) cross product at scale), "
    "exact integer dot products on quantized components, cosine rounded "
    "then thresholded.  Threshold 0.4 suits the synthetic near-orthogonal "
    "vectors; real corpora use 0.9+ with the identical plan.",
)
def q_embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 16 cells is the ORACLE PIN (the DuckDB SQL above hardcodes the
    # same assignment); the operator's own DEFAULT (n_cells=None) is
    # density-adaptive — n_cells ∝ corpus via
    # DEFAULT_CELL_OCCUPANCY — and the bench scale tier measures that
    # default next to this fixed-grid row
    return embedding_near_dup_frame(spark, sf_dir, n_cells=16)


def embedding_near_dup_frame(
    spark: SparkSession, sf_dir: str, n_cells: int | None = None
) -> DataFrame:
    from etl_olho_vivo_spark.caching import SESSION_BAG
    from etl_olho_vivo_spark.operators.similarity import (
        DEFAULT_CELL_OCCUPANCY,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    if n_cells is None:
        # density-adaptive DEFAULT: derive the grid from the corpus so
        # per-cell density — and the within-cell quadratic stage's
        # cost — stays constant as the corpus grows.  The count is one footer-metadata job on the
        # scan this query reads anyway; callers pinning a grid (the
        # oracle row's 16, an index's stamped count) pass it explicitly.
        import math

        n_cells = max(16, math.ceil(emb.count() / DEFAULT_CELL_OCCUPANCY))
    # n_cells: within-cell pair count (the quadratic term) scales ~1/cells,
    # so n_cells ∝ corpus keeps per-cell density — and wall — near-linear;
    # persist so both self-join sides reuse one assignment pass (tracked in
    # SESSION_BAG — the materializing harness owns the release).  The
    # vector norm is per-VECTOR, so it is computed once here on the
    # persisted assignment (O(n·d)) instead of per pair inside the
    # quadratic stage (O(pairs·d)) — same doubles bit-for-bit (sqrt of
    # the identical exact integer), ~3× less array work per joined row.
    norm = (
        "aggregate(zip_with(qv, qv, (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (s, v) -> s + v)"
    )
    assigned = SESSION_BAG.add(
        ivf_assign(emb, n_cells=n_cells).withColumn(
            "nrm", F.sqrt(F.expr(f"CAST({norm} AS DOUBLE)"))
        )
    )
    dot = (
        "aggregate(zip_with(qv_a, qv_b, (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (s, v) -> s + v)"
    )
    cos = F.round(
        F.expr(f"CAST({dot} AS DOUBLE)") / (F.col("nrm_a") * F.col("nrm_b")),
        6,
    )
    return blocked_pairs(
        assigned, id="vec_id", pair=("vec_a", "vec_b"), keys=("cell_id",),
        carry=("qv", "nrm"), pin=True,
        verify=lambda p: p.withColumn("cos_sim", cos).filter(
            F.col("cos_sim") >= 0.4
        ),
    )


@register(
    "clicks_near_signup",
    """
SELECT s.event_id AS signup_id, s.user_id,
       count(c.event_id) AS n_clicks_1h,
       coalesce(min(abs(epoch_us(s.ts) - epoch_us(c.ts))), -1)
         AS nearest_click_us
FROM (SELECT * FROM events WHERE event_type = 'signup') s
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON s.user_id = c.user_id
 AND abs(epoch_us(s.ts) - epoch_us(c.ts)) <= 3600000000
GROUP BY s.event_id, s.user_id
""",
    doc="Range join (equi key + time-band predicate): clicks within ±1 h "
    "of each signup.  The engine buckets timestamps into 1-h blocks and "
    "explodes the probe side to its 3 neighbor blocks, turning the range "
    "predicate into an equi-join on (user, block) + residual filter — the "
    "banding that keeps a range join shuffle-friendly at 100 TB (a naive "
    "range theta-join degenerates to per-key cross products).",
)
def q_clicks_near_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts"))
    block = F.floor(ts_us / 3600000000)
    signups = e.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"), "user_id", ts_us.alias("s_us")
    )
    s = signups.select(
        "signup_id",
        "user_id",
        "s_us",
        F.explode(
            F.array(
                F.floor(F.col("s_us") / 3600000000) - 1,
                F.floor(F.col("s_us") / 3600000000),
                F.floor(F.col("s_us") / 3600000000) + 1,
            )
        ).alias("block"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id"), ts_us.alias("c_us"), block.alias("block")
    )
    # inner banding join: each in-range click meets its signup in exactly
    # one block (|Δt| ≤ 1h ⇒ |Δblock| ≤ 1); then LEFT-join the aggregate
    # back onto the signup spine so zero-match signups still emit a row
    matches = (
        s.join(c, ["user_id", "block"])
        .filter(F.abs(F.col("s_us") - F.col("c_us")) <= 3600000000)
        .groupBy("signup_id")
        .agg(
            F.count(F.lit(1)).alias("n_clicks_1h"),
            F.min(F.abs(F.col("s_us") - F.col("c_us"))).alias(
                "nearest_click_us"
            ),
        )
    )
    return signups.join(matches, "signup_id", "left").select(
        "signup_id",
        "user_id",
        F.coalesce("n_clicks_1h", F.lit(0)).alias("n_clicks_1h"),
        F.coalesce("nearest_click_us", F.lit(-1)).alias("nearest_click_us"),
    )


def _pair_haversine_sql() -> str:
    """The engine's byte-parity haversine fragment (registry.py
    ``_SQL_HAVERSINE``) re-aliased for a pair join: lat1/lon1 = a.*,
    lat2/lon2 = b.* — longest names replaced first so the bare
    ``radians(py)`` forms are untouched by the anterior substitutions."""
    from etl_olho_vivo_spark.registry import _SQL_HAVERSINE

    return (
        _SQL_HAVERSINE
        .replace("py_anterior", "a.py").replace("px_anterior", "a.px")
        .replace("radians(py)", "radians(b.py)")
        .replace("radians(px)", "radians(b.px)")
    )


def _register_geo_pairs() -> None:
    """Deferred registration: the oracle composes registry.py's
    haversine fragment, and importing registry at module top would be
    circular (registry._load_plugins imports this module)."""
    from etl_olho_vivo_spark.sources.events_adapter import (
        POSICOES_FROM_EVENTS_SQL,
    )

    hv = _pair_haversine_sql()

    @register(
        "geo_pairs",
        f"""
WITH p AS ({POSICOES_FROM_EVENTS_SQL}),
g AS (SELECT prefixo_veiculo, py, px,
             ("timestamp" // 1800) * 1800 AS bucket
      FROM p)
SELECT a.bucket, a.prefixo_veiculo AS vehicle_a,
       b.prefixo_veiculo AS vehicle_b,
       CAST(count(*) AS BIGINT) AS n_close,
       min(round({hv}, 2)) AS min_dist_m
FROM g a JOIN g b
  ON a.bucket = b.bucket
 AND a.prefixo_veiculo < b.prefixo_veiculo
 AND round({hv}, 2) <= 500.0
GROUP BY a.bucket, a.prefixo_veiculo, b.prefixo_veiculo
""",
        doc="Geo co-location pairs (bus bunching, round 15): vehicles "
        "within 500 m of each other inside one 30-min tumbling bucket "
        "— the 2D grid-bucketed radius self-join "
        "(operators/colocate.py), the spatial sibling of "
        "clicks_near_signup's 1D time-block explode.  The grid (one "
        "home cell per ping, probe side exploded to its half-plane "
        "neighbors, pure rational cell sizes — no transcendental in "
        "the candidate generator) finds every qualifying pair exactly "
        "once with zero dedup exchanges; the ROUNDED haversine "
        "residual filter is the spec, and this naive per-bucket "
        "all-pairs oracle proves the grid lossless at the full "
        "radius.  round-2dp threshold per the engine transcendental "
        "rule (haversine_pairs' pin).  driver=False: the 50-row "
        "window is full — parity runs in the local oracle sweep.",
        driver=False,
    )
    def q_geo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
        from etl_olho_vivo_spark.operators.colocate import (
            colocation_pairs,
        )
        from etl_olho_vivo_spark.sources.events_adapter import (
            posicoes_from_events,
        )

        return colocation_pairs(
            posicoes_from_events(spark, sf_dir), radius_m=500.0
        )


_register_geo_pairs()


@register(
    "session_window_stats",
    """
WITH t AS (
  SELECT user_id, event_id, epoch_us(ts) // 1000000 AS s FROM events
),
flagged AS (
  SELECT *, CASE WHEN s - lag(s) OVER w > 1800
                   OR lag(s) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id)
),
sess AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY s, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, min(s) AS session_start_s, max(s) AS session_last_s,
       count(*) AS n_events
FROM sess GROUP BY user_id, session_id
""",
    doc="session_window (native Spark streaming-capable operator) certified "
    "against the gaps-and-islands SQL construction: sessions merge while "
    "consecutive gaps are <= 30 min — session_window's bound is INCLUSIVE "
    "(an event at exactly lastEvent+gap merges; verified empirically, and "
    "caught by the sf0.1 sweep where one exact-1800s gap exists) — so the "
    "oracle splits strictly on gap > 1800.  Output is per-session bounds "
    "+ count.",
)
def q_session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events")
    s = F.expr("unix_micros(ts) div 1000000")
    t = e.select("user_id", s.alias("s"), F.timestamp_seconds(s).alias("ts_s"))
    return (
        t.groupBy("user_id", F.session_window("ts_s", "30 minutes"))
        .agg(
            F.min("s").alias("session_start_s"),
            F.max("s").alias("session_last_s"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start_s", "session_last_s", "n_events")
    )


@register(
    "salted_event_type_stats",
    """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(round(value * 10000, 0) AS BIGINT)) AS BIGINT)
         AS value_e4, min(event_id) AS first_event
FROM events GROUP BY event_type
""",
    doc="Salted two-phase aggregation over a 5-key (maximally skewed) "
    "group-by: partial agg on (key, hash-salt) spreads each hot key over "
    "16 reducers, the final agg recombines — exact for algebraic "
    "aggregates, and the oracle (a plain GROUP BY) proves it.  "
    "driver=False since round 7: salting stays driver-checked via "
    "salted_skew_join_events (and this query's oracle still runs in "
    "tests/test_skew_probe.py); the slot went to assign_splits.",
    driver=False,
)
def q_salted_event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_olho_vivo_spark.operators.skew import salted_agg

    e = read_table(spark, sf_dir, "events")
    v_e4 = F.round(F.col("value") * 10000, 0).cast("long")
    return salted_agg(
        e,
        keys=["event_type"],
        aggs={
            "n": ("sum", F.count(F.lit(1))),
            "value_e4": ("sum", F.sum(v_e4)),
            "first_event": ("min", F.min("event_id")),
        },
        n_salts=16,
        salt_source="event_id",
    )


@register(
    "scalar_function_surface",
    """
SELECT p_partkey,
       upper(p_name) AS name_upper,
       length(p_name) AS name_len,
       substring(p_name, 1, 5) AS name_head,
       replace(p_name, ' ', '_') AS name_snake,
       coalesce(regexp_extract(p_name, '([a-z]+)$', 1), '') AS last_word,
       len(string_split(p_name, ' ')) AS n_words,
       list_sort(string_split(p_name, ' '))[1] AS first_word_sorted,
       array_to_string(list_reverse(string_split(p_name, ' ')), '|')
         AS words_reversed,
       CAST(round(p_retailprice * 100, 0) AS BIGINT) % 97 AS price_mod,
       CASE WHEN p_size >= 25 THEN 'large'
            WHEN p_size >= 10 THEN 'medium' ELSE 'small' END AS size_class
FROM part
WHERE substr(md5(CAST(p_partkey AS VARCHAR)), 1, 2) < '40'
""",
    doc="Scalar-function breadth (SURVEY §2.8 beyond the reference's "
    "minimal set): string case/length/substring/replace, regex extraction, "
    "split + array sort/reverse/join, modular money arithmetic, CASE "
    "bucketing — all whole-stage-codegen Column expressions.  The WHERE "
    "clause is deterministic md5-prefix universe sampling (~25%%): unlike "
    "TABLESAMPLE/rand() the sample is reproducible across engines, "
    "retries, and partitionings (critical for 100 TB re-runs), and it is "
    "a scan-level filter — no shuffle, no extra pass.",
)
def q_scalar_function_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = read_table(spark, sf_dir, "part")
    words = F.split("p_name", " ")
    sample = F.substring(F.md5(F.col("p_partkey").cast("string")), 1, 2)
    return p.filter(sample < "40").select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name_head"),
        F.regexp_replace("p_name", " ", "_").alias("name_snake"),
        F.regexp_extract("p_name", "([a-z]+)$", 1).alias("last_word"),
        F.size(words).alias("n_words"),
        F.sort_array(words)[0].alias("first_word_sorted"),
        F.array_join(F.reverse(words), "|").alias("words_reversed"),
        (F.round(F.col("p_retailprice") * 100, 0).cast("long") % 97).alias(
            "price_mod"
        ),
        F.when(F.col("p_size") >= 25, "large")
        .when(F.col("p_size") >= 10, "medium")
        .otherwise("small")
        .alias("size_class"),
    )


@register(
    "tfidf_top_terms",
    """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tfidf FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term) AS rn
  FROM scored
) WHERE rn <= 3
""",
    doc="tf-idf top-3 terms per document: explode → tf groupBy → df groupBy "
    "→ sort-merge idf join → per-doc top-k window.  The idf relation is "
    "VOCABULARY-scaled (Heaps' law: still hundreds of millions of rows "
    "at 100 TB), so it is joined shuffled-and-spillable, never broadcast "
    "— same starved-probe posture as the pair joins; the only broadcast "
    "is the 1-row corpus count.  idf is rounded before ranking (ln is "
    "transcendental); ties break on term for a total order.",
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    # corpus size as a broadcast 1-row aggregate — stays lazy inside the
    # plan (no separate driver-side count() action/scan)
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(df_.hint("merge"), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf")
    )
