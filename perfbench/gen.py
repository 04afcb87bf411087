"""Seeded input generators.  The engine sees only the files written here.

Every generator is a pure function of its ``seed`` (NumPy
``default_rng``), so a run is reproduced from its seed alone.

- ``write_raw_zone``: the daily pipeline's raw JSON zone.  It holds one
  API-shaped ``/Posicao`` document per poll (``{hr, l: [{c, cl, sl, lt0,
  lt1, qv, vs: [{p, a, ta, py, px}]}]}``), one JSON line per poll and one
  file per hour of polls.  Vehicles random-walk at bus speeds.  The edge
  rows of FIXTURES.md §1 and §2 are planted on top.  It returns the flat
  pings, which the output check recomputes the datasets from.
- ``write_events``: the ``events`` table the registry's transit queries
  read, with the schema and value ranges of the TESTDATA.md events table.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY0 = 1_704_067_200  # 2024-01-01T00:00:00Z
POLL_S = 120
POLLS_PER_FILE = 3600 // POLL_S

def _fold(x: np.ndarray, lo: float, hi: float) -> np.ndarray:
    """Reflect a walk at the box edges (a clipped walk would park there)."""
    w = hi - lo
    return lo + w - np.abs(np.mod(x - lo, 2 * w) - w)


def _edge_series(t0: int) -> list[list[tuple]]:
    """FIXTURES.md §1 edge rows, one extra vehicle each, as (ta, py, px)."""
    lat, lon = -23.6, -46.6
    m = 1.0 / 111_195.0  # ~1 m of latitude
    return [
        # duplicate ping: the same timestamp twice -> tempo = 0, dropped
        [(t0, lat, lon), (t0 + 120, lat + 500 * m, lon),
         (t0 + 120, lat + 500 * m, lon)],
        # gap of exactly 600 s (kept), then 601 s (dropped)
        [(t0, lat, lon + 0.01), (t0 + 600, lat + 3000 * m, lon + 0.01),
         (t0 + 1201, lat + 6000 * m, lon + 0.01)],
        # > 33 m/s (dropped), then < 1.4 m/s (lentidao)
        [(t0, lat, lon + 0.02), (t0 + 100, lat + 4000 * m, lon + 0.02),
         (t0 + 220, lat + 4100 * m, lon + 0.02)],
        # null coordinates: both pairs touching the middle ping drop
        [(t0, lat, lon + 0.03), (t0 + 120, None, None),
         (t0 + 240, lat + 900 * m, lon + 0.03)],
        # a single ping: no previous position, dropped entirely
        [(t0, lat, lon + 0.04)],
    ]


# One JSON document per poll, lines and vehicles in generation order.
# to_json prints each double in its shortest round-trip form, so a
# coordinate rounded to 7 decimals is written as exactly those digits.
_DOCS_SQL = """
SELECT k // {per_file} AS f, to_json({{'hr': hr, 'l': list(line ORDER BY li)}})
FROM (
  SELECT k, hr, li, {{'c': c, 'cl': cl, 'sl': sl, 'lt0': lt0, 'lt1': lt1,
    'qv': count(*)::INT,
    'vs': list({{'p': p, 'a': a,
                 'ta': strftime(make_timestamp(ta * 1000000), '%Y-%m-%dT%H:%M:%SZ'),
                 'py': py, 'px': px}} ORDER BY i)}} AS line
  FROM pings GROUP BY k, hr, li, c, cl, sl, lt0, lt1
)
GROUP BY k, hr ORDER BY k
"""


def write_raw_zone(
    path: str, seed: int, n_lines: int, vehicles_per_line: int, n_polls: int
) -> pa.Table:
    """Write the raw zone under ``path``; return the flat pings.

    Each vehicle starts at a random point in the São Paulo box and moves
    1.5-14 m/s on a drifting heading, crawls on ~5% of polls and misses
    ~3% of them (a 240 s gap); a few go offline for 720 s and ~0.5% of
    fixes are GPS glitches 5 km off.  Vehicle 0 switches line halfway through
    the day (the lag window partitions by vehicle only).  The day starts
    at 16:00 UTC and runs past midnight.
    """
    rng = np.random.default_rng(seed)
    cl = 30000 + np.arange(n_lines) * 37 + rng.integers(0, 30, n_lines)
    line_c = np.array([f"{c % 9000 + 1000}-{c % 90 + 10}" for c in cl])
    line_sl = rng.integers(1, 3, n_lines).astype(np.int32)
    terminals = np.array([f"TERMINAL {i:02d}" for i in range(40)])
    line_lt0 = terminals[rng.integers(0, 40, n_lines)]
    line_lt1 = terminals[rng.integers(0, 40, n_lines)]

    n_veh = n_lines * vehicles_per_line
    prefix = 10000 + np.arange(n_veh) * 7 + rng.integers(0, 7, n_veh)
    access = rng.random(n_veh) < 0.7
    heading = rng.uniform(0, 2 * np.pi, n_veh) + np.cumsum(
        rng.normal(0, 0.3, (n_polls, n_veh)), axis=0
    )
    step = rng.uniform(3.0, 12.0, n_veh) * POLL_S * rng.uniform(
        0.5, 1.2, (n_polls, n_veh)
    )
    # ~5% of polls find the bus held up: it crawls under 1.4 m/s
    step[rng.random((n_polls, n_veh)) < 0.05] *= 0.05
    lat = _fold(rng.uniform(-23.75, -23.45, n_veh) + np.cumsum(
        step * np.cos(heading) / 111_000.0, axis=0), -23.8, -23.4)
    lon = _fold(rng.uniform(-46.80, -46.40, n_veh) + np.cumsum(
        step * np.sin(heading) / 102_000.0, axis=0), -46.85, -46.35)
    seen = rng.random((n_polls, n_veh)) >= 0.03
    # ~2% of vehicles go offline for 6 polls (a 720 s gap, dropped)
    for v in np.nonzero(rng.random(n_veh) < 0.02)[0]:
        k0 = int(rng.integers(1, max(2, n_polls - 6)))
        seen[k0:k0 + 6, v] = False
    # ~0.5% of fixes are GPS glitches ~5 km off (pairs over 33 m/s, dropped)
    glitch = rng.random((n_polls, n_veh)) < 0.005
    lat[glitch] += 0.045
    t_start = DAY0 + 16 * 3600
    ta = (t_start + np.arange(n_polls)[:, None] * POLL_S
          + rng.integers(-20, 1, (n_polls, n_veh)))
    line_of = np.broadcast_to(
        np.arange(n_veh) // vehicles_per_line, (n_polls, n_veh)
    ).copy()
    line_of[n_polls // 2:, 0] = 1 % n_lines

    k, v = np.nonzero(seen)  # row-major: grouped by poll
    edge = [
        (min((e_ta - t_start) // POLL_S, n_polls - 1), j, e_ta, e_py, e_px)
        for j, series in enumerate(_edge_series(t_start))
        for e_ta, e_py, e_px in series
    ]
    e_k, e_j, e_ta, e_py, e_px = (list(c) for c in zip(*edge))
    li = np.concatenate([line_of[k, v], np.array(e_j) % n_lines])
    k = np.concatenate([k, e_k])
    # 7 decimals, as the API sends: n / 1e7 is the double nearest to the
    # decimal, so the JSON text and the returned pings agree exactly
    py = np.rint(np.concatenate([lat[seen], [y or 0.0 for y in e_py]]) * 1e7) / 1e7
    px = np.rint(np.concatenate([lon[seen], [x or 0.0 for x in e_px]]) * 1e7) / 1e7
    null = np.concatenate([np.zeros(len(v), bool), [y is None for y in e_py]])
    pings = pa.table({
        "letreiro": line_c[li],
        "codigo_linha": cl[li].astype(np.int64),
        "sentido_linha": line_sl[li],
        "destino_linha": line_lt0[li],
        "origem_linha": line_lt1[li],
        "prefixo_veiculo": np.concatenate(
            [prefix[v], 900_000 + np.array(e_j)]).astype(np.int64),
        "acessibilidade": np.concatenate(
            [access[v], np.array(e_j) % 2 == 0]),
        "timestamp": np.concatenate([ta[seen], e_ta]).astype(np.int64),
        "py": pa.array(py, mask=null),
        "px": pa.array(px, mask=null),
    })

    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        hr = np.array([f"{(16 + kk * POLL_S // 3600) % 24:02d}:"
                       f"{kk * POLL_S // 60 % 60:02d}" for kk in range(n_polls)])
        con.register("p", pings.append_column("k", pa.array(k)).append_column(
            "li", pa.array(li)).append_column("hr", pa.array(hr[k])).append_column(
            "i", pa.array(np.arange(len(k)))))
        con.execute(
            "CREATE TEMP VIEW pings AS SELECT i, "
            "letreiro AS c, codigo_linha AS cl, sentido_linha AS sl, "
            "destino_linha AS lt0, origem_linha AS lt1, prefixo_veiculo AS p, "
            "acessibilidade AS a, \"timestamp\" AS ta, py, px, k, li, hr FROM p"
        )
        docs = con.execute(_DOCS_SQL.format(per_file=POLLS_PER_FILE)).fetchall()
    finally:
        con.close()

    # FIXTURES.md §2: a line with an empty vs array (first poll), a poll
    # with an empty l array, and one syntactically corrupt file
    empty_line = (f'{{"c":"{line_c[0]}","cl":{cl[0]},"sl":{line_sl[0]},'
                  f'"lt0":"{line_lt0[0]}","lt1":"{line_lt1[0]}","qv":0,"vs":[]}}')
    files: dict[int, list[str]] = {}
    for i, (f, doc) in enumerate(docs):
        if i == 0:
            doc = doc[:-2] + "," + empty_line + "]}"
        files.setdefault(f, []).append(doc)
    files[0].append('{"hr":"16:00","l":[]}')
    os.makedirs(path, exist_ok=True)
    for f, lines in files.items():
        with open(os.path.join(path, f"posicoes-{f:03d}.json"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
    with open(os.path.join(path, "posicoes-corrupt.json"), "w") as fh:
        fh.write('{"hr": "07:00", "l": [{"c": "8000-10", "cl": \n')
    return pings


EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def write_events(sf_dir: str, seed: int, n_rows: int, n_users: int) -> None:
    """Write ``events.parquet`` (event_id, ts, user_id, event_type, value,
    props) spanning 30 days; ``ts`` is µs-precision, ascending with
    ``event_id``."""
    rng = np.random.default_rng(seed)
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_rows)) + DAY0 * 1_000_000
    table = pa.table({
        "event_id": np.arange(n_rows, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": rng.integers(0, n_users, n_rows, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_rows)],
        "value": np.round(rng.exponential(50.0, n_rows), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_rows)],
    })
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(table, os.path.join(sf_dir, "events.parquet"))
