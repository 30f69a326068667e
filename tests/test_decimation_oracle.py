"""Independent-derivation pin for the decimation oracle (VERDICT r9 #4).

r10 switched the REGISTERED filter_decimation / sink_mongo_decimated
oracles from the packet-by-packet RECURSIVE fold (depth = longest trip;
blew the 900 s budget on the adversarial 200k-row hot hex) to the same
closed-form cadence the engine uses.  That costs the engine-vs-oracle
independence the fold provided, so this test restores it where it is
cheap: the fold and the closed form are two derivations of
airstrik.py:574-626, and they must agree row-for-row on the real
fixtures.  DuckDB-only — no Spark session needed.
"""

from __future__ import annotations

from collections import Counter
from pathlib import Path

import duckdb
import pytest

from airstrik_py_spark.registry.sinks_q import _CTES, CFG, _decim_closed_ctes
from airstrik_py_spark.sources.tables import TABLES


def _decim_fold_ctes(n: int, force_new: bool) -> str:
    """Operation-for-operation mirror of operators/decimation.py::
    _decim_step as a RECURSIVE CTE that advances one packet per step (the
    CASE ladder reproduces airstrik.py:574-626 branch-for-branch,
    including the vacuous tuple-vs-scalar "if new data" gate and the
    history-head (value, entry-ts) pairs a write emits).  A list_reduce
    fold was the first attempt, but DuckDB 1.0.0's list_reduce corrupts
    struct accumulators that carry a list field (nondeterministic under
    threads, emits impossible indices) — the recursive CTE is the
    deterministic equivalent; depth = longest trip.  Since r10 this fold
    is TEST-ONLY (tests/test_decimation_oracle.py pins it equal to
    _decim_closed_ctes): the registered oracle uses the closed form,
    which survives the adversarial hot-hex fixture the fold could not
    (VERDICT r9 #4)."""
    la, lo = "p.lat", "p.lon"
    lat_new = f"({la} IS NOT NULL AND (s.n_lat = 0 OR {la} <> s.last_la))"
    lon_new = f"({lo} IS NOT NULL AND (s.n_lon = 0 OR {lo} <> s.last_lo))"
    nlat = f"(s.n_lat + CASE WHEN {lat_new} THEN 1 ELSE 0 END)"
    nlon = f"(s.n_lon + CASE WHEN {lon_new} THEN 1 ELSE 0 END)"
    new_la = f"(CASE WHEN {la} IS NOT NULL THEN {la} ELSE s.last_la END)"
    new_lo = f"(CASE WHEN {lo} IS NOT NULL THEN {lo} ELSE s.last_lo END)"
    new_la_t = f"(CASE WHEN {lat_new} THEN p.ts_sec ELSE s.la_t END)"
    new_lo_t = f"(CASE WHEN {lon_new} THEN p.ts_sec ELSE s.lo_t END)"
    sim = f"(s.sim_ran OR ({nlat} >= 2 AND {nlon} >= 2))"
    elig = f"(s.tracker <= 0 AND {n} <> 0 AND {nlat} > 1)"
    is_a = f"({elig} AND NOT {sim})"
    is_b = "false" if force_new else f"({elig} AND {sim} AND NOT s.lw_set)"
    # replicated reference bug (airstrik.py:619-621): (value, ts) tuple vs
    # scalar is always unequal -> once last_written is set, every eligible
    # packet writes
    is_c = f"({elig} AND {sim} AND s.lw_set)"
    wrote = f"({is_b} OR {is_c})"
    return f"""
pk AS (
  SELECT hex, session_id, ts, ts_sec, event_id, lat, lon,
         CAST(row_number() OVER (PARTITION BY hex, session_id
                                 ORDER BY ts_sec, event_id) AS INTEGER) AS i
  FROM sess),
step AS (
  SELECT hex, session_id, 0 AS i, 0 AS tracker, 0 AS n_lat, 0 AS n_lon,
         CAST(NULL AS DOUBLE) AS last_la, CAST(NULL AS DOUBLE) AS last_lo,
         CAST(NULL AS DOUBLE) AS la_t, CAST(NULL AS DOUBLE) AS lo_t,
         false AS lw_set, false AS sim_ran, false AS wrote
  FROM (SELECT DISTINCT hex, session_id FROM pk)
  UNION ALL
  SELECT s.hex, s.session_id, p.i,
         CASE WHEN {is_a} OR {wrote} THEN {n - 1}
              WHEN {elig} THEN s.tracker
              ELSE s.tracker - 1 END,
         {nlat}, {nlon},
         {new_la}, {new_lo}, {new_la_t}, {new_lo_t},
         s.lw_set OR ({elig} AND NOT {is_a}),
         {sim},
         {wrote}
  FROM step s JOIN pk p
    ON p.hex = s.hex AND p.session_id = s.session_id AND p.i = s.i + 1),
counted AS (
  SELECT st.hex, st.session_id, st.i AS update_seq,
         p.ts, p.ts_sec, p.event_id,
         st.last_la AS lat, st.la_t AS lat_sec,
         st.last_lo AS lon, st.lo_t AS lon_sec
  FROM step st JOIN pk p
    ON p.hex = st.hex AND p.session_id = st.session_id AND p.i = st.i
  WHERE st.wrote)
"""


SELECT = """
SELECT hex, session_id, update_seq, ts_sec, event_id,
       round(lat, 6) AS lat, round(lat_sec, 6) AS lat_sec,
       round(lon, 6) AS lon, round(lon_sec, 6) AS lon_sec
FROM counted
"""


def _run(con, ctes: str, recursive: bool):
    kw = "WITH RECURSIVE" if recursive else "WITH"
    rows = con.execute(f"{kw} {_CTES},\n{ctes}\n{SELECT}").fetchall()
    return Counter(tuple(map(repr, r)) for r in rows)


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_fold_equals_closed_form(sf_dir):
    if not Path(sf_dir).exists():
        pytest.skip(f"{sf_dir} absent")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    n, force = CFG.decimation_factor, CFG.decimation_force_new_data
    fold = _run(con, _decim_fold_ctes(n, force), recursive=True)
    closed = _run(con, _decim_closed_ctes(n, force), recursive=False)
    assert fold == closed
    assert sum(fold.values()) > 0  # the fixture must actually exercise writes


@pytest.mark.parametrize("force_new", [False, True])
def test_fold_equals_closed_form_both_force_modes(force_new):
    """The force_new branch only shifts the first write one packet right;
    pin both modes on the small fixture regardless of CFG's setting."""
    sf_dir = "/root/testdata/sf0.001"
    if not Path(sf_dir).exists():
        pytest.skip(f"{sf_dir} absent")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    n = CFG.decimation_factor
    fold = _run(con, _decim_fold_ctes(n, force_new), recursive=True)
    closed = _run(con, _decim_closed_ctes(n, force_new), recursive=False)
    assert fold == closed


def test_factor_zero_is_empty():
    sf_dir = "/root/testdata/sf0.001"
    if not Path(sf_dir).exists():
        pytest.skip(f"{sf_dir} absent")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    closed = _run(con, _decim_closed_ctes(0, False), recursive=False)
    assert sum(closed.values()) == 0
