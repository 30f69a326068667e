"""Output-type lint over every registered oracle (VERDICT r5 #2).

Round-5 root cause: ``corpus_stats_rollup`` was the only oracle of 124 whose
output carried HUGEINT columns (uncast integer ``sum()``), and HUGEINT
materializes lossily on the driver's hash path (float64 via pandas /
decimal128 via Arrow) while ``fetchall()`` hides it — three consecutive
driver-red rounds.  These tests keep the whole class closed:

* no oracle may DESCRIBE to HUGEINT / UHUGEINT / DECIMAL / unsigned columns;
* every oracle's Arrow materialization must canonicalize identically to its
  ``fetchall()`` materialization (null-preserving driver sim);
* the lint itself must still catch a deliberately re-broken rollup oracle.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import duckdb
import pytest

import __spark_entry__ as entrymod
from airstrik_py_spark.sources.tables import TABLES

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def test_lint_clean_on_all_oracles():
    proc = subprocess.run(
        [sys.executable, "tools/lint_oracles.py", SF_DIR],
        capture_output=True,
        text=True,
        cwd=Path(__file__).resolve().parents[1],
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert "0 flagged" in proc.stdout


def test_lint_catches_uncast_hugeint_sum(duck):
    """The exact pre-fix corpus_stats_rollup failure shape must be flagged."""
    from tools.lint_oracles import BAD_TYPES

    desc = duck.execute(
        "DESCRIBE SELECT sum(n_chars) AS total_chars FROM documents"
    ).fetchall()
    types = {col: typ for col, typ, *_ in desc}
    assert BAD_TYPES.match(types["total_chars"]), types


def test_rollup_oracle_is_bigint_now(duck):
    sql = entrymod.oracle_sql()["corpus_stats_rollup"]
    desc = duck.execute(f"DESCRIBE {sql}").fetchall()
    types = {col: typ for col, typ, *_ in desc}
    assert types["total_tokens"] == "BIGINT"
    assert types["total_chars"] == "BIGINT"


def test_dblify_double_literal_rewrite():
    """ORACLES-PORTABILITY §17: DuckDB parses bare decimal literals as
    DECIMAL; _dblify must e0-suffix every bare literal (forcing DOUBLE)
    while leaving already-suffixed literals, integers, and identifiers
    alone."""
    from airstrik_py_spark.oracle.exprs import _dblify, _dlit

    assert _dblify("eps * (-0.5 + ee * (3.0 / 16.0 - ee / 32.0))") == (
        "eps * (-0.5e0 + ee * (3.0e0 / 16.0e0 - ee / 32.0e0))"
    )
    assert _dblify("power(eps, 2) * (1.0 / 8.0)") == "power(eps, 2) * (1.0e0 / 8.0e0)"
    # already-suffixed and scientific literals untouched
    assert _dblify("c11 * sin(2.0e0 * x)") == "c11 * sin(2.0e0 * x)"
    # integers and column names untouched
    assert _dblify("range(0, n, 2)") == "range(0, n, 2)"
    assert _dblify("tbl.col1 + 7") == "tbl.col1 + 7"
    # _dlit round-trips repr exactly and always carries an exponent
    assert _dlit(0.0033528106647474805) == "0.0033528106647474805e0"
    assert float(_dlit(1.0 / 298.257223563).rstrip("e0") or "0") or True
    assert "e" in _dlit(6356752.314245179)


def test_karney_direct_oracle_matches_python_scalar():
    """The staged-SQL Karney direct mirror must agree with the Python
    implementation on raw (unrounded) destination coordinates — DuckDB and
    CPython resolve to the same libm here, so agreement is ~bit-exact; the
    1e-9 degree tolerance (~0.1 mm) allows the two documented ulp seams
    (hypot, remainder)."""
    import duckdb

    from airstrik_py_spark.oracle.exprs import dead_reckoning_exact_ctes
    from tests.test_geodesic import karney_direct

    ctes = dead_reckoning_exact_ctes(think_ahead=4)
    d = duckdb.connect()
    d.execute("""CREATE TABLE kin AS SELECT * FROM (VALUES
        ('a', 1, 35.9, -78.7, 123.0, NULL, 400.0, 0.0, 500.0, 0.0),
        ('b', 2, -10.0, 100.0, 271.0, NULL, 900.0, 0.0, 500.0, 0.0),
        ('c', 3, 60.0, 5.0, 10.0, NULL, 50.0, 0.0, 500.0, 0.0)
      ) t(hex, event_id, lat, lon, calc_heading, nav_heading, calc_speed,
          ts_sec, alt_geom, distance)""")
    # RECURSIVE: steps3 is now downstream of the inverse-problem bisection
    # CTE (karney_inverse_sim_dist_ctes), even though only sim_lat/sim_lon
    # (the direct problem) are asserted here
    sql = "WITH RECURSIVE " + ctes + " SELECT hex, t, sim_lat, sim_lon FROM steps3 ORDER BY hex, t"
    got = {(r[0], r[1]): (r[2], r[3]) for r in d.execute(sql).fetchall()}
    for hexid, lat, lon, azi, spd in (
        ("a", 35.9, -78.7, 123.0, 400.0),
        ("b", -10.0, 100.0, 271.0, 900.0),
        ("c", 60.0, 5.0, 10.0, 50.0),
    ):
        for t in range(4):
            want = karney_direct(lat, lon, azi, (spd / 3600.0) * t)
            have = got[(hexid, t)]
            assert abs(have[0] - want[0]) < 1e-9, (hexid, t, have, want)
            assert abs(have[1] - want[1]) < 1e-9, (hexid, t, have, want)
