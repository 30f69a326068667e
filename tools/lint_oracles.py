"""Oracle output-type lint — closes the HUGEINT class of driver-red rows.

Root cause found in round 5 (VERDICT r5 #1): DuckDB returns integer ``sum()``
as HUGEINT, and HUGEINT materializes as float64 through pandas ``.df()``
(``206.0`` vs Spark's ``206``) or decimal128 through Arrow.  The driver's
correctness gate materializes oracle results through pandas, so an uncast
integer sum flips the value hash while row count and column names still match
— exactly the ``corpus_stats_rollup`` signature that survived three rounds of
median rewrites.  ``tools/check.py`` uses ``fetchall()`` (Python ints), which
is why the mismatch never reproduced locally.

Two checks per oracle:

1. **DESCRIBE lint** — fail on any output column whose DuckDB type cannot
   materialize losslessly as a pandas/Arrow type Spark also emits:
   HUGEINT, UHUGEINT, DECIMAL(..), UBIGINT, UINTEGER, USMALLINT, UTINYINT.
   (Unsigned types have no Spark analog; HUGEINT/DECIMAL go float64 /
   decimal128 on the driver path.)
2. **Driver-sim materialization** — execute the oracle twice, once via
   ``fetchall()`` (the local checker's path) and once via Arrow
   (``fetch_arrow_table().to_pylist()``, the driver's path — null-preserving,
   unlike pandas which would turn every NULL double into NaN and false-flag
   driver-green slugs like ``window_calc_heading``), canonicalize both like
   ``tools/check.py`` does but with ``Decimal`` kept distinct from int (Arrow
   materializes HUGEINT as decimal128, whose ``str`` would otherwise collide
   with the int), and fail on any divergence.  This reproduces the driver's
   value canonicalization locally, so the class can never regress silently.

Usage: python tools/lint_oracles.py [sf_dir]
Exit 0 = zero flags.
"""

from __future__ import annotations

import decimal
import math
import re
import sys
from collections import Counter
from pathlib import Path

import duckdb
import numpy as np

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from airstrik_py_spark.sources.tables import TABLES  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

BAD_TYPES = re.compile(
    r"^(HUGEINT|UHUGEINT|UBIGINT|UINTEGER|USMALLINT|UTINYINT|DECIMAL)", re.I
)


def canon_value(v):
    """Mirror tools/check.py's canonicalization, plus pandas-native types."""
    # un-numpy scalars first so repr(np.float64(x)) never leaks
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        # keep distinct from int: Arrow materializes HUGEINT as decimal128,
        # whose str() would otherwise collide with the int it should have been
        return f"decimal:{v}"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, list):
        return "[" + ", ".join(canon_value(x) for x in v) + "]"
    return str(v)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(canon_value(r[i]) for i in order) for r in rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    duck = duckdb.connect()
    for t in TABLES:
        duck.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    oracles = entrymod.oracle_sql()
    n_flag = 0
    for name, sql in sorted(oracles.items()):
        flags = []
        # 1) DESCRIBE lint
        try:
            desc = duck.execute(f"DESCRIBE {sql}").fetchall()
        except Exception as e:  # noqa: BLE001
            flags.append(f"describe error: {e}")
            desc = []
        for col, typ, *_ in desc:
            if BAD_TYPES.match(typ):
                flags.append(f"column {col!r} has driver-lossy type {typ}")

        # 2) driver-sim: fetchall vs pandas .df() canonicalization
        if not flags:
            try:
                res = duck.execute(sql)
                cols = [d[0] for d in res.description]
                frows = res.fetchall()
                atab = duck.execute(sql).fetch_arrow_table()
                arows = [tuple(d[c] for c in cols) for d in atab.to_pylist()]
                cf, ca = canon_rows(cols, frows), canon_rows(cols, arows)
                if cf != ca:
                    diff = list((cf - ca).items())[:2]
                    diffa = list((ca - cf).items())[:2]
                    flags.append(
                        f"fetchall vs arrow divergence; "
                        f"fetchall-only={diff} arrow-only={diffa}"
                    )
            except Exception as e:  # noqa: BLE001
                flags.append(f"exec error: {e}")

        if flags:
            n_flag += 1
            print(f"FLAG {name}: " + "; ".join(flags))

    total = len(oracles)
    print(f"\n{total - n_flag} clean, {n_flag} flagged of {total} oracles")
    return 1 if n_flag else 0


if __name__ == "__main__":
    raise SystemExit(main())
