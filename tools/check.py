"""Local stand-in for the driver's t2 correctness gate.

Runs every ``queries()[name]`` on Spark and the matching ``oracle_sql()[name]``
on DuckDB over the same sf dir, then compares row count, sorted column names,
and the order-insensitive multiset of row values (columns sorted by name, like
the driver).  Exact equality on stringified values; floats get a tolerance
fallback report so tiny-ulp vs real-bug is visible.

Usage: python tools/check.py [--timeout SECS] [--sampled] [--report FILE]
       [sf_dir] [query ...]

--timeout SECS  interrupt any oracle running longer than SECS and report
                the slug as SKIP (timeout) instead of hanging the sweep.
--sampled       for slugs with a registry/sampled.py contract, verify the
                documented sampled slice bit-exact (Spark still runs FULL;
                see that module's docstring for the soundness argument).
--report FILE   write a JSON map slug -> {status, mode, secs, spark_rows}.
"""

from __future__ import annotations

import json
import math
import os
import sys
import threading
import time
from collections import Counter
from pathlib import Path

import duckdb

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from airstrik_py_spark.session import get_spark  # noqa: E402
from airstrik_py_spark.sources.tables import TABLES  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402


def canon_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # exact repr: queries round on both engines upstream, so even float
        # outputs must agree to the bit — no tolerance here
        return repr(v)
    return str(v)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(canon_value(r[i]) for i in order) for r in rows)


def run_with_timeout(duck, sql: str, timeout_s: float, _retried: bool = False):
    """Execute on `duck`, interrupting after timeout_s.  Returns
    (cols, rows) or raises TimeoutError/duckdb errors.

    Two-layer defense against the timer/finish race (ADVICE r9): the timer
    callback checks a `done` event set as soon as the query returns, so a
    timer firing after completion almost never interrupts the now-idle
    connection; and if a stale interrupt does slip through (done set
    between the check and the interrupt), it poisons the NEXT execute with
    an InterruptException whose own timer never fired — detected by
    timed_out being unset — and that execute is retried once instead of
    being reported as a FAIL for the wrong slug."""
    timed_out = threading.Event()
    done = threading.Event()
    timer = None
    if timeout_s > 0:
        def fire():
            if done.is_set():
                return
            timed_out.set()
            duck.interrupt()
        timer = threading.Timer(timeout_s, fire)
        timer.daemon = True
        timer.start()
    try:
        res = duck.execute(sql)
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        done.set()
        return cols, rows
    except duckdb.InterruptException:
        done.set()
        if timed_out.is_set():
            raise TimeoutError(f"oracle exceeded {timeout_s:.0f}s") from None
        if not _retried:
            return run_with_timeout(duck, sql, timeout_s, _retried=True)
        raise
    finally:
        done.set()
        if timer is not None:
            timer.cancel()


def main() -> int:
    args = sys.argv[1:]
    timeout_s = 0.0
    sampled_mode = False
    report_path = None
    pos: list[str] = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--timeout":
            timeout_s = float(args[i + 1]); i += 2
        elif a == "--sampled":
            sampled_mode = True; i += 1
        elif a == "--report":
            report_path = args[i + 1]; i += 2
        else:
            pos.append(a); i += 1
    sf_dir = pos[0] if pos else "/root/testdata/sf0.01"
    only = set(pos[1:])

    # Hard cap the oracle engine: DuckDB's default (80% of RAM) let a
    # pathological plan (1.0.0 sort-key aggregates, r8 asof finding) grow
    # to 125 GB and OOM-KILL the whole box, taking the Spark JVM with it.
    # With a cap, a runaway oracle raises OutOfMemoryException and is
    # reported as a normal FAIL instead.  min() with 50% of AVAILABLE RAM:
    # a flat 48GB would RAISE the cap on small boxes (DuckDB's default is
    # 80%), re-enabling the very OOM-kill this guard exists to prevent —
    # and sysconf reports HOST memory inside cgroup-limited containers,
    # so the cgroup cap (v2 memory.max, v1 limit_in_bytes) wins when set.
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for cg in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            v = open(cg).read().strip()
            if v.isdigit():
                ram = min(ram, int(v))
        except OSError:
            continue
    cap_gb = max(1, min(48, int(ram * 0.5 / 2**30)))
    # Override for parallel sweeps (two checkers sharing one box must
    # split the budget, and DuckDB's limit is advisory for some recursive
    # /materialization allocations — leave generous headroom).
    env_cap = os.environ.get("SPARK_GRAFT_ORACLE_CAP_GB")
    if env_cap:
        cap_gb = int(env_cap)

    def fresh_duck():
        """New oracle connection with cap + spill + views.  The r10 sf10
        mega-sweep showed a single long-lived connection accumulates
        buffer-pool state until even KB-sized allocations fail ('bad
        allocation'), poisoning every later oracle — so the connection is
        rebuilt on any OOM and the slug retried once (see loop)."""
        d = duckdb.connect()
        d.execute(f"SET memory_limit='{cap_gb}GB'")
        # An in-memory connection cannot offload AT ALL without a
        # temp_directory — heavy-but-legitimate oracles near the cap die
        # with "failed to pin block" instead of spilling.  Bounded disk
        # budget: runaways still FAIL (by the timeout or the temp cap),
        # but cap-adjacent plans finish.
        # Per-process spill dir (ADVICE r10): parallel sweeps each get
        # their own temp_directory so two DuckDB processes can't collide
        # on temp file names or silently double the disk budget.
        d.execute(f"SET temp_directory='/tmp/duckspill-{os.getpid()}'")
        d.execute("SET max_temp_directory_size='40GB'")
        for t in TABLES:
            d.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        return d

    duck = fresh_duck()

    spark = get_spark("check")
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    contracts = {}
    if sampled_mode:
        from airstrik_py_spark.registry.sampled import contracts as _c
        contracts = _c()
        # Scale-gated documented-skips (VERDICT r11 #2): a skip that exists
        # to avoid 100x quadratic candidate volume must NOT fire on a small
        # fixture where the full oracle is cheap — that silently loses a
        # value check the sweep could afford.  Drop the contract (-> normal
        # full bit-exact compare) when the gating table is below threshold.
        for slug in list(contracts):
            c = contracts[slug]
            if "skip" in c and "skip_min_rows" in c:
                n = duck.execute(
                    f"SELECT count(*) FROM {c['skip_table']}"
                ).fetchone()[0]
                if n < c["skip_min_rows"]:
                    print(
                        f"NOTE {slug}: documented-skip gated off "
                        f"({c['skip_table']} rows {n} < {c['skip_min_rows']}) "
                        "- running full compare"
                    )
                    del contracts[slug]

    report: dict[str, dict] = {}

    def flush_report() -> None:
        # incremental: a multi-hour sweep interrupted at slug N keeps its
        # first N rows instead of losing everything to the end-only dump
        if report_path:
            with open(report_path, "w") as f:
                json.dump(report, f, indent=1, sort_keys=True)

    n_pass = n_fail = n_skip = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        flush_report()  # persist every prior slug before starting this one
        t0 = time.time()
        if "skip" in contracts.get(name, {}):
            # documented sf-scale skip (registry/sampled.py, VERDICT r9 #3):
            # never a raw OOM/FAIL, never a silent pass — the report carries
            # the reason; when the engine side is scale-valid it still runs
            # FULL so the row count is evidence
            c = contracts[name]
            row: dict = {"status": "skip", "mode": "documented-skip",
                         "note": c["skip"]}
            if c.get("spark") == "full":
                try:
                    row["spark_rows"] = fn(spark, sf_dir).count()
                except Exception as e:  # noqa: BLE001
                    print(f"FAIL {name}: spark error: {e}")
                    report[name] = {"status": "fail", "mode": "documented-skip",
                                    "err": f"spark: {e}"[:300]}
                    n_fail += 1
                    continue
            row["secs"] = round(time.time() - t0, 1)
            print(f"SKIP {name}: documented ({c['skip'][:120]}...)"
                  + (f" engine rows={row.get('spark_rows')}" if "spark_rows" in row else ""))
            report[name] = row
            n_skip += 1
            continue
        mode = "sampled" if name in contracts else "full"
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            if name in contracts:
                # engine-side sample filter: the full result is counted
                # but never collected (sf10 OOM lesson)
                full_rows = sdf.count()
                srows = sdf.filter(contracts[name]["filter_sql"]).collect()
            else:
                srows = sdf.collect()
                full_rows = len(srows)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            report[name] = {"status": "fail", "mode": mode, "err": f"spark: {e}"[:300]}
            n_fail += 1
            continue
        if name not in oracles:
            print(f"PASS {name}: rows-only ({full_rows} rows, no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            report[name] = {"status": "pass", "mode": "rows-only",
                            "spark_rows": full_rows,
                            "secs": round(time.time() - t0, 1)}
            n_pass += 1
            continue

        osql = oracles[name]
        restore_views: list[str] = []
        count_check = None
        if name in contracts:
            c = contracts[name]
            if "sql" in c:
                osql = c["sql"]
            # expect_rows (ADVICE r9): verify the FULL Spark row count
            # against the contract's closed-form count oracle, run on the
            # still-unrestricted views.  A count mismatch is a real FAIL;
            # a count-oracle timeout degrades to "recorded, not verified".
            if "count_sql" in c:
                try:
                    # Same rebuild-and-retry as the value oracle (ADVICE
                    # r10): a degraded-connection OOM here must fail ONE
                    # slug or heal, never abort the multi-hour sweep.
                    for attempt in (0, 1):
                        try:
                            _, crows = run_with_timeout(
                                duck, c["count_sql"], timeout_s)
                            break
                        except Exception as e:  # noqa: BLE001
                            if attempt == 0 and "Out of Memory" in str(e):
                                print(f"  .. {name}: count-oracle OOM; "
                                      f"rebuilding connection, retrying once")
                                try:
                                    duck.close()
                                except Exception:  # noqa: BLE001
                                    pass
                                duck = fresh_duck()
                                continue
                            raise
                    expected = crows[0][0]
                    if expected != full_rows:
                        print(f"FAIL {name}: full count spark={full_rows} "
                              f"count-oracle={expected}")
                        report[name] = {
                            "status": "fail", "mode": mode,
                            "err": f"full count spark={full_rows} "
                                   f"oracle={expected}",
                            "secs": round(time.time() - t0, 1),
                        }
                        n_fail += 1
                        continue
                    count_check = "verified"
                except TimeoutError:
                    count_check = "timeout"
                except Exception as e:  # noqa: BLE001
                    # Non-timeout count-oracle error (bad SQL, persistent
                    # OOM after the retry): fail THIS slug and move on —
                    # never abort the whole sweep (ADVICE r10).
                    print(f"FAIL {name}: count-oracle error: {e}")
                    report[name] = {
                        "status": "fail", "mode": mode,
                        "err": f"count-oracle: {e}"[:300],
                        "secs": round(time.time() - t0, 1),
                    }
                    n_fail += 1
                    continue
            for tbl, pred in c.get("views", {}).items():
                duck.execute(
                    f"CREATE OR REPLACE VIEW {tbl} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{tbl}.parquet') WHERE {pred}"
                )
                restore_views.append(tbl)
        outcome = None
        try:
            for attempt in (0, 1):
                try:
                    dcols, drows = run_with_timeout(duck, osql, timeout_s)
                    break
                except Exception as e:  # noqa: BLE001
                    # Self-heal connection exhaustion (r10 sf10 finding):
                    # a long-lived connection can degrade until KB-sized
                    # allocations fail; rebuild it and retry this slug once.
                    if attempt == 0 and "Out of Memory" in str(e):
                        print(f"  .. {name}: oracle OOM on a long-lived "
                              f"connection; rebuilding and retrying once")
                        try:
                            # close, don't leak: the old connection's buffer
                            # pool otherwise stays resident and the rebuild
                            # DOUBLES oracle memory (r10 run-B crash)
                            duck.close()
                        except Exception:  # noqa: BLE001
                            pass
                        duck = fresh_duck()
                        for tbl, pred in contracts.get(name, {}).get(
                            "views", {}
                        ).items():
                            duck.execute(
                                f"CREATE OR REPLACE VIEW {tbl} AS SELECT * FROM "
                                f"read_parquet('{sf_dir}/{tbl}.parquet') WHERE {pred}"
                            )
                        continue
                    raise
        except TimeoutError as e:
            print(f"SKIP {name}: {e}")
            report[name] = {"status": "timeout", "mode": mode,
                            "spark_rows": full_rows,
                            "secs": round(time.time() - t0, 1)}
            outcome = "skip"
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            report[name] = {"status": "fail", "mode": mode, "err": f"duckdb: {e}"[:300]}
            outcome = "fail"
        finally:
            for tbl in restore_views:
                duck.execute(
                    f"CREATE OR REPLACE VIEW {tbl} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{tbl}.parquet')"
                )
        if outcome == "skip":
            n_skip += 1
            continue
        if outcome == "fail":
            n_fail += 1
            continue

        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"columns spark={sorted(scols)} duck={sorted(dcols)}")
        if not problems:
            sc, dc = canon_rows(scols, srows), canon_rows(dcols, drows)
            if sc != dc:
                miss = list((dc - sc).items())[:3]
                extra = list((sc - dc).items())[:3]
                problems.append(f"values differ; duck-only={miss} spark-only={extra}")
        secs = round(time.time() - t0, 1)
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            report[name] = {"status": "fail", "mode": mode,
                            "err": "; ".join(problems)[:300], "secs": secs}
            n_fail += 1
        elif name in contracts:
            extra = f", full count {count_check}" if count_check else ""
            print(f"PASS {name}: sampled {len(srows)}/{full_rows} rows match"
                  f"{extra} [{secs}s] ({contracts[name]['note']})")
            row = {"status": "pass", "mode": "sampled",
                   "spark_rows": full_rows,
                   "compared_rows": len(srows), "secs": secs}
            if count_check:
                row["count_check"] = count_check
            report[name] = row
            n_pass += 1
        else:
            print(f"PASS {name}: {len(srows)} rows match [{secs}s]")
            report[name] = {"status": "pass", "mode": "full",
                            "spark_rows": full_rows, "secs": secs}
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail" + (f", {n_skip} skip" if n_skip else ""))
    flush_report()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
