"""Per-slug Spark-only profile, split by layer: every registered query
built, planned and materialized through the noop sink (guide §1.4) — no
DuckDB oracle in the timing, so this isolates the engine side that
bench.py samples for the headline set.

Per slug (minimum over --runs):

  build_s      callable entry to DataFrame return: the Python side of
               plan construction (py4j round trips), plus any job a slug
               runs eagerly while composing (checkpoints, Python loops);
  plan_s       analysis + optimization + planning, the phases of the
               DataFrame's own QueryExecution.tracker;
  exec_s       the noop write;
  round_trips  py4j round trips made while building.

Rows are ranked by build_s - exec_s: the top rows spend more time
composing their plan than Spark spends running it.

Usage: python tools/profile_slugs.py [--sf-dir DIR] [--runs N] [--out FILE]
       [slug ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from airstrik_py_spark.session import get_spark  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--out", default="/tmp/profile_slugs.json")
    ap.add_argument("slugs", nargs="*")
    args = ap.parse_args()

    spark = get_spark("profile_slugs")
    queries = entrymod.queries()
    names = args.slugs or list(queries)
    sent = _count_round_trips()

    # warm: JVM classload + codegen + parquet footer cache
    spark.range(1000).selectExpr("sum(id)").collect()

    out: dict[str, dict] = {}
    print(f"{'build_s':>8} {'plan_s':>8} {'exec_s':>8} {'trips':>6}  slug")
    for name in names:
        fn = queries[name]
        samples = []
        try:
            for _ in range(args.runs):
                spark.sparkContext.setJobDescription(f"profile:{name}")
                sent[0] = 0
                t0 = time.perf_counter()
                df = fn(spark, args.sf_dir)
                build = time.perf_counter() - t0
                trips = sent[0]
                plan = _plan_seconds(df)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                samples.append((build, plan, time.perf_counter() - t1, trips))
        except Exception as e:  # noqa: BLE001 — record, keep profiling
            print(f"ERR {name}: {e}", file=sys.stderr)
            out[name] = {"error": str(e)[:200]}
            continue
        row = {
            key: round(min(s[i] for s in samples), 3)
            for i, key in enumerate(("build_s", "plan_s", "exec_s"))
        }
        row["round_trips"] = min(s[3] for s in samples)
        out[name] = row
        print(_line(name, row), flush=True)

    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    ok = {k: v for k, v in out.items() if "error" not in v}
    ranked = sorted(ok, key=lambda k: ok[k]["build_s"] - ok[k]["exec_s"], reverse=True)
    print("\n== ranked by build_s - exec_s ==")
    for k in ranked[:20]:
        print(_line(k, ok[k]))
    totals = {key: sum(v[key] for v in ok.values()) for key in ("build_s", "plan_s", "exec_s")}
    print(
        f"total over {len(ok)} slugs: build {totals['build_s']:.2f}s, "
        f"plan {totals['plan_s']:.2f}s, exec {totals['exec_s']:.2f}s, "
        f"{sum(v['round_trips'] for v in ok.values())} round trips"
    )
    return 0


def _count_round_trips() -> list[int]:
    """Count py4j round trips made by this thread (py4j's finalizer thread
    releases garbage references in the background); the caller resets
    cell 0."""
    from py4j.clientserver import ClientServerConnection

    sent = [0]
    send = ClientServerConnection.send_command
    caller = threading.get_ident()

    def counting(self, *a, **kw):
        if threading.get_ident() == caller:
            sent[0] += 1
        return send(self, *a, **kw)

    ClientServerConnection.send_command = counting
    return sent


def _plan_seconds(df) -> float:
    """Analysis + optimization + planning of ``df``'s own QueryExecution,
    forced by asking for its executed plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().iterator()
    total_ms = 0
    while it.hasNext():
        total_ms += it.next()._2().durationMs()
    return total_ms / 1000.0


def _line(name: str, row: dict) -> str:
    return (
        f"{row['build_s']:8.3f} {row['plan_s']:8.3f} {row['exec_s']:8.3f} "
        f"{row['round_trips']:6d}  {name}"
    )


if __name__ == "__main__":
    raise SystemExit(main())
