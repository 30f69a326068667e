"""Interactive query layer — the dbread.py REPL (SURVEY §3.2) as thin
dispatch over Spark SQL.

The reference parses `field op value` tokens into lambda predicates and
full-scans Mongo client-side (dbread.py:78-122); here every command compiles
to a DataFrame/SQL plan, so pushdown/pruning/joins come from Catalyst.  The
`last_planes` result cache (dbread.py:121-122) becomes a temp view.

Commands (dbread.py:180-187 dispatch table):
  list            -> store enumeration + per-plane trip counts;
                     `list db` -> SHOW DATABASES (dbread.py:27-31 size
                     listing), `list db/<name>` -> that database's tables
                     (dbread.py:32-35 collection listing)
  plane <hex>     -> per-trip detail for one aircraft (dbread.py:42-57
                     `plane/<hex>`): trip number in start order, the legacy
                     `commentary` field when the store carries it (printed
                     "Trip N: <commentary>" there), callsign, message count
  search <preds>  -> F6 predicate search; caches view `last_search`
  dump <path>     -> S9 JSON dump of the last search
  drop <name>     -> S10 drop, name-typed confirmation (drop_command,
                     dbread.py:155-168): temp view, else catalog database
  use [db]        -> switch/show the current database (use_command,
                     dbread.py:170-175) — a real Spark catalog database
  reset           -> consent-gated drop-ALL (reset_command, dbread.py:62-76:
                     the exact consent sentence), drops every non-default
                     database + temp view and returns to `default`
Multi-statement `a & b` supported like dbread.py:194.

Interactive confirmations go through `input_fn` (builtins.input by
default) so tests and scripted runs can inject answers.
"""

from __future__ import annotations

import shlex

from pyspark.sql import DataFrame, SparkSession

from airstrik_py_spark.operators.search import OPS, search_planes
from airstrik_py_spark.sinks import write_json

RESET_CONSENT = (
    "I understand what will happen, and I consent to resetting the database."
)


class Repl:
    def __init__(
        self, spark: SparkSession, obs: DataFrame, trips: DataFrame, input_fn=input
    ):
        self.spark = spark
        self.obs = obs
        self.trips = trips
        self.input_fn = input_fn
        obs.createOrReplaceTempView("obs")
        trips.createOrReplaceTempView("trips")

    def execute(self, line: str) -> list[DataFrame]:
        """Run one input line; `&`-separated statements run in order
        (dbread.py:194)."""
        return [self._dispatch(part.strip()) for part in line.split(" & ")]

    def _dispatch(self, stmt: str) -> DataFrame:
        words = shlex.split(stmt)
        if not words:
            raise ValueError("empty statement")
        cmd, *args = words
        if cmd == "list":
            if args and args[0] in ("db", "dbs", "database", "databases"):
                return self.spark.sql("SHOW DATABASES")
            if args and args[0].startswith("db/"):
                # escape backticks so a hostile name can't break out of the
                # quoted identifier (ADVICE r6)
                name = args[0][3:].replace("`", "``")
                return self.spark.sql(f"SHOW TABLES IN `{name}`")
            return self.spark.sql(
                "SELECT flight_id, count(*) AS n_trips, sum(n_obs) AS n_msgs "
                "FROM trips GROUP BY flight_id ORDER BY flight_id"
            )
        if cmd == "plane":
            if not args:
                raise ValueError("usage: plane <hex>")
            return self._plane(args[0])
        if cmd == "search":
            preds = [self._parse_pred(a) for a in args]
            out = search_planes(self.obs, preds)
            out.createOrReplaceTempView("last_search")
            return out
        if cmd == "dump":
            if not args:
                raise ValueError("usage: dump <path>")
            matched = self.spark.table("last_search").join(self.obs, "hex")
            write_json(matched, args[0])
            return matched
        if cmd == "drop":
            if not args:
                raise ValueError("usage: drop <name>")
            return self._drop(args[0])
        if cmd == "use":
            return self._use(args)
        if cmd == "reset":
            return self._reset()
        if cmd == "packet":
            # the reference's packet_command is a literal no-op stub
            # (dbread.py:60-61: `pass`) — mirror it as an empty status
            return self.spark.sql("SELECT 'noop' AS status WHERE 1 = 0")
        if cmd == "exit":
            raise SystemExit(0)  # dbread.py:187
        if cmd == "sql":  # escape hatch the reference never had
            return self.spark.sql(stmt[4:])
        raise ValueError(f"unknown command: {cmd}")

    def _plane(self, flight_id: str) -> DataFrame:
        """dbread.py:42-57 `plane/<hex>`: one row per trip in start order —
        trip number, the legacy `commentary` (top-level trip-document field
        the reference prints as "Trip N: <commentary>"; NULL when the store
        is not legacy), callsign, and the received-message count (the
        reference counts history entries per attribute; n_obs is that
        count in this engine's trip row)."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        t = self.trips.filter(F.col("flight_id") == flight_id)
        commentary = (
            F.col("commentary")
            if "commentary" in self.trips.columns
            else F.lit(None).cast("string")
        )
        w = Window.partitionBy("flight_id").orderBy("start_sec", "session_id")
        return t.select(
            F.row_number().over(w).alias("trip"),
            commentary.alias("commentary"),
            F.col("callsign"),
            F.col("n_obs").alias("n_msgs"),
        )

    def _drop(self, name: str) -> DataFrame:
        """Name-typed confirmation then drop: temp view first, else catalog
        database (the reference's per-dump-session database,
        dbread.py:155-168)."""
        if self.input_fn("To drop this table, enter its name: ") != name:
            return self.spark.sql("SELECT 'abort' AS status")
        if any(v.name == name for v in self.spark.catalog.listTables()):
            # temp view first; a permanent catalog table (e.g. a bucketed
            # store) returns False from dropTempView and needs DROP TABLE —
            # the reference's drop really deletes the object
            # (dbread.py:155-168)
            if not self.spark.catalog.dropTempView(name):
                self.spark.sql(f"DROP TABLE IF EXISTS `{name}`")
        elif any(d.name == name for d in self.spark.catalog.listDatabases()):
            self.spark.sql(f"DROP DATABASE IF EXISTS `{name}` CASCADE")
        else:
            return self.spark.sql("SELECT 'ERR: table doesn''t exist' AS status")
        return self.spark.sql("SHOW VIEWS")

    def _use(self, args: list[str]) -> DataFrame:
        """Switch the session's current database, creating it on first use
        (the reference just repoints current_db, dbread.py:170-175); no args
        shows the current one."""
        if args:
            db = args[0]
            self.spark.sql(f"CREATE DATABASE IF NOT EXISTS `{db}`")
            self.spark.sql(f"USE `{db}`")
        return self.spark.sql("SELECT current_database() AS current_db")

    def _reset(self) -> DataFrame:
        """Drop EVERYTHING after the reference's exact typed consent
        (dbread.py:62-76): every non-default catalog database, every temp
        view, back to `default`."""
        answer = self.input_fn(
            'Type exactly this: "' + RESET_CONSENT + '"'
        )
        if answer != RESET_CONSENT:
            return self.spark.sql("SELECT 'Does not match.' AS status")
        self.spark.sql("USE default")
        for d in self.spark.catalog.listDatabases():
            if d.name != "default":
                self.spark.sql(f"DROP DATABASE IF EXISTS `{d.name}` CASCADE")
        for v in self.spark.catalog.listTables():
            if v.isTemporary:
                self.spark.catalog.dropTempView(v.name)
        # the reference keeps working after reset because dbread re-reads the
        # (now-empty) store per command — mirror that by re-registering the
        # base views as empty relations instead of leaving them dangling
        self.obs.limit(0).createOrReplaceTempView("obs")
        self.trips.limit(0).createOrReplaceTempView("trips")
        return self.spark.sql("SELECT current_database() AS current_db")

    @staticmethod
    def _parse_pred(token: str) -> tuple[str, str, float]:
        """`alt_geom>500` -> (field, op, value) (dbread.py:84-94)."""
        for op in (">=", "<=", ">", "<", "="):
            if op in token:
                field, val = token.split(op, 1)
                if op not in OPS:
                    raise ValueError(f"bad operator in {token!r}")
                return field, op, float(val)
        raise ValueError(f"unparseable predicate: {token!r}")
