"""Batch scan: the tutorial's batch SELECTs over a fragmented table.

Set-up builds an append table from many small commits through the
public ``Table.append_rows`` (no Spark job per commit), compacts it
once, then appends more small commits: the latest snapshot holds one
compacted file plus many fragments, and the pre-compaction snapshot
holds only fragments. The timed loop runs a fixed list of statements
through ``plans.Engine.sql`` and collects each result: counts, a
group-by, point and range predicates that min/max pruning could use,
``$files``, ``$snapshots`` and ``VERSION AS OF`` reads of the
pre-compaction snapshot. A timed pass runs the list ``ROUNDS`` times.
An operation is one statement: ``Engine.sql`` returning its DataFrame
plus the collect. No stream runs.
"""

from __future__ import annotations

import os
import time

import checks
import duckdb
import gen
from common import RunContext, Tracer, p50, tail

COMMITS_BEFORE = 40  # fragments compacted away in the latest snapshot
COMMITS_AFTER = 40  # fragments live in the latest snapshot
ROWS = 200
TABLE = "readings"
# times a timed pass runs the statement list: every execution is an
# operation, so the p75 falls among statements, not at their slowest
ROUNDS = 2
# untimed rounds first: the second round is still 10-17% slower than
# the third
WARM_ROUNDS = 2


def statements(pre: int, n_rows: int) -> list[tuple[str, str]]:
    """(Engine statement, DuckDB reference over the generated commit
    files). ``pre`` is the pre-compaction snapshot id; the reference
    views ``cur`` (every commit) and ``pre`` (the first ``pre``)."""
    point = n_rows - 3 * ROWS // 2  # a row of a late fragment
    lo_ts, hi_ts = 1_700_000_000_000 + 10 * 20 * ROWS, 1_700_000_000_000 + 10 * 23 * ROWS
    t = TABLE
    return [
        (f"SELECT COUNT(*) AS c FROM {t}", "SELECT COUNT(*) AS c FROM cur"),
        (
            f"SELECT COUNT(*) AS c, SUM(reading) AS s FROM {t} WHERE reading >= 40.0",
            "SELECT COUNT(*) AS c, SUM(reading) AS s FROM cur WHERE reading >= 40.0",
        ),
        (
            f"SELECT sensor_id % 10 AS g, COUNT(*) AS n, SUM(reading) AS s FROM {t} "
            "GROUP BY sensor_id % 10",
            "SELECT sensor_id % 10 AS g, COUNT(*) AS n, SUM(reading) AS s FROM cur "
            "GROUP BY sensor_id % 10",
        ),
        (
            f"SELECT row_id, sensor_id, reading FROM {t} WHERE row_id = {point}",
            f"SELECT row_id, sensor_id, reading FROM cur WHERE row_id = {point}",
        ),
        (
            f"SELECT COUNT(*) AS n, MAX(reading) AS mx FROM {t} "
            f"WHERE ts_ms BETWEEN {lo_ts} AND {hi_ts}",
            f"SELECT COUNT(*) AS n, MAX(reading) AS mx FROM cur "
            f"WHERE ts_ms BETWEEN {lo_ts} AND {hi_ts}",
        ),
        (
            f"SELECT COUNT(*) AS n, SUM(record_count) AS r FROM {t}$files",
            f"SELECT CAST({COMMITS_AFTER + 1} AS BIGINT) AS n, COUNT(*) AS r FROM cur",
        ),
        (
            f"SELECT COUNT(*) AS n, MAX(snapshot_id) AS m FROM {t}$snapshots",
            f"SELECT CAST({pre + 1 + COMMITS_AFTER} AS BIGINT) AS n, "
            f"CAST({pre + 1 + COMMITS_AFTER} AS BIGINT) AS m",
        ),
        (
            f"SELECT COUNT(*) AS n, SUM(reading) AS s FROM {t} VERSION AS OF {pre}",
            "SELECT COUNT(*) AS n, SUM(reading) AS s FROM pre",
        ),
        (
            f"SELECT sensor_id, COUNT(*) AS n FROM {t} VERSION AS OF {pre} "
            f"WHERE row_id < {ROWS * 10} GROUP BY sensor_id",
            f"SELECT sensor_id, COUNT(*) AS n FROM pre WHERE row_id < {ROWS * 10} "
            "GROUP BY sensor_id",
        ),
    ]


class ScanPart:
    def __init__(self, ctx: RunContext):
        self.ctx = ctx
        self.passes: list[dict] = []
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0

    # -- set-up ---------------------------------------------------------
    def build_inputs(self) -> None:
        from advent_of_code_flink_paimon_spark.lakehouse import Catalog
        from advent_of_code_flink_paimon_spark.plans import Engine

        base = os.path.join(self.ctx.work, "scan")
        commits = gen.fragment_commits(self.ctx.seed, COMMITS_BEFORE + COMMITS_AFTER, ROWS)
        self.ref_files = gen.write_commit_files(commits, os.path.join(base, "ref"))
        self.wh = os.path.join(base, "wh")
        t = Catalog(self.wh).create_table(TABLE, gen.FRAGMENT_SCHEMA, {"bucket": "1"})
        spark = self.ctx.spark
        for rows in commits[:COMMITS_BEFORE]:
            t.append_rows(spark, rows)
        t.compact()
        for rows in commits[COMMITS_BEFORE:]:
            t.append_rows(spark, rows)
        self.table = t
        self.engine = Engine(spark, self.wh)
        self.stmts = statements(COMMITS_BEFORE, ROWS * len(commits))

    def warm_up(self) -> None:
        self.run_pass(record=False, rounds=WARM_ROUNDS)

    # -- timed loop -----------------------------------------------------
    def run_pass(
        self, record: bool = True, tracer: Tracer | None = None, rounds: int = ROUNDS
    ) -> dict:
        """Run the statement list ``rounds`` times. ``results`` holds
        one list of statement results per round."""
        sql_ms, exec_ms, results, files_frac = [], [], [], []
        for _ in range(rounds):
            results.append(self._run_round(sql_ms, exec_ms, files_frac, record, tracer))
        r = {
            "op_ms": [a + b for a, b in zip(sql_ms, exec_ms)],
            "sql_ms": sql_ms,
            "exec_ms": exec_ms,
            "pass_s": (sum(sql_ms) + sum(exec_ms)) / 1000.0,
            "results": results,
            "files_frac": [f for f in files_frac if f is not None],
        }
        if record:
            self.attempted += rounds * len(self.stmts)
            self.passes.append(r)
        return r

    def _run_round(self, sql_ms, exec_ms, files_frac, record, tracer) -> list:
        results = []
        for stmt, _ in self.stmts:
            t0 = time.perf_counter()
            try:
                df = self.engine.sql(stmt)
                t1 = time.perf_counter()
                rows = [r.asDict() for r in df.collect()]
            except Exception as exc:  # a failed statement counts, the loop goes on
                if record:
                    self.failed += 1
                self.problems.append(f"{stmt[:60]}: {exc!r}"[:300])
                rows, t1 = None, time.perf_counter()
            t2 = time.perf_counter()
            sql_ms.append((t1 - t0) * 1000.0)
            exec_ms.append((t2 - t1) * 1000.0)
            results.append(rows)
            if tracer is not None and rows is not None:
                files_frac.append(self._files_read_frac(df, stmt))
        return results

    def _files_read_frac(self, df, stmt: str) -> float | None:
        """Files the statement's plan reads over the live files of the
        snapshot it reads (None for statements over system tables or
        answered from metadata)."""
        if "$" in stmt:
            return None
        if "VERSION AS OF" in stmt:
            live = len(self.table.manifest(COMMITS_BEFORE))
        else:
            live = len(self.table.manifest())
        read = len(df.inputFiles())
        return read / live if read else None

    # -- output checks --------------------------------------------------
    def expected(self) -> list[list[dict]]:
        con = duckdb.connect()
        files = ", ".join(f"'{p}'" for p in self.ref_files)
        pre = ", ".join(f"'{p}'" for p in self.ref_files[:COMMITS_BEFORE])
        con.execute(f"CREATE VIEW cur AS SELECT * FROM read_parquet([{files}])")
        con.execute(f"CREATE VIEW pre AS SELECT * FROM read_parquet([{pre}])")
        out = []
        for _, ref in self.stmts:
            cur = con.execute(ref)
            cols = [d[0] for d in cur.description]
            out.append([dict(zip(cols, row)) for row in cur.fetchall()])
        return out

    def check(self) -> None:
        """Every statement's result in every round of the last pass
        equals DuckDB over the generated commit files."""
        want = self.expected()
        for got in self.passes[-1]["results"]:
            problems = check_results([s for s, _ in self.stmts], got, want)
            self.problems += problems
            self.attempted += len(want)
            self.failed += len(problems)

    # -- figures ----------------------------------------------------------
    def details(self, passes: list[dict], tail_pct: float) -> dict:
        ops = [ms for p in passes for ms in p["op_ms"]]
        return {
            "query_p50_ms": p50(ops),
            "query_tail_ms": tail(ops, tail_pct),
            "query_tail_pct": tail_pct,
            "queries": len(ops),
            "live_files": len(self.table.manifest()),
            "snapshots": len(self.table.snapshots()),
        }

    def layers(self, passes: list[dict], tracer: Tracer) -> dict[str, float]:
        fr = [f for p in passes for f in p["files_frac"]]
        return {
            "plans.sql_ms": p50([ms for p in passes for ms in p["sql_ms"]]),
            "plans.exec_ms": p50([ms for p in passes for ms in p["exec_ms"]]),
            "lakehouse.files_read_frac": sum(fr) / len(fr) if fr else 0.0,
            "lakehouse.snapshots": float(len(self.table.snapshots())),
            "lakehouse.data_files": float(len(self.table.manifest())),
            "lakehouse.manifest_bytes": float(_dir_bytes(os.path.join(self.table.paths.root, "manifest"))),
        }


def check_results(stmts: list[str], got: list, want: list) -> list[str]:
    problems = []
    for stmt, g, w in zip(stmts, got, want):
        if g is None:
            problems.append(f"result {stmt[:50]}: statement failed")
            continue
        diff = checks.same_rows(g, w)
        if diff:
            problems.append(f"result {stmt[:50]}: {diff}"[:300])
    return problems


def _dir_bytes(d: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)
    ) if os.path.isdir(d) else 0
