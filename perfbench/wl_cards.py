"""Operator cards: registry cards through ``__spark_entry__.queries()``.

A fixed set of non-streaming cards, one per operator family (ANN,
near-dedup, text search, relational), each called through
``__spark_entry__.queries()`` over seeded generated inputs and executed
by collecting its result (at most a few hundred rows), so the output
checks verify what the timed pass computed. The registry keeps its
default auto-release of query-scoped caches, so a pass never reuses the
previous pass's pins. An operation is one card: its call (which builds
the plan and runs any commits the card makes) plus the collect. Commits
are light and nothing contends.
"""

from __future__ import annotations

import os
import time

import checks
import duckdb
import gen
from common import RunContext, Tracer, p50

CARDS = {
    "q28": "q28_enrichment_join",
    "x03": "x03_dedup_minhash_lsh",
    "x62": "x62_bm25_topk",
    "x64": "x64_ivf_index_lifecycle",
}
# the sf0.1 row counts of TESTDATA.md: 5,000 documents, 2,000
# embeddings, 150,000 orders (600,000 lineitem rows, 15,000 customers)
N_DOCS, N_VECS, N_ORDERS = 5000, 2000, 150_000
TABLES = ("documents", "embeddings", "nation", "customer", "orders", "lineitem")


class CardsPart:
    def __init__(self, ctx: RunContext):
        self.ctx = ctx
        self.passes: list[dict] = []
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()

    # -- set-up ---------------------------------------------------------
    def build_inputs(self) -> None:
        self.sf_dir = os.path.join(self.ctx.work, "cards")
        gen.card_tables(self.ctx.seed, self.sf_dir, N_DOCS, N_VECS, N_ORDERS)

    def warm_up(self) -> None:
        self.run_pass(record=False)

    # -- timed loop -----------------------------------------------------
    def run_pass(self, record: bool = True, tracer: Tracer | None = None) -> dict:
        spark = self.ctx.spark
        plan_s, exec_s, results = {}, {}, {}
        for short, name in CARDS.items():
            t0 = time.perf_counter()
            try:
                df = self.queries[name](spark, self.sf_dir)
                t1 = time.perf_counter()
                rows = df.collect()
            except Exception as exc:  # a failed card counts, the pass goes on
                if record:
                    self.failed += 1
                self.problems.append(f"{name}: {exc!r}"[:300])
                rows, t1 = None, time.perf_counter()
            t2 = time.perf_counter()
            plan_s[short], exec_s[short] = t1 - t0, t2 - t1
            results[short] = None if rows is None else [r.asDict() for r in rows]
        r = {
            "plan_s": plan_s,
            "exec_s": exec_s,
            "op_ms": [(plan_s[c] + exec_s[c]) * 1000.0 for c in CARDS],
            "pass_s": sum(plan_s.values()) + sum(exec_s.values()),
            "results": results,
        }
        if record:
            self.attempted += len(CARDS)
            self.passes.append(r)
        return r

    # -- output checks --------------------------------------------------
    def oracle_rows(self) -> dict[str, list[dict]]:
        """Each card's registered DuckDB oracle over the generated files."""
        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for short, name in CARDS.items():
            cur = con.execute(self.oracles[name])
            cols = [d[0] for d in cur.description]
            out[short] = [dict(zip(cols, row)) for row in cur.fetchall()]
        return out

    def check(self) -> None:
        """Each card's result in the last pass equals its oracle."""
        want = self.oracle_rows()
        results = self.passes[-1]["results"]
        for short, name in CARDS.items():
            self.attempted += 1
            got = results[short]
            if got is None:
                problem = f"{name}: no result"
            else:
                diff = checks.same_rows(got, want[short])
                problem = f"{name}: {diff}" if diff else None
            if problem:
                self.failed += 1
                self.problems.append(problem[:300])

    # -- figures ----------------------------------------------------------
    def details(self, passes: list[dict]) -> dict:
        return {
            "cards_wall_s": p50([p["pass_s"] for p in passes]),
            "cards": list(CARDS.values()),
            "card_s": {
                c: p50([p["plan_s"][c] + p["exec_s"][c] for p in passes]) for c in CARDS
            },
        }

    def layers(self, passes: list[dict], tracer: Tracer) -> dict[str, float]:
        out = {}
        for c in CARDS:
            out[f"operators.card_plan_s.{c}"] = p50([p["plan_s"][c] for p in passes])
            out[f"operators.card_exec_s.{c}"] = p50([p["exec_s"][c] for p in passes])
        return out
