"""tutorial_concurrent: the reference tutorial as it is deployed.

Three Structured Streaming queries start together in one session and
run until each has drained its source (one pre-generated parquet file
per trigger, ``availableNow``):

- a ``Pipeline`` append into ``measurements`` (the guide's tuning:
  ``full-compaction.delta-commits=10``, ``compaction.max.file-num=5``,
  so auto-compaction fires inside the run);
- a ``Pipeline`` upsert into ``sensor_info`` (``changelog-producer=input``);
- a ``LookupJoinPipeline`` enriching the measurements against
  ``sensor_info`` into ``measurements_enriched``.

After the streams: the tutorial's batch reads through ``plans.Engine``,
then ``compact()`` and ``expire_snapshots()`` on every table. One such
round is one pass; rounds repeat (closed loop, fresh warehouse each)
until the run's seconds are used. The operation whose latency is
reported is a trigger (``triggerExecution`` of every pipeline).
"""

from __future__ import annotations

import os
import shutil
import threading
import time

import checks
import gen
from common import RunContext, Tracer, closed_loop, p50, tail

FILES = 4  # triggers per pipeline per round
ROWS = 2000  # measurement rows per trigger
DIM_ROWS = 250  # sensor_info rows per trigger (FILES triggers cover all 1,000 keys)
TAIL_PCT = 75
ENRICHED_SCHEMA = (
    "sensor_id bigint, reading decimal(5,1), event_time timestamp, "
    "latitude double, longitude double, generation int, updated_at timestamp"
)
MEAS_OPTIONS = {
    "bucket": "2",
    "bucket-key": "sensor_id",
    "full-compaction.delta-commits": "10",
    "compaction.max.file-num": "5",
}
READS = [
    "SELECT COUNT(*) AS c FROM measurements",
    "SELECT COUNT(*) AS c FROM sensor_info",
    "SELECT COUNT(*) AS c FROM measurements_enriched",
    "SELECT sensor_id, latitude, longitude, generation FROM sensor_info WHERE sensor_id = 42",
    "SELECT sensor_id, COUNT(*) AS n, SUM(reading) AS s FROM measurements_enriched "
    "GROUP BY sensor_id",
    "SELECT file_path, level, record_count FROM measurements$files",
    "SELECT snapshot_id, commit_kind, total_record_count FROM measurements$snapshots",
]
PIPELINES = ("measurements", "sensor_info", "enrich")


class Workload:
    name = "tutorial_concurrent"
    tail_pct = TAIL_PCT

    def __init__(self, ctx: RunContext):
        self.ctx = ctx
        self.rounds: list[dict] = []
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0
        self._n = 0

    # -- set-up ---------------------------------------------------------
    def build_inputs(self) -> None:
        work = self.ctx.work
        self.src = os.path.join(work, "src")
        self.expected = gen.tutorial_sources(self.ctx.seed, self.src, FILES, ROWS, DIM_ROWS)
        # a full round of other values for the warm-up
        self.warm_src = os.path.join(work, "src-warm")
        gen.tutorial_sources(self.ctx.seed + 7919, self.warm_src, FILES, ROWS, DIM_ROWS)

    def warm_up(self) -> None:
        r = self.run_round(self.warm_src, record=False)
        self.warm_trigger_ms = {n: p["trigger_ms"] for n, p in r["streams"]["pipes"].items()}
        shutil.rmtree(r["base"], ignore_errors=True)

    # -- one round ------------------------------------------------------
    def _tables(self, wh: str):
        from advent_of_code_flink_paimon_spark.lakehouse import Catalog

        cat = Catalog(wh)
        meas = cat.create_table("measurements", gen.MEASUREMENTS_SCHEMA, MEAS_OPTIONS)
        dim = cat.create_table(
            "sensor_info", gen.SENSOR_INFO_SCHEMA,
            {"primary-key": "sensor_id", "bucket": "1", "changelog-producer": "input"},
        )
        enriched = cat.create_table(
            "measurements_enriched", ENRICHED_SCHEMA, {"bucket": "1", "bucket-key": "sensor_id"}
        )
        return cat, meas, dim, enriched

    def _stream(self, path: str, schema: str):
        return (
            self.ctx.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )

    def _pipelines(self, src: str, cat, meas, dim, enriched, ck: str, only=None):
        from advent_of_code_flink_paimon_spark.streaming import LookupJoinPipeline, Pipeline

        m_path = os.path.join(src, "measurements")
        made = {}
        if only in (None, "measurements"):
            made["measurements"] = Pipeline(
                "measurements", self._stream(m_path, gen.MEASUREMENTS_SCHEMA), meas,
                mode="append", available_now=True,
                checkpoint_dir=os.path.join(ck, "measurements"),
            )
        if only in (None, "sensor_info"):
            made["sensor_info"] = Pipeline(
                "sensor_info",
                self._stream(os.path.join(src, "sensor_info"), gen.SENSOR_INFO_SCHEMA),
                dim, mode="upsert", available_now=True,
                checkpoint_dir=os.path.join(ck, "sensor_info"),
            )
        if only in (None, "enrich"):
            made["enrich"] = LookupJoinPipeline(
                "enrich", cat, self._stream(m_path, gen.MEASUREMENTS_SCHEMA), dim, enriched,
                on="sensor_id", available_now=True,
                checkpoint_dir=os.path.join(ck, "enrich"),
            )
        return made

    def _drive(self, pipelines: dict, tracer: Tracer | None) -> dict:
        """Start the pipelines together; wait for each to drain.
        Returns per-pipeline wall, rows and trigger progress."""
        from advent_of_code_flink_paimon_spark.streaming.pipelines import stream_confs

        if tracer is not None:
            for name, p in pipelines.items():
                attr = "_process_batch" if name == "enrich" else "_sink"
                _trace_sink(tracer, p, attr, name)
        ends: dict[str, float] = {}
        errors: dict[str, str] = {}
        spark = self.ctx.spark
        with stream_confs(spark):
            t0 = time.perf_counter()
            queries = {n: p.start() for n, p in pipelines.items()}

            def wait(n, q):
                try:
                    q.awaitTermination()
                except Exception as exc:  # the query died: count it failed
                    errors[n] = repr(exc)[:300]
                ends[n] = time.perf_counter()

            threads = [threading.Thread(target=wait, args=(n, q)) for n, q in queries.items()]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            wall = max(ends.values()) - t0
        out = {"wall_s": wall, "errors": errors, "pipes": {}}
        for n, q in queries.items():
            prog = [p for p in q.recentProgress if p.numInputRows > 0]
            out["pipes"][n] = {
                "wall_s": ends[n] - t0,
                "rows": sum(p.numInputRows for p in prog),
                "trigger_ms": [float(p.durationMs.get("triggerExecution", 0)) for p in prog],
                "add_batch_ms": [float(p.durationMs.get("addBatch", 0)) for p in prog],
            }
        return out

    def run_round(self, src: str, record: bool = True, tracer: Tracer | None = None) -> dict:
        from advent_of_code_flink_paimon_spark.plans import Engine

        self._n += 1
        base = os.path.join(self.ctx.work, f"round-{self._n}")
        if self.rounds:  # only the last recorded round's tables are kept
            shutil.rmtree(self.rounds[-1]["base"], ignore_errors=True)
        wh, ck = os.path.join(base, "wh"), os.path.join(base, "ck")
        cat, meas, dim, enriched = self._tables(wh)
        streams = self._drive(self._pipelines(src, cat, meas, dim, enriched, ck), tracer)
        retry = cat.get_table("measurements_enriched_retry")
        enrich_commits = _enrich_commits(enriched, retry, streams)

        errors = dict(streams["errors"])
        engine = Engine(self.ctx.spark, wh)
        sql_ms, exec_ms, read_rows = [], [], []
        for i, stmt in enumerate(READS):
            t0 = time.perf_counter()
            try:
                df = engine.sql(stmt)
                t1 = time.perf_counter()
                read_rows.append(df.collect())
            except Exception as exc:  # a failed read counts, the round goes on
                errors[f"read {i}"] = repr(exc)[:300]
                t1 = time.perf_counter()
                read_rows.append([(None,)])
            sql_ms.append((t1 - t0) * 1000.0)
            exec_ms.append((time.perf_counter() - t1) * 1000.0)
        read_ms = [a + b for a, b in zip(sql_ms, exec_ms)]

        tables = [meas, dim, enriched, retry]
        before = self._fingerprints(meas, enriched) if record else None
        t0 = time.perf_counter()
        for t in tables:
            try:
                t.compact()
                t.expire_snapshots(retain_max=1)
            except Exception as exc:  # a failed compaction counts, the round goes on
                errors[f"compact {t.name}"] = repr(exc)[:300]
        compact_s = time.perf_counter() - t0

        r = {
            "streams": streams,
            "read_ms": read_ms,
            "sql_ms": sql_ms,
            "exec_ms": exec_ms,
            "compact_s": compact_s,
            # the pass is the timed segments only: the fingerprint and
            # snapshot-log reads between them are bookkeeping
            "pass_s": streams["wall_s"] + sum(read_ms) / 1000.0 + compact_s,
            "tables": (cat, meas, dim, enriched, retry),
            "read_rows": read_rows,
            "before": before,
            "enrich_commits": enrich_commits,
            "base": base,
        }
        if record:
            self.attempted += sum(len(p["trigger_ms"]) for p in streams["pipes"].values())
            self.attempted += len(READS) + len(tables)
            self.failed += len(errors)
            self.problems += [f"{n}: {e}" for n, e in errors.items()]
            r["bytes"] = _tree_bytes(wh)
            self.rounds.append(r)
        return r

    def _fingerprints(self, meas, enriched) -> dict:
        spark = self.ctx.spark
        return {
            "measurements": checks.fingerprint(meas.read(spark).toArrow(), "reading"),
            "measurements_enriched": checks.fingerprint(enriched.read(spark).toArrow(), "reading"),
        }

    # -- timed loop -----------------------------------------------------
    def measure(self, seconds: float, tracer: Tracer | None = None) -> list[dict]:
        return closed_loop(lambda: self.run_round(self.src, tracer=tracer), seconds)

    # -- output checks --------------------------------------------------
    def outputs(self, r: dict) -> tuple[dict, dict]:
        """A round's four tables as arrow tables, and the (rows,
        checksum) fingerprints of the two measurement tables."""
        cat, meas, dim, enriched, retry = r["tables"]
        spark = self.ctx.spark
        outs = {
            "measurements": meas.read(spark).toArrow(),
            "sensor_info": dim.read(spark).toArrow(),
            "enriched": enriched.read(spark).toArrow(),
            "retry": retry.read(spark).toArrow(),
        }
        after = {
            "measurements": checks.fingerprint(outs["measurements"], "reading"),
            "measurements_enriched": checks.fingerprint(outs["enriched"], "reading"),
        }
        return outs, after

    def check(self) -> dict:
        """Invariants on the last round's tables (outside timing).
        Returns the dead-lettered row count for the detail record."""
        r = self.rounds[-1]
        outs, after = self.outputs(r)
        exp_m, exp_d = self.expected["measurements"], self.expected["sensor_info"]
        problems, dead = run_checks(outs, exp_m, exp_d, r["before"], after, r["read_rows"])
        self.attempted += len(CHECK_NAMES)
        self.failed += len(problems)
        self.problems += problems
        return {"dead_lettered": dead, "retry_queue_rows": outs["retry"].num_rows}

    # -- solo baseline (traced run) ---------------------------------------
    def solo(self) -> dict[str, float]:
        """Each pipeline alone over the sources of the timed rounds:
        the single-pipeline baseline next to the concurrent figures."""
        out = {}
        for name in PIPELINES:
            self._n += 1
            base = os.path.join(self.ctx.work, f"solo-{self._n}")
            cat, meas, dim, enriched = self._tables(os.path.join(base, "wh"))
            if name == "enrich":  # the dimension is fully loaded first
                self._drive(
                    self._pipelines(self.src, cat, meas, dim, enriched,
                                    os.path.join(base, "ck-dim"), only="sensor_info"),
                    None,
                )
            res = self._drive(
                self._pipelines(self.src, cat, meas, dim, enriched,
                                os.path.join(base, "ck"), only=name),
                None,
            )
            out[name] = p50(res["pipes"][name]["trigger_ms"])
        return out

    # -- figures ----------------------------------------------------------
    def op_samples_ms(self, rounds: list[dict]) -> list[float]:
        return [
            ms for r in rounds for p in r["streams"]["pipes"].values() for ms in p["trigger_ms"]
        ]

    def details(self, rounds: list[dict]) -> dict:
        def rate(name):
            return p50([r["streams"]["pipes"][name]["rows"] / r["streams"]["pipes"][name]["wall_s"]
                        for r in rounds])

        trig = self.op_samples_ms(rounds)
        reads = [ms for r in rounds for ms in r["read_ms"]]
        last = rounds[-1]
        rows_in = last["streams"]["pipes"]["measurements"]["rows"]
        return {
            "ingest_rec_s": rate("measurements"),
            "upsert_rec_s": rate("sensor_info"),
            "enrich_rec_s": rate("enrich"),
            "trigger_p50_ms": p50(trig),
            "trigger_tail_ms": tail(trig, TAIL_PCT),
            "trigger_tail_pct": TAIL_PCT,
            "triggers": len(trig),
            "compact_s": p50([r["compact_s"] for r in rounds]),
            "bytes_per_row": last["bytes"] / max(1, rows_in),
            "query_p50_ms": p50(reads),
            "query_max_ms": max(reads),
            "queries": len(reads),
            "rounds": len(rounds),
            "warm_up_trigger_ms": self.warm_trigger_ms,
        }

    def layers(self, rounds: list[dict], tracer: Tracer) -> dict[str, float]:
        out = {}
        for name in PIPELINES:
            trig = [ms for r in rounds for ms in r["streams"]["pipes"][name]["trigger_ms"]]
            add = [ms for r in rounds for ms in r["streams"]["pipes"][name]["add_batch_ms"]]
            out[f"streaming.trigger_ms.{name}"] = p50(trig)
            out[f"streaming.add_batch_ms.{name}"] = p50(add)
            out[f"streaming.overhead_ms.{name}"] = p50([t - a for t, a in zip(trig, add)])
            out[f"streaming.triggers.{name}"] = float(len(trig))
            out[f"streaming.rec_s.{name}"] = p50(
                [r["streams"]["pipes"][name]["rows"] / r["streams"]["pipes"][name]["wall_s"]
                 for r in rounds]
            )
        out["plans.sql_ms"] = p50([ms for r in rounds for ms in r["sql_ms"]])
        out["plans.exec_ms"] = p50([ms for r in rounds for ms in r["exec_ms"]])
        last = rounds[-1]
        cat, meas, dim, enriched, retry = last["tables"]
        out["lakehouse.commits_per_trigger.enrich"] = p50([r["enrich_commits"] for r in rounds])
        out["lakehouse.compact_s"] = p50([r["compact_s"] for r in rounds])
        out.update(_table_counts([meas, dim, enriched, retry]))
        rows_in = last["streams"]["pipes"]["measurements"]["rows"]
        out["lakehouse.bytes_per_row"] = last["bytes"] / max(1, rows_in)
        return out


CHECK_NAMES = (
    "measurements_rows",
    "enrich_accounting",
    "sensor_info_image",
    "enriched_versions",
    "compaction_fingerprint",
    "batch_read_counts",
)


def run_checks(outs, exp_m, exp_d, before, after, read_rows) -> tuple[list[str], int]:
    """All tutorial checks: the problems found and the dead-lettered
    row count."""
    problems = []
    problems += checks.check_measurements(outs["measurements"], exp_m)
    acc, dead = checks.check_enrich_accounting(outs["enriched"], outs["retry"], exp_m)
    problems += acc
    problems += checks.check_sensor_info(outs["sensor_info"], exp_d)
    problems += checks.check_enriched_versions(outs["enriched"], exp_d)
    for name in ("measurements", "measurements_enriched"):
        problems += checks.check_fingerprint(name, before[name], after[name])
    counts = [rows[0][0] for rows in read_rows[:3]]
    want = [exp_m.num_rows, outs["sensor_info"].num_rows, outs["enriched"].num_rows]
    if counts != want:
        problems.append(f"batch reads: counts {counts}, expected {want}")
    return problems, dead


def _trace_sink(tracer: Tracer, pipeline, attr: str, name: str) -> None:
    """Span each micro-batch body of one pipeline instance (the commit
    spans inside become its children)."""
    orig = getattr(pipeline, attr)

    def body(batch_df, batch_id):
        with tracer.span(f"streaming.sink.{name}", batch=batch_id):
            return orig(batch_df, batch_id)

    setattr(pipeline, attr, body)


def _tree_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def _enrich_commits(enriched, retry, streams: dict) -> float:
    """Snapshot commits the enrichment made per trigger, from the two
    tables' snapshot logs (read before compaction and expiry)."""
    n = len(enriched.snapshots()) + len(retry.snapshots())
    return n / max(1, len(streams["pipes"]["enrich"]["trigger_ms"]))


def _table_counts(tables) -> dict[str, float]:
    snaps = files = mbytes = 0
    for t in tables:
        snaps += len(t.snapshots())
        files += len(t.manifest())
        mdir = os.path.join(t.paths.root, "manifest")
        if os.path.isdir(mdir):
            mbytes += _tree_bytes(mdir)
    return {
        "lakehouse.snapshots": float(snaps),
        "lakehouse.data_files": float(files),
        "lakehouse.manifest_bytes": float(mbytes),
    }
