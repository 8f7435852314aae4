"""Output checks. Each check takes plain arrow tables or Python values
(collected from the engine outside the timed region) and returns a list
of problems; an empty list means the check passed. Keeping the checks
free of Spark lets the self-test run them on corrupted copies."""

from __future__ import annotations

import math

import duckdb
import pyarrow as pa


def _con(**tables: pa.Table) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name, t in tables.items():
        con.register(name, t)
    return con


def multiset_diff(a: pa.Table, b: pa.Table, cols: list[str]) -> int:
    """Rows of ``a`` missing from ``b`` plus rows of ``b`` missing from
    ``a`` (multiset semantics) over ``cols``."""
    sel = ", ".join(cols)
    con = _con(a=a, b=b)
    n = con.execute(
        f"SELECT (SELECT COUNT(*) FROM (SELECT {sel} FROM a EXCEPT ALL SELECT {sel} FROM b))"
        f" + (SELECT COUNT(*) FROM (SELECT {sel} FROM b EXCEPT ALL SELECT {sel} FROM a))"
    ).fetchone()[0]
    return int(n)


# ---------------------------------------------------------------------------
# tutorial_concurrent
# ---------------------------------------------------------------------------
M_COLS = ["sensor_id", "reading", "event_time"]


def check_measurements(out: pa.Table, gen: pa.Table) -> list[str]:
    n = multiset_diff(out.select(M_COLS), gen.select(M_COLS), M_COLS)
    return [f"measurements: {n} rows differ from the generated rows"] if n else []


def check_enrich_accounting(
    enriched: pa.Table, retry: pa.Table, gen: pa.Table
) -> tuple[list[str], int]:
    """enriched + retry-queue + dead-lettered rows == generated rows.
    The pipeline keeps no dead-letter table: the generated rows that are
    neither enriched nor queued are the dead-lettered ones. A round has
    fewer triggers than the lookup's 50 attempts, so none may be
    dead-lettered, and no enriched or queued row may be invented or
    doubled. Returns the problems and the dead-lettered row count."""
    got = pa.concat_tables([enriched.select(M_COLS), retry.select(M_COLS)])
    con = _con(got=got, gen=gen.select(M_COLS))
    extra = con.execute(
        "SELECT COUNT(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM gen)"
    ).fetchone()[0]
    dead = gen.num_rows - (got.num_rows - extra)
    problems = []
    if extra:
        problems.append(f"enrich: {extra} enriched/queued rows were never generated or are doubled")
    if dead:
        problems.append(f"enrich: {dead} generated rows are neither enriched nor queued")
    return problems, dead


def check_sensor_info(out: pa.Table, gen: pa.Table) -> list[str]:
    """COUNT == distinct keys upserted, and every key holds its last
    upserted version (files are upserted in order; the newest
    updated_at of a key is its last version)."""
    problems = []
    con = _con(o=out, g=gen)
    keys = con.execute("SELECT COUNT(DISTINCT sensor_id) FROM g").fetchone()[0]
    if out.num_rows != keys:
        problems.append(f"sensor_info: {out.num_rows} rows, {keys} distinct keys upserted")
    stale = con.execute(
        "SELECT COUNT(*) FROM (SELECT * FROM g QUALIFY ROW_NUMBER() OVER "
        "(PARTITION BY sensor_id ORDER BY updated_at DESC) = 1) last "
        "ANTI JOIN o USING (sensor_id, latitude, longitude, generation, updated_at)"
    ).fetchone()[0]
    if stale:
        problems.append(f"sensor_info: {stale} keys do not hold their last upserted version")
    return problems


def check_enriched_versions(enriched: pa.Table, dim_gen: pa.Table) -> list[str]:
    """Every enriched row's dimension attributes match some committed
    sensor_info version of its key (FIXTURES.md A3)."""
    con = _con(e=enriched, g=dim_gen)
    bad = con.execute(
        "SELECT COUNT(*) FROM e ANTI JOIN g "
        "USING (sensor_id, latitude, longitude, generation, updated_at)"
    ).fetchone()[0]
    return [f"enriched: {bad} rows carry attributes of no sensor_info version"] if bad else []


def fingerprint(t: pa.Table, value_col: str) -> tuple[int, float]:
    con = _con(t=t)
    n, s = con.execute(f"SELECT COUNT(*), COALESCE(SUM({value_col}), 0) FROM t").fetchone()
    return int(n), float(s)


def check_fingerprint(name: str, before: tuple, after: tuple) -> list[str]:
    if before[0] != after[0] or not math.isclose(before[1], after[1], rel_tol=1e-12, abs_tol=1e-9):
        return [f"{name}: compaction changed (rows, checksum) {before} -> {after}"]
    return []


# ---------------------------------------------------------------------------
# result comparison (batch_scan, operator_cards)
# ---------------------------------------------------------------------------
def _norm(v):
    if isinstance(v, float):
        return ("f", round(v, 6) if math.isfinite(v) else str(v))
    if v is None:
        return ("n", "")
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_norm(x) for x in v))
    if hasattr(v, "isoformat"):
        return ("t", v.replace(tzinfo=None).isoformat() if hasattr(v, "tzinfo") else v.isoformat())
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    try:
        return ("f", round(float(v), 6))  # Decimal and numpy scalars
    except (TypeError, ValueError):
        return ("s", str(v))


def _close(a, b) -> bool:
    if a[0] != b[0]:
        return False
    if a[0] == "f" and isinstance(a[1], float) and isinstance(b[1], float):
        return math.isclose(a[1], b[1], rel_tol=1e-6, abs_tol=1e-6)
    if a[0] == "l":
        return len(a[1]) == len(b[1]) and all(_close(x, y) for x, y in zip(a[1], b[1]))
    return a == b


def same_rows(got: list[dict], want: list[dict]) -> str | None:
    """Order-insensitive comparison of two row lists (columns matched
    by name, floats to 1e-6 relative). Returns None when equal, else a
    short description of the first difference."""
    gcols = sorted(got[0]) if got else None
    wcols = sorted(want[0]) if want else None
    if got and want and gcols != wcols:
        return f"columns {gcols} != {wcols}"
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    cols = gcols or wcols or []

    def key(r):
        return tuple(_norm(r[c]) for c in cols)

    gs, ws = sorted(map(key, got), key=repr), sorted(map(key, want), key=repr)
    for a, b in zip(gs, ws):
        if not all(_close(x, y) for x, y in zip(a, b)):
            return f"row {a} != {b}"
    return None
