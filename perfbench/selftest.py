"""Self-test of the benchmark's output checks.

    python3 perfbench/selftest.py [--seed N]

Runs one pass of each workload on a small Spark session, checks that
every output check passes on the real outputs, then corrupts one output
at a time on a copy and checks that the check guarding it fails. Exits
0 when every check passes clean and fails on its corruption.
"""

from __future__ import annotations

import argparse
import os
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _with_cell(t, col: str, row: int, value):
    """Copy of arrow table ``t`` with one cell replaced."""
    import pyarrow as pa

    vals = t.column(col).to_pylist()
    vals[row] = value
    i = t.schema.get_field_index(col)
    return t.set_column(i, t.schema.field(i), pa.array(vals, t.schema.field(i).type))


def tutorial_cases(ctx) -> list[tuple[str, bool]]:
    import checks
    import pyarrow as pa
    import wl_tutorial as W

    wl = W.Workload(ctx)
    wl.build_inputs()
    r = wl.run_round(wl.src)
    outs, after = wl.outputs(r)
    exp_m, exp_d = wl.expected["measurements"], wl.expected["sensor_info"]
    clean = W.run_checks(outs, exp_m, exp_d, r["before"], after, r["read_rows"])[0]
    cases = [("tutorial: clean outputs pass", not clean)]

    m = outs["measurements"]
    e = outs["enriched"]
    cases += [
        ("tutorial: dropped measurements row fails",
         bool(checks.check_measurements(m.slice(1), exp_m))),
        ("tutorial: lost enriched row fails",
         bool(checks.check_enrich_accounting(e.slice(1), outs["retry"], exp_m)[0])),
        ("tutorial: doubled enriched row fails",
         bool(checks.check_enrich_accounting(
             pa.concat_tables([e, e.slice(0, 1)]), outs["retry"], exp_m)[0])),
        ("tutorial: stale sensor_info version fails",
         bool(checks.check_sensor_info(
             _with_cell(outs["sensor_info"], "latitude", 0, 91.0), exp_d))),
        ("tutorial: enriched row with foreign attributes fails",
         bool(checks.check_enriched_versions(_with_cell(e, "generation", 0, 7), exp_d))),
        ("tutorial: compaction losing a row fails",
         bool(checks.check_fingerprint(
             "measurements", r["before"]["measurements"],
             checks.fingerprint(m.slice(1), "reading")))),
    ]
    reads = [list(rows) for rows in r["read_rows"]]
    reads[0] = [(reads[0][0][0] + 1,)]
    bad = W.run_checks(outs, exp_m, exp_d, r["before"], after, reads)[0]
    cases.append(("tutorial: wrong batch-read count fails", bool(bad)))
    return cases


def scan_cases(ctx) -> list[tuple[str, bool]]:
    import wl_scan as W

    wl = W.ScanPart(ctx)
    wl.build_inputs()
    got = wl.run_pass(rounds=1)["results"][0]
    want = wl.expected()
    stmts = [s for s, _ in wl.stmts]
    cases = [("batch_scan: clean results pass", not W.check_results(stmts, got, want))]
    for i, stmt in enumerate(stmts):
        bad = [list(rows) for rows in got]
        row = dict(bad[i][0])
        k = sorted(row)[-1]
        row[k] = (row[k] or 0) + 1
        bad[i][0] = row
        cases.append(
            (f"batch_scan: corrupted result of statement {i} fails",
             bool(W.check_results(stmts, bad, want)))
        )
    return cases


def cards_cases(ctx) -> list[tuple[str, bool]]:
    import checks
    import wl_cards as W

    wl = W.CardsPart(ctx)
    wl.build_inputs()
    results = wl.run_pass()["results"]
    want = wl.oracle_rows()
    cases = []
    for short in W.CARDS:
        got = results[short]
        cases.append((f"operator_cards: {short} clean result passes",
                      checks.same_rows(got, want[short]) is None))
        bad = [dict(r) for r in got]
        k = next(c for c in sorted(bad[0]) if isinstance(bad[0][c], (int, float)))
        bad[-1][k] = bad[-1][k] + 1
        cases.append((f"operator_cards: {short} corrupted result fails",
                      checks.same_rows(bad, want[short]) is not None))
    return cases


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)  # ahead of the checkout root
    import common

    ctx = common.RunContext(ROOT, "selftest", args.seed, False)
    ctx.scoped_env()
    cases: list[tuple[str, bool]] = []
    try:
        ctx.start_spark(os.cpu_count() or 1)
        for fn in (tutorial_cases, scan_cases, cards_cases):
            cases += fn(ctx)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        ctx.stop()
        ctx.cleanup()
    for name, ok in cases:
        print(f"{'ok  ' if ok else 'FAIL'} {name}")
    failed = sum(1 for _, ok in cases if not ok)
    print(f"{len(cases) - failed}/{len(cases)} self-test cases passed")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
