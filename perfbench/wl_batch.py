"""batch_scan_cards: the non-streaming side of the engine.

One pass runs the batch-scan statements over a fragmented table
(wl_scan.ScanPart), then the operator cards (wl_cards.CardsPart), each
operation starting when the previous one has finished. No stream runs
and commits are light, so this is the workload a streaming, commit or
lock change should leave unchanged, and the one where plan build,
manifest reads and the operators layer show.
"""

from __future__ import annotations

import wl_cards
import wl_scan
from common import RunContext, Tracer, closed_loop

TAIL_PCT = 75


class Workload:
    name = "batch_scan_cards"
    tail_pct = TAIL_PCT

    def __init__(self, ctx: RunContext):
        self.scan = wl_scan.ScanPart(ctx)
        self.cards = wl_cards.CardsPart(ctx)
        self.parts = (self.scan, self.cards)

    @property
    def attempted(self) -> int:
        return sum(p.attempted for p in self.parts)

    @property
    def failed(self) -> int:
        return sum(p.failed for p in self.parts)

    @property
    def problems(self) -> list[str]:
        return [x for p in self.parts for x in p.problems]

    def build_inputs(self) -> None:
        for p in self.parts:
            p.build_inputs()

    def warm_up(self) -> None:
        # the statements last, so the first timed ones follow statements
        for p in reversed(self.parts):
            p.warm_up()

    def run_pass(self, tracer: Tracer | None = None) -> dict:
        s = self.scan.run_pass(tracer=tracer)
        c = self.cards.run_pass(tracer=tracer)
        return {
            "scan": s,
            "cards": c,
            "op_ms": s["op_ms"] + c["op_ms"],
            "pass_s": s["pass_s"] + c["pass_s"],
        }

    def measure(self, seconds: float, tracer: Tracer | None = None) -> list[dict]:
        return closed_loop(lambda: self.run_pass(tracer), seconds)

    def check(self) -> dict:
        for p in self.parts:
            p.check()
        return {}

    def op_samples_ms(self, passes: list[dict]) -> list[float]:
        return [ms for p in passes for ms in p["op_ms"]]

    def details(self, passes: list[dict]) -> dict:
        out = self.scan.details([p["scan"] for p in passes], TAIL_PCT)
        out.update(self.cards.details([p["cards"] for p in passes]))
        return out

    def layers(self, passes: list[dict], tracer: Tracer) -> dict[str, float]:
        out = self.scan.layers([p["scan"] for p in passes], tracer)
        out.update(self.cards.layers([p["cards"] for p in passes], tracer))
        return out
