"""Report every money sum/avg across the registered oracles and whether
it carries the exact fixed-point guard (VERDICT r9 item 1 — the
scheduling-dependent float-sum class), then every cents snap written by
hand in the package instead of through functions/money.py. Exit 1 on
unguarded, unjustified hits or on any hand-written snap; the same
analyzers back the pytest tripwires (tests/test_invariants.py::
test_no_unguarded_money_sums and ::test_no_handwritten_cents).

    python scripts/audit_float_sums.py            # report + gate
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_ingestion_service_spark import audit, registry


def main() -> int:
    registry.load_all_operators()
    guarded_keys = 0
    total_sites = 0
    for key, sql in sorted(registry.ORACLES.items()):
        sites = [
            (fn, arg)
            for fn, arg in audit.iter_agg_args(sql)
            if audit._MONEY_RE.search(arg)
        ]
        if sites:
            total_sites += len(sites)
            if all(audit.is_guarded(a) for _, a in sites):
                guarded_keys += 1
    hits = audit.find_unguarded(registry.ORACLES)
    bad = {k: v for k, v in hits.items() if k not in audit.JUSTIFIED}
    print(
        f"{total_sites} money-aggregate sites across {len(registry.ORACLES)} "
        f"oracles; {guarded_keys} keys fully guarded; "
        f"{len(hits)} keys with unguarded sites "
        f"({len(hits) - len(bad)} justified, {len(bad)} FAIL)"
    )
    for key, sites in sorted(hits.items()):
        tag = "justified" if key in audit.JUSTIFIED else "FAIL"
        why = f" — {audit.JUSTIFIED[key]}" if key in audit.JUSTIFIED else ""
        for fn, arg in sites:
            print(f"  [{tag}] {key}: {fn}({arg[:110]}){why}")
    handwritten = audit.find_handwritten_cents(audit.engine_sources())
    print(f"{len(handwritten)} hand-written cents snaps outside functions/money.py")
    for path, line, src in handwritten:
        print(f"  [FAIL] {os.path.relpath(path)}:{line}: {src[:110]}")
    return 1 if bad or handwritten else 0


if __name__ == "__main__":
    sys.exit(main())
