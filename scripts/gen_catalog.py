"""Generate docs/OPERATORS.md from the registry: one row per query with
its oracle type and implementing module. Run after adding queries:

    python scripts/gen_catalog.py > docs/OPERATORS.md
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from kafka_stream_unify_order_messages_spark import registry


def main() -> None:
    print("# Operator catalog")
    print()
    print(
        "Auto-generated (`python scripts/gen_catalog.py > docs/OPERATORS.md`)."
        " One row per registry query: the driver value-checks the first 50"
        " against DuckDB; the rest are equally oracled (see"
        " `ORACLE_STRICT_r30.txt`) unless marked rows-only."
    )
    print()
    print("| # | Query | Check | Defined in |")
    print("|---|-------|-------|------------|")
    # stable registration order, NOT the rotated driver-window order:
    # the catalog's row numbers should mean the same thing every round
    # (the rotation reshuffles QUERIES each round; see benchmark_order)
    for i, name in enumerate(registry.benchmark_order(), 1):
        fn = registry.QUERIES[name]
        oracle = (
            "value-hash vs DuckDB"
            if name in registry.ORACLES
            else "rows-only (data-trained / iterative)"
        )
        mod = fn.__module__.replace(
            "kafka_stream_unify_order_messages_spark.", ""
        )
        print(f"| {i} | `{name}` | {oracle} | `{mod}` |")


if __name__ == "__main__":
    main()
