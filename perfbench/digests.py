"""Result digests for the registry_sweep correctness check.

A digest is the sha256 of a result frame under the oracle checker's strict
stringification (``scripts/check_oracle.py:stringify``): columns sorted by
name, cells stringified, rows sorted. Two frames digest alike exactly when
the strict oracle comparison would call them equal.

Regenerate the stored DuckDB-oracle digests after changing the data in
``perfbench/data`` or an oracle in the registry:

    python3 perfbench/digests.py
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA_DIR = HERE / "data" / "sf0.01"
DIGESTS = HERE / "digests.json"

sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "scripts"))


def digest(df) -> str:
    """sha256 of a pandas frame under the strict oracle stringification."""
    from check_oracle import stringify

    text = stringify(df).to_csv(index=False, lineterminator="\n")
    return hashlib.sha256(text.encode()).hexdigest()


def load() -> dict[str, str]:
    return json.loads(DIGESTS.read_text())


def main() -> None:
    import duckdb

    from kafka_stream_unify_order_messages_spark import registry
    from kafka_stream_unify_order_messages_spark.sources.files import (
        TABLE_NAMES,
    )

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{DATA_DIR}/{t}.parquet'"
        )
    out = {
        name: digest(con.sql(registry.ORACLES[name]).df())
        for name in registry.benchmark_order()
        if name in registry.ORACLES
    }
    DIGESTS.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    print(f"{len(out)} digests -> {DIGESTS}")


if __name__ == "__main__":
    main()
