"""Build a TIMESTAMP(NANOS)-vintage variant of a fixture dir.

The driver has regenerated testdata with events.ts stored as
TIMESTAMP(NANOS) in past vintages (unreadable by Spark except as raw
longs via the nanosAsLong conf; see catalog.load_table and the vintage
probe in stream_queries._ReplayStage). The engine carries a dedicated branch
for that vintage, pinned by unit tests on the two load paths — this
script makes the FULL-registry rung possible: it rewrites events.ts as
pyarrow timestamp[ns] (values are µs-aligned, so no truncation ambiguity
— this probes the TYPE branch, not sub-µs rounding) and copies the other
tables as-is.

Usage:
    python scripts/gen_nanos_fixture.py [SRC] [OUT]
defaults: SRC=/root/testdata/sf0.01  OUT=<repo>/.stress/sf0.01nanos
"""

from __future__ import annotations

import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(REPO, ".stress", os.path.basename(src.rstrip("/")) + "nanos")
    )
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    for t in TABLES:
        src_path = f"{src.rstrip('/')}/{t}.parquet"
        dst_path = f"{out}/{t}.parquet"
        if t != "events":
            shutil.copy(src_path, dst_path)
            continue
        table = pq.read_table(src_path)
        i = table.schema.get_field_index("ts")
        ns = table.column("ts").cast(pa.timestamp("ns"))
        table = table.set_column(i, pa.field("ts", pa.timestamp("ns")), ns)
        # version='2.6' keeps NANOS as NANOS (older writer versions
        # silently coerce to µs, which would defeat the probe).
        pq.write_table(table, dst_path, version="2.6")
        meta = pq.ParquetFile(dst_path).schema_arrow.field("ts").type
        print(f"events.ts written as {meta}")
    print(f"nanos-vintage fixture at {out}")


if __name__ == "__main__":
    main()
