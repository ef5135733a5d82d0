"""Derive an N-times scaled copy of a test-data directory, for the
registry's DuckDB oracles to check at volume.

- ``events``: replica k adds ``k * (max + 1)`` to ``event_id`` and to
  ``user_id``, so every replica is a disjoint set of events and users;
  ``ts`` is unchanged.
- ``documents``: replica k offsets ``doc_id`` the same way; for k >= 1
  every whitespace token gets the suffix ``_r<k>`` (a new vocabulary
  per replica, so document frequencies do not just multiply) and
  ``n_chars`` is recomputed.
- ``embeddings``: replica k offsets ``vec_id``.
- The seven relational tables are symlinked to the source files.

Every table is one parquet file, the layout ``tools/check_oracle.py``'s
``read_parquet`` views expect, and two runs write identical bytes.
Replica 0 is the source table itself.

Usage: python tools/gen_scale.py --factor N --out DIR [--sf SRC]
then:  python tools/check_oracle.py --sf DIR [query_name ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_guiacores_spark.sources.tables import DEFAULT_SF_DIR, TABLE_NAMES  # noqa: E402

# replicated table -> the id columns shifted into a fresh range per replica
REPLICATED = {
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


def _set(table: pa.Table, name: str, values) -> pa.Table:
    i = table.schema.get_field_index(name)
    field = table.schema.field(i)
    return table.set_column(i, field, values.cast(field.type))


def replica(table: pa.Table, name: str, k: int) -> pa.Table:
    """Replica ``k`` of source ``table``; replica 0 is ``table``."""
    out = table
    for col in REPLICATED[name]:
        span = pc.max(table[col]).as_py() + 1
        out = _set(out, col, pc.add(table[col], k * span))
    if name == "documents" and k > 0:
        text = pc.replace_substring_regex(table["text"], r"(\S+)", rf"\1_r{k}")
        out = _set(out, "text", text)
        out = _set(out, "n_chars", pc.utf8_length(text))
    return out


def generate(src: str, out: str, factor: int) -> dict[str, int]:
    """Write the scaled directory; returns rows per replicated table."""
    os.makedirs(out, exist_ok=True)
    rows = {}
    for name in TABLE_NAMES:
        src_file = os.path.abspath(f"{src}/{name}.parquet")
        dest = f"{out}/{name}.parquet"
        if name not in REPLICATED:
            if os.path.lexists(dest):
                os.remove(dest)
            os.symlink(src_file, dest)
            continue
        table = pq.read_table(src_file)
        scaled = pa.concat_tables(replica(table, name, k) for k in range(factor))
        # write beside and rename: never through an old symlink to the
        # source, never a half-written file under the final name
        pq.write_table(scaled, dest + ".tmp")
        os.replace(dest + ".tmp", dest)
        rows[name] = scaled.num_rows
    return rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--sf", default=DEFAULT_SF_DIR)
    args = ap.parse_args()
    if args.factor < 1:
        ap.error("--factor must be >= 1")
    t0 = time.time()
    rows = generate(args.sf, args.out, args.factor)
    print(json.dumps({"factor": args.factor, "out": args.out, "rows": rows,
                      "wall_s": round(time.time() - t0, 1)}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
