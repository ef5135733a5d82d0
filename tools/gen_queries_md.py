"""Regenerate QUERIES.md from the query registry.

Usage: python tools/gen_queries_md.py
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from etl_guiacores_spark.harness import load_registry  # noqa: E402


def main() -> int:
    registry = load_registry()

    rows = []
    for name, spec in sorted(registry.items(), key=lambda kv: kv[0]):
        num = re.match(r"q(\d+)", name).group(1)
        doc = " ".join((spec.doc or "").split())
        mark = "" if spec.oracle is not None else " *(rows-only: not SQL-expressible)*"
        rows.append(f"| {num} | `{name}` | {doc}{mark} |")

    n = len(registry)
    n_oracle = sum(1 for s in registry.values() if s.oracle is not None)
    out = [
        "# QUERIES — the oracle-checked suite (auto-generated from the registry)",
        "",
        f"{n} registered queries; {n_oracle} have BOTH a `queries()` Spark",
        "program and an `oracle_sql()` DuckDB twin (the driver hash-compares",
        f"them at sf0.01), and {n - n_oracle} are rows-only (inherently",
        "sequential/non-SQL semantics). `tools/check_oracle.py` verifies the",
        "full suite at sf0.001, sf0.01, and sf0.1.",
        "",
        "Regenerate with `python tools/gen_queries_md.py`.",
        "",
        "## Oracle output-type contract",
        "",
        "The driver's compare fetches both result sets, sorts columns by",
        "name, normalizes values to strings, and hashes — so the FINAL",
        "SELECT of every oracle (and the matching Spark projection) must",
        "render identically on both engines:",
        "",
        "1. **Integer outputs: CAST to BIGINT.** DuckDB `SUM(BIGINT)` is",
        "   HUGEINT, which a pandas/Arrow fetch renders as float64",
        "   (`1540.0` vs Spark's `1540`) and splits the hash, while a",
        "   `fetchall()` path gets Python ints and hides the skew — q58",
        "   shipped driver-red for two rounds exactly this way.",
        "   `tools/check_oracle.py` now fails any oracle emitting",
        "   HUGEINT/UHUGEINT regardless of the local hash.",
        "2. **Doubles: ROUND() to a fixed scale on BOTH sides** (or use",
        "   integer fixed-point arithmetic — ppm ratios — when exactness",
        "   matters; see q58/q101/q104). Never compare raw float",
        "   aggregates across engines.",
        "3. **Timestamps/dates: render as strings on both sides**",
        "   (`date_format` / `strftime`); engine-native temporal types",
        "   stringify differently.",
        "4. **Alias every computed column identically in Spark and SQL** —",
        "   the column sort is by name, so a mismatched alias is a schema",
        "   mismatch even when values agree.",
        "",
        "| # | query | what it verifies |",
        "|---|---|---|",
        *rows,
        "",
    ]
    with open(os.path.join(REPO, "QUERIES.md"), "w", encoding="utf-8") as f:
        f.write("\n".join(out))
    print(f"QUERIES.md: {n} entries ({n_oracle} oracle-checked)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
