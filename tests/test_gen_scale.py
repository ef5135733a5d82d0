"""tools/gen_scale.py: deterministic bytes, N-times rows in disjoint id
ranges, replica 0 equal to the source, relational tables linked."""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

from __spark_entry__ import SMOKE_SF_DIR as SRC
from etl_guiacores_spark.sources.tables import TABLE_NAMES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FACTOR = 2
IDS = {"events": ("event_id", "user_id"), "documents": ("doc_id",),
       "embeddings": ("vec_id",)}


def _generate(out) -> None:
    subprocess.run(
        [sys.executable, f"{REPO}/tools/gen_scale.py", "--factor", str(FACTOR),
         "--out", str(out), "--sf", SRC],
        check=True, capture_output=True, cwd=str(out.parent),
    )


def _sha(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_gen_scale(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    _generate(a)
    _generate(b)

    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b))
    assert names == sorted(f"{t}.parquet" for t in TABLE_NAMES)
    for n in names:
        assert _sha(f"{a}/{n}") == _sha(f"{b}/{n}"), n

    for t in set(TABLE_NAMES) - set(IDS):
        assert os.path.realpath(f"{a}/{t}.parquet") == os.path.realpath(
            f"{SRC}/{t}.parquet")

    for t, id_cols in IDS.items():
        src = pq.read_table(f"{SRC}/{t}.parquet")
        out = pq.read_table(f"{a}/{t}.parquet")
        n = src.num_rows
        assert out.num_rows == FACTOR * n
        assert out.slice(0, n).equals(src), t
        for col in id_cols:
            ranges = [
                pc.min_max(out[col].slice(k * n, n)).as_py()
                for k in range(FACTOR)
            ]
            for prev, nxt in zip(ranges, ranges[1:]):
                assert prev["max"] < nxt["min"], (t, col)
            assert pc.count_distinct(out[col]).as_py() == FACTOR * pc.count_distinct(
                src[col]).as_py()

    docs = pq.read_table(f"{a}/documents.parquet")
    assert pc.all(pc.equal(docs["n_chars"], pc.utf8_length(docs["text"]))).as_py()
    rep1 = docs.slice(len(docs) // FACTOR)["text"].to_pylist()
    assert all(tok.endswith("_r1") for t in rep1 for tok in t.split())
