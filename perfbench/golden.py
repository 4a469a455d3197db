"""Confirm a workload's cold-pass results against the DuckDB oracles.

Runs in its own process after the measured one has exited, so DuckDB
never runs inside a timed run.  For each query it hands the Spark
result the measured process saved (the pandas frame of its cold-pass
output) to ``tools/verify_local.py``'s ``compare_query`` together with
the query's oracle SQL.  A query that matches gets a golden: its row
count plus ``frame_hash`` of the result.  A query without an oracle
gets the same rows-only check as ``verify_local``.

Usage: python3 perfbench/golden.py FRAMES_DIR DATA_DIR OUT.json QUERY...
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from pathlib import Path

import pandas as pd

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


class SavedResult:
    """The one DataFrame method ``compare_query`` calls, served from the
    frame the measured process converted with Spark's own ``toPandas``."""

    def __init__(self, frame: pd.DataFrame) -> None:
        self.frame = frame

    def toPandas(self) -> pd.DataFrame:  # noqa: N802 - Spark's name
        return self.frame


def confirm(frames_dir: str, data_dir: str, names: list[str]) -> dict:
    from another_map_reduce_spark.queries import ORACLES
    from tools.verify_local import compare_query, frame_hash, make_oracle_con

    con = make_oracle_con(data_dir)
    out = {}
    for name in names:
        path = os.path.join(frames_dir, f"{name}.pkl")
        if not os.path.exists(path):
            continue  # the cold pass failed: no result to confirm
        frame = pd.read_pickle(path)
        sql = ORACLES.get(name)
        if sql is None:
            problems = [] if len(frame) else ["0 rows on rows-only check"]
        else:
            problems = compare_query(
                None, con, lambda _s, _d: SavedResult(frame), sql, data_dir
            )
        try:
            digest = frame_hash(frame)
        except TypeError as exc:
            digest, problems = None, [*problems, f"unhashable result: {exc}"]
        out[name] = {
            "rows": len(frame),
            "hash": digest,
            "problems": problems,
            "oracle_sha": (
                hashlib.sha256(sql.encode()).hexdigest()[:16] if sql else None
            ),
        }
    return out


if __name__ == "__main__":
    frames, data, out_path, *queries = sys.argv[1:]
    Path(out_path).write_text(json.dumps(confirm(frames, data, queries)))
