"""Draw one seeded, sf0.1-sized table set for the benchmark.

The tables come from ``tools/make_sf1.py``'s recipes at factor 1 (the
sf0.1 row counts and schema), with that tool's fixed numpy seed
replaced by ours.  The bounded dimensions (region, nation) and the
document vocabulary, length, language and source distributions come
from the sf0.1 base tables kept in ``perfbench/base``, so the draw
needs nothing outside the checkout.

Usage: python3 perfbench/gen.py OUT_DIR SEED
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
from pathlib import Path
from unittest import mock

import numpy as np

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BASE = HERE / "base"


def generate(out_dir: str, seed: int) -> None:
    """Write the draw for ``seed`` to ``out_dir`` (atomically renamed)."""
    sys.path.insert(0, str(ROOT / "tools"))
    import make_sf1

    real_rng = np.random.default_rng
    partial = f"{out_dir}.partial"
    shutil.rmtree(partial, ignore_errors=True)
    argv = ["make_sf1.py", partial, str(BASE), "1"]
    with (
        mock.patch.object(sys, "argv", argv),
        mock.patch.object(np.random, "default_rng", lambda _: real_rng(seed)),
        contextlib.redirect_stdout(sys.stderr),
    ):
        make_sf1.main()
    os.replace(partial, out_dir)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
