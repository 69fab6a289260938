"""Generate seeded input sets with `tools/scalegen.py`.

Usage: python3 -m perfbench.gen SEED OUT_ROOT SF [SF ...]
writes OUT_ROOT/sf<SF>/<table>.parquet for each scale factor.
"""

from __future__ import annotations

import contextlib
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def sf_dir(out_root: str, sf: float) -> str:
    return os.path.join(out_root, f"sf{sf:g}")


def generate(seed: int, out_root: str, sfs: list[float]) -> None:
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import scalegen

    scalegen.SEED = seed  # generate() seeds its one generator from this
    with contextlib.redirect_stdout(sys.stderr):
        for sf in sfs:
            scalegen.generate(sf, sf_dir(out_root, sf))


if __name__ == "__main__":
    generate(int(sys.argv[1]), sys.argv[2], [float(a) for a in sys.argv[3:]])
