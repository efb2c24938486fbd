"""Stream-directory fixtures shared by the restart and replay tests."""

from __future__ import annotations

import os
import shutil
from typing import Sequence

from quanta_spark.datagen import stamp_arrival_order


def copy_arrival_ordered(src_dir: str, dst_dir: str, names: Sequence[str]) -> list[str]:
    """Copy ``names`` from ``src_dir`` into ``dst_dir`` and stamp them
    with strictly increasing mtimes (after anything already in
    ``dst_dir``), preserving list order as arrival order. The restart
    tests use this instead of bare ``shutil.copy`` loops, which collide
    on ms-granularity mtimes (see :func:`stamp_arrival_order`)."""
    os.makedirs(dst_dir, exist_ok=True)
    out = []
    for name in names:
        dst = os.path.join(dst_dir, name)
        shutil.copy(os.path.join(src_dir, name), dst)
        out.append(dst)
    stamp_arrival_order(out)
    return out
