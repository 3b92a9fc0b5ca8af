"""Data tiers: the shipped tiers (sf0.01 and sf0.1, side by side), and the
sf1 tier derived from sf0.1 by ``scripts/make_sf1.py`` into the
benchmark's work directory.

A tier is checked by per-table row count and byte size against the
manifest recorded here; a derived tier that fails the check is
regenerated, outside every timed region.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq

# table -> (rows, bytes) as derived by scripts/make_sf1.py from the
# shipped sf0.1 tier.
SF1_MANIFEST: dict[str, tuple[int, int]] = {
    "customer": (15000, 260437),
    "documents": (50000, 5835196),
    "embeddings": (20000, 5868950),
    "events": (1000000, 21065331),
    "lineitem": (6000000, 165141580),
    "nation": (25, 651),
    "orders": (1500000, 29900177),
    "part": (20000, 213325),
    "region": (5, 353),
    "supplier": (1000, 17995),
}


class TierError(RuntimeError):
    pass


def manifest(tier_dir: str) -> dict[str, tuple[int, int]]:
    """table -> (rows, bytes) of every parquet file in ``tier_dir``; rows
    come from the parquet footers, so no data page is read."""
    out = {}
    for fname in sorted(os.listdir(tier_dir)):
        if fname.endswith(".parquet"):
            path = os.path.join(tier_dir, fname)
            out[fname[:-len(".parquet")]] = (
                pq.ParquetFile(path).metadata.num_rows, os.path.getsize(path))
    return out


def check(tier_dir: str, expected: dict[str, tuple[int, int]] | None
          ) -> dict[str, tuple[int, int]]:
    """The tier's manifest; raises TierError when it differs from
    ``expected`` (None accepts any non-empty tier)."""
    if not os.path.isdir(tier_dir):
        raise TierError(f"tier directory {tier_dir} does not exist")
    found = manifest(tier_dir)
    if not found:
        raise TierError(f"tier directory {tier_dir} holds no parquet")
    if expected is not None and found != expected:
        diff = {t: (found.get(t), expected.get(t))
                for t in sorted(set(found) | set(expected))
                if found.get(t) != expected.get(t)}
        raise TierError(f"tier {tier_dir} differs (found, expected): {diff}")
    return found


SHIPPED = ("sf0.01", "sf0.1")


def provision(tier: str, root: str, work: str, shipped_dir: str
              ) -> tuple[str, dict[str, tuple[int, int]]]:
    """(tier_dir, manifest) of a checked tier. Shipped tiers live under
    ``shipped_dir``; sf1 is derived into ``work`` and regenerated once
    when it fails the check."""
    if tier in SHIPPED:
        tier_dir = os.path.join(shipped_dir, tier)
        return tier_dir, check(tier_dir, None)
    if tier != "sf1":
        raise TierError(f"unknown tier {tier!r}")
    out = os.path.join(work, "sf1")
    try:
        return out, check(out, SF1_MANIFEST)
    except TierError as err:
        print(f"perfbench: deriving sf1 ({err})", file=sys.stderr)
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    env = dict(os.environ, SPARK_GRAFT_SF1_DIR=tmp)
    subprocess.run([sys.executable, os.path.join(root, "scripts",
                                                 "make_sf1.py")],
                   check=True, env=env, stdout=subprocess.DEVNULL,
                   timeout=600)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out, check(out, SF1_MANIFEST)
