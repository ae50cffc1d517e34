"""Benchmark inputs, built with numpy and pyarrow only.

Nothing here starts Spark, so building inputs is never inside a timed
window. The same seed always gives byte-identical inputs.

- ``data/`` holds the sf0.01 documents and embeddings tables of the
  repository's synthetic dataset (seed 42), committed so that a bare
  checkout can run the benchmark.
- ``build_mr`` generates the mr_pipeline input from the seed alone:
  tab-framed line files with Zipf-skewed account keys (one hot key) and
  an account dimension that covers most, but not all, keys.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = Path(__file__).resolve().parent / "data"

MR_LINES = 20_000
MR_KEYS = 150
MR_FILES = 4
MR_ZIPF_S = 1.1
MR_REGIONS = 8
MR_TIERS = ("bronze", "silver", "gold", "platinum")
MR_DIM_SHARE = 0.8  # share of keys present in the OPTIONAL account side


def build_mr(dest: Path, seed: int) -> dict[str, int]:
    """Write ``dest/lines/part-*.tsv`` (``key \\t region \\t amount \\t qty``)
    and ``dest/accounts.parquet`` (``key, tier``)."""
    rng = np.random.default_rng(seed)
    names = np.array([f"acct{j:05d}" for j in rng.permutation(MR_KEYS)])
    weights = np.arange(1, MR_KEYS + 1, dtype=np.float64) ** -MR_ZIPF_S
    key_idx = rng.choice(MR_KEYS, size=MR_LINES, p=weights / weights.sum())
    region = rng.integers(0, MR_REGIONS, MR_LINES)
    amount = rng.integers(1, 10_000, MR_LINES)
    qty = rng.integers(1, 50, MR_LINES)

    lines = dest / "lines"
    lines.mkdir(parents=True)
    for j, part in enumerate(np.array_split(np.arange(MR_LINES), MR_FILES)):
        with open(lines / f"part-{j:05d}.tsv", "w", encoding="utf-8") as fh:
            fh.writelines(
                f"{names[key_idx[i]]}\tr{region[i]}\t{amount[i]}\t{qty[i]}\n" for i in part
            )

    in_dim = rng.random(MR_KEYS) < MR_DIM_SHARE
    tiers = np.array(MR_TIERS)[rng.integers(0, len(MR_TIERS), MR_KEYS)]
    pq.write_table(
        pa.table({"key": names[in_dim], "tier": tiers[in_dim]}),
        dest / "accounts.parquet",
    )
    counts = np.bincount(key_idx, minlength=MR_KEYS)
    return {
        "lines": MR_LINES,
        "keys_used": int((counts > 0).sum()),
        "hot_key_rows": int(counts.max()),
        "accounts": int(in_dim.sum()),
    }
