"""Seeded input tables of the benchmark workloads.

The benchmark owns its generators: the program under test only ever sees
the parquet files written here.  Every table has the engine's tokens
schema (doc_id string, tokens list<int32>, n_tok int32, source string).
Generation runs on a thread pool: numpy's sampling and pyarrow's parquet
writer release the GIL, so materializing a seed costs well under a second.
"""

from __future__ import annotations

import shutil
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
ZIPF_A = 1.3


@dataclass(frozen=True)
class Input:
    """One materialized input table: a parquet directory and its size."""
    path: str
    rows: int
    tokens: int


def _zipf_cdf() -> np.ndarray:
    p = 1.0 / np.power(np.arange(1, VOCAB + 1, dtype=np.float64), ZIPF_A)
    return np.cumsum(p / p.sum())


def _table(first_id: int, lens: np.ndarray, flat: np.ndarray) -> pa.Table:
    ids = range(first_id, first_id + lens.size)
    offs = np.zeros(lens.size + 1, dtype=np.int32)
    np.cumsum(lens, out=offs[1:])
    return pa.table({
        "doc_id": pa.array([f"doc_{i:010d}" for i in ids], pa.string()),
        "tokens": pa.ListArray.from_arrays(pa.array(offs),
                                           pa.array(flat, pa.int32())),
        "n_tok": pa.array(lens.astype(np.int32)),
        "source": pa.array([f"src{i % 8}" for i in ids], pa.string()),
    })


def zipf_docs(seed: int, first_id: int, count: int, cdf: np.ndarray,
              huge_every: int | None = 4096) -> pa.Table:
    """Zipf-ish token documents: lognormal lengths around 700 tokens
    (capped at 16384) and zipf(1.3) token ids over a GPT-2-sized
    vocabulary.  With ``huge_every`` every such doc id gets 80000 tokens,
    which exceeds the engine's split threshold."""
    rng = np.random.default_rng((seed, first_id))
    lens = np.minimum(rng.lognormal(np.log(700.0), 0.6, size=count)
                      .astype(np.int64) + 1, 16384)
    if huge_every:
        lens[(first_id + np.arange(count)) % huge_every == 0] = 80000
    flat = np.minimum(np.searchsorted(cdf, rng.random(int(lens.sum()))),
                      VOCAB - 1).astype(np.int32)
    return _table(first_id, lens, flat)


def sorted_postings(seed: int, first_id: int, count: int) -> pa.Table:
    """Posting-list rows: ascending ids with geometric gaps (mean 8),
    lognormal lengths capped at 65536 so no row is split."""
    rng = np.random.default_rng((seed, first_id))
    lens = np.clip(rng.lognormal(np.log(1400.0), 0.9, size=count)
                   .astype(np.int64), 16, 65536)
    gaps = rng.geometric(1.0 / 8.0, size=int(lens.sum())).astype(np.int64)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    gaps[starts] = rng.integers(0, 1000, size=count)
    flat = np.cumsum(gaps)
    # restart the running sum at each row so values stay row-local
    flat -= np.repeat(flat[starts] - gaps[starts], lens)
    return _table(first_id, lens, flat.astype(np.int32))


def _write(parts: list[tuple[str, object]], row_group_size: int,
           workers: int) -> tuple[int, int]:
    """Build and write each (path, table factory); returns (rows, tokens)."""
    def one(item):
        path, make = item
        Path(path).parent.mkdir(parents=True, exist_ok=True)
        table = make()
        pq.write_table(table, path, row_group_size=row_group_size)
        return table.num_rows, int(np.asarray(table.column("n_tok")).sum())
    with ThreadPoolExecutor(max(1, workers)) as pool:
        sizes = list(pool.map(one, parts))
    return sum(r for r, _ in sizes), sum(t for _, t in sizes)


def materialize(workload: str, seed: int, root: Path, workers: int) -> Input:
    """Write the workload's input for ``seed`` to ``root`` (replaced)."""
    shutil.rmtree(root, ignore_errors=True)
    if workload == "bulk_zipf":
        # 6000 docs in 8 files; doc ids 0 and 4096 are 80000 tokens
        cdf, per = _zipf_cdf(), 750
        parts = [lambda p=p: zipf_docs(seed, p * per, per, cdf)
                 for p in range(8)]
        row_group = 1 << 20
    elif workload == "fused_sorted":
        # 2560 posting lists in 8 files of 4 row groups each
        per = 320
        parts = [lambda p=p: sorted_postings(seed, p * per, per)
                 for p in range(8)]
        row_group = 80
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return Input(str(root), *_write(
        [(f"{root}/part-{i:05d}.parquet", make)
         for i, make in enumerate(parts)], row_group, workers))
