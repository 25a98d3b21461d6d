"""Seeded change-feed files for the ingest workload (FIXTURES.md F2).

The benchmark writes the feed itself with numpy and pyarrow, so the package
only ever sees the generated parquet files.  Semantics follow the package's
generator (``sources/changefeed.py``):

- ``lsn`` is the event's index: globally monotone and unique;
- key = (conv_id, turn_idx); the first ``n_convs × turns_per_conv`` events
  insert every key once, in a seeded order (the initial snapshot a CDC
  source emits before its change stream); after them a ``hot_frac`` share of
  events lands on conversation 0 and the rest is uniform over ``n_convs``
  conversations;
- the first event of a key is 'I', later ones 'D' with probability 0.1,
  else 'U'.

The snapshot head makes the table's row count, and with it the engine's
compaction cadence, the same for every seed.

Each batch is a directory ``batch_NNNNN`` of files that each cover a
contiguous LSN range, as ``write_change_files`` lays them out.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROLES = np.array(["user", "assistant", "tool"])
TOOLS = np.array(["search", "python", "browser"])
BASE_TS_S = 1_704_067_200  # 2024-01-01 UTC


class Feed:
    """A change feed of ``n_events`` events, generated column-wise."""

    def __init__(
        self,
        seed: int,
        n_events: int,
        n_convs: int,
        turns_per_conv: int,
        hot_frac: float = 0.0,
    ):
        rng = np.random.default_rng(seed)
        n = n_events
        n_keys = n_convs * turns_per_conv
        self.lsn = np.arange(n, dtype=np.int64)
        key = np.empty(n, dtype=np.int64)
        key[:n_keys] = rng.permutation(n_keys)
        tail = n - n_keys
        conv = rng.integers(0, n_convs, tail)
        conv[rng.random(tail) < hot_frac] = 0
        key[n_keys:] = conv * turns_per_conv + rng.integers(0, turns_per_conv, tail)
        self.conv = key // turns_per_conv
        self.turn = (key % turns_per_conv).astype(np.int32)
        first = np.zeros(n, dtype=bool)
        first[np.unique(key, return_index=True)[1]] = True
        self.op = np.where(first, "I", np.where(rng.random(n) < 0.1, "D", "U"))
        tool_pick = rng.integers(0, 4, n)
        self.tool = np.where(tool_pick == 0, None, TOOLS[np.maximum(tool_pick - 1, 0)])

    def _table(self, lo: int, hi: int) -> pa.Table:
        s = slice(lo, hi)
        conv_id = [f"conv{c:06d}" for c in self.conv[s]]
        turn = self.turn[s]
        lsn = self.lsn[s]
        return pa.table({
            "lsn": pa.array(lsn),
            "op": pa.array(self.op[s]),
            "conv_id": pa.array(conv_id),
            "turn_idx": pa.array(turn),
            "role": pa.array(ROLES[turn % 3]),
            "text": pa.array(
                [f"turn {t} of {c} rev{x}" for t, c, x in zip(turn, conv_id, lsn)]
            ),
            "tool": pa.array(self.tool[s], type=pa.string()),
            "ts": pa.array(
                (BASE_TS_S + lsn) * 1_000_000, type=pa.timestamp("us", tz="UTC")
            ),
        })

    def write_batches(
        self,
        out_dir: str,
        lo: int,
        hi: int,
        n_batches: int,
        files_per_batch: int,
        first: int = 0,
    ) -> list[str]:
        """Split LSNs [lo, hi) into ``n_batches`` contiguous batch dirs,
        numbered from ``first``, and return them in order."""
        edges = np.linspace(lo, hi, n_batches + 1).astype(np.int64)
        paths = []
        for b in range(n_batches):
            path = os.path.join(out_dir, f"batch_{first + b:05d}")
            os.makedirs(path, exist_ok=True)
            f_edges = np.linspace(edges[b], edges[b + 1], files_per_batch + 1)
            for i in range(files_per_batch):
                f_lo, f_hi = int(f_edges[i]), int(f_edges[i + 1])
                if f_hi > f_lo:
                    pq.write_table(
                        self._table(f_lo, f_hi),
                        os.path.join(path, f"part-{i:05d}.parquet"),
                    )
            paths.append(path)
        return paths
