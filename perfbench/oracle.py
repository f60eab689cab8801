"""Pandas oracles for the benchmark's correctness checks.

Built from the generated binlog alone, never from the lake: latest-wins
per ``doc_id`` over the events that reach the merge (deletes, and change
events that carry data attributes — the rule of
``ztdf_spark.datagen.expected_final_state``), evaluated after each prefix
of micro-batches, so the change feed between two commits can be checked
as well as the final state.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq


def binlog_files(binlog_dir: str) -> list[str]:
    return sorted(f for f in os.listdir(binlog_dir) if f.endswith(".parquet"))


def batch_groups(binlog_dir: str, n_batches: int) -> list[list[str]]:
    """The files of each micro-batch, grouped as ``replay_in_batches``
    groups them: sorted whole files, ceil(files / batches) per batch."""
    files = binlog_files(binlog_dir)
    per = max(1, -(-len(files) // n_batches))
    return [files[i : i + per] for i in range(0, len(files), per)]


class Oracle:
    def __init__(self, binlog_dir: str, n_batches: int):
        self.groups = batch_groups(binlog_dir, n_batches)
        frames = []
        for b, group in enumerate(self.groups):
            for f in group:
                df = pq.read_table(
                    os.path.join(binlog_dir, f),
                    columns=["lsn", "op", "doc_id", "tokens", "kas_url", "tdf_attribute", "assertions"],
                ).to_pandas()
                df["batch"] = b
                frames.append(df)
        log = pd.concat(frames, ignore_index=True)
        self.n_events = len(log)
        self.log = log[(log.op == "D") | log.tdf_attribute.notna()].sort_values("lsn")

    def winners(self, through_batch: int | None = None) -> pd.DataFrame:
        """Latest event per key over batches ``0..through_batch``
        (all batches if None), deletes included, indexed by doc_id."""
        log = self.log if through_batch is None else self.log[self.log.batch <= through_batch]
        return log.groupby("doc_id").tail(1).set_index("doc_id")

    def live(self, through_batch: int | None = None) -> pd.DataFrame:
        w = self.winners(through_batch)
        return w[w.op != "D"]

    @staticmethod
    def scan_digest(live: pd.DataFrame) -> dict:
        """Row count, lsn sum, token count, token-value sum, the sum of
        tokens weighted by their 1-based position in the row (which ties
        tokens to their position) and the sum of lsn × token-value sum per
        row (which ties tokens to their row) of a state: the aggregate the
        scan check computes over decrypted rows."""
        toks = [np.asarray(t, dtype=np.int64) for t in live.tokens]
        row_sums = np.array([int(t.sum()) for t in toks], dtype=np.int64)
        pos_sums = [int((t * np.arange(1, len(t) + 1, dtype=np.int64)).sum()) for t in toks]
        lsn = live.lsn.to_numpy(dtype=np.int64)
        return {
            "rows": int(len(live)),
            "lsn_sum": int(lsn.sum()),
            "n_tokens": int(sum(len(t) for t in toks)),
            "token_sum": int(row_sums.sum()),
            "pos_token_sum": sum(pos_sums),
            "lsn_x_token_sum": int((lsn * row_sums).sum()),
        }

    @staticmethod
    def lookup(live: pd.DataFrame, keys: list[str]) -> list[tuple[str, int]]:
        hit = live.loc[live.index.intersection(keys)]
        return sorted((str(k), int(v)) for k, v in hit.lsn.items())

    def changes(self, from_batch: int, to_batch: int) -> dict:
        """Net change feed between the states after two batches, as
        ``{change_type: (rows, lsn_sum)}`` — insert/update rows carry the
        new winner, delete rows the delete event's own lsn."""
        # every key known at from_batch is known at to_batch (a prefix)
        j = self.winners(to_batch)[["op", "lsn"]].join(
            self.winners(from_batch)[["op", "lsn"]], how="left", rsuffix="_from"
        )
        live_to = j.op != "D"
        live_from = j.op_from.notna() & (j.op_from != "D")
        kinds = {
            "insert": live_to & ~live_from,
            "update": live_to & live_from & (j.lsn != j.lsn_from),
            "delete": ~live_to & live_from,
        }
        return {t: (int(m.sum()), int(j.lsn[m].sum())) for t, m in kinds.items()}
