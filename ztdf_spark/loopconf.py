"""Gated driver-or-distributed loops and their scoped session config.

Five iterative operators (BPE / WordPiece / unigram training, the
quality-classifier descent, connected components) run dozens of rounds
over a working table that is BOUNDED (a train sample, a distinct-word
table, a shrinking edge list). Each has two bodies with bit-identical
results (pytest pins every pair):

- a DRIVER body, for a working set that fits one process: the rounds'
  Spark jobs would be pure scheduling latency, so the table is collected
  once and the identical arithmetic runs in-process;
- a DISTRIBUTED body, the 100 TB path, whose per-round jobs run on the
  cluster.

``gated_loop`` is the one place that picks between them. The call site
passes the measured row count, its gate knob and default, and the two
bodies; the helper reads the gate, collects the driver path's table
through ``toArrow()`` (columnar, and it reads no session flag, so no conf
is set at all), and runs the distributed body inside ``small_loop_conf``.

``small_loop_conf`` scopes the session to the loop: shuffle partitions
derived from the MEASURED working-set row count (never a constant), AQE
dropped only in the small regime, everything restored on exit, an
exception included. Event-log profiling (tools/evlog.py) shows a small
loop's wall is dominated by per-round DRIVER latency (AQE re-plans every
exchange of every tiny round as its own query stage), not by task work.
When the working set is genuinely large the derived partition count
reaches the session's own value and AQE keeps its role (guide §2: derive
partitioning from input size). The context yields ``resize(n)``, which
re-derives both settings from a new count inside the same scope: the
connected-components rounds call it with each round's edge count."""

from __future__ import annotations

from contextlib import contextmanager
from typing import TYPE_CHECKING, Callable, TypeVar

from pyspark.sql import DataFrame

if TYPE_CHECKING:
    import pandas as pd

R = TypeVar("R")


@contextmanager
def small_loop_conf(spark, n_rows: int, rows_per_partition: int = 250_000):
    base_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    base_aqe = spark.conf.get("spark.sql.adaptive.enabled")

    def resize(n: int) -> None:
        parts = max(1, min(base_parts, int(n) // rows_per_partition + 1))
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        spark.conf.set("spark.sql.adaptive.enabled", "false" if parts < base_parts else base_aqe)

    try:
        resize(n_rows)
        yield resize
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(base_parts))
        spark.conf.set("spark.sql.adaptive.enabled", base_aqe)


def gated_loop(
    df: DataFrame,
    n_rows: int,
    knob: str,
    default: int,
    driver: Callable[[pd.DataFrame], R],
    distributed: Callable[[Callable[[int], None]], R],
) -> R:
    """Run ``driver(df as pandas)`` when the measured ``n_rows`` is at or
    below the gate ``knob`` (``default`` when unset); otherwise run
    ``distributed(resize)`` under ``small_loop_conf`` sized from
    ``n_rows``. The caller owns ``df``'s cache lifetime."""
    spark = df.sparkSession
    if n_rows <= int(spark.conf.get(knob, str(default))):
        return driver(df.toArrow().to_pandas())
    with small_loop_conf(spark, n_rows) as resize:
        return distributed(resize)
