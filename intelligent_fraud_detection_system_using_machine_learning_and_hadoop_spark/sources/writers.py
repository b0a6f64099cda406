"""Sinks (SURVEY.md §2.1 S5–S6).

The reference writes one local CSV via ``to_csv`` (``scripts/
run_pipeline.py:88``, ``train.py:101``). ``write_csv_single`` reproduces
the single-file contract for UI-sized outputs; ``write_parquet`` is the
scale path (partitioned columnar, predicate-pushdown-able on re-read).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_csv_single(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Single-file CSV sink (reference parity; driver-sized outputs only).

    ``coalesce(1)`` funnels through one task — deliberate for a
    UI-download artifact, wrong for bulk output (use ``write_parquet``).
    """
    (
        df.coalesce(1)
        .write.mode(mode)
        .option("header", True)
        .option("dateFormat", "yyyy-MM-dd")
        .csv(path)
    )


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Columnar bulk sink; ``partition_by`` enables partition pruning on scan."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
