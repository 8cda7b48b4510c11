"""Privacy gate for training-data release: k-anonymity suppression over
quasi-identifier columns.

A corpus row is re-identifiable when its combination of quasi-identifiers
(region x segment x signup-week, ...) is rare; the standard release gate
(Sweeney 2002) requires every published quasi-identifier group to contain
at least k rows.

Scale shape: ONE window count over the quasi columns — no join, no second
scan of the fact table (the count rides the same exchange the output
needs anyway). At 100 TB the quasi-group count table is the only state
and it never materializes: it's a window aggregate, partial-combined
map-side. Skewed quasi groups (one giant "US x consumer" cell) are
harmless — the window only counts, never sorts.

Reference tie-in: the reference publishes per-file statistics summaries
(``extract_f0_statistics.py:28-41``) with no row-level suppression —
per-file audio never needed it; a transcript corpus released for training
does.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _group_size(quasi_cols: list[str]) -> Column:
    return F.count(F.lit(1)).over(Window.partitionBy(*quasi_cols))


def k_anonymize(
    df: DataFrame,
    quasi_cols: list[str],
    k: int,
    mode: str = "suppress",
) -> DataFrame:
    """Enforce k-anonymity on ``quasi_cols``.

    mode="suppress": DROP rows whose quasi-identifier group has < k rows
    (the release loses the long tail but every surviving row hides among
    >= k peers). mode="redact": KEEP every row but replace the quasi
    values of under-k groups with ``"*"`` (string quasi columns
    only — the redacted rows collapse into one large anonymous group).
    Either way the output satisfies: every distinct quasi tuple that still
    carries real values appears >= k times.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if mode not in ("suppress", "redact"):
        raise ValueError(f"mode must be 'suppress' or 'redact', got {mode!r}")
    n = _group_size(quasi_cols)
    if mode == "suppress":
        return df.withColumn("_gn", n).where(F.col("_gn") >= k).drop("_gn")
    out = df.withColumn("_gn", n)
    for c in quasi_cols:
        out = out.withColumn(
            c,
            F.when(F.col("_gn") >= k, F.col(c).cast("string")).otherwise(
                F.lit("*")
            ),
        )
    return out.drop("_gn")
