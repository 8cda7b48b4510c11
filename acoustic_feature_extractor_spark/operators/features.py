"""Closed-vocabulary onehot feature assembly — the reference's flagship
output vector shape.

Reference parity targets:
- onehot over a class-level closed vocabulary
  (``/root/reference/src/acoustic_feature_extractor/data/phoneme.py:44-48``:
  ``array[phoneme_id] = True`` over ``phoneme_list``), membership asserted
  by ``verify`` (``phoneme.py:32-34``).
- feature assembly with pre/post context
  (``/root/reference/src/acoustic_feature_extractor/data/linguistic_feature.py:97-127``):
  per row, concatenate [onehot(label), onehot(prev), onehot(post),
  durations...]; out-of-range neighbors become a synthetic boundary label
  (the zero-duration space phoneme, ``linguistic_feature.py:81-95``).

Transcript analog: role/tool vocabularies onehot-encoded with
previous/next-turn context — the categorical feature block of the
training vector. All pure Catalyst: one window exchange on the entity
key, array construction via literal comparisons (codegen'd), no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def onehot(col: Column | str, vocab: list[str]) -> Column:
    """array<double> onehot over a closed vocabulary (``phoneme.py:44-48``).

    A label outside the vocabulary yields the all-zero vector (the
    reference instead hard-asserts membership, ``phoneme.py:32-34``); a
    NULL label also yields all zeros.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.array(
        *[F.coalesce((c == F.lit(v)).cast("double"), F.lit(0.0)) for v in vocab]
    )


def label_id(col: Column | str, vocab: list[str]) -> Column:
    """Vocabulary index of the label as a double — the reference's
    ``PHONEME_ID`` feature (``linguistic_feature.py:110-111``, dim 1;
    ``phoneme.py`` ``phoneme_id`` = index in ``phoneme_list``).

    Out-of-vocabulary / NULL labels yield -1.0 (the reference hard-asserts
    membership instead). Pure Catalyst: ``array_position`` over a literal
    array, codegen'd.
    """
    c = F.col(col) if isinstance(col, str) else col
    # array_position is 1-based and returns 0 when absent -> shift to
    # 0-based with -1 as the out-of-vocab sentinel; NULL label -> NULL
    # position -> coalesce to the same sentinel
    return (
        F.coalesce(
            F.array_position(F.array(*[F.lit(v) for v in vocab]), c),
            F.lit(0),
        ).cast("double")
        - F.lit(1.0)
    )


def assemble_context_onehot(
    df: DataFrame,
    label_col: str,
    vocab: list[str],
    key: str = "conv_id",
    order: str = "turn_idx",
    boundary_label: str | None = None,
    duration_col: str | None = None,
    accent_cols: tuple[str, str] | None = None,
    include_label_id: bool = False,
) -> DataFrame:
    """Per-row feature vector: onehot(label) ++ onehot(prev) ++ onehot(next)
    [++ (label_id,)] [++ (duration, prev_duration, next_duration)]
    [++ (start_accent, end_accent)].

    Mirrors ``linguistic_feature.py:97-127`` (PHONEME / PRE_PHONEME /
    POST_PHONEME onehots + the *_DURATION features): boundary rows take
    ``boundary_label`` (the synthetic space phoneme of
    ``linguistic_feature.py:81-95``) and zero duration. The output is one
    ``array<double>`` column of fixed width — the reference's dense
    ``(N, d)`` block as an array column, per SURVEY §1.3.

    ``include_label_id`` appends the PHONEME_ID analog (vocab index,
    ``linguistic_feature.py:110-111``, dim 1; -1 when out-of-vocab).
    ``accent_cols=(start, end)`` appends the ACCENT analog
    (``linguistic_feature.py:118-121``, dim 2): the two boolean columns
    cast to 0.0/1.0 per row, NULL treated as False — matching the
    reference's ``bool(start_accents[i]), bool(end_accents[i])`` pair.
    Both extra blocks are plain Column expressions on the current row:
    no additional window pass, the single (key, order) sort is unchanged.
    """
    w = Window.partitionBy(key).orderBy(order)
    lbl = F.col(label_col)
    prev = F.lag(label_col).over(w)
    nxt = F.lead(label_col).over(w)
    if boundary_label is not None:
        prev = F.coalesce(prev, F.lit(boundary_label))
        nxt = F.coalesce(nxt, F.lit(boundary_label))
    parts = [onehot(lbl, vocab), onehot(prev, vocab), onehot(nxt, vocab)]
    if include_label_id:
        parts.append(F.array(label_id(lbl, vocab)))
    if duration_col is not None:
        dur = F.col(duration_col).cast("double")
        parts.append(
            F.array(
                F.coalesce(dur, F.lit(0.0)),
                F.coalesce(F.lag(dur).over(w), F.lit(0.0)),
                F.coalesce(F.lead(dur).over(w), F.lit(0.0)),
            )
        )
    if accent_cols is not None:
        start_c, end_c = accent_cols
        parts.append(
            F.array(
                F.coalesce(F.col(start_c).cast("boolean").cast("double"), F.lit(0.0)),
                F.coalesce(F.col(end_c).cast("boolean").cast("double"), F.lit(0.0)),
            )
        )
    return df.withColumn("features", F.concat(*parts))


def assemble_feature_vector(
    df: DataFrame,
    features: list[str],
    impute: float | None = None,
    null_count_col: str | None = "n_null",
):
    """The train/serve handoff: named feature columns → one
    ``array<double>`` plus the PINNED manifest that makes the ordering a
    contract. Returns ``(df2, manifest)`` where ``manifest`` is a tiny
    (feature_idx, feature_name) DataFrame — write it NEXT TO the vectors;
    training and serving must both index through it, because "column 7"
    silently meaning a different feature between backfill and serving is
    the train/serve-skew bug class this exists to kill. (The reference's
    flagship output is exactly such a fixed-layout vector —
    ``linguistic_feature.py:97-127`` assembles onehots++durations by
    position; this is that assembly generalized to any feature set.)

    ``impute`` fills NULL features (and, with ``null_count_col``, the
    row keeps an honest count of how many were imputed — at 100 TB you
    audit imputation rates per partition, not per row). Without
    ``impute``, NULLs pass through into the array. Pure projection: no
    shuffle, no Python, fuses into whatever stage feeds it.
    """
    if not features:
        raise ValueError("features must be a non-empty list of column names")
    cols = [F.col(c).cast("double") for c in features]
    if impute is not None:
        arr = F.array(*[F.coalesce(c, F.lit(float(impute))) for c in cols])
    else:
        arr = F.array(*cols)
    out = df.withColumn("features", arr)
    if null_count_col is not None:
        n_null = sum(
            (F.when(c.isNull(), 1).otherwise(0) for c in cols), F.lit(0)
        )
        out = out.withColumn(null_count_col, n_null.cast("int"))
    manifest = df.sparkSession.createDataFrame(
        [(i, n) for i, n in enumerate(features)],
        "feature_idx int, feature_name string",
    )
    return out, manifest
