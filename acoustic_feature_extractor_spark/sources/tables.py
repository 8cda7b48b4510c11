"""The transcripts schema contract.

The reference's "table" is a directory of per-entity .npy files keyed by
filename stem (``extract_collected_local.py:55-58``); ours is turn rows
``(conv_id, turn_idx, role, text, tool, ts)``, one per turn, with
``turn_idx`` contiguous and 0-based within a conversation.

The schema is enforced (StructType), never inferred — the opposite of the
reference's inferred-at-load convention (``sampling_data.py:183-184``),
deliberately: at 10^12 rows a schema drift must fail the read, not the
hundredth downstream job.
"""

from __future__ import annotations

from pyspark.sql import types as T

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)
