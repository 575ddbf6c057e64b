"""Seeded benchmark transcripts.

Every input is a pure function of ``seed`` and a size.  Transcripts go
through the public ``fixtures.transcripts.gen_conv`` with the seed in
the conversation-id namespace (``s<seed>-c<ordinal>``), so conversation
sizes stay Zipf and ordinal 1 can be the pinned 5,000-turn whale.  The
corpus is cut at an exact turn count so that run time does not follow
the Zipf tail of one seed.

Sizes are fractions of the corpus the scaling runs in BENCH.md measured:
``transcripts_df(400_000, whale=True)``, 2,108,942 turns, of which the
whale is 0.24%.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ner_spark.fixtures.transcripts import TRANSCRIPT_FIELDS, gen_conv

#: turns of the corpus measured in BENCH.md
MEASURED_TURNS = 2_108_942
WHALE_TURNS = 5000

_ARROW_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        # tz-aware so Spark reads it as TimestampType, which is what the
        # streaming source's fixed schema declares
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def transcripts(seed: int, n_turns: int, whale: bool = True) -> pd.DataFrame:
    """Exactly ``n_turns`` transcript rows in conversation order."""
    rows: list[tuple] = []
    ordinal = 0
    while len(rows) < n_turns:
        override = WHALE_TURNS if whale and ordinal == 1 else None
        turns, _gold = gen_conv(
            f"s{seed}-c{ordinal:06d}", ordinal, "correctness", override
        )
        rows.extend(turns)
        ordinal += 1
    return pd.DataFrame(
        rows[:n_turns], columns=[name for name, _ in TRANSCRIPT_FIELDS]
    )


def write_parquet(pdf: pd.DataFrame, out_dir: str, n_files: int) -> list[str]:
    """Write ``pdf`` as ``n_files`` contiguous parquet chunks; file i gets
    modification time base+i, so a file stream reads them in order."""
    os.makedirs(out_dir, exist_ok=True)
    pdf = pdf.assign(ts=pd.to_datetime(pdf["ts"]).dt.tz_localize("UTC"))
    step = -(-len(pdf) // n_files)
    paths = []
    for i in range(n_files):
        chunk = pdf.iloc[i * step : (i + 1) * step]
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        table = pa.Table.from_pandas(chunk, _ARROW_SCHEMA, preserve_index=False)
        pq.write_table(table, path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
        paths.append(path)
    return paths
