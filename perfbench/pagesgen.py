"""Seeded pages table for the batch pipeline, plus the answers it implies.

Rows come from ``synth.gen_batch`` over an id range offset by the seed, so
every seed gives different pages with the same statistical shape. The
table is written with pyarrow in the pipeline's ``day=YYYY-MM-DD`` parquet
layout, without Spark. The answers are computed with pandas and Python's
``re`` from the same frame, the way ``tests/golden.py`` does it: pages per
day and routed event rows per (day, record type).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from log_analysis_spark.functions.parse import EVENT_RE
from log_analysis_spark.schemas import RECORD_TYPES
from log_analysis_spark.synth import gen_batch

ID_STRIDE = 10_000_000  # seed s draws ids [s * ID_STRIDE, s * ID_STRIDE + rows)


@dataclass
class PagesTable:
    path: str
    days: list[str]
    day_bytes: dict[str, int]
    pages_per_day: dict[str, int] = field(repr=False)
    routed: dict[str, dict[str, int]] = field(repr=False)


def tree_size(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring ``_``/``.`` markers."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def generate(path: str, seed: int, rows: int) -> PagesTable:
    """Write ``rows`` pages spread over synth's 3 days under ``path``."""
    ids = np.arange(rows, dtype=np.int64) + seed * ID_STRIDE
    pdf = gen_batch(ids)
    pdf["day"] = pdf["warc_ts"].dt.strftime("%Y-%m-%d")
    table = pa.table(
        {
            "url": pa.array(pdf["url"], pa.string()),
            "warc_ts": pa.array(pdf["warc_ts"].dt.tz_localize("UTC"), pa.timestamp("us", tz="UTC")),
            "html": pa.array(pdf["html"], pa.binary()),
            "text": pa.array(pdf["text"], pa.string()),
            "lang": pa.array(pdf["lang"], pa.string()),
            "day": pa.array(pdf["day"], pa.string()),
        }
    )
    pq.write_to_dataset(
        table, path, partition_cols=["day"], compression="zstd",
        basename_template="part-{i}.parquet",
    )
    days = sorted(pdf["day"].unique())
    ev = pdf["text"].str.extractall(EVENT_RE)
    ev["day"] = pdf["day"].iloc[ev.index.get_level_values(0)].to_numpy()
    ev = ev[ev["record_type"].isin(RECORD_TYPES)]
    counts = ev.groupby(["day", "record_type"]).size()
    return PagesTable(
        path=path,
        days=days,
        day_bytes={d: tree_size(os.path.join(path, f"day={d}"))[1] for d in days},
        pages_per_day={d: int(n) for d, n in pdf["day"].value_counts().items()},
        routed={d: {t: int(counts.get((d, t), 0)) for t in RECORD_TYPES} for d in days},
    )
