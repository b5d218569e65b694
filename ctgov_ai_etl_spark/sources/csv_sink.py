"""Reference-parity CSV sink (R17/R18; /root/reference/etl.py:432-469).

Reproduces the reference's observable output contract:

- fixed 13-column order (etl.py:449-454);
- the two **phantom columns** ``minimum_age`` / ``maximum_age`` that
  the header declares but no transform produces — emitted as empty
  strings (etl.py:450-451 vs 217-229; csv.DictWriter missing-key
  behavior, verified in SURVEY.md §1.3);
- the dynamic AI column appended iff present (etl.py:456-460);
- empty input → no file, just like the reference's early return
  (etl.py:440-442);
- UTF-8 with header row.

``single_file=True`` coalesces to one partition for byte-parity with
the reference's single CSV; at scale you leave it False and get a
directory of part files — same schema, same rows.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ctgov_ai_etl_spark.schemas import CSV_SINK_COLUMNS


def reference_csv_projection(df: DataFrame, ai_column: str | None = None) -> DataFrame:
    """Apply the sink's fixed projection: all 13 reference columns in
    order (missing ones padded as empty string — the DictWriter
    missing-key quirk), plus the AI column iff present."""
    cols = []
    for name in CSV_SINK_COLUMNS:
        if name in df.columns:
            cols.append(F.coalesce(F.col(name).cast("string"), F.lit("")).alias(name))
        else:
            cols.append(F.lit("").alias(name))  # phantom padding (R18)
    if ai_column and ai_column in df.columns:
        cols.append(F.coalesce(F.col(ai_column).cast("string"), F.lit("")).alias(ai_column))
    return df.select(*cols)


def _has_data_row(part_dir: str) -> bool:
    """True iff some part file under ``part_dir`` holds a row after its
    header.  Spark writes one header-only part file for empty input,
    so emptiness is read off the written output instead of running
    the plan a second time."""
    for part in glob.glob(os.path.join(part_dir, "part-*.csv")):
        with open(part, encoding="utf-8") as fh:
            fh.readline()  # header
            if fh.readline():
                return True
    return False


def write_reference_csv(
    df: DataFrame,
    path: str,
    ai_column: str | None = "ai_determined_value",
    single_file: bool = True,
) -> bool:
    """Write the reference-shaped CSV. Returns False (no write) on
    empty input, mirroring etl.py:440-442.

    The plan runs once: it is written to a scratch directory next to
    ``path`` (a local filesystem path) and moved into place only if it
    holds a row."""
    out = reference_csv_projection(df, ai_column)
    if single_file:
        # Spark writes a directory; for parity we surface one .csv file.
        out = out.coalesce(1)
    parent = os.path.dirname(os.path.abspath(path))
    os.makedirs(parent, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="ctgov_csv_", dir=parent)
    try:
        out.write.mode("overwrite").option("header", True).csv(tmp)
        if not _has_data_row(tmp):
            return False
        if single_file:
            shutil.move(glob.glob(os.path.join(tmp, "part-*.csv"))[0], path)
        else:
            shutil.rmtree(path, ignore_errors=True)
            shutil.move(tmp, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return True
