"""Result digests, with the canonicalisation tools/check_correctness.py uses
to compare engine output with DuckDB (imported from there, so the committed
digests and that tool cannot drift apart): columns sorted by name, rows
sorted by every column, each cell normalised, then SHA-256 over the rows."""
import glob
import os
import sys

import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check_correctness import canon, table_hash  # noqa: E402


def of_frame(df: pd.DataFrame) -> dict:
    df = canon(df)
    return {"rows": len(df), "cols": list(df.columns), "sha256": table_hash(df)}


def of_parquet_dir(path: str):
    """Digest of a Spark parquet output directory, or None if it has none."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return of_frame(pd.concat([pd.read_parquet(f) for f in files]))
