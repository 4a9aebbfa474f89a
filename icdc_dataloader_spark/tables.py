"""Query-side table opens: each parquet file's schema inferred once.

``spark.read.parquet(path)`` infers the schema on every call, and for a
file that is a one-task Spark job that reads its footer (about 0.055
CPU-s against 0.0075 with the schema given, local[4]; a pass over the 14
headline queries opens 18 tables).  :func:`table` keeps the
``StructType`` Spark inferred for a file and hands it to later reads as
``spark.read.schema(s).parquet(path)``: the file is still listed on
every read, but no footer is read on the driver and no job runs.

Spark's own inference stays the definition of the schema; the cache
only replays its answer.  An entry is keyed by the file's identity,
``(realpath, st_mtime_ns, st_size)``, so a rewritten file is inferred
again.  Only regular local files are cached: a directory's stamp does
not change when a file inside it is rewritten in place, and a path
``os.stat`` cannot see (a URI with a scheme, a missing file) is read as
before, failing the way Spark fails.  The lake keeps its own declared
schema (``plans/lake.py``) and does not come through here.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# realpath -> ((st_mtime_ns, st_size), schema Spark inferred at that stamp).
# Shared by the process; each entry is one tuple stored at once, so two
# threads opening the same file can at worst both infer it.
_SCHEMAS: dict[str, tuple[tuple[int, int], StructType]] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The driver-contract table ``name`` under ``sf_dir``: the file
    ``{sf_dir}/{name}.parquet``, its schema taken from its first read
    while the file is unchanged."""
    path = f"{sf_dir}/{name}.parquet"
    try:
        real = os.path.realpath(path)
        st = os.stat(real)
    except OSError:
        return spark.read.parquet(path)
    if not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    # stat before the read: a file rewritten in between is stored under
    # the older stamp, so the next read infers again
    stamp = (st.st_mtime_ns, st.st_size)
    hit = _SCHEMAS.get(real)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[real] = (stamp, df.schema)
    return df
