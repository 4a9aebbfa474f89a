"""Per-batch staging plan: built once, applied in one call.

A tail commit's driver cost is dominated by plan construction — PySpark
wraps every Column call in several py4j round trips.  These tests pin the
round-trip budget of a warmed MoR commit, that the validation expressions
are built once per input column set (and keyed by it), and that the
one-call ``_align`` projects exactly like the per-Column form it replaced.
"""

import glob
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from icdc_dataloader_spark.plans.lake import _align
from icdc_dataloader_spark.repos import make_pipeline
from icdc_dataloader_spark.sources.gen import gen_events_pandas
from icdc_dataloader_spark.streaming import cdc as cdc_mod


@pytest.fixture
def round_trips(monkeypatch):
    """Counts py4j commands sent by this Python process."""
    from py4j.clientserver import ClientServerConnection

    count = [0]
    send = ClientServerConnection.send_command

    def counting(self, command):
        count[0] += 1
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    return count


def test_warm_mor_commit_round_trip_budget(spark, tmp_path, round_trips):
    """A warmed MoR run() of one 5k-event batch makes at most 500 py4j
    round trips (rebuilding the staging expressions per batch made over
    1,600)."""
    pdf = gen_events_pandas(n_events=10_000, n_repos=1000, n_paths=20,
                            n_batches=2, p_delete=0.02, p_new=0.0,
                            shuffle_arrival=False)
    pipe = make_pipeline(spark, str(tmp_path / "p"), n_buckets=4,
                         strategy="mor", compact_every=8)
    binlog = str(tmp_path / "binlog")
    events = spark.createDataFrame(pdf)
    for bid in sorted(pdf["batch_id"].unique()):
        events.filter(F.col("batch_id") == int(bid)).write.mode(
            "append").partitionBy("batch_id").parquet(binlog)
        binlog_df = spark.read.parquet(binlog)
        before = round_trips[0]
        res = pipe.run(binlog_df)
        used = round_trips[0] - before
        assert len(res["applied"]) == 1 and not res["quarantined"]
    assert res["applied"][0]["metrics"]["rows_appended"] == 5000
    assert used <= 500, used


def _batch(spark, seq0, n=6, stars=None):
    """n upserts; row 0 has an invalid lang.  ``stars`` (one value per row)
    adds the Int-typed ``stars`` column."""
    rows = [
        (f"r{seq0 + i}", "p", f"c{seq0 + i}", "perl" if i == 0 else "go",
         f"body {i}", seq0 + i, "upsert")
        for i in range(n)
    ]
    schema = ("repo string, path string, commit string, lang string,"
              " content string, seq long, op string")
    if stars is not None:
        rows = [r + (s,) for r, s in zip(rows, stars)]
        schema += ", stars string"
    return spark.createDataFrame(rows, schema)


def test_validation_exprs_built_once_per_column_set(spark, tmp_path,
                                                     monkeypatch):
    calls = []
    real = cdc_mod.validation_check_pairs

    def spy(df, *a, **k):
        calls.append(tuple(df.columns))
        return real(df, *a, **k)

    monkeypatch.setattr(cdc_mod, "validation_check_pairs", spy)
    pipe = make_pipeline(spark, str(tmp_path / "p"), n_buckets=2,
                         strategy="mor", compact_every=100)
    for i in range(3):
        res = pipe.apply_batch(_batch(spark, 100 * i), f"b{i}")
        assert res["metrics"]["rows_quarantined"] == 1
    assert len(calls) == 1
    pipe.apply_batch(_batch(spark, 300, stars=["1"] * 6), "b3")
    assert len(calls) == 2 and "stars" in calls[1]


def _quarantined_seqs(pipe, bid):
    """Row ids of the error relation a batch wrote."""
    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(pipe.error_dir, f"batch={bid}", "*.parquet"))
    return sorted({r for f in files for r in pq.read_table(f)["row_id"].to_pylist()})


def test_validation_cache_is_keyed_by_columns(spark, tmp_path):
    """One pipeline applies a batch without ``stars``, one with invalid
    ``stars``, then one without again; each quarantines exactly the rows
    a fresh pipeline would."""
    batches = [
        ("a", _batch(spark, 0)),
        ("b", _batch(spark, 100, stars=["5", "ten", "2000000", "7", "", "9"])),
        ("c", _batch(spark, 200)),
    ]
    shared = make_pipeline(spark, str(tmp_path / "shared"), n_buckets=2,
                           strategy="mor", compact_every=100)
    for i, (bid, df) in enumerate(batches):
        fresh = make_pipeline(spark, str(tmp_path / f"fresh{i}"), n_buckets=2,
                              strategy="mor", compact_every=100)
        got = shared.apply_batch(df, bid)["metrics"]["rows_quarantined"]
        want = fresh.apply_batch(df, bid)["metrics"]["rows_quarantined"]
        assert got == want
        assert _quarantined_seqs(shared, bid) == _quarantined_seqs(fresh, bid)
    assert _quarantined_seqs(shared, "b") == [100, 101, 102]


def _align_by_columns(df, target):
    """The per-Column ``_align`` the one-call form replaced (reference)."""
    cols = []
    have = {f.name: f.dataType for f in df.schema.fields}
    for f in target.fields:
        if f.name in have:
            if have[f.name] == f.dataType:
                cols.append(F.col(f.name))
            else:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


POINT = T.StructType([T.StructField("x", T.LongType()),
                      T.StructField("y z", T.StringType())])
SOURCE = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("n", T.LongType()),
    T.StructField("i", T.IntegerType()),
    T.StructField("s", T.StringType()),
    T.StructField("a b", T.LongType()),
    T.StructField("pt", POINT),
    T.StructField("tags", T.ArrayType(T.StringType())),
    T.StructField("extra", T.StringType()),
])
ROWS = [
    (1, 10, 3, "x", 7, (1, "p"), ["u", "v"], "dropped"),
    (2, None, None, None, None, None, None, None),
    (3, -2**62, -5, "", 0, (None, None), [], "e"),
]


def _rows(df):
    return sorted(map(repr, df.collect()))


@pytest.mark.parametrize("target", [
    # widening casts: Long -> Double, Long/Int -> String
    T.StructType([T.StructField("id", T.LongType()),
                  T.StructField("n", T.DoubleType()),
                  T.StructField("i", T.StringType()),
                  T.StructField("a b", T.StringType())]),
    # missing columns of every kind, reordered, the extra column dropped
    T.StructType([T.StructField("tags", T.ArrayType(T.StringType())),
                  T.StructField("missing", T.LongType()),
                  T.StructField("id", T.LongType()),
                  T.StructField("gone pt", POINT),
                  T.StructField("gone tags", T.ArrayType(T.LongType())),
                  T.StructField("pt", POINT),
                  T.StructField("s", T.StringType())]),
    # already aligned
    SOURCE,
], ids=["widen", "missing", "aligned"])
def test_align_matches_per_column_reference(spark, target):
    df = spark.createDataFrame(ROWS, SOURCE)
    got, want = _align(df, target), _align_by_columns(df, target)
    assert got.schema == want.schema == target
    assert _rows(got) == _rows(want)


def test_align_quotes_special_names(spark):
    """Names holding a space, a dot and a backtick, present (cast or kept)
    and missing, in a struct field too.  The reference resolves a dotted
    name as a nested field, so only its missing-column form applies."""
    odd = T.StructType([T.StructField("p.q", T.LongType()),
                        T.StructField("b`t", T.StringType())])
    src = T.StructType([
        T.StructField("a b", T.LongType()),
        T.StructField("c.d", T.LongType()),
        T.StructField("e`f", T.IntegerType()),
        T.StructField("s", odd),
    ])
    df = spark.createDataFrame([(1, 2, 3, (4, "w")), (None,) * 4], src)
    target = T.StructType([
        T.StructField("s", odd),
        T.StructField("e`f", T.LongType()),
        T.StructField("c.d", T.StringType()),
        T.StructField("a b", T.LongType()),
        T.StructField("n.m`o p", odd),
    ])
    got = _align(df, target)
    assert got.schema == target
    rows = [tuple(tuple(v) if isinstance(v, tuple) else v for v in r)
            for r in got.orderBy(F.col("`a b`").asc_nulls_last()).collect()]
    assert rows == [((4, "w"), 3, "2", 1, None), (None,) * 5]
    missing = T.StructType([T.StructField("x.y", T.LongType()),
                            T.StructField("u`v w", odd)])
    assert _align(df, missing).schema == _align_by_columns(df, missing).schema
    assert _rows(_align(df, missing)) == _rows(_align_by_columns(df, missing))


def test_align_returns_aligned_input_untouched(spark):
    df = spark.createDataFrame(ROWS, SOURCE)
    assert _align(df, SOURCE) is df
