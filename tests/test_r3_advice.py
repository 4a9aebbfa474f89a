"""Round-3 ADVICE regression tests:

- m2m classification resolves the exact relationship end per (src, dst)
  (reference icdc_schema.py:186-195 relationships[src][dest]) — two ends of
  one rel name sharing a dst with different multiplicities must not leak
  many_to_many behavior onto the many_to_one end;
- archive explode is all-or-error per archive: a corrupt member after valid
  ones must not emit partial members plus an archive-level error row;
- NULL-keyed tombstones keep their watermark through the resolve join
  (delete->recreate lineage reset under null-safe equality);
- family_member_sql enforces the same overflow-safe index range as the
  Spark-side family_member_expr;
- change_bursts drops null event times instead of letting NaT poison the
  open burst's start.
"""

import io
import os
import tarfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from icdc_dataloader_spark.functions.porthash import family_member_sql
from icdc_dataloader_spark.model import Model, PropDef, RelDef, RelEnd
from icdc_dataloader_spark.plans.graph_loader import GraphLoader
from icdc_dataloader_spark.plans.merge import append_delta, resolve
from icdc_dataloader_spark.repos import create_repos_table
from icdc_dataloader_spark.sources.archive import read_archives
from icdc_dataloader_spark.streaming.stateful import change_bursts


def _write_tsv(path, header, rows):
    with open(path, "w") as fh:
        fh.write("\t".join(header) + "\n")
        for r in rows:
            fh.write("\t".join(r) + "\n")
    return str(path)


def mixed_mul_model() -> Model:
    """One rel name, two ends onto the same dst with DIFFERENT multiplicities
    (the reference's sample->case many_to_one vs file->case many_to_many
    under 'of_case')."""
    return Model(
        nodes={
            "case": {"case_id": PropDef("case_id", "String", required=True)},
            "sample": {"sample_id": PropDef("sample_id", "String", required=True)},
            "file": {"file_id": PropDef("file_id", "String", required=True)},
        },
        relationships={
            "of_case": RelDef(
                "of_case",
                "many_to_many",
                [
                    RelEnd("sample", "case", "many_to_one"),
                    RelEnd("file", "case", "many_to_many"),
                ],
            )
        },
        domain="repos.example.org",
        id_fields={"case": "case_id", "sample": "sample_id", "file": "file_id"},
    )


def test_per_src_end_multiplicity(spark, tmp_path):
    model = mixed_mul_model()
    cases = _write_tsv(
        tmp_path / "cases.txt", ["type", "case_id"],
        [["case", "c1"], ["case", "c2"]],
    )
    s1 = _write_tsv(
        tmp_path / "s1.txt", ["type", "sample_id", "case.case_id"],
        [["sample", "s1", "c1"]],
    )
    s2 = _write_tsv(
        tmp_path / "s2.txt", ["type", "sample_id", "case.case_id"],
        [["sample", "s1", "c2"]],
    )
    files = _write_tsv(
        tmp_path / "files.txt", ["type", "file_id", "case.case_id"],
        [["file", "f1", "c1|c2"]],
    )
    gl = GraphLoader(spark, str(tmp_path / "g"), model)
    gl.load_files([("case", cases), ("sample", s1), ("file", files)])
    gl.load_files([("sample", s2)])

    edges = gl.edges().collect()
    sample_uuids = {r["uuid"] for r in gl.nodes("sample").collect()}
    file_uuids = {r["uuid"] for r in gl.nodes("file").collect()}
    c2_uuid = gl.nodes("case").filter("case_id='c2'").collect()[0]["uuid"]

    s_edges = [e for e in edges if e["child_uuid"] in sample_uuids]
    f_edges = [e for e in edges if e["child_uuid"] in file_uuids]
    # sample->case end is many_to_one: re-parent tombstoned the c1 edge
    assert len(s_edges) == 1 and s_edges[0]["parent_uuid"] == c2_uuid
    # file->case end of the SAME rel name is many_to_many: both kept
    assert len(f_edges) == 2


def test_archive_all_or_error_on_mid_iteration_corruption(spark, tmp_path):
    d = tmp_path / "drops"
    d.mkdir()
    # uncompressed tar with two members, truncated inside the second
    # member's DATA region: iteration yields member one cleanly, then the
    # second member's read raises ReadError("unexpected end of data")
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, payload in [("good.txt", b"x" * 100), ("second.txt", b"y" * 50)]:
            info = tarfile.TarInfo(name)
            info.size = len(payload)
            tf.addfile(info, io.BytesIO(payload))
    raw = buf.getvalue()
    (d / "broken.tar").write_bytes(raw[: 1024 + 512 + 10])

    rows = [
        r for r in read_archives(spark, str(d)).collect()
        if r["archive"].endswith("broken.tar")
    ]
    assert len(rows) == 1, "partial members must be replaced by the error row"
    assert rows[0]["error"] == "unreadable_archive"
    assert rows[0]["member"] is None


def test_null_key_tombstone_lineage_reset(spark, tmp_path):
    lake = create_repos_table(str(tmp_path / "repos"), n_buckets=2)

    def batch(rows):
        return spark.createDataFrame(
            rows,
            "repo string, path string, commit string, lang string,"
            " content string, content_sha256 string, _seq long, _op string",
        )

    append_delta(spark, lake, batch([("r1", None, "c1", "py", "v1", "h1", 1, "upsert")]), batch_id="b1")
    append_delta(spark, lake, batch([("r1", None, None, None, None, None, 2, "delete")]), batch_id="b2")
    append_delta(spark, lake, batch([("r1", None, "c3", "py", "v3", "h3", 3, "upsert")]), batch_id="b3")

    out = resolve(spark, lake).filter(F.col("path").isNull()).collect()
    assert len(out) == 1
    row = out[0]
    assert row["_op"] == "upsert" and row["commit"] == "c3"
    # delete->recreate must RESET created lineage even for NULL-keyed rows
    assert row["_created_seq"] == 3


def test_family_member_sql_range_guard():
    with pytest.raises(ValueError):
        family_member_sql("a", "b", 64)
    assert "63" in family_member_sql("a", "b", 63)


def test_change_bursts_ignores_null_timestamps(spark, tmp_path):
    src = tmp_path / "stream"
    src.mkdir()
    base = pd.Timestamp("2024-01-01")
    rows = pd.DataFrame(
        {
            "repo": ["r1"] * 4 + ["r1"],
            "ts": [
                base,
                pd.NaT,  # must not become INT64_MIN and poison burst_start
                base + pd.Timedelta(seconds=10),
                base + pd.Timedelta(seconds=20),
                base + pd.Timedelta(seconds=1000),  # closes the burst
            ],
        }
    )
    rows["ts"] = rows["ts"].astype("datetime64[us]")
    rows.to_parquet(os.path.join(str(src), "part-0.parquet"))
    schema = spark.read.parquet(str(src)).schema
    stream = spark.readStream.schema(schema).parquet(str(src))
    q = (
        change_bursts(stream, gap_seconds=300)
        .writeStream.format("memory")
        .queryName("bursts_nat")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.sql("select * from bursts_nat").collect()
    assert len(out) == 1
    assert out[0]["burst_start"] == base
    assert out[0]["n_events"] == 3
