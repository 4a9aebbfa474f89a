"""Concrete engine binding for the north-star table: source-code repositories.

Input (BASELINE input_hint): change events over
``repos(repo string, path string, commit string, lang string, content string)``,
key ``(repo, path)``, LWW on commit sequence, parity on sha256(content).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from .model import Model
from .plans.lake import LakeTable
from .plans.merge import table_schema
from .streaming.cdc import CDCPipeline
from .streaming.ledger import CheckpointLedger

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.dirname(__file__)), "fixtures")

KEY_COLS = ["repo", "path"]


def repos_payload_schema() -> T.StructType:
    return T.StructType(
        [
            T.StructField("repo", T.StringType(), True),
            T.StructField("path", T.StringType(), True),
            T.StructField("commit", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
            T.StructField("content", T.StringType(), True),
            T.StructField("content_sha256", T.StringType(), True),
        ]
    )


def load_repos_model(fixture_dir: str | None = None) -> Model:
    d = fixture_dir or FIXTURE_DIR
    return Model.from_yaml(
        [
            os.path.join(d, "repos-model.yml"),
            os.path.join(d, "repos-model-props.yml"),
        ],
        os.path.join(d, "repos-props.yml"),
    )


TIEBREAKERS = ["commit", "content_sha256"]


def create_repos_table(root: str, n_buckets: int = 16) -> LakeTable:
    return LakeTable.create(
        root,
        table_schema(repos_payload_schema()),
        KEY_COLS,
        n_buckets=n_buckets,
        tiebreakers=TIEBREAKERS,
    )


def make_pipeline(
    spark: SparkSession,
    root: str,
    n_buckets: int = 16,
    with_model: bool = True,
    strategy: str = "cow",
    compact_every: int = 8,
    **pipeline_kw,
) -> CDCPipeline:
    """Table + ledger + pipeline rooted at ``root`` (created if absent)."""
    lake = create_repos_table(os.path.join(root, "repos"), n_buckets=n_buckets)
    ledger = CheckpointLedger(os.path.join(root, "ledger"))
    model = load_repos_model() if with_model else None
    return CDCPipeline(
        spark,
        lake,
        ledger,
        model=model,
        node_type="repo_file",
        key_cols=tuple(KEY_COLS),
        error_dir=os.path.join(root, "errors"),
        strategy=strategy,
        compact_every=compact_every,
        **pipeline_kw,
    )
