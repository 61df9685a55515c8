"""The one stream driver (`streaming/drain.py:run_face`) behind every
stateful `run_streaming_*` runner: old state re-attached to a NEW
checkpoint must hard-fail on every face.

A recreated checkpoint restarts batch ids at 0. Without the run-id
binding, each face's replay-skip guard (`epoch_id <= committed`) would
silently drop every batch of the new stream against the old state. The
same-checkpoint restart stays covered by each face's restart tests.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import SF_SMOKE
from query_processing_over_streaming_data_using_flink_spark.sources.catalog import load_table
from query_processing_over_streaming_data_using_flink_spark.streaming.ann_index import (
    run_streaming_ann_index,
)
from query_processing_over_streaming_data_using_flink_spark.streaming.changelog import build_changelog
from query_processing_over_streaming_data_using_flink_spark.streaming.curation import (
    run_streaming_curation,
)
from query_processing_over_streaming_data_using_flink_spark.streaming.decontam_gate import (
    run_streaming_decontam,
)
from query_processing_over_streaming_data_using_flink_spark.streaming.export_manifest import (
    run_streaming_manifest,
)
from query_processing_over_streaming_data_using_flink_spark.streaming.incragg import (
    run_streaming_rollup,
)
from query_processing_over_streaming_data_using_flink_spark.streaming.ivm import run_streaming_q3
from query_processing_over_streaming_data_using_flink_spark.streaming.lm_gate import (
    run_streaming_lm_train,
)
from query_processing_over_streaming_data_using_flink_spark.streaming.substring_decontam import (
    run_streaming_substring_decontam,
)


def _changelog(spark):
    return build_changelog(spark, SF_SMOKE).filter(F.col("seq") <= 2000), "seq"


def _embeddings(spark):
    return load_table(spark, SF_SMOKE, "embeddings").limit(200), "vec_id"


def _documents(spark):
    return load_table(spark, SF_SMOKE, "documents").limit(40), "doc_id"


# face -> (spark -> (input rows, split key), the face's run_streaming_* runner)
RUNNERS = {
    "q3": (_changelog, run_streaming_q3),
    "rollup": (_changelog, run_streaming_rollup),
    "ann_index": (_embeddings, run_streaming_ann_index),
    "curation": (_documents, run_streaming_curation),
    "lm_train": (_documents, run_streaming_lm_train),
    "manifest": (_documents, run_streaming_manifest),
    "decontam": (_documents, run_streaming_decontam),
    "substring_decontam": (_documents, run_streaming_substring_decontam),
}


@pytest.mark.parametrize("face", sorted(RUNNERS))
def test_new_checkpoint_over_old_state_refuses(spark, tmp_path, face):
    """Stream A (checkpoint A) commits into the state dir; stream B
    brings new inputs and a new checkpoint over the same state dir.
    Stream B must raise instead of replay-skipping its batches."""
    inputs, run = RUNNERS[face]
    rows, key = inputs(spark)
    for part, name in enumerate(("a", "b")):
        rows.filter(F.col(key) % 2 == part).coalesce(1).write.parquet(str(tmp_path / name))
    state = str(tmp_path / "state")

    run(spark, str(tmp_path / "a"), state, files_per_trigger=1,
        checkpoint_dir=str(tmp_path / "ckpt_a"))
    with pytest.raises(RuntimeError, match="belongs to stream run"):
        run(spark, str(tmp_path / "b"), state, files_per_trigger=1,
            checkpoint_dir=str(tmp_path / "ckpt_b"))
