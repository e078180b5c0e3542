from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from fte.conf import get_spark  # noqa: E402
from fte.synth import gen_transcripts_pdf, gen_anchors_pdf, gen_labels_pdf  # noqa: E402
from fte.schema import TRANSCRIPTS_SCHEMA, ANCHORS_SCHEMA, LABELS_SCHEMA  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "fte-tests",
        master="local[4]",
        extra_confs={"spark.sql.shuffle.partitions": "8", "spark.ui.enabled": "false"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def transcripts_pdf():
    return gen_transcripts_pdf(60, seed=42)


@pytest.fixture(scope="session")
def transcripts_df(spark, transcripts_pdf):
    return spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPTS_SCHEMA).cache()


@pytest.fixture(scope="session")
def anchors_pdf(transcripts_pdf):
    return gen_anchors_pdf(transcripts_pdf, seed=42)


@pytest.fixture(scope="session")
def anchors_df(spark, anchors_pdf):
    return spark.createDataFrame(anchors_pdf, schema=ANCHORS_SCHEMA).cache()


@pytest.fixture(scope="session")
def labels_pdf(transcripts_pdf):
    return gen_labels_pdf(transcripts_pdf, seed=42)


@pytest.fixture(scope="session")
def labels_df(spark, labels_pdf):
    return spark.createDataFrame(labels_pdf, schema=LABELS_SCHEMA).cache()
