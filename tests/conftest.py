from __future__ import annotations

import sys
import uuid
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from transcriptpipe import schemas, synth  # noqa: E402
from transcriptpipe.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="transcriptpipe-tests", cpus=4)
    yield s


@pytest.fixture(scope="session")
def tiny_pdf():
    """50 conversations, deterministic, includes malformed fixtures."""
    return synth.gen_transcripts(n_convs=50, seed=42)


@pytest.fixture(scope="session")
def tiny_df(spark, tiny_pdf):
    return spark.createDataFrame(tiny_pdf, schema=schemas.TRANSCRIPTS)


@pytest.fixture(scope="session")
def tiny_rows(tiny_pdf):
    return tiny_pdf.to_dict("records")


@pytest.fixture()
def jobs(spark):
    """``jobs(fn)``: ``fn()``'s result and the number of Spark jobs it
    started on this thread (one job group)."""
    sc = spark.sparkContext

    def count(fn):
        group = f"jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # the status tracker learns of jobs from the listener bus, asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        return len(sc.statusTracker().getJobIdsForGroup(group)), out

    return count
