from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os

import pytest

from acoustic_feature_extractor_spark.session import get_spark


SHUFFLE_PARTITIONS = os.environ.get("AFE_TEST_SHUFFLE_PARTITIONS", "8")
JOBS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs")


@pytest.fixture(scope="session")
def spark():
    # AFE_TEST_SHUFFLE_PARTITIONS: robustness sweeps run the suite at
    # odd partition counts to flush partition-layout assumptions
    s = get_spark(
        app_name="afe_spark_tests",
        cores=8,
        extra_conf={"spark.sql.shuffle.partitions": SHUFFLE_PARTITIONS},
    )
    yield s


@pytest.fixture(scope="session")
def transcripts(spark):
    from acoustic_feature_extractor_spark.datagen import generate_transcripts

    return generate_transcripts(spark, n_convs=60, mega_every=25, mega_turns=300).cache()


@pytest.fixture(scope="session")
def turn_features_df(spark):
    from acoustic_feature_extractor_spark.datagen import generate_turn_features

    return generate_turn_features(spark, n_convs=40).cache()


@pytest.fixture
def run_job(spark):
    """``run_job(name, argv) -> (rc, line)``: call ``jobs/<name>.py``'s
    ``main(argv)`` in this process, on the shared session, and parse the
    JSON line it prints last. The job's ``get_spark`` returns the running
    session with its settings as they are."""

    def run(name: str, argv: list[str]) -> tuple[int, dict]:
        spec = importlib.util.spec_from_file_location(name, os.path.join(JOBS, f"{name}.py"))
        job = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(job)
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            rc = job.main(argv)
        line = [l for l in out.getvalue().splitlines() if l.startswith("{")][-1]
        return rc, json.loads(line)

    return run


@pytest.fixture
def bucket_waves(spark):
    """``with bucket_waves():`` shrinks ``run_turn_features``' wave budget
    (``defaultParallelism × spark.sql.files.maxPartitionBytes``) below one
    small bucket's staged bytes, so each bucket runs as a wave of its own,
    and restores the setting on exit."""
    key = "spark.sql.files.maxPartitionBytes"

    @contextlib.contextmanager
    def per_bucket():
        prev = spark.conf.get(key)
        spark.conf.set(key, "1k")
        try:
            yield
        finally:
            spark.conf.set(key, prev)

    return per_bucket
