"""The per-application memo store and the per-process scratch root
(metadata_extractors_api_spark/store.py). No JVM: ``memo`` only reads
``spark.sparkContext.applicationId``, so a stand-in object suffices."""

from __future__ import annotations

import os
import subprocess
import sys
import uuid
from types import SimpleNamespace

from metadata_extractors_api_spark.store import memo

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fake_spark() -> SimpleNamespace:
    app_id = f"local-test-{uuid.uuid4().hex}"
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def _counting_build(value):
    calls = []

    def build():
        calls.append(1)
        return value

    return build, calls


def test_memo_builds_once_per_application_and_key():
    spark = _fake_spark()
    build, calls = _counting_build(["built"])
    first = memo(spark, ("k", "/sf"), build)
    assert memo(spark, ("k", "/sf"), build) is first
    assert len(calls) == 1
    # a different key is a different entry
    other, other_calls = _counting_build("other")
    assert memo(spark, ("k", "/sf2"), other) == "other"
    assert len(other_calls) == 1


def test_memo_is_not_shared_across_applications():
    a, b = _fake_spark(), _fake_spark()
    build_a, calls_a = _counting_build("from-a")
    build_b, calls_b = _counting_build("from-b")
    assert memo(a, "same-key", build_a) == "from-a"
    assert memo(b, "same-key", build_b) == "from-b"
    assert memo(a, "same-key", build_b) == "from-a"
    assert (len(calls_a), len(calls_b)) == (1, 1)


def test_memo_records_a_none_build():
    spark = _fake_spark()
    build, calls = _counting_build(None)
    assert memo(spark, "register", build) is None
    assert memo(spark, "register", build) is None
    assert len(calls) == 1


def test_scratch_dirs_are_removed_at_exit(tmp_path):
    code = (
        "import os\n"
        "from metadata_extractors_api_spark.store import scratch_dir\n"
        "a = scratch_dir('a_')\n"
        "b = scratch_dir('b_')\n"
        "open(os.path.join(a, 'f'), 'w').write('x')\n"
        "os.makedirs(os.path.join(b, 'nested'))\n"
        "print(a)\n"
        "print(b)\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", code],
        env=env, capture_output=True, text=True, check=True,
    ).stdout.split()
    assert len(out) == 2
    for d in out:
        # both lived under one mdx_ root inside the child's TMPDIR
        assert d.startswith(str(tmp_path) + os.sep)
        assert os.path.basename(os.path.dirname(d)).startswith("mdx_")
        assert not os.path.exists(d)
    assert [e for e in os.listdir(tmp_path) if e.startswith("mdx_")] == []
