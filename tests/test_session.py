"""Session helpers (metadata_extractors_api_spark/session.py). No JVM:
``conf_scope`` only calls ``spark.conf.get/set/unset``, so a stand-in
object suffices."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from metadata_extractors_api_spark.session import conf_scope


class _FakeConf:
    def __init__(self, values: dict[str, str]):
        self.values = dict(values)

    def get(self, key, default=None):
        return self.values.get(key, default)

    def set(self, key, value):
        self.values[key] = value

    def unset(self, key):
        self.values.pop(key, None)


@pytest.mark.parametrize("body_raises", [False, True])
def test_conf_scope_restores_unsets_and_skips_none(body_raises):
    spark = SimpleNamespace(conf=_FakeConf({"prior": "1", "skipped": "3"}))

    def body():
        with conf_scope(
            spark, {"prior": "10", "absent": "20", "skipped": None}
        ):
            assert spark.conf.values == {
                "prior": "10", "absent": "20", "skipped": "3",
            }
            spark.conf.set("skipped", "30")  # the scope must not undo this
            if body_raises:
                raise RuntimeError("body failed")

    if body_raises:
        with pytest.raises(RuntimeError, match="body failed"):
            body()
    else:
        body()
    assert spark.conf.values == {"prior": "1", "skipped": "30"}
