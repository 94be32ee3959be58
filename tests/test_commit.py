"""The shared pointer commit (``flink_spark.commit``); no Spark session."""

from __future__ import annotations

import json
import os

import pytest

from flink_spark.sources.cdc import _pointer
from flink_spark.streaming.changelog import _STATE
from flink_spark.streaming.dedup import _marker
from flink_spark.streaming.sinks import _read_manifest


@pytest.mark.parametrize(
    "name, read",
    [
        ("_COMPACTED", _marker),
        ("_SNAPSHOT", _pointer),
        ("_MANIFEST.json", _read_manifest),
        ("_STATE.json", _STATE.read),
    ],
)
def test_corrupt_pointer_raises(tmp_path, name, read):
    """A garbled pointer is not "no state yet": read as empty, the dedup
    store would forget its compacted base (duplicates pass) and the CDC
    capture would re-emit the whole table as ``bootstrap-insert``."""
    (tmp_path / name).write_text('{"gen": ')
    with pytest.raises(json.JSONDecodeError):
        read(str(tmp_path))


def test_commit_keeps_current_and_previous_versions(tmp_path):
    from flink_spark.commit import Pointer

    ptr = Pointer("_P", r"v\d+", lambda rec: [rec["v"]])
    assert ptr.read(str(tmp_path)) is None
    prev = None
    for i in range(4):
        (tmp_path / f"v{i}").mkdir()
        ptr.commit(str(tmp_path), {"v": f"v{i}"}, prev)
        prev = ptr.read(str(tmp_path))
    assert prev == {"v": "v3"}
    # the temp file is gone and only the last two versions remain
    assert sorted(os.listdir(tmp_path)) == ["_P", "v2", "v3"]
