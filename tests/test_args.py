"""Job-argument validation parity (reference keeper tests' shape:
tests/keeper/test_keeper.py rejection cases)."""

from __future__ import annotations

import pytest

from spark_hadoop_automation_in_cloud_spark.args import JobArgs, StreamArgs


def _ok(**kw):
    base = dict(date="2024-01-30", depth=10, src_path="/tmp/src", tgt_path="/tmp/tgt")
    base.update(kw)
    return base


def test_valid_args():
    a = JobArgs(**_ok(processed_dttm="2024-01-30T12:00:00"))
    assert a.window_start.isoformat() == "2024-01-21"


@pytest.mark.parametrize(
    "bad",
    [
        {"date": "2024-13-01"},
        {"date": "30-01-2024"},
        {"date": "2999-01-01"},
        {"depth": 0},
        {"depth": 151},
        {"src_path": "not-a-path"},
        {"processed_dttm": "2024-01-30 12:00:00"},
    ],
)
def test_rejected_args(bad):
    with pytest.raises(ValueError):
        JobArgs(**_ok(**bad))


def test_depth_warning():
    with pytest.warns(UserWarning):
        JobArgs(**_ok(depth=120))


def test_from_argv_contract():
    a = JobArgs.from_argv(["2024-01-30", "7", "/src", "/tgt", "/coords", "2024-01-30T00:00:00"])
    assert a.depth == 7 and a.coords_path == "/coords"
    with pytest.raises(ValueError):
        JobArgs.from_argv(["2024-01-30"])


def test_stream_args_contract():
    """The streaming CLIs' ``<src> <out> <checkpoint> [max_files]``."""
    a = StreamArgs.from_argv(["/src", "/out", "/ckpt"])
    assert (a.src, a.out, a.checkpoint, a.reader_options) == ("/src", "/out", "/ckpt", {})
    b = StreamArgs.from_argv(["/src", "/out", "/ckpt", "3"])
    assert b.reader_options == {"maxFilesPerTrigger": "3"}
    for bad in ([], ["a", "b"], ["a", "b", "c", "0"], ["a", "b", "c", "x"], list("abcde")):
        with pytest.raises(ValueError):
            StreamArgs.from_argv(bad)
