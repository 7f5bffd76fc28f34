"""The feed's segment layout, without Spark: ``_SegmentLog`` over
hand-built segment directories.  Listing, the ``published_to`` frontier,
suffix pruning, retention and the publish clip are pure directory logic,
so none of these cases starts a SparkSession."""

import os

import pytest

from debezium_connector_db2_spark.streaming.feed import _SegmentLog


@pytest.fixture()
def log(tmpdir_path):
    feed = os.path.join(tmpdir_path, "feed")
    # created out of LSN order, with a sibling topic's segment and a
    # staged write in the same directory
    for d in ("seg-6-8", "seg-0-2", "seg-10-12", "seg-2-4", "hb-12-14",
              ".tmp-seg-12-14-0badc0de"):
        os.makedirs(os.path.join(feed, d))
    return _SegmentLog(None, feed, "seg-")


def _names(paths):
    return [os.path.basename(p) for p in paths]


def test_segments_list_in_lsn_order(log):
    assert _names(log.segments()) == ["seg-0-2", "seg-2-4", "seg-6-8",
                                      "seg-10-12"]


def test_published_to_is_the_highest_to(log):
    assert log.published_to() == 12
    assert _SegmentLog(None, os.path.join(log.dir, "empty"),
                       "seg-").published_to() == 0


def test_segments_from_lsn_keeps_ranges_reaching_it(log):
    assert _names(log.segments(from_lsn=4)) == ["seg-2-4", "seg-6-8",
                                                "seg-10-12"]
    assert _names(log.segments(from_lsn=9)) == ["seg-10-12"]
    assert log.segments(from_lsn=13) == []


def test_prune_keeps_the_newest_segment(log):
    assert log.prune(upto_lsn=4) == 2
    assert _names(log.segments()) == ["seg-6-8", "seg-10-12"]
    assert log.prune(upto_lsn=10 ** 9) == 1
    assert _names(log.segments()) == ["seg-10-12"]
    assert log.published_to() == 12
    # the other topic's segment and the staged write are not this log's
    assert sorted(os.listdir(log.dir)) == [".tmp-seg-12-14-0badc0de",
                                           "hb-12-14", "seg-10-12"]


@pytest.mark.parametrize("interval", [(0, 12), (4, 8), (10, 12), (12, 12)])
def test_publish_at_or_below_published_to_is_a_noop(log, interval):
    def frame(lo, hi):
        raise AssertionError(f"built a frame for ({lo}, {hi}]")

    before = sorted(os.listdir(log.dir))
    assert log._publish(*interval, frame) is None
    assert sorted(os.listdir(log.dir)) == before
