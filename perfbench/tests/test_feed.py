"""The seeded feed generator: determinism, schema and the CDC mapping's mix."""

from __future__ import annotations

import filecmp
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import feed

#: Shares of the fixture ``events`` table at sf0.1 (100k rows), as the CDC
#: mapping in cdc/source.py routes them: heartbeats are ``user_id % 10 == 9``,
#: blacklisted rows ``user_id % 10 == 8``, refresh rows ``event_id % 13 == 0``
#: outside the heartbeat schema.
FIXTURE_SHARES = {"heartbeat": 0.10017, "blacklist": 0.10126, "refresh": 0.06939}

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def _shares(table: pa.Table) -> dict[str, float]:
    user = table["user_id"].to_numpy()
    event = table["event_id"].to_numpy()
    return {
        "heartbeat": float(np.mean(user % 10 == 9)),
        "blacklist": float(np.mean(user % 10 == 8)),
        "refresh": float(np.mean((event % 13 == 0) & (user % 10 != 9))),
    }


def test_same_seed_writes_identical_files(tmp_path):
    a = feed.write_feed(str(tmp_path / "a"), 7, 5000, 3)
    b = feed.write_feed(str(tmp_path / "b"), 7, 5000, 3)
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b)) and len(names) == 3
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert match == names and not mismatch and not errors
    c = feed.write_feed(str(tmp_path / "c"), 8, 5000, 3)
    assert not filecmp.cmp(os.path.join(a, names[0]), os.path.join(c, names[0]), shallow=False)


def test_parts_concatenate_to_the_feed_in_event_order(tmp_path):
    out = feed.write_feed(str(tmp_path), 3, 10_001, 4)
    table = pq.read_table(out)
    assert table.schema.remove_metadata() == EVENTS_SCHEMA
    assert table["event_id"].to_pylist() == list(range(10_001))
    ts = table["ts"].cast(pa.int64()).to_numpy()
    assert (np.diff(ts) > 0).all()


def test_type_mix_matches_the_fixture():
    table = feed.feed_table(11, 100_000)
    assert table.schema == EVENTS_SCHEMA
    assert sorted(set(table["event_type"].to_pylist())) == sorted(feed.EVENT_TYPES)
    user = table["user_id"].to_numpy()
    assert user.min() >= 0 and user.max() < feed.USER_IDS
    ks = [json.loads(p)["k"] for p in table["props"].to_pylist()[:1000]]
    assert all(isinstance(k, int) and 0 <= k < feed.PROPS_K for k in ks)
    assert table["props"][0].as_py().startswith('{"k": ')
    for name, share in _shares(table).items():
        assert share == pytest.approx(FIXTURE_SHARES[name], abs=0.005), name


def test_event_ids_stay_inside_the_txn_order_file_bits():
    assert feed.MAX_EVENT_ID == 32_768_000
    with pytest.raises(ValueError, match="15-bit"):
        feed.feed_table(0, 10, first_event_id=feed.MAX_EVENT_ID - 5)
