"""Each correctness check accepts the right result and rejects a
deliberately wrong one; the stream bookkeeping maps votes to batches."""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd

import checks
import streamstats as ss
from gen import CANDIDATES, LiveFeed
from harness import _union, pct


def test_tallies_accept_equal_and_reject_wrong():
    cand = {"cand_amara": 10, "cand_bello": 4}
    nat = {"KENYA": 9, "PERU": 5}
    assert checks.check_tallies(dict(cand), cand, dict(nat), nat) == []
    assert checks.check_tallies({"cand_amara": 11, "cand_bello": 4}, cand, nat, nat)
    assert checks.check_tallies(cand, cand, {"KENYA": 9}, nat)  # a nation lost
    assert checks.check_tallies(cand, cand, {**nat, "CHAD": 1}, nat)  # one invented


def test_query_check_is_order_insensitive_and_catches_wrong_values():
    want = pd.DataFrame({"candidate_id": ["a", "b", "c"], "total_votes": [3, 2, 1]})
    got = want.iloc[::-1].reset_index(drop=True)
    assert checks.check_query(got, want) == []
    wrong = got.copy()
    wrong.loc[0, "total_votes"] = 4
    assert checks.check_query(wrong, want) == ["value hash mismatch"]
    assert checks.check_query(got.iloc[:2], want)[0].startswith("rows")
    assert checks.check_query(got.rename(columns={"total_votes": "n"}), want)[0].startswith("columns")


def test_manifest_check_rejects_a_miscount():
    assert checks.check_manifest({"n_written_docs": 398}, 398) == []
    assert checks.check_manifest({"n_written_docs": 398}, 397)[0].startswith("n_written_docs")
    assert checks.check_manifest({}, 398)
    assert checks.check_manifest({"n_written_docs": 0}, 0) == ["no documents written"]


def _batch(batch_id, rows, start_ms, dur_ms):
    ts = time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(start_ms // 1000))
    return {"batchId": batch_id, "numInputRows": rows,
            "timestamp": f"{ts}.{start_ms % 1000:03d}Z",
            "durationMs": {"triggerExecution": dur_ms, "addBatch": dur_ms - 100}}


def test_reflected_at_maps_each_row_to_the_batch_that_carried_it():
    t0 = 1_800_000_000_000
    batches = [_batch(0, 3, t0, 1000), _batch(1, 2, t0 + 1000, 500)]
    got = ss.reflected_at(batches, 6)
    want = np.array([1.0, 1.0, 1.0, 1.5, 1.5, np.nan]) + t0 / 1000
    np.testing.assert_allclose(got[:5], want[:5])
    assert np.isnan(got[5])  # never carried: counts as failed
    assert np.isnan(ss.reflected_at([], 2)).all()


def test_committed_rate_spans_the_window_from_the_first_steady_commit():
    t0 = 1_800_000_000_000
    batches = [_batch(0, 1000, t0 - 9000, 8000),  # warm-up, before the feed started
               _batch(1, 1000, t0 + 500, 4500), _batch(2, 9000, t0 + 5000, 4500),
               _batch(3, 9000, t0 + 9500, 4500), _batch(4, 3000, t0 + 14000, 3000)]
    # batches 2 and 3 start inside the window: 18000 rows between the
    # commits of batch 1 (t0 + 5 s) and batch 3 (t0 + 14 s)
    assert ss.committed_rate(batches, t0 / 1000, t0 / 1000 + 10.5) == 2000.0
    # a window that no later batch started in falls back to the next batch
    assert ss.committed_rate(batches, t0 / 1000, t0 / 1000 + 2) == 9000 / 4.5
    # a window too short for a second batch: the first one's rows since t0
    assert ss.committed_rate(batches[:2], t0 / 1000, t0 / 1000 + 1) == 1000 / 5.0
    assert ss.committed_rate(batches[:1], t0 / 1000, t0 / 1000 + 1) == 0.0


def test_data_batches_drops_idle_triggers_and_duplicates():
    ev = [_batch(1, 5, 0, 10), _batch(0, 4, 0, 10), _batch(2, 0, 0, 10), _batch(1, 5, 0, 10)]
    assert [p["batchId"] for p in ss.data_batches(ev)] == [0, 1]


def test_live_feed_writes_what_it_counts(tmp_path):
    keys = np.arange(100, 140)
    feed = LiveFeed(str(tmp_path), 7, keys, rate=400, interval=0.1, late_share=0.5)
    feed.write_file(0)  # warm-up file, due before t0
    t0 = time.time()
    feed.start(t0)
    feed.stop_after(t0 + 0.25)
    feed.join(timeout=10)
    assert feed.n_files == 3 and feed.n_votes == 120
    assert feed.due(40) == t0 and feed.due(0) < t0
    rows = [json.loads(line) for f in sorted(os.listdir(tmp_path)) for line in open(tmp_path / f)]
    assert [r["event_id"] for r in rows] == list(range(120))
    assert {r["user_id"] for r in rows} <= set(keys.tolist())
    counts = np.bincount(np.concatenate(feed.cands), minlength=len(CANDIDATES))
    for c, n in zip(CANDIDATES, counts):
        assert sum(r["event_type"] == c for r in rows) == n
    due = feed.due(np.arange(40, 120))  # the scheduled files
    stamps = np.array([pd.Timestamp(r["ts"]).timestamp() for r in rows[40:]])
    lag = due - stamps
    assert (lag > -1e-3).all() and (lag < 30.001).all()  # late, but inside the watermark
    assert (lag > 0.5).any()


def test_same_seed_same_votes(tmp_path):
    a, b = (LiveFeed(str(tmp_path / d), 3, np.arange(50), 100, 0.1, 0.1) for d in "ab")
    for f in (a, b):
        os.makedirs(f.dir)
        f.write_file(0)
    assert np.array_equal(a.users[0], b.users[0]) and np.array_equal(a.cands[0], b.cands[0])


def test_percentile_and_interval_union():
    assert pct(range(1, 101), 90) == 90.0
    assert pct([5.0], 90) == 5.0
    assert _union([(0, 2), (1, 3), (5, 6)]) == 4
