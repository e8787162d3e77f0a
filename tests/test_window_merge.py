"""Window-coalesced merges (Scd2Merge.apply_batches / HubMerge.apply_batches):
the closed-form multi-batch application must be BYTE-IDENTICAL to applying
the same batches sequentially with apply_batch — state (head, hist, hub,
link) and per-batch metrics alike — must skip committed ids on resume, and
must stay exact on out-of-order streams, whole or cut into sub-windows."""

import datetime as dt
import random

import pytest

from pyspark.sql import functions as F

from pyelt_spark.operators.hubs import HubMerge, LinkMerge
from pyelt_spark.operators.scd2 import Scd2Merge, Scd2Table
from pyelt_spark.sources.events import transcript_change_events
from pyelt_spark.storage.lake import LakeTable


def _merge():
    return Scd2Merge(
        business_keys=["conv_id", "turn_idx"],
        payload_cols=["role", "text", "tool"],
        order_by=["seq"],
    )


def _assert_same(a, b, label):
    d1, d2 = a.exceptAll(b).count(), b.exceptAll(a).count()
    assert d1 == 0 and d2 == 0, f"{label}: {d1}/{d2} differing rows"


def test_window_sat_matches_sequential_with_seeded_head(spark, tmp_path):
    """Four batches applied per-batch seed both tables (tombstones,
    revisions, bumps in the stream); the remaining batches apply
    sequentially on one side and as ONE window on the other — head, hist
    and the per-batch merge metrics must be identical."""
    ev = transcript_change_events(spark, 4000, batch_size=250, seed=13).persist()
    try:
        ids = sorted(int(r[0]) for r in ev.select("batch_id").distinct().collect())
        pre, post = ids[:4], ids[4:]
        m = _merge()
        t_seq = Scd2Table(spark, str(tmp_path / "seq"), num_buckets=4)
        t_win = Scd2Table(spark, str(tmp_path / "win"), num_buckets=4)
        for b in pre:
            m.apply_batch(t_seq, ev.filter(F.col("batch_id") == b), b)
            m.apply_batch(t_win, ev.filter(F.col("batch_id") == b), b)
        seq_metrics = {
            b: m.apply_batch(t_seq, ev.filter(F.col("batch_id") == b), b)
            for b in post
        }
        win_metrics = m.apply_batches(t_win, ev, "batch_id", post)
        assert win_metrics is not None, "window path unexpectedly fell back"
        _assert_same(t_seq.head.read(), t_win.head.read(), "head")
        _assert_same(t_seq.hist.read(), t_win.hist.read(), "hist")
        for b in post:
            for k in ("inserted", "updated", "deleted", "unchanged", "deduped_keys"):
                assert seq_metrics[b][k] == win_metrics[b][k], (b, k)
        # the whole window is committed atomically and exactly-once
        assert set(post) <= t_win.committed_batch_ids()
    finally:
        ev.unpersist()


def test_window_sat_resume_skips_committed_prefix(spark, tmp_path):
    ev = transcript_change_events(spark, 2000, batch_size=250, seed=7).persist()
    try:
        ids = sorted(int(r[0]) for r in ev.select("batch_id").distinct().collect())
        m = _merge()
        t_seq = Scd2Table(spark, str(tmp_path / "seq"), num_buckets=4)
        t_win = Scd2Table(spark, str(tmp_path / "win"), num_buckets=4)
        for b in ids:
            m.apply_batch(t_seq, ev.filter(F.col("batch_id") == b), b)
        for b in ids[:2]:
            m.apply_batch(t_win, ev.filter(F.col("batch_id") == b), b)
        res = m.apply_batches(t_win, ev, "batch_id", ids)
        assert res[ids[0]] == {"skipped_duplicate_batch": ids[0]}
        assert res[ids[1]] == {"skipped_duplicate_batch": ids[1]}
        _assert_same(t_seq.head.read(), t_win.head.read(), "head")
        _assert_same(t_seq.hist.read(), t_win.hist.read(), "hist")
    finally:
        ev.unpersist()


def test_window_sat_exact_on_out_of_order_tombstone_stream(spark, tmp_path):
    """Golden out-of-order window over a seeded tombstone. Batches 0-1
    (U@1 'a', D@5) leave a tombstone at seq 5; batches 2-5 carry D@10,
    U@7 'b', D@8, U@9 'c'. The spec drops D@10 (a delete on a tombstone
    changes nothing, its seq included) and applies 7, 8 and 9: the head
    ends at 'c', revision 2, active, seq 9, and 'b' goes to history,
    closed by batch 4. (A running max of earlier seqs would wrongly mark
    all three stale.) One window, two chunks and per-batch application
    must all match the simulator, metrics included."""
    from tests.test_random_differential import _engine_rows, _simulate

    t0 = dt.datetime(2024, 1, 1)
    spec = [(1, "U", "a", 0), (5, "D", None, 1), (10, "D", None, 2),
            (7, "U", "b", 3), (8, "D", None, 4), (9, "U", "c", 5)]
    events = [
        {"seq": q, "conv_id": "c1", "turn_idx": 0, "role": "user",
         "text": text, "tool": None, "op": op,
         "ts": t0 + dt.timedelta(seconds=q), "batch_id": b}
        for q, op, text, b in spec
    ]
    cols = ["seq", "conv_id", "turn_idx", "role", "text", "tool", "op", "ts", "batch_id"]
    df = spark.createDataFrame(
        [tuple(e[c] for c in cols) for e in events],
        "seq long, conv_id string, turn_idx int, role string, text string, "
        "tool string, op string, ts timestamp, batch_id int",
    )
    want = _simulate(events)
    assert ("c1", 0, "c", 5, 2, True, 9, -1) in want
    assert ("c1", 0, "b", 3, 1, False, 8, 4) in want

    m = _merge()
    metrics = {}
    shapes = {"window": [[2, 3, 4, 5]], "chunks": [[2, 3], [4, 5]],
              "singles": [[2], [3], [4], [5]]}
    for name, windows in shapes.items():
        t = Scd2Table(spark, str(tmp_path / name), num_buckets=2)
        m.apply_batches(t, df, "batch_id", [0, 1])
        metrics[name] = {}
        for w in windows:
            metrics[name].update(m.apply_batches(t, df, "batch_id", w))
        assert _engine_rows(t) == want, name
    keys = ("inserted", "updated", "deleted", "unchanged", "stale", "deduped_keys")
    for name in ("window", "chunks"):
        for b in (2, 3, 4, 5):
            got = {k: metrics[name][b][k] for k in keys}
            assert got == {k: metrics["singles"][b][k] for k in keys}, (name, b)


def test_window_lanes_chunk_oversize_windows(spark, tmp_path, monkeypatch):
    """A rows-per-core budget far below the stream's size cuts every
    lane's window into consecutive sub-windows. On an out-of-order
    adversarial stream their commits must land the same hub, sat and link
    state as sequential per-batch application."""
    from pyelt_spark.plans.pipeline import TranscriptVault
    from pyelt_spark.streaming.runner import MicrobatchRunner
    from tests.test_random_differential import _gen_stream

    monkeypatch.setenv("SPARK_GRAFT_WINDOW_ROWS_PER_CORE", "30")
    rng = random.Random(4242)
    events = _gen_stream(rng, n_events=300, n_keys=20, n_batches=6)
    for e in events:
        if rng.random() < 0.3:
            e["tool"] = f"tool{rng.randrange(3)}"
    cols = ["seq", "conv_id", "turn_idx", "role", "text", "tool", "op", "ts", "batch_id"]
    df = spark.createDataFrame(
        [tuple(e[c] for c in cols) for e in events],
        "seq long, conv_id string, turn_idx int, role string, text string, "
        "tool string, op string, ts timestamp, batch_id long",
    )
    ids = sorted({e["batch_id"] for e in events})

    laned = TranscriptVault(spark, str(tmp_path / "laned"), num_buckets=4)
    MicrobatchRunner(laned).replay(df)
    serial = TranscriptVault(spark, str(tmp_path / "serial"), num_buckets=4)
    for b in ids:
        serial.apply_batch(df.filter(F.col("batch_id") == b), b)

    windows = [c.batch_ids or [c.batch_id] for c in laned.sat.head.commits()]
    assert len(windows) > 1 and max(len(w) for w in windows) > 1, windows
    assert [b for w in windows for b in w] == ids
    _assert_same(laned.hub.read(), serial.hub.read(), "hub")
    _assert_same(laned.link.read(), serial.link.read(), "link")
    _assert_same(
        laned.sat.read().drop("_bucket"), serial.sat.read().drop("_bucket"), "sat"
    )


def test_window_hub_and_link_match_sequential(spark, tmp_path):
    ev = transcript_change_events(spark, 4000, batch_size=250, seed=13).persist()
    try:
        ups = ev.filter(F.col("op") != "D")
        ids = sorted(int(r[0]) for r in ev.select("batch_id").distinct().collect())
        hm = HubMerge(business_keys=["conv_id"], hub_type="conversation")
        lm = LinkMerge(
            business_keys=["conv_id", "tool"],
            hub_type="conversation_tool",
            leg_keys={"conversation": ["conv_id"], "tool": ["tool"]},
        )
        h_seq = LakeTable(spark, str(tmp_path / "h1"), 4)
        h_win = LakeTable(spark, str(tmp_path / "h2"), 4)
        l_seq = LakeTable(spark, str(tmp_path / "l1"), 4)
        l_win = LakeTable(spark, str(tmp_path / "l2"), 4)
        seq_new = {}
        for b in ids:
            seq_new[b] = hm.apply_batch(h_seq, ups.filter(F.col("batch_id") == b), b)
            lm.apply_batch(
                l_seq,
                ups.filter((F.col("batch_id") == b) & F.col("tool").isNotNull()),
                b,
            )
        win_new = hm.apply_batches(h_win, ups, "batch_id", ids)
        lm.apply_batches(l_win, ups.filter(F.col("tool").isNotNull()), "batch_id", ids)
        _assert_same(h_seq.read(), h_win.read(), "hub")
        _assert_same(l_seq.read(), l_win.read(), "link")
        for b in ids:
            assert seq_new[b]["new_keys"] == win_new[b]["new_keys"], b
    finally:
        ev.unpersist()


def test_window_matches_sequential_across_schema_evolution(spark, tmp_path):
    """Head rows seeded under an OLD hash recipe, then a window whose
    batches carry an evolved payload column: the chain's first comparison
    must run under the head row's recipe version (no spurious reversions),
    rows with real new-column information must re-version, and deletes /
    bumps / inserts inside the window must all match sequential
    application — state and per-batch metrics alike."""
    import datetime

    from pyspark.sql import functions as F

    TS = datetime.datetime(2020, 1, 1)

    def mk(rows, with_meta):
        schema = (
            "seq long, conv_id string, turn_idx int, role string, text string, "
            "tool string, op string, ts timestamp"
            + (", meta string" if with_meta else "")
            + ", batch_id int"
        )
        return spark.createDataFrame(rows, schema)

    m3 = Scd2Merge(
        business_keys=["conv_id", "turn_idx"],
        payload_cols=["role", "text", "tool"],
        order_by=["seq"],
    )
    m4 = Scd2Merge(
        business_keys=["conv_id", "turn_idx"],
        payload_cols=["role", "text", "tool", "meta"],
        order_by=["seq"],
    )
    seed = [(1, "c1", 0, "user", "x", None, "U", TS, 0),
            (2, "c2", 0, "user", "y", None, "U", TS, 0)]
    evo = [
        (10, "c1", 0, "user", "x", None, "U", TS, None, 1),   # unchanged (old recipe)
        (11, "c2", 0, "user", "y2", None, "U", TS, None, 1),  # update
        (20, "c1", 0, "user", "x", None, "U", TS, None, 2),   # unchanged → bump
        (21, "c3", 0, "user", "z", None, "U", TS, "M3", 2),   # insert w/ meta
        (30, "c2", 0, None, None, None, "D", TS, None, 3),    # delete
        (31, "c1", 0, "user", "x", "tool1", "U", TS, None, 3),  # update
    ]
    t_seq = Scd2Table(spark, str(tmp_path / "seq"), num_buckets=4)
    t_win = Scd2Table(spark, str(tmp_path / "win"), num_buckets=4)
    for t in (t_seq, t_win):
        m3.apply_batch(t, mk(seed, False), 0)
    ev = mk(evo, True)
    sm = {
        b: m4.apply_batch(t_seq, ev.filter(F.col("batch_id") == b), b)
        for b in (1, 2, 3)
    }
    wm = m4.apply_batches(t_win, ev, "batch_id", [1, 2, 3])
    assert wm is not None, "window path unexpectedly fell back"
    _assert_same(t_seq.head.read(), t_win.head.read(), "head")
    _assert_same(t_seq.hist.read(), t_win.hist.read(), "hist")
    for b in (1, 2, 3):
        for k in ("inserted", "updated", "deleted", "unchanged", "deduped_keys"):
            assert sm[b][k] == wm[b][k], (b, k)


def test_window_runner_replay_matches_serial_vault(spark, tmp_path):
    """End-to-end: the windowed laned runner vs the serial per-batch vault
    loop — bit-identical hub/sat/link state (the equivalence the bench's
    replay path rides on)."""
    from pyelt_spark.plans.pipeline import TranscriptVault
    from pyelt_spark.streaming.runner import MicrobatchRunner

    ev = transcript_change_events(spark, 3000, batch_size=200, seed=29).persist()
    try:
        laned = TranscriptVault(spark, str(tmp_path / "laned"), num_buckets=4)
        MicrobatchRunner(laned).replay(ev)
        serial = TranscriptVault(spark, str(tmp_path / "serial"), num_buckets=4)
        for b in sorted(int(r[0]) for r in ev.select("batch_id").distinct().collect()):
            serial.apply_batch(ev.filter(F.col("batch_id") == b), b)
        _assert_same(laned.hub.read(), serial.hub.read(), "hub")
        _assert_same(laned.link.read(), serial.link.read(), "link")
        _assert_same(
            laned.sat.read().drop("_bucket"),
            serial.sat.read().drop("_bucket"),
            "sat",
        )
    finally:
        ev.unpersist()
