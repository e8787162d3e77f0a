"""Differential test: the engine's full replay vs a pure-Python simulator
of the merge-apply spec, on a seeded adversarial stream (duplicate events,
out-of-order seq ACROSS batches, deletes, reinserts, no-op updates).

The fixed generator tests golden paths; this one walks the verdict lattice
(insert/update/noop/bump/delete/reinsert/stale) with random interleavings,
applied batch by batch and as windows (all batches in one
``apply_batches``, and consecutive pairs).
"""

import datetime as dt
import random

import pytest

from pyelt_spark.operators.scd2 import Scd2Merge, Scd2Table

T0 = dt.datetime(2024, 1, 1)


def _gen_stream(rng: random.Random, n_events: int, n_keys: int, n_batches: int):
    """Adversarial stream: seq assigned randomly (so later batches may carry
    SMALLER seqs → cross-batch stale events), small text space (no-op
    updates), ~15% deletes, exact-duplicate events."""
    seqs = list(range(1, n_events * 3, 3))
    rng.shuffle(seqs)
    events = []
    for i in range(n_events):
        key = rng.randrange(n_keys)
        op = "D" if rng.random() < 0.15 else "U"
        text = f"t{rng.randrange(4)}"
        events.append(
            {
                "seq": seqs[i],
                "conv_id": f"c{key}",
                "turn_idx": key % 5,
                "role": "user",
                "text": text,
                "tool": None,
                "op": op,
                "ts": T0 + dt.timedelta(seconds=seqs[i]),
                "batch_id": rng.randrange(n_batches),
            }
        )
    # exact duplicates (same payload → tiebreak-neutral)
    events += [dict(e) for e in rng.sample(events, max(n_events // 10, 1))]
    return events


def _simulate(events):
    """Reference simulator of the spec (head/hist union)."""
    head: dict = {}
    hist: list = []
    batches = sorted({e["batch_id"] for e in events})
    for b in batches:
        batch = [e for e in events if e["batch_id"] == b]
        # latest-per-key dedup by seq (duplicates are payload-identical)
        winners: dict = {}
        for e in batch:
            k = (e["conv_id"], e["turn_idx"])
            if k not in winners or e["seq"] > winners[k]["seq"]:
                winners[k] = e
        for k, e in winners.items():
            content = (e["role"], e["text"], e["tool"])
            row = head.get(k)
            if row is not None and e["seq"] < row["_seq"]:
                continue  # stale
            if e["op"] == "D":
                if row is not None and row["_active"]:
                    row.update(
                        _active=False,
                        _finish_ts=e["ts"],
                        _deleted_runid=b,
                        _seq=e["seq"],
                    )
                continue  # delete of dead/unknown key: noop
            if row is not None and row["_active"] and row["content"] == content:
                if e["seq"] > row["_seq"]:
                    row["_seq"] = e["seq"]  # bump
                continue
            new = {
                "conv_id": e["conv_id"], "turn_idx": e["turn_idx"],
                "content": content, "text": e["text"],
                "_runid": b, "_active": True, "_insert_ts": e["ts"],
                "_finish_ts": None, "_deleted_runid": None,
                "_revision": (row["_revision"] + 1) if row is not None else 0,
                "_seq": e["seq"],
            }
            if row is not None:
                if row["_active"]:  # update: close and move to hist
                    row = dict(row)
                    row.update(_active=False, _finish_ts=e["ts"])
                hist.append(row)
            head[k] = new
    rows = hist + list(head.values())
    return sorted(
        (
            r["conv_id"], r["turn_idx"], r["text"], r["_runid"], r["_revision"],
            bool(r["_active"]), r["_seq"],
            r["_deleted_runid"] if r["_deleted_runid"] is not None else -1,
        )
        for r in rows
    )


def _engine_rows(table, meta: bool = False):
    """Full SCD2 history in the simulator's row shape."""
    return sorted(
        (
            r["conv_id"], r["turn_idx"], r["text"],
            *((r["meta"],) if meta else ()),
            r["_runid"], r["_revision"], bool(r["_active"]), r["_seq"],
            r["_deleted_runid"] if r["_deleted_runid"] is not None else -1,
        )
        for r in table.read().collect()
    )


def _windows(ids, shape: str):
    """Batch ids cut into the windows one replay shape applies."""
    size = {"all": len(ids), "pairs": 2, "singles": 1}[shape]
    return [ids[i:i + size] for i in range(0, len(ids), size)]


def _apply(merge, table, df, ids, shape: str) -> None:
    for w in _windows(ids, shape):
        if shape == "singles":
            merge.apply_batch(table, df.filter(f"batch_id = {w[0]}"), batch_id=int(w[0]))
        else:
            merge.apply_batches(table, df, "batch_id", w)


def test_engine_matches_simulator_on_adversarial_stream(spark, tmp_path):
    _check_adversarial(spark, tmp_path, "singles")


@pytest.mark.parametrize("shape", ["all", "pairs"])
def test_window_matches_simulator_on_adversarial_stream(spark, tmp_path, shape):
    """Window-coalesced application must hit the same spec: cross-batch
    stale seqs, deletes on tombstones and duplicates inside one window."""
    _check_adversarial(spark, tmp_path, shape)


def _check_adversarial(spark, tmp_path, shape: str) -> None:
    rng = random.Random(20240817)
    events = _gen_stream(rng, n_events=240, n_keys=25, n_batches=4)
    schema = (
        "seq long, conv_id string, turn_idx int, role string, text string, "
        "tool string, op string, ts timestamp, batch_id long"
    )
    cols = ["seq", "conv_id", "turn_idx", "role", "text", "tool", "op", "ts", "batch_id"]
    df = spark.createDataFrame([tuple(e[c] for c in cols) for e in events], schema)

    t = Scd2Table(spark, str(tmp_path / "sat"), num_buckets=8)
    m = Scd2Merge(
        business_keys=["conv_id", "turn_idx"],
        payload_cols=["role", "text", "tool"],
        order_by=["seq"],
    )
    _apply(m, t, df, sorted({e["batch_id"] for e in events}), shape)

    got = _engine_rows(t)
    want = _simulate(events)
    assert got == want, (
        f"engine={len(got)} rows, sim={len(want)} rows; "
        f"first diff: {next(((a, b) for a, b in zip(got, want) if a != b), None)}"
    )


def _simulate_evolved(events, evolve_from_batch):
    """Simulator with an additive `meta` column arriving at batch E:
    state rows carry their recipe version; a v1 row is unchanged only if
    the old-recipe content matches AND the new column is null."""
    head, hist = {}, []
    for b in sorted({e["batch_id"] for e in events}):
        batch = [e for e in events if e["batch_id"] == b]
        evolved = b >= evolve_from_batch
        winners = {}
        for e in batch:
            k = (e["conv_id"], e["turn_idx"])
            if k not in winners or e["seq"] > winners[k]["seq"]:
                winners[k] = e
        for k, e in winners.items():
            c3 = (e["role"], e["text"], e["tool"])
            meta = e.get("meta") if evolved else None
            row = head.get(k)
            if row is not None and e["seq"] < row["_seq"]:
                continue
            if e["op"] == "D":
                if row is not None and row["_active"]:
                    row.update(_active=False, _deleted_runid=b, _seq=e["seq"])
                continue
            if row is not None and row["_active"]:
                if row["rv"] == 1:
                    unchanged = row["c3"] == c3 and meta is None
                else:
                    unchanged = row["c3"] == c3 and row["meta"] == meta
                if unchanged:
                    if e["seq"] > row["_seq"]:
                        row["_seq"] = e["seq"]
                    continue
            new = {
                "conv_id": e["conv_id"], "turn_idx": e["turn_idx"],
                "c3": c3, "meta": meta, "text": e["text"],
                "rv": 2 if evolved else 1,
                "_runid": b, "_active": True,
                "_deleted_runid": None,
                "_revision": (row["_revision"] + 1) if row is not None else 0,
                "_seq": e["seq"],
            }
            if row is not None:
                hist.append(dict(row, _active=False) if row["_active"] else dict(row))
            head[k] = new
    rows = hist + list(head.values())
    return sorted(
        (
            r["conv_id"], r["turn_idx"], r["text"], r["meta"], r["_runid"],
            r["_revision"], bool(r["_active"]), r["_seq"],
            r["_deleted_runid"] if r["_deleted_runid"] is not None else -1,
        )
        for r in rows
    )


def test_engine_matches_simulator_under_schema_evolution(spark, tmp_path):
    _check_evolution(spark, tmp_path, "singles")


@pytest.mark.parametrize("shape", ["all", "pairs"])
def test_window_matches_simulator_under_schema_evolution(spark, tmp_path, shape):
    """``pairs`` windows the evolved batches over a head written under the
    old recipe; ``all`` applies every batch in one window under the new
    recipe (rows without ``meta`` then compare exactly as old-recipe rows
    do, so the spec's output is the same)."""
    _check_evolution(spark, tmp_path, shape)


def _check_evolution(spark, tmp_path, shape: str) -> None:
    rng = random.Random(99)
    EVOLVE_AT = 2
    events = _gen_stream(rng, n_events=200, n_keys=20, n_batches=4)
    for e in events:
        # meta exists only from batch 2 on; sparse (None-heavy) to exercise
        # the no-new-info rule against v1 state rows
        e["meta"] = (
            f"m{rng.randrange(3)}" if e["batch_id"] >= EVOLVE_AT and rng.random() < 0.4
            else None
        )

    cols3 = ["seq", "conv_id", "turn_idx", "role", "text", "tool", "op", "ts", "batch_id"]
    cols4 = cols3 + ["meta"]
    s3 = (
        "seq long, conv_id string, turn_idx int, role string, text string, "
        "tool string, op string, ts timestamp, batch_id long"
    )
    s4 = s3 + ", meta string"

    t = Scd2Table(spark, str(tmp_path / "sat"), num_buckets=8)
    m1 = Scd2Merge(
        business_keys=["conv_id", "turn_idx"],
        payload_cols=["role", "text", "tool"], order_by=["seq"],
    )
    m2 = Scd2Merge(
        business_keys=["conv_id", "turn_idx"],
        payload_cols=["role", "text", "tool", "meta"], order_by=["seq"],
    )
    ids = sorted({e["batch_id"] for e in events})
    old_ids = [b for b in ids if b < EVOLVE_AT]
    if shape == "all":
        df4 = spark.createDataFrame([tuple(e[c] for c in cols4) for e in events], s4)
        _apply(m2, t, df4, ids, shape)
    else:
        df3 = spark.createDataFrame(
            [tuple(e[c] for c in cols3) for e in events if e["batch_id"] < EVOLVE_AT], s3
        )
        df4 = spark.createDataFrame(
            [tuple(e[c] for c in cols4) for e in events if e["batch_id"] >= EVOLVE_AT], s4
        )
        _apply(m1, t, df3, old_ids, shape)
        _apply(m2, t, df4, [b for b in ids if b >= EVOLVE_AT], shape)

    got = _engine_rows(t, meta=True)
    want = _simulate_evolved(events, EVOLVE_AT)
    assert got == want, (
        f"engine={len(got)} sim={len(want)}; "
        f"first diff: {next(((a, b) for a, b in zip(got, want) if a != b), None)}"
    )


def test_laned_replay_matches_serial_on_adversarial_stream(spark, tmp_path):
    """The laned replay orchestration (per-table window lanes,
    probe-proven empty-batch skips) must land the same vault state as the
    serial per-batch loop on an ADVERSARIAL stream — duplicates,
    cross-batch stale seqs, deletes, reinserts — not just the fixed
    generator's golden paths."""
    from pyelt_spark.plans.pipeline import TranscriptVault
    from pyelt_spark.streaming.runner import MicrobatchRunner

    rng = random.Random(20260817)
    events = _gen_stream(rng, n_events=300, n_keys=20, n_batches=6)
    # ~20% tool turns so the link lane has real work; leave at least one
    # batch tool-less by chance to exercise the zero-job link skip
    for e in events:
        if rng.random() < 0.2:
            e["tool"] = f"tool{rng.randrange(3)}"
    schema = (
        "seq long, conv_id string, turn_idx int, role string, text string, "
        "tool string, op string, ts timestamp, batch_id long"
    )
    cols = ["seq", "conv_id", "turn_idx", "role", "text", "tool", "op", "ts", "batch_id"]
    df = spark.createDataFrame([tuple(e[c] for c in cols) for e in events], schema)

    laned = TranscriptVault(spark, str(tmp_path / "laned"), num_buckets=4)
    MicrobatchRunner(laned).replay(df)

    serial = TranscriptVault(spark, str(tmp_path / "serial"), num_buckets=4)
    for b in sorted({e["batch_id"] for e in events}):
        serial.apply_batch(df.filter(f"batch_id = {b}"), int(b))

    for name in ("hub", "link"):
        a = getattr(laned, name).read()
        c = getattr(serial, name).read()
        assert a.exceptAll(c).count() == 0 and c.exceptAll(a).count() == 0, name
    a = laned.sat.read().drop("_bucket")
    c = serial.sat.read().drop("_bucket")
    assert a.exceptAll(c).count() == 0 and c.exceptAll(a).count() == 0
