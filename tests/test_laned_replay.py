"""Laned replay: each table's batch chain runs as its own sequential lane,
lanes concurrent. These tests pin the two properties the restructure must
preserve: (1) a crash can now leave DIFFERENT tables at DIFFERENT batch
positions and resume still completes exactly-once; (2) the laned path
produces bit-identical table state to the serial per-batch loop, and the
lane gate falls back to serial whenever hooks/validations/views observe
cross-table part boundaries (reference run-order contract
pyelt/pipeline.py:657-744)."""

import datetime as dt

import pytest

from pyelt_spark.plans.pipe import (
    Pipe,
    SorToEntityMapping,
    SorToLinkMapping,
    SorToValueSetMapping,
)
from pyelt_spark.plans.pipeline import TranscriptVault
from pyelt_spark.sources.events import transcript_change_events
from pyelt_spark.streaming.runner import MicrobatchRunner

from tests.test_domain import (  # declared test domain + event helpers
    _SCHEMA,
    _ev,
    _mappings,
    Patient,
    PatientHandelingLink,
)


def test_laned_crash_lanes_at_different_batches(spark, tmp_path):
    """Crash the link lane mid-replay while the hub/sat lanes run to the
    end of the stream — the torn state has tables at DIFFERENT batch
    positions. Resume must complete exactly the missing (table, batch)
    cells and converge to the clean-replay state. (The lanes now apply
    their pending ids as one coalesced window, so the link crash is
    injected into its window call and leaves the link with NO commits —
    a strictly more torn state than the per-batch architecture's.)"""
    ev = transcript_change_events(spark, 1200, batch_size=400, seed=47).persist()
    vault = TranscriptVault(spark, str(tmp_path / "v"), num_buckets=4)

    def boom(*a, **k):
        raise RuntimeError("injected link-lane crash")

    vault.link_merge.apply_batches = boom
    vault.link_merge.apply_batch = boom
    with pytest.raises(RuntimeError, match="injected link-lane crash"):
        MicrobatchRunner(vault).replay(ev)

    # torn ACROSS batches: link never committed; sat/hub lanes ran 0..2
    assert vault.link.committed_batch_ids() == set()
    assert vault.sat.committed_batch_ids() >= {0, 1, 2}
    assert vault.hub.committed_batch_ids() >= {0, 1, 2}

    # restart: fresh handles, same stream — only the missing cells apply
    vault2 = TranscriptVault(spark, str(tmp_path / "v"), num_buckets=4)
    out = MicrobatchRunner(vault2).replay(ev)
    assert out[0]["sat"] == {"skipped_duplicate_batch": 0}
    assert out[1]["sat"] == {"skipped_duplicate_batch": 1}
    assert out[1]["hub"] == {"skipped_duplicate_batch": 1}
    assert "new_keys" in out[1]["link"]  # the crashed cell completed now

    clean = TranscriptVault(spark, str(tmp_path / "clean"), num_buckets=4)
    MicrobatchRunner(clean).replay(ev)
    for tbl in ("hub", "link"):
        a = getattr(vault2, tbl).read()
        b = getattr(clean, tbl).read()
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    a = vault2.sat.read().drop("_bucket")
    b = clean.sat.read().drop("_bucket")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    ev.unpersist()


def _pipe_events(spark):
    rows = [
        # batch 0: two patients, one handeling+link, one valueset code
        _ev(1, "p1", "Jan", straat="Dam 1", adres_type="postadres") + (0,),
        _ev(2, "p2", "Piet", handeling="h1", dyn_type="locatie", dyn_key="l9") + (0,),
        # batch 1: update p1, new patient+handeling, second valueset code
        _ev(3, "p1", "Jan B", straat="Dam 2", adres_type="bezoekadres") + (1,),
        _ev(4, "p3", "Kees", handeling="h2") + (1,),
        # batch 2: delete p2, re-link p1
        _ev(5, "p2", "Piet", op="D") + (2,),
        _ev(6, "p1", "Jan B", handeling="h1", dyn_type="locatie", dyn_key="l9") + (2,),
    ]
    return spark.createDataFrame(rows, _SCHEMA + ", batch_id int")


def test_laned_pipe_matches_serial(spark, tmp_path):
    """The laned Pipe.replay and the serial per-batch loop (forced via a
    no-op hook) must land bit-identical state on every table."""
    ev = _pipe_events(spark)

    laned = Pipe(spark, str(tmp_path / "laned"), _mappings(), num_buckets=4)
    assert laned._laneable(None)
    laned.replay(ev)

    serial = Pipe(spark, str(tmp_path / "serial"), _mappings(), num_buckets=4)
    serial.add_hook("before_hubs", lambda p, df, b: None)
    assert not serial._laneable(None)
    serial.replay(ev)

    pairs = [
        (laned.hubs[Patient], serial.hubs[Patient]),
        (laned.sats["patient_sat"], serial.sats["patient_sat"]),
        (laned.sats["patient_sat_adres"], serial.sats["patient_sat_adres"]),
        (laned.links[PatientHandelingLink], serial.links[PatientHandelingLink]),
        (laned.valuesets["adres_type"], serial.valuesets["adres_type"]),
    ]
    for ta, tb in pairs:
        a = ta.read().drop("_bucket")
        b = tb.read().drop("_bucket")
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, ta


def test_laned_pipe_crash_resume(spark, tmp_path):
    """Torn laned Pipe replay: the link lane dies at batch 1, the
    hub/sat/valueset lanes finish the stream; a fresh Pipe resumes and
    matches a clean serial replay."""
    from pyelt_spark.operators.hubs import LinkMerge

    ev = _pipe_events(spark)
    pipe = Pipe(spark, str(tmp_path / "dv"), _mappings(), num_buckets=4)

    def boom(self, *a, **k):
        raise RuntimeError("injected link-lane crash")

    LinkMerge.apply_batch = boom
    LinkMerge.apply_batches = boom
    try:
        with pytest.raises(RuntimeError, match="injected link-lane crash"):
            pipe.replay(ev)
    finally:
        del LinkMerge.apply_batch  # restore the HubMerge-inherited methods
        del LinkMerge.apply_batches

    link_t = pipe.links[PatientHandelingLink]
    assert 1 not in link_t.committed_batch_ids()
    assert {1, 2} <= pipe.sats["patient_sat"].committed_batch_ids()

    pipe2 = Pipe(spark, str(tmp_path / "dv"), _mappings(), num_buckets=4)
    pipe2.replay(ev)

    clean = Pipe(spark, str(tmp_path / "clean"), _mappings(), num_buckets=4)
    for b in (0, 1, 2):
        clean.run(ev.filter(f"batch_id = {b}").drop("batch_id"), batch_id=b)

    for name in ("patient_sat", "patient_sat_adres"):
        a = pipe2.sats[name].read().drop("_bucket")
        b = clean.sats[name].read().drop("_bucket")
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, name
    a = pipe2.links[PatientHandelingLink].read()
    b = clean.links[PatientHandelingLink].read()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
