"""The transcript vault pipeline — Pipeline/Pipe analog.

Orchestrates the per-microbatch DAG of the reference's ``Pipe.run``
(pyelt/pipeline.py:657-744): staging → hubs → sats → links, re-expressed
as three independent merges off ONE deduped batch (hash surrogate keys
remove the reference's sequential FK-writeback, SURVEY §3 entry point 2):

* ``conversation_hub``  — insert-only distinct conv_id (dv.py:48-51)
* ``turn_sat``          — SCD2 history of (conv_id, turn_idx) payload
                          (role, text, tool), hashdiff change detection,
                          delete tombstones (dv.py:55-62, ddl.py:334-348)
* ``conversation_tool_link`` — insert-only (conv_id, tool) association
                          (dv.py:88-96)

plus a ``runs`` bookkeeping log (sys.runs analog, dwh.py:115-147) kept in
each table's commit manifests.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyelt_spark.plans.domain import Col, HubEntity, Link, LinkEntity, LinkReference, Sat
from pyelt_spark.plans.pipe import Pipe, SorToEntityMapping, SorToLinkMapping

PAYLOAD_COLS = ["role", "text", "tool"]
BUSINESS_KEYS = ["conv_id", "turn_idx"]


# --------------------------------------------------------------------------
# the transcript DOMAIN — declared, not wired (dv_metaclasses.py analog);
# table names, key sets, payload order and the merge set all derive from
# these classes through plans/domain.py + plans/pipe.py
# --------------------------------------------------------------------------


class Conversation(HubEntity):
    __bk__ = ["conv_id"]

    class Turn(Sat):
        turn_idx = Col("int", key=True)   # sat grain below the hub key
        role = Col()
        text = Col()
        tool = Col()


class Tool(HubEntity):
    """Key-only leg entity: the tool leg of the link is a bare business key
    (the reference models this as a hub the link FKs into; here the hash FK
    needs no materialized hub table — none is mapped)."""

    __bk__ = ["tool"]


class ConversationToolLink(LinkEntity):
    class Link(Link):
        conversation = LinkReference(Conversation)
        tool = LinkReference(Tool)


class TranscriptVault:
    """Hub/sat/link vault over a transcript change-event stream.

    The tables and merges are COMPILED from the declared domain above by
    the generic ``Pipe`` (one SorToEntityMapping + one SorToLinkMapping);
    this class only adds the transcript-specific batch policy (additive
    payload evolution from unseen event columns) and the tuned three-way
    concurrent submit the benchmark exercises."""

    def __init__(self, spark: SparkSession, root: str, num_buckets: int = 32):
        self.spark = spark
        self.root = root
        self.pipe = Pipe(
            spark,
            root,
            mappings=[
                SorToEntityMapping(entity=Conversation),
                SorToLinkMapping(
                    link=ConversationToolLink, filter="tool IS NOT NULL"
                ),
            ],
            num_buckets=num_buckets,
        )
        self.hub = self.pipe.hub_table(Conversation)
        self.sat = self.pipe.sat_table(Conversation.Turn)
        self.link = self.pipe.link_table(ConversationToolLink)
        self.sat_merge = self.pipe.sat_merges[Conversation.Turn.__dbname__]
        self.hub_merge = self.pipe.hub_merges[Conversation]
        self.link_merge = self.pipe.link_merges[ConversationToolLink]

    # ----------------------------------------------------------------- apply

    def batch_sat_merge(self, events: DataFrame):
        """Per-batch sat-merge config: declared payload cols present in the
        batch plus any new (additive-evolution) cols. Built per batch —
        mutating the shared self.sat_merge would make the vault
        non-reentrant and column-order-dependent (ADVICE r1)."""
        from dataclasses import replace

        base = self.sat_merge.payload_cols
        payload_cols = [c for c in base if c in events.columns] + [
            c
            for c in events.columns
            if c not in base
            and c not in BUSINESS_KEYS
            and c not in ("seq", "op", "batch_id", "ts")
        ]
        return replace(self.sat_merge, payload_cols=payload_cols)

    def apply_batch(
        self,
        events: DataFrame,
        batch_id: int,
        lineage: dict[str, Any] | None = None,
        affected: dict[str, list[int]] | None = None,
    ) -> dict[str, Any]:
        """One microbatch: dedup once, then hub / sat / link merges.

        Idempotent per batch_id on every table (exactly-once replay).
        """
        sat_merge = self.batch_sat_merge(events)

        # NOTE (measured at 16M events, pinned local[8]): caching the batch
        # so the three merges share one materialization is a LOSS (153 s →
        # 174 s replay) — the per-table parquet re-scans are columnar and
        # cheap, while a 4M-row deserialized cache costs fill time and GC
        # pressure. Keep the three scans.

        # hub/link are registries of every key EVER seen upserting — they feed
        # from raw upsert events (a turn created and deleted inside one batch
        # still registers its conversation); the sat merge dedups internally
        upserts = events.filter(F.col("op") != "D") if "op" in events.columns else events

        # the three merges touch disjoint tables and all derive from the same
        # batch — submit them concurrently (Spark's scheduler interleaves the
        # jobs; on a cluster this overlaps three shuffle/write pipelines)
        from concurrent.futures import ThreadPoolExecutor

        # [] (vs None = unknown) means the replay probe proved this batch
        # feeds the table no rows (hash keys are never null, so the probe
        # is a superset) — skip that merge with zero Spark jobs. In steady
        # state the link sees this whenever a batch carries no tool turns.
        aff = affected or {}
        skipped = {"skipped_empty_batch": batch_id}
        with ThreadPoolExecutor(max_workers=3) as pool:
            f_hub = None if aff.get("hub") == [] else pool.submit(
                self.hub_merge.apply_batch, self.hub, upserts, batch_id,
                aff.get("hub"),
            )
            f_sat = None if aff.get("sat") == [] else pool.submit(
                sat_merge.apply_batch, self.sat, events, batch_id, lineage or {},
                aff.get("sat"),
            )
            f_link = None if aff.get("link") == [] else pool.submit(
                self.link_merge.apply_batch,
                self.link,
                upserts.filter(F.col("tool").isNotNull()),
                batch_id,
                aff.get("link"),
            )
            out = {
                "hub": f_hub.result() if f_hub else skipped,
                "sat": f_sat.result() if f_sat else skipped,
                "link": f_link.result() if f_link else skipped,
            }
        self.maintain()
        return out

    def maintain(self, max_dirs_per_bucket: int = 16) -> None:
        """Small-file maintenance: append-mode tables (hub/link, sat history)
        gain one dir per touched bucket per batch; compact any bucket whose
        manifest references more than ``max_dirs_per_bucket`` dirs. Manifest
        inspection is in-memory — zero cost when nothing is fragmented."""
        for t in (self.hub, self.link, self.sat.hist):
            t.compact_if_crowded(max_dirs_per_bucket)

    def replay(self, events: DataFrame, batch_col: str = "batch_id") -> list[dict]:
        """Replay a full change stream batch-by-batch in batch order."""
        batch_ids = [
            r[0] for r in events.select(batch_col).distinct().orderBy(batch_col).collect()
        ]
        out = []
        for b in batch_ids:
            out.append(
                self.apply_batch(events.filter(F.col(batch_col) == b), int(b))
            )
        return out

    # ----------------------------------------------------------------- views

    def current_turns(self) -> DataFrame:
        """Current-state view: active, non-deleted turn versions in stable
        (conv_id, turn_idx) order — the per-turn text-equality invariant's
        subject (ensemble-view analog, ddl.py:505-531)."""
        s = self.sat_merge.sys
        return (
            self.sat.current()
            .select("conv_id", "turn_idx", "role", "text", "tool", s.revision, s.runid)
            .orderBy("conv_id", "turn_idx")
        )

    def conversation_view(self, conv_id: str) -> DataFrame:
        """Hub LEFT JOIN active sat for one conversation (pruned read)."""
        s = self.sat_merge.sys
        hub = self.hub.read().filter(F.col("conv_id") == conv_id)
        sat = self.sat.current().filter(F.col("conv_id") == conv_id)
        return hub.select("_key", "bk", "conv_id").join(
            sat.select(
                "conv_id", "turn_idx", "role", "text", "tool", s.revision
            ),
            "conv_id",
            "left",
        ).orderBy("turn_idx")

    def record_status(self) -> DataFrame:
        """RecordStatusSat analog (dv.py:85-86, etl.py:495-505): one row per
        currently-deleted key with the run that deleted it — the head's
        tombstones, no extra table needed."""
        s = self.sat_merge.sys
        return (
            self.sat.head.read()
            .filter(~F.col(s.active) & F.col(s.deleted_runid).isNotNull())
            .select(
                "conv_id",
                "turn_idx",
                F.col(s.deleted_runid).alias("deleted_runid"),
                F.col(s.finish_ts).alias("deleted_ts"),
                F.col(s.revision).alias("last_revision"),
            )
        )

    def runs_log(self) -> list[dict]:
        """sys.runs analog: merge metrics of every committed batch."""
        return [c.metrics for c in self.sat.commits() if c.batch_id is not None]
