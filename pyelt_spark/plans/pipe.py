"""Generic multi-entity pipeline orchestration — ``Pipe.run(parts)`` analog.

The reference sequences one load run as
sor → valuesets → hubs → views → links → viewlinks over a declared list of
mappings (pyelt/pipeline.py:657-744); each mapping type selects its ETL
routine (SourceToSorMapping → source_to_sor, SorToEntityMapping →
sor_to_entity, EntityViewToEntityMapping → view_to_entity,
SorToLinkMapping → sor_to_link, EntityViewToLinkMapping → view_to_link,
pyelt/mappings/*.py).

Here a ``Pipe`` compiles a declared domain (plans/domain.py) into the
engine's bucket-pruned lake tables and runs the same part order per
microbatch. Differences are Spark-first, not semantic:

* "sor staging" is the incoming microbatch DataFrame plus declarative
  field mappings (no staging tables — Catalyst fuses the projection into
  every downstream merge).
* hub / sat / link merges for one part run CONCURRENTLY (disjoint tables,
  one shared deduped batch) — the reference's serial FK-writeback loop
  does not exist because surrogate keys are hashes.
* every merge is idempotent per (table, batch_id), so a crash anywhere
  inside ``run`` resumes exactly-once by re-running the batch (the same
  property TranscriptVault has; tested by the torn-vault tests).
"""

from __future__ import annotations

import logging
import os
from collections import OrderedDict
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyelt_spark.operators.hubs import HubMerge, LinkMerge
from pyelt_spark.operators.scd2 import Scd2Merge, Scd2Table
from pyelt_spark.plans.domain import (
    DynamicLinkReference,
    HubEntity,
    HybridLink,
    HybridSat,
    LinkEntity,
    Sat,
)
from pyelt_spark.storage.lake import LakeTable

ALL_PARTS = ["sor", "valuesets", "hubs", "views", "links", "viewlinks"]


log = logging.getLogger(__name__)


def _window_chunks(
    spark, lane: str, ids: list[int], rows: dict[int, int]
) -> list[list[int]]:
    """Cut a lane's pending ids into consecutive sub-windows of at most
    ``SPARK_GRAFT_WINDOW_ROWS_PER_CORE`` × cores input rows each (a batch
    over the budget on its own forms a chunk of one). Coalescing trades
    per-batch fixed costs for one big per-key chain (sorts, a full-outer
    join), which wins while the per-task state fits comfortably in memory
    and loses once concurrent sort tasks spill (measured: 16M events on 8
    pinned cores ran 202 s as one window vs 135 s per-batch, while 1M
    events on 32 cores ran 13 s windowed vs 20 s per-batch). The budget
    scales with the session's parallelism and is env-tunable for machines
    with different memory/core ratios."""
    per_core = int(os.environ.get("SPARK_GRAFT_WINDOW_ROWS_PER_CORE", "200000"))
    budget = per_core * max(spark.sparkContext.defaultParallelism, 1)
    chunks: list[list[int]] = []
    used = 0
    for b in ids:
        n = rows.get(b, 0)
        if chunks and used + n <= budget:
            chunks[-1].append(b)
            used += n
        else:
            chunks.append([b])
            used = n
    if len(chunks) > 1:
        log.info(
            "lane %s: %d rows exceed the %d-row window budget; split into %s",
            lane, sum(rows.get(b, 0) for b in ids), budget,
            ", ".join(
                f"{c[0]}-{c[-1]} ({sum(rows.get(b, 0) for b in c)} rows)"
                for c in chunks
            ),
        )
    return chunks


def _apply_lane(
    spark,
    lane: str,
    batch_ids: list[int],
    affected: dict[int, dict[str, list[int]]],
    rows_per: dict[tuple[int, str], int],
    window: Callable[[list[int], list[int] | None], dict[int, dict]],
) -> dict[int, dict]:
    """Apply one table's pending batches as consecutive windows through
    ``window(ids, buckets)`` (the table's ``apply_batches``), and return
    each batch's metrics. A window of one batch takes the merge's
    single-batch path. Batches the replay probe proved empty for this
    table are skipped; a table the probe never saw (valuesets,
    unprobeable mappings) has no row counts or bucket evidence, so it
    applies as one window whose merge discovers its own buckets."""
    slots = {b: affected.get(b) or {} for b in batch_ids}
    probed = any(lane in slot for slot in slots.values())
    ids = [b for b in batch_ids if slots[b].get(lane) != []]
    if not ids:
        chunks = []
    elif probed:
        chunks = _window_chunks(
            spark, lane, ids, {b: rows_per.get((b, lane), 0) for b in ids}
        )
    else:
        chunks = [ids]
    out: dict[int, dict] = {}
    for chunk in chunks:
        if len(chunk) == 1:
            log.info("lane %s: batch %d alone, single-batch apply", lane, chunk[0])
        else:
            log.info(
                "lane %s: window %d-%d (%d batches)",
                lane, chunk[0], chunk[-1], len(chunk),
            )
        buckets = (
            sorted({k for b in chunk for k in slots[b].get(lane) or []})
            if probed
            else None
        )
        out.update(window(chunk, buckets))
    return {b: out.get(b, {"skipped_empty_batch": b}) for b in batch_ids}


def _union(frames: list[DataFrame], allow_missing: bool = True) -> DataFrame:
    """Fold per-mapping frames into one (multiple mappings targeting one
    table write through a single job — single-writer commit protocol).
    ``allow_missing=False`` where the frames are built to a fixed shape
    (valuesets) so a drifting mapping fails loudly instead of null-filling."""
    u = frames[0]
    for f in frames[1:]:
        u = u.unionByName(f, allowMissingColumns=allow_missing)
    return u


# --------------------------------------------------------------------------
# mapping declarations (pyelt/mappings/sor_to_dv_mappings.py analogs)
# --------------------------------------------------------------------------


@dataclass
class SorToEntityMapping:
    """Batch → one entity's hub + sats (sor_to_entity, etl.py:410-520).

    ``field_map``: target column → source SQL expression (auto-map by name
    when omitted); ``filter``: SQL predicate applied first; ``sats``
    restricts to the named sats (default: all of the entity's sats)."""

    entity: type[HubEntity]
    field_map: dict[str, str] = field(default_factory=dict)
    filter: str | None = None
    sats: list[str] | None = None
    # snapshot=True: the batch is a FULL snapshot, not a change stream —
    # rows become upserts at seq=batch_id and active keys missing from the
    # snapshot become deletes (the reference's file-load path,
    # etl.py:108-187, via operators.scd2.apply_snapshot)
    snapshot: bool = False


@dataclass
class SorToLinkMapping:
    """Batch → link rows (sor_to_link, etl.py:680-830). For HybridLink,
    ``type_expr`` supplies the discriminator (constant or SQL expr)."""

    link: type[LinkEntity]
    field_map: dict[str, str] = field(default_factory=dict)
    filter: str | None = None
    type_expr: str | None = None


@dataclass
class SorToValueSetMapping:
    """Batch → valueset registry (sor_to_valuesets, etl.py:370-408):
    insert-only distinct (valueset_name, code, omschrijving)."""

    valueset_name: str
    code: str
    descr: str
    filter: str | None = None


@dataclass
class EntityViewToEntityMapping:
    """DV view → entity promotion (view_to_entity, pipeline.py:710-717 +
    etl.py view_to_entity): the view is a DataFrame-valued function of the
    pipe (a query over already-loaded vault tables); its rows upsert into
    the target entity like a source batch (no delete detection — a view
    promotion only ever adds or revises)."""

    view: Callable[["Pipe"], DataFrame]
    entity: type[HubEntity]
    sats: list[str] | None = None


@dataclass
class EntityViewToLinkMapping:
    """DV view → link promotion (view_to_link, pipeline.py:731-737)."""

    view: Callable[["Pipe"], DataFrame]
    link: type[LinkEntity]
    type_expr: str | None = None


# --------------------------------------------------------------------------
# pipe
# --------------------------------------------------------------------------


class Pipe:
    """Compile a mapping list into tables + merges; run parts per batch."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        mappings: list[Any],
        num_buckets: int = 32,
        order_by: list[str] | None = None,
        op_col: str | None = "op",
        ts_col: str = "ts",
        source_system: str = "events",
        validations: list[Any] | None = None,
    ):
        self.spark = spark
        self.root = root
        self.mappings = mappings
        self.num_buckets = num_buckets
        self.order_by = order_by or ["seq"]
        self.op_col = op_col
        self.ts_col = ts_col
        self.source_system = source_system
        # declared row validations (RowCondition / DuplicateKeys), run as a
        # pipeline stage before any merge — pipe.validations analog
        # (reference pipeline.py:675-679; invalid rows quarantined and
        # excluded from the DV, test04_validations.py:47-53)
        self.validations: list[Any] = list(validations or [])
        self._exceptions: LakeTable | None = None
        # run_before_* / run_after_* hooks (reference pipeline.py:554-555,
        # :663-664, :680-683): callables (pipe, batch, batch_id) fired at
        # each part boundary. Keys: "before_sor", "after_hubs", ...
        self.hooks: dict[str, list[Callable[["Pipe", DataFrame | None, int], None]]] = {}

        self.hubs: "OrderedDict[type[HubEntity], LakeTable]" = OrderedDict()
        self.hub_merges: dict[type[HubEntity], HubMerge] = {}
        self.sats: "OrderedDict[str, Scd2Table]" = OrderedDict()
        self.sat_merges: dict[str, Scd2Merge] = {}
        self.links: "OrderedDict[type[LinkEntity], LakeTable]" = OrderedDict()
        self.link_merges: dict[type[LinkEntity], LinkMerge] = {}
        self.valuesets: dict[str, LakeTable] = {}

        for m in mappings:
            if isinstance(m, (SorToEntityMapping, EntityViewToEntityMapping)):
                self._ensure_entity(m.entity)
            elif isinstance(m, (SorToLinkMapping, EntityViewToLinkMapping)):
                self._ensure_link(m.link)
            elif isinstance(m, SorToValueSetMapping):
                self._ensure_valueset(m.valueset_name)

    # ------------------------------------------------------------- compile

    def _ensure_entity(self, entity: type[HubEntity]) -> None:
        owner = entity.__entity_owner__
        if owner not in self.hubs:
            self.hubs[owner] = LakeTable(
                self.spark, os.path.join(self.root, owner.__hub_name__), self.num_buckets
            )
            self.hub_merges[owner] = HubMerge(
                business_keys=list(owner.__bk__),
                hub_type=owner.__dbname__,
                ts_col=self.ts_col,
                source_system=self.source_system,
            )
        for name, sat in entity.__sats__.items():
            if name in self.sats:
                continue
            self.sats[name] = Scd2Table(
                self.spark, os.path.join(self.root, name), self.num_buckets
            )
            self.sat_merges[name] = Scd2Merge(
                business_keys=list(owner.__bk__) + sat.grain_cols(),
                payload_cols=sat.payload_cols(),
                order_by=list(self.order_by),
                op_col=self.op_col,
                ts_col=self.ts_col,
                source_system=self.source_system,
            )

    def _ensure_link(self, link_entity: type[LinkEntity]) -> None:
        if link_entity in self.links:
            return
        link = link_entity.__link__
        refs = link.cls_get_link_refs()
        dyns = link.cls_get_dynamic_refs()
        bk: list[str] = []
        leg_keys: dict[str, list[str]] = {}
        for ref in refs.values():
            for c in ref.key_cols:
                if c not in bk:
                    bk.append(c)
            leg_keys[ref.name] = list(ref.key_cols)
        for dyn in dyns.values():
            for c in (dyn.type_col, dyn.key_col):
                if c not in bk:
                    bk.append(c)
            leg_keys[dyn.name] = [dyn.type_col, dyn.key_col]
        if issubclass(link, HybridLink) and "type" not in bk:
            bk = ["type"] + bk
        self.links[link_entity] = LakeTable(
            self.spark, os.path.join(self.root, link_entity.__dbname__), self.num_buckets
        )
        # the static `type` value on plain-link rows is the association name
        # without the table suffix (reference Link.type, dv.py:93)
        link_type = link_entity.__dbname__
        if link_type.endswith("_link"):
            link_type = link_type[: -len("_link")]
        self.link_merges[link_entity] = LinkMerge(
            business_keys=bk,
            hub_type=link_type,
            ts_col=self.ts_col,
            source_system=self.source_system,
            leg_keys=leg_keys,
        )

    def _ensure_valueset(self, name: str) -> None:
        if name not in self.valuesets:
            self.valuesets[name] = LakeTable(
                self.spark, os.path.join(self.root, f"valueset_{name}"), self.num_buckets
            )

    # ---------------------------------------------------------------- hooks

    def add_hook(self, point: str, func: Callable) -> None:
        """Register a part-boundary hook: ``point`` is ``before_<part>`` or
        ``after_<part>`` (parts: sor valuesets hubs views links viewlinks).
        Reference: register via run_before_sor/run_after_sor lists
        (pipeline.py:616-625); here every part has both boundaries."""
        part = point.split("_", 1)[-1]
        if not point.split("_", 1)[0] in ("before", "after") or part not in ALL_PARTS:
            raise ValueError(f"unknown hook point {point!r}")
        self.hooks.setdefault(point, []).append(func)

    def _fire(self, point: str, batch: DataFrame | None, batch_id: int) -> None:
        for fn in self.hooks.get(point, []):
            fn(self, batch, batch_id)

    # ------------------------------------------------------------ runs log

    def _runs_dir(self) -> str:
        d = os.path.join(self.root, "_runs")
        os.makedirs(d, exist_ok=True)
        return d

    def _runs_start(self, batch_id: int, parts: list[str]) -> str:
        """Single-pane run registry — the reference's one ``sys.runs`` row
        per run spanning ALL tables (pipeline.py:259-285, dwh.py:115-147).
        A 'running' record is written BEFORE any part; ``_runs_finish``
        rewrites it with the per-table metrics rollup. A crash mid-run
        leaves the record status='running' — torn-run forensics in one
        file instead of N table manifests. Re-running a batch appends a
        new attempt (reference: same-day runid +0.01)."""
        import datetime as _dt
        import json as _json

        from pyelt_spark import __version__

        d = self._runs_dir()
        attempt = sum(
            1 for n in os.listdir(d)
            if n.startswith(f"{batch_id:012d}_") and n.endswith(".json")
        )
        path = os.path.join(d, f"{batch_id:012d}_{attempt:03d}.json")
        rec = {
            "run_id": batch_id,
            "attempt": attempt,
            "parts": list(parts),
            "status": "running",
            "started": _dt.datetime.now(_dt.timezone.utc).isoformat(),
            "finished": None,
            "engine_version": __version__,
            "tables": {},
        }
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            _json.dump(rec, f)
        os.replace(tmp, path)
        return path

    def _runs_finish(self, path: str, out: dict[str, Any]) -> None:
        import datetime as _dt
        import json as _json

        with open(path) as f:
            rec = _json.load(f)
        rec["status"] = "finished"
        rec["finished"] = _dt.datetime.now(_dt.timezone.utc).isoformat()
        rec["tables"] = {
            k: v for k, v in out.items() if isinstance(v, dict) and k != "lineage"
        }
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            _json.dump(rec, f)
        os.replace(tmp, path)

    def runs_log(self) -> list[dict]:
        """All run records, oldest first (sys.runs SELECT analog)."""
        import json as _json

        d = self._runs_dir()
        out = []
        for n in sorted(os.listdir(d)):
            if n.endswith(".json"):
                with open(os.path.join(d, n)) as f:
                    out.append(_json.load(f))
        return out

    # ----------------------------------------------------------- validation

    def exceptions_table(self) -> LakeTable:
        """Quarantine table for invalid rows (reference ``_exceptions``,
        ddl.py:235-260) — one per pipe, lazily created."""
        if self._exceptions is None:
            self._exceptions = LakeTable(
                self.spark, os.path.join(self.root, "_exceptions"), self.num_buckets
            )
        return self._exceptions

    def _validate_sor(
        self, batch: DataFrame, batch_id: int, out: dict[str, Any]
    ) -> DataFrame:
        """Run declared row validations as a pipeline stage: invalid rows
        are quarantined into the exceptions table and EXCLUDED from every
        merge (reference etl.py:326-336 auto-invoke + the test04 contract
        that invalid rows never reach the DV)."""
        from pyelt_spark.operators.validate import (
            MSG_COL,
            VALID_COL,
            RowRule,
            apply_rules,
            mark_duplicate_keys,
            quarantine_exceptions,
            split_valid,
        )
        from pyelt_spark.plans.validations import DuplicateKeys, RowCondition

        rules = [
            RowRule(F.expr(v.condition), v.message)
            for v in self.validations
            if isinstance(v, RowCondition)
        ]
        staged = apply_rules(batch, rules)
        for v in self.validations:
            if isinstance(v, DuplicateKeys):
                staged = mark_duplicate_keys(staged, list(v.keys))
        valid, invalid = split_valid(staged)
        key_cols = []
        for m in self.mappings:
            if isinstance(m, SorToEntityMapping):
                key_cols = list(m.entity.__entity_owner__.__bk__)
                break
        out["exceptions"] = quarantine_exceptions(
            self.exceptions_table(), invalid, batch_id, key_cols
        )
        return valid.drop(VALID_COL, MSG_COL)

    # ---------------------------------------------------------------- parts

    def _project(self, batch: DataFrame, field_map: dict[str, str], flt: str | None) -> DataFrame:
        if flt:
            batch = batch.filter(F.expr(flt))
        for tgt, expr in field_map.items():
            batch = batch.withColumn(tgt, F.expr(expr))
        return batch

    def _upserts(self, batch: DataFrame) -> DataFrame:
        if self.op_col and self.op_col in batch.columns:
            return batch.filter(F.col(self.op_col) != "D")
        return batch

    def run(
        self,
        batch: DataFrame | None,
        batch_id: int,
        parts: list[str] | None = None,
        lineage: dict[str, Any] | None = None,
        affected: dict[str, list[int]] | None = None,
    ) -> dict[str, Any]:
        """Apply one microbatch through the part sequence (pipeline.py:657:
        ``run(parts=['sor','valuesets','hubs','links','views','viewlinks'])``).
        ``batch`` may be None when only view parts run. ``affected``
        optionally maps table name → precomputed bucket superset (see
        ``replay`` — removes the per-table bucket-discovery job)."""
        parts = ALL_PARTS if parts is None else parts
        self._affected = affected or {}
        out: dict[str, Any] = {"batch_id": batch_id, "parts": list(parts)}
        run_rec = self._runs_start(batch_id, parts)
        staged = batch

        if "sor" in parts and batch is not None:
            self._fire("before_sor", batch, batch_id)
            # staging is declarative: mappings project/filter lazily off the
            # one batch; nothing materializes until a merge runs. Declared
            # row validations ARE a stage here: invalid rows are quarantined
            # and the merges below only ever see the valid remainder.
            staged = batch
            if self.validations:
                staged = self._validate_sor(staged, batch_id, out)
            self._fire("after_sor", staged, batch_id)

        if "valuesets" in parts and staged is not None:
            self._fire("before_valuesets", staged, batch_id)
            out.update(self._run_jobs(self._valueset_jobs(staged, batch_id)))
            self._fire("after_valuesets", staged, batch_id)

        if "hubs" in parts and staged is not None:
            self._fire("before_hubs", staged, batch_id)
            # N mappings may feed ONE table (two source shapes into one
            # entity, or subtype entities sharing a hub): group by target
            # and UNION the projections — per-table tables are single-writer
            # and idempotent per batch_id, so two concurrent jobs on one
            # table would race and the loser's rows would silently drop
            inputs = [
                (m, self._project(staged, m.field_map, m.filter))
                for m in self.mappings
                if isinstance(m, SorToEntityMapping)
            ]
            out.update(self._run_jobs(self._grouped_entity_jobs(inputs, batch_id, lineage)))
            self._fire("after_hubs", staged, batch_id)

        if "views" in parts:
            self._fire("before_views", staged, batch_id)
            # precomputed buckets describe the SOR batch, not view output —
            # view promotions always discover their own buckets
            sor_affected, self._affected = self._affected, {}
            inputs = [
                (m, self._as_upsert_events(m.view(self), batch_id))
                for m in self.mappings
                if isinstance(m, EntityViewToEntityMapping)
            ]
            if inputs:
                out.update(
                    self._run_jobs(self._grouped_entity_jobs(inputs, batch_id, lineage))
                )
            self._affected = sor_affected
            self._fire("after_views", staged, batch_id)

        if "links" in parts and staged is not None:
            self._fire("before_links", staged, batch_id)
            link_evs: dict = {}
            for m in self.mappings:
                if not isinstance(m, SorToLinkMapping):
                    continue
                ev = self._project(staged, m.field_map, m.filter)
                link_evs.setdefault(m.link, []).append(
                    self._link_input(m.link, ev, m.type_expr)
                )
            out.update(self._run_jobs(self._link_jobs(link_evs, batch_id)))
            self._fire("after_links", staged, batch_id)

        if "viewlinks" in parts:
            self._fire("before_viewlinks", staged, batch_id)
            sor_affected, self._affected = self._affected, {}
            link_evs = {}
            for m in self.mappings:
                if isinstance(m, EntityViewToLinkMapping):
                    ev = self._as_upsert_events(m.view(self), batch_id)
                    link_evs.setdefault(m.link, []).append(
                        self._link_input(m.link, ev, m.type_expr)
                    )
            out.update(self._run_jobs(self._link_jobs(link_evs, batch_id)))
            self._affected = sor_affected
            self._fire("after_viewlinks", staged, batch_id)

        self._runs_finish(run_rec, out)
        return out

    # ----------------------------------------------------------------- jobs

    def _entity_inputs(
        self,
        entity: type[HubEntity],
        ev: DataFrame,
        sat_names: list[str] | None,
        snapshot: bool = False,
    ) -> tuple[tuple[type[HubEntity], DataFrame], list[tuple[str, DataFrame, bool]]]:
        """One mapping's contribution: (hub owner, upsert frame) plus
        per-sat (name, keyed frame, snapshot?) inputs."""
        owner = entity.__entity_owner__
        hub_ev = self._upserts(ev)
        if entity.__subtype__:
            # subtype entity sharing the owner's hub: its rows register in
            # the SHARED hub with type=<subtype> so downstream queries can
            # tell subtypes apart (HubEntityMetaClass subtype branch,
            # dv_metaclasses.py:116; hub insert etl.py:414-417 where the
            # mapping's target type overrides the static hub type)
            hub_ev = hub_ev.withColumn("_hub_type", F.lit(entity.__subtype__))
        hub_input = (owner, hub_ev)
        sat_inputs: list[tuple[str, DataFrame, bool]] = []
        wanted = entity.__sats__ if sat_names is None else {
            n: s for n, s in entity.__sats__.items() if n in sat_names
        }
        for name, sat in wanted.items():
            need = self.sat_merges[name].business_keys
            # a mapping loads only the sats its source can key: a batch
            # without a sat's grain columns skips that sat entirely
            # (reference: per-sat field mappings, sor_to_entity)
            if any(c not in ev.columns for c in need):
                continue
            sev = ev
            if isinstance(sat, type) and issubclass(sat, HybridSat):
                sev = sev.filter(F.col("type").isNotNull())
            # rows missing any grain column can't key this sat — skip them
            for c in need:
                sev = sev.filter(F.col(c).isNotNull())
            sat_inputs.append((name, sev, snapshot))
        return hub_input, sat_inputs

    def _grouped_entity_jobs(
        self,
        inputs: list[tuple[Any, DataFrame]],
        batch_id: int,
        lineage: dict[str, Any] | None,
    ) -> list[tuple[str, Callable[[], dict]]]:
        """Union per-mapping frames per TARGET table, one job per table."""
        hub_evs: "OrderedDict[type[HubEntity], list[DataFrame]]" = OrderedDict()
        sat_evs: "OrderedDict[str, list[DataFrame]]" = OrderedDict()
        sat_snap: dict[str, set[bool]] = {}
        for m, ev in inputs:
            hub_in, sats_in = self._entity_inputs(
                m.entity, ev, m.sats, getattr(m, "snapshot", False)
            )
            hub_evs.setdefault(hub_in[0], []).append(hub_in[1])
            for name, sev, snap in sats_in:
                sat_evs.setdefault(name, []).append(sev)
                sat_snap.setdefault(name, set()).add(snap)

        aff = getattr(self, "_affected", {})

        def _skip(name: str) -> bool:
            # [] = the replay probe proved this batch feeds the table no
            # rows (None = unknown → run the merge with self-discovery)
            return aff.get(name) == []

        jobs: list[tuple[str, Callable[[], dict]]] = []
        for owner, frames in hub_evs.items():
            if _skip(owner.__hub_name__):
                jobs.append(
                    (owner.__hub_name__, lambda b=batch_id: {"skipped_empty_batch": b})
                )
                continue
            jobs.append(
                (
                    owner.__hub_name__,
                    lambda t=self.hubs[owner], m=self.hub_merges[owner], e=_union(frames),
                    a=aff.get(owner.__hub_name__): m.apply_batch(t, e, batch_id, a),
                )
            )
        for name, frames in sat_evs.items():
            if len(sat_snap[name]) > 1:
                raise ValueError(
                    f"sat {name}: mixing snapshot and change-stream mappings "
                    "in one run is ambiguous (snapshot claims completeness)"
                )
            if sat_snap[name] == {True}:
                from pyelt_spark.operators.scd2 import apply_snapshot

                jobs.append(
                    (
                        name,
                        lambda t=self.sats[name], m=self.sat_merges[name], e=_union(frames):
                        apply_snapshot(t, m, e, batch_id, lineage=lineage),
                    )
                )
            else:
                # NEVER skip a snapshot sat on an empty batch (above): an
                # empty snapshot claims completeness and closes every row
                if _skip(name):
                    jobs.append((name, lambda b=batch_id: {"skipped_empty_batch": b}))
                    continue
                jobs.append(
                    (
                        name,
                        lambda t=self.sats[name], m=self.sat_merges[name],
                        e=_union(frames), a=aff.get(name): m.apply_batch(
                            t, e, batch_id, lineage=lineage, affected_buckets=a
                        ),
                    )
                )
        return jobs

    def _valueset_jobs(
        self, staged: DataFrame, batch_id: int
    ) -> list[tuple[str, Callable[[], dict]]]:
        """One job per valueset TABLE, per-mapping frames unioned — two
        mappings feeding one valueset must not apply as two merges of the
        same batch_id (the second would be dropped by idempotence)."""
        by_name: "OrderedDict[str, list[DataFrame]]" = OrderedDict()
        for m in self.mappings:
            if not isinstance(m, SorToValueSetMapping):
                continue
            vs = (
                self._project(staged, {}, m.filter)
                .select(
                    F.lit(m.valueset_name).alias("valueset_naam"),
                    F.expr(m.code).cast("string").alias("code"),
                    F.expr(m.descr).cast("string").alias("omschrijving"),
                    F.col(self.ts_col),
                )
                .filter(F.col("code").isNotNull())
            )
            by_name.setdefault(m.valueset_name, []).append(vs)
        jobs: list[tuple[str, Callable[[], dict]]] = []
        for name, frames in by_name.items():
            u = _union(frames, allow_missing=False)
            merge = HubMerge(
                business_keys=["valueset_naam", "code"],
                hub_type=f"valueset_{name}",
                ts_col=self.ts_col,
                source_system=self.source_system,
                carry_cols=["omschrijving"],
            )
            jobs.append(
                (
                    f"valueset_{name}",
                    lambda t=self.valuesets[name], m2=merge, e=u: m2.apply_batch(
                        t, e, batch_id
                    ),
                )
            )
        return jobs

    def _link_input(
        self,
        link_entity: type[LinkEntity],
        ev: DataFrame,
        type_expr: str | None,
    ) -> DataFrame:
        ev = self._upserts(ev)
        link = link_entity.__link__
        if issubclass(link, HybridLink):
            ev = ev.withColumn("type", F.expr(type_expr or "'default'"))
        # a link row needs every TYPED leg key present (null-legged
        # associations are not associations; reference links FK-join through
        # hub ids) — dynamic legs are optional per row (dv.py:136-137)
        required = [c for r in link.cls_get_link_refs().values() for c in r.key_cols]
        for c in required:
            if c in ev.columns:
                ev = ev.filter(F.col(c).isNotNull())
        return ev

    def _link_jobs(
        self, link_evs: dict, batch_id: int
    ) -> list[tuple[str, Callable[[], dict]]]:
        """One job per link table, per-mapping frames unioned (same
        single-writer rationale as _grouped_entity_jobs)."""
        jobs = []
        for link_entity, frames in link_evs.items():
            u = _union(frames)
            aff = getattr(self, "_affected", {}).get(link_entity.__dbname__)
            if aff == []:  # probe proved the batch feeds this link nothing
                jobs.append(
                    (link_entity.__dbname__, lambda b=batch_id: {"skipped_empty_batch": b})
                )
                continue
            jobs.append(
                (
                    link_entity.__dbname__,
                    lambda t=self.links[link_entity], m=self.link_merges[link_entity],
                    e=u, a=aff: m.apply_batch(t, e, batch_id, a),
                )
            )
        return jobs

    def _run_jobs(self, jobs: list[tuple[str, Callable[[], dict]]]) -> dict[str, Any]:
        if not jobs:
            return {}
        with ThreadPoolExecutor(max_workers=min(len(jobs), 8)) as pool:
            futs = [(name, pool.submit(fn)) for name, fn in jobs]
            return {name: f.result() for name, f in futs}

    def _as_upsert_events(self, view_df: DataFrame, batch_id: int) -> DataFrame:
        """View rows become plain upsert events at seq=batch_id (a view
        promotion revises/extends the target, never deletes)."""
        seq = self.order_by[0]
        ev = view_df
        if seq not in ev.columns:
            ev = ev.withColumn(seq, F.lit(batch_id).cast("long"))
        if self.op_col and self.op_col not in ev.columns:
            ev = ev.withColumn(self.op_col, F.lit("U"))
        if self.ts_col not in ev.columns:
            ev = ev.withColumn(self.ts_col, F.lit("1970-01-01").cast("timestamp"))
        return ev

    # ---------------------------------------------------------------- state

    def sat_table(self, sat: type[Sat] | str) -> Scd2Table:
        return self.sats[sat if isinstance(sat, str) else sat.__dbname__]

    def hub_table(self, entity: type[HubEntity]) -> LakeTable:
        return self.hubs[entity.__entity_owner__]

    def link_table(self, link_entity: type[LinkEntity]) -> LakeTable:
        return self.links[link_entity]

    def maintain(self, max_dirs_per_bucket: int = 16) -> None:
        """Small-file maintenance across every compiled table: append-mode
        tables (hubs, links, valuesets, sat histories) gain one dir per
        touched bucket per batch; compact any bucket whose manifest
        references more than ``max_dirs_per_bucket`` dirs. Manifest
        inspection is in-memory — zero cost when nothing is fragmented."""
        tables = (
            list(self.hubs.values())
            + list(self.links.values())
            + list(self.valuesets.values())
            + [s.hist for s in self.sats.values()]
        )
        for t in tables:
            t.compact_if_crowded(max_dirs_per_bucket)

    def replay(
        self,
        events: DataFrame,
        batch_col: str = "batch_id",
        parts: list[str] | None = None,
    ) -> list[dict]:
        """Replay a change stream batch-by-batch in batch order (the
        multi-entity analog of TranscriptVault.replay).

        Like the transcript runner, ONE up-front job computes every batch's
        affected buckets for every sor-fed table (a superset per table —
        mapping filters are applied, null-key rows just widen the read), so
        the per-batch merges skip their bucket-discovery collects.

        The same probe doubles as an EMPTY-BATCH detector: a table whose
        every feeding mapping was probed and whose probe found no buckets in
        a batch provably has no input rows there (hash keys are never null,
        so the probe is a superset), and its merge is skipped outright —
        zero Spark jobs. In a real CDC fan-out most tables are untouched by
        most microbatches, so this is the steady-state fast path, not an
        edge case. ``events`` is persisted for the replay (every mapping's
        projection and every batch filter re-reads it)."""
        from pyelt_spark.functions.hashing import hash_key
        from pyelt_spark.storage.lake import bucket_expr

        probe_frames = []
        probed: set[str] = set()  # tables every feeding mapping probed
        unknown: set[str] = set()  # tables some feeding mapping could NOT probe
        own_persist = not (
            events.storageLevel.useMemory or events.storageLevel.useDisk
        )
        if own_persist:
            events = events.persist()
        for m in self.mappings:
            if isinstance(m, SorToEntityMapping):
                ev = self._project(events, m.field_map, m.filter)
                owner = m.entity.__entity_owner__
                probes = []
                if all(c in ev.columns for c in owner.__bk__):
                    probed.add(owner.__hub_name__)
                    probes.append(
                        F.struct(
                            F.lit(owner.__hub_name__).alias("t"),
                            bucket_expr(
                                hash_key(*owner.__bk__), self.hubs[owner].num_buckets
                            ).alias("k"),
                        )
                    )
                else:
                    unknown.add(owner.__hub_name__)
                for name in (m.sats or m.entity.__sats__):
                    mg = self.sat_merges[name]
                    if any(c not in ev.columns for c in mg.business_keys):
                        # no probe — but a mapping missing the sat's grain
                        # columns doesn't FEED that sat either
                        # (_entity_inputs skips it), so probed-empty from
                        # the other mappings still implies empty input
                        continue
                    probed.add(name)
                    probes.append(
                        F.struct(
                            F.lit(name).alias("t"),
                            bucket_expr(
                                hash_key(*mg.business_keys), self.sats[name].num_buckets
                            ).alias("k"),
                        )
                    )
                if probes:
                    probe_frames.append(
                        ev.select(
                            F.col(batch_col).alias("_b"),
                            F.explode(F.array(*probes)).alias("s"),
                        )
                    )
            elif isinstance(m, SorToLinkMapping):
                ev = self._project(events, m.field_map, m.filter)
                mg = self.link_merges[m.link]
                if issubclass(m.link.__link__, HybridLink):
                    ev = ev.withColumn("type", F.expr(m.type_expr or "'default'"))
                if any(c not in ev.columns for c in mg.business_keys):
                    unknown.add(m.link.__dbname__)
                    continue
                probed.add(m.link.__dbname__)
                probe = F.struct(
                    F.lit(m.link.__dbname__).alias("t"),
                    bucket_expr(
                        hash_key(*mg.business_keys), self.links[m.link].num_buckets
                    ).alias("k"),
                )
                probe_frames.append(
                    ev.select(
                        F.col(batch_col).alias("_b"), F.explode(F.array(probe)).alias("s")
                    )
                )
        affected: dict[int, dict[str, list[int]]] = {}
        # the raw stream rides along as one more probe branch (t/k null), so
        # batch-id discovery shares the probe job — one action over the
        # stream instead of two (guide §1.2: fewer passes; the runner's
        # replay has always fused these)
        probe_frames.append(
            events.select(
                F.col(batch_col).alias("_b"),
                F.explode(
                    F.array(
                        F.struct(
                            F.lit(None).cast("string").alias("t"),
                            F.lit(None).cast("int").alias("k"),
                        )
                    )
                ).alias("s"),
            )
        )
        allp = probe_frames[0]
        for pf in probe_frames[1:]:
            allp = allp.unionByName(pf)
        rows = (
            allp.select("_b", F.col("s.t").alias("t"), F.col("s.k").alias("k"))
            .groupBy("_b", "t", "k")
            .agg(F.count("*").alias("n"))
            .collect()
        )
        ids = sorted({r["_b"] for r in rows})
        rows_per: dict[tuple[int, str], int] = {}
        for r in rows:
            if r["k"] is not None:
                affected.setdefault(int(r["_b"]), {}).setdefault(r["t"], []).append(
                    int(r["k"])
                )
                key = (int(r["_b"]), r["t"])
                rows_per[key] = rows_per.get(key, 0) + int(r["n"])
        # a fully-probed table with no probe hits in a batch has provably no
        # input rows there: record the empty bucket list so the batch's
        # merge for that table is skipped without any Spark job
        fully_probed = probed - unknown
        for b in ids:
            slot = affected.setdefault(int(b), {})
            for t in fully_probed:
                slot.setdefault(t, [])
        try:
            if self._laneable(parts):
                out = self._replay_laned(
                    events, batch_col, ids, affected, parts, rows_per
                )
            else:
                out = [
                    self.run(
                        events.filter(F.col(batch_col) == b),
                        int(b),
                        parts=parts,
                        affected=affected.get(int(b)),
                    )
                    for b in ids
                ]
        finally:
            if own_persist:
                events.unpersist()
        self.maintain()
        return out

    def _laneable(self, parts: list[str] | None) -> bool:
        """Laned replay applies when every target table's batch chain is
        independent of every other table: sor-fed hub/sat/link/valueset
        merges read only the staged batch and their OWN table's state
        (hash surrogate keys — no cross-table FK lookups). View promotions
        read OTHER tables' post-batch state, hooks observe part
        boundaries, and validations thread a quarantine stage through the
        batch — all three force the per-batch part order, so their
        presence falls back to the serial per-batch ``run`` loop."""
        wanted = set(ALL_PARTS if parts is None else parts)
        has_views = any(
            isinstance(m, (EntityViewToEntityMapping, EntityViewToLinkMapping))
            for m in self.mappings
        )
        return (
            not self.hooks
            and not self.validations
            and not (has_views and ("views" in wanted or "viewlinks" in wanted))
        )

    def _replay_laned(
        self,
        events: DataFrame,
        batch_col: str,
        ids: list,
        affected: dict[int, dict[str, list[int]]],
        parts: list[str] | None,
        rows_per: dict[tuple[int, str], int] | None = None,
    ) -> list[dict]:
        """Per-TABLE lanes over the batch sequence: each table applies its
        batches in order on its own lane, and all lanes run concurrently.
        Correctness needs only per-table batch order (batch N+1's merge
        reads the state batch N committed — on the same table), so the
        per-batch cross-table barrier of the serial loop is pure wasted
        wall-clock; dropping it takes the replay from
        Σ_batches max_tables(latency) to max_tables Σ_batches(latency).

        A lane applies its table's pending ids as consecutive windows
        (``_apply_lane``: ``apply_batches``, chunked by the rows-per-core
        budget). The mapping projections are batch-independent, so each
        table's input is its mappings' projections of the FULL stream and
        the window merge slices it by batch id — identical to the
        per-batch unions of ``run``. Snapshot-mapped sats are the one
        exception: a snapshot batch claims completeness on its own, so
        they loop over batches with ``apply_snapshot``.

        Each merge stays idempotent per (table, batch_id), so a crash —
        which can leave DIFFERENT tables at different batches — still
        resumes exactly-once by re-running the replay. Run-registry
        records are started per batch up front and finished once every
        lane is done; a crash leaves every batch 'running'."""
        from pyelt_spark.operators.scd2 import apply_snapshot

        parts_l = ALL_PARTS if parts is None else parts
        batch_ids = [int(b) for b in ids]
        windows: dict[str, Callable[[list[int], list[int] | None], dict]] = {}
        snapshots: dict[str, Callable[[int], dict]] = {}
        if "hubs" in parts_l:
            hub_w: "OrderedDict[type[HubEntity], list[DataFrame]]" = OrderedDict()
            sat_w: "OrderedDict[str, list[DataFrame]]" = OrderedDict()
            sat_snap_w: dict[str, set[bool]] = {}
            for mp in self.mappings:
                if not isinstance(mp, SorToEntityMapping):
                    continue
                ev_w = self._project(events, mp.field_map, mp.filter)
                hub_in, sats_in = self._entity_inputs(
                    mp.entity, ev_w, mp.sats, getattr(mp, "snapshot", False)
                )
                hub_w.setdefault(hub_in[0], []).append(hub_in[1])
                for sname, sev, snap in sats_in:
                    sat_w.setdefault(sname, []).append(sev)
                    sat_snap_w.setdefault(sname, set()).add(snap)
            for owner, frames in hub_w.items():
                windows[owner.__hub_name__] = (
                    lambda ids_t, aff_t, t=self.hubs[owner], mg=self.hub_merges[owner],
                    e=_union(frames): mg.apply_batches(
                        t, e, batch_col, ids_t, affected_buckets=aff_t
                    )
                )
            for sname, frames in sat_w.items():
                if len(sat_snap_w[sname]) > 1:
                    raise ValueError(
                        f"sat {sname}: mixing snapshot and change-stream mappings "
                        "in one run is ambiguous (snapshot claims completeness)"
                    )
                t, mg, e = self.sats[sname], self.sat_merges[sname], _union(frames)
                if sat_snap_w[sname] == {True}:
                    snapshots[sname] = lambda b, t=t, mg=mg, e=e: apply_snapshot(
                        t, mg, e.filter(F.col(batch_col) == b), b
                    )
                else:
                    windows[sname] = lambda ids_t, aff_t, t=t, mg=mg, e=e: (
                        mg.apply_batches(t, e, batch_col, ids_t, affected_buckets=aff_t)
                    )
        if "links" in parts_l:
            link_w: dict = {}
            for mp in self.mappings:
                if isinstance(mp, SorToLinkMapping):
                    ev_w = self._project(events, mp.field_map, mp.filter)
                    link_w.setdefault(mp.link, []).append(
                        self._link_input(mp.link, ev_w, mp.type_expr)
                    )
            for le, frames in link_w.items():
                windows[le.__dbname__] = (
                    lambda ids_t, aff_t, t=self.links[le], mg=self.link_merges[le],
                    e=_union(frames): mg.apply_batches(
                        t, e, batch_col, ids_t, affected_buckets=aff_t
                    )
                )
        if "valuesets" in parts_l:
            vs_w: "OrderedDict[str, list[DataFrame]]" = OrderedDict()
            for mp in self.mappings:
                if not isinstance(mp, SorToValueSetMapping):
                    continue
                vs = (
                    self._project(events, {}, mp.filter)
                    .select(
                        F.lit(mp.valueset_name).alias("valueset_naam"),
                        F.expr(mp.code).cast("string").alias("code"),
                        F.expr(mp.descr).cast("string").alias("omschrijving"),
                        F.col(self.ts_col),
                        F.col(batch_col),
                    )
                    .filter(F.col("code").isNotNull())
                )
                vs_w.setdefault(mp.valueset_name, []).append(vs)
            for vname, frames in vs_w.items():
                mg = HubMerge(
                    business_keys=["valueset_naam", "code"],
                    hub_type=f"valueset_{vname}",
                    ts_col=self.ts_col,
                    source_system=self.source_system,
                    carry_cols=["omschrijving"],
                )
                windows[f"valueset_{vname}"] = (
                    lambda ids_t, aff_t, t=self.valuesets[vname], mg=mg,
                    e=_union(frames, allow_missing=False): mg.apply_batches(
                        t, e, batch_col, ids_t, affected_buckets=aff_t
                    )
                )

        outs: dict[int, dict[str, Any]] = {
            b: {"batch_id": b, "parts": list(parts_l)} for b in batch_ids
        }
        run_recs = [self._runs_start(b, parts_l) for b in batch_ids]

        def _run_lane(name: str) -> None:
            if name in snapshots:
                log.info(
                    "lane %s: snapshot mapping, per-batch loop over %d batches",
                    name, len(batch_ids),
                )
                for b in batch_ids:
                    outs[b][name] = snapshots[name](b)
                return
            res = _apply_lane(
                self.spark, name, batch_ids, affected, rows_per or {}, windows[name]
            )
            for b in batch_ids:
                outs[b][name] = res[b]

        lanes = [*windows, *snapshots]
        if lanes:
            with ThreadPoolExecutor(max_workers=min(len(lanes), 16)) as pool:
                futs = [pool.submit(_run_lane, name) for name in lanes]
                for f in futs:
                    f.result()
        for rec, b in zip(run_recs, batch_ids):
            self._runs_finish(rec, outs[b])
        return [outs[b] for b in batch_ids]
