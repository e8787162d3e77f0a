"""Hub and link merges: insert-only registries of business keys.

Reference semantics: a hub holds one row per distinct business key,
insert-only, loaded via ``SELECT DISTINCT bk ... WHERE NOT EXISTS (SELECT 1
FROM hub WHERE bk = ...)`` (pyelt/process/etl.py:433-439); a link is the
same pattern over a composite of hub keys with null-safe FK comparison
(etl.py:711-716, :796-809).

Spark shape: ``distinct`` on the (already deduped) batch → anti-join
against the pruned state read → rewrite only the new keys' buckets. Because
surrogate keys are SHA-256 hashes of the business key (not serials), hub,
sat and link merges all run independently from the same deduped batch — no
sequential ``UPDATE sor SET fk_hub = hub._id`` writeback round-trip
(etl.py:447-450) is needed.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyelt_spark.functions.hashing import business_key, hash_key
from pyelt_spark.storage.lake import BUCKET_COL, LakeTable, bucket_expr


@dataclass
class HubMerge:
    """Insert-only hub of distinct business keys.

    Hub row shape mirrors dv.py:48-51: hash key, type, bk text, plus
    ``_runid`` / ``_insert_ts`` / ``_source_system`` system columns.
    """

    business_keys: list[str]
    hub_type: str = "hub"
    ts_col: str = "ts"
    source_system: str = "events"
    key_col: str = "_key"
    # non-key attribute columns carried onto the registry row (min() over the
    # key group — valueset descriptions, display labels); insert-only like
    # the keys themselves
    carry_cols: list[str] = field(default_factory=list)

    def _extra_cols(self) -> list[Column]:
        """Deterministic derived columns (functions of the business keys)."""
        return []

    def apply_batch(
        self,
        table: LakeTable,
        batch: DataFrame,
        batch_id: int,
        affected_buckets: list[int] | None = None,
    ) -> dict[str, Any]:
        """``affected_buckets``: optional precomputed superset of the batch's
        buckets (see Scd2Merge.apply_batch) — skips the per-batch bucket
        discovery job; pruned reads just get wider."""
        if batch_id in table.committed_batch_ids():
            return {"skipped_duplicate_batch": batch_id}
        # group on the hash key itself: the aggregate's output partitioning
        # feeds the anti-join below with no second exchange (business-key
        # columns ride along as min() over equal values)
        # `_hub_type` input column: a per-row discriminator injected by the
        # caller (subtype entities sharing one hub — HubEntityMetaClass
        # subtype branch, dv_metaclasses.py:116 + etl.py:414-417 where the
        # mapping's target type overrides the static hub type)
        has_row_type = "_hub_type" in batch.columns
        keys = (
            batch.filter(
                F.coalesce(*[F.col(c).cast("string") for c in self.business_keys]).isNotNull()
            )
            .withColumn(self.key_col, hash_key(*self.business_keys))
            .groupBy(self.key_col)
            .agg(
                F.min(F.col(self.ts_col).cast("timestamp")).alias("_first_ts"),
                *[F.min(c).alias(c) for c in self.business_keys],
                *[F.min(c).alias(c) for c in self.carry_cols],
                *([F.min("_hub_type").alias("_hub_type")] if has_row_type else []),
            )
            .select(
                F.col(self.key_col),
                # dv.py:48/:93 — the `type` column is the static hub/link
                # type, EXCEPT when the key itself carries a discriminator
                # (HybridLink, dv.py:99-111): then the row's type IS the key
                # part and the static name would collide with it
                (
                    F.col("type")
                    if "type" in self.business_keys
                    else (
                        F.coalesce(F.col("_hub_type"), F.lit(self.hub_type))
                        if has_row_type
                        else F.lit(self.hub_type)
                    )
                ).alias("type"),
                business_key(*self.business_keys).alias("bk"),
                *[F.col(c) for c in self.business_keys if c != "type"],
                *[F.col(c) for c in self.carry_cols],
                *self._extra_cols(),
                F.lit(batch_id).cast("long").alias("_runid"),
                F.col("_first_ts").alias("_insert_ts"),
                F.lit(self.source_system).alias("_source_system"),
            )
            .withColumn(BUCKET_COL, bucket_expr(self.key_col, table.num_buckets))
        )
        if affected_buckets is not None:
            affected = [int(b) for b in affected_buckets]
        else:
            # no precomputed superset: one discovery job (replay loops
            # precompute this for every batch up front)
            keys = keys.persist()
            affected = [r[0] for r in keys.select(BUCKET_COL).distinct().collect()]
        first_load = table.last_commit() is None or not table.last_commit().buckets
        if first_load:
            fresh = keys
        else:
            # anti-join against the pruned state read; APPEND only the new
            # keys — existing bucket files are never rewritten (insert-only)
            state = table.read(buckets=affected)
            fresh = keys.join(
                state.select(F.col(self.key_col)), self.key_col, "left_anti"
            )
        # ONE Spark job per hub merge: stage the new keys' files, then
        # derive new_keys/buckets from the staged footers (metadata only)
        # and publish the manifest — no pre-write count collect blocks the
        # write, and the batch's only driver-blocking points are the stage
        # wait and the manifest rename
        staged = table.stage(fresh, affected)
        metrics = {
            "batch_id": batch_id,
            "new_keys": sum(staged["rows_per_bucket"].values()),
            "buckets_read": sorted(affected),
            "buckets_written": sorted(staged["written_buckets"]),
        }
        table.commit(
            None,
            affected_buckets=affected,
            batch_id=batch_id,
            metrics=metrics,
            mode="append",
            staged=staged,
        )
        if affected_buckets is None:
            keys.unpersist()
        return metrics

    def apply_batches(
        self,
        table: LakeTable,
        batch: DataFrame,
        batch_col: str = "batch_id",
        batch_ids: list[int] | None = None,
        affected_buckets: list[int] | None = None,
    ) -> dict[int, dict[str, Any]]:
        """Window-coalesced insert-only merge: register every pending
        batch's new keys in ONE pass, identical to applying the batches
        sequentially. A key first seen in batch b gets b's row exactly as
        the per-batch path would build it (first-batch-wins: ``_runid`` =
        first feeding batch, ``_insert_ts``/business keys/carry columns
        aggregated WITHIN that batch) — expressed as a per-(key, batch)
        aggregation followed by a min-by-batch fold, both on one
        key-partitioned exchange. One anti-join against state, one append
        write, one manifest carrying the whole id window."""
        done = table.committed_batch_ids()
        all_ids = [int(b) for b in (batch_ids or [])]
        out: dict[int, dict[str, Any]] = {
            b: {"skipped_duplicate_batch": b} for b in all_ids if b in done
        }
        pending = sorted(b for b in all_ids if b not in done)
        if not pending:
            return out
        if len(pending) == 1:
            out[pending[0]] = self.apply_batch(
                table,
                batch.filter(F.col(batch_col) == pending[0]),
                pending[0],
                affected_buckets=affected_buckets,
            )
            return out

        ev = batch.filter(F.col(batch_col).isin(pending))
        has_row_type = "_hub_type" in ev.columns
        keyed = (
            ev.filter(
                F.coalesce(
                    *[F.col(c).cast("string") for c in self.business_keys]
                ).isNotNull()
            )
            .withColumn(self.key_col, hash_key(*self.business_keys))
            .withColumn("_b", F.col(batch_col).cast("long"))
            .repartition(F.col(self.key_col))
        )
        g1 = keyed.groupBy(self.key_col, "_b").agg(
            F.min(F.col(self.ts_col).cast("timestamp")).alias("_first_ts"),
            *[F.min(c).alias(c) for c in self.business_keys],
            *[F.min(c).alias(c) for c in self.carry_cols],
            *([F.min("_hub_type").alias("_hub_type")] if has_row_type else []),
        )
        folded = [
            "_first_ts",
            *self.business_keys,
            *self.carry_cols,
            *(["_hub_type"] if has_row_type else []),
        ]
        g2 = g1.groupBy(self.key_col).agg(
            F.min(F.struct(F.col("_b"), *[F.col(c) for c in folded])).alias("_w")
        )
        keys = g2.select(
            F.col(self.key_col),
            *[F.col(f"_w.{c}").alias(c) for c in folded],
            F.col("_w._b").alias("_b"),
        )
        keys = (
            keys.select(
                F.col(self.key_col),
                (
                    F.col("type")
                    if "type" in self.business_keys
                    else (
                        F.coalesce(F.col("_hub_type"), F.lit(self.hub_type))
                        if has_row_type
                        else F.lit(self.hub_type)
                    )
                ).alias("type"),
                business_key(*self.business_keys).alias("bk"),
                *[F.col(c) for c in self.business_keys if c != "type"],
                *[F.col(c) for c in self.carry_cols],
                *self._extra_cols(),
                F.col("_b").alias("_runid"),
                F.col("_first_ts").alias("_insert_ts"),
                F.lit(self.source_system).alias("_source_system"),
            )
            .withColumn(BUCKET_COL, bucket_expr(self.key_col, table.num_buckets))
        )
        if affected_buckets is not None:
            affected = [int(b) for b in affected_buckets]
        else:
            keys = keys.persist()
            affected = [r[0] for r in keys.select(BUCKET_COL).distinct().collect()]
        first_load = table.last_commit() is None or not table.last_commit().buckets
        if first_load:
            fresh = keys
        else:
            state = table.read(buckets=affected)
            fresh = keys.join(
                state.select(F.col(self.key_col)), self.key_col, "left_anti"
            )
        fresh = fresh.persist()
        staged = table.stage(fresh, affected)
        per_batch = {
            int(r["_runid"]): r["n"]
            for r in fresh.groupBy("_runid").agg(F.count("*").alias("n")).collect()
        }
        fresh.unpersist()
        if affected_buckets is None:
            keys.unpersist()
        for b in pending:
            out[b] = {
                "batch_id": b,
                "new_keys": per_batch.get(b, 0),
                "buckets_read": sorted(affected),
                "buckets_written": sorted(staged["written_buckets"]),
                "window": [pending[0], pending[-1]],
            }
        table.commit(
            None,
            affected_buckets=affected,
            batch_id=pending[-1],
            metrics={
                "window": [pending[0], pending[-1]],
                "new_keys": sum(per_batch.values()),
                "new_keys_per_batch": {str(b): per_batch.get(b, 0) for b in pending},
                "buckets_read": sorted(affected),
                "buckets_written": sorted(staged["written_buckets"]),
            },
            mode="append",
            staged=staged,
            batch_ids=pending,
        )
        return out


@dataclass
class LinkMerge(HubMerge):
    """Insert-only n-ary link: one row per distinct combination of leg keys.

    ``leg_keys`` maps leg name → that leg's business-key columns (each a
    subset of the link's ``business_keys``); the link row carries one
    SHA-256 hash FK per leg (``fk_<leg>``), computed in place — dv.py:88-130
    semantics with no FK writeback.
    """

    hub_type: str = "link"
    leg_keys: dict[str, list[str]] = field(default_factory=dict)

    def _extra_cols(self) -> list[Column]:
        return [
            hash_key(*cols).alias(f"fk_{leg}") for leg, cols in self.leg_keys.items()
        ]
