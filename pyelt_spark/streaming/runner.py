"""Microbatch tail runner — the engine's `Pipeline.run` loop.

Two execution modes over the same merge code path:

* **replay(events)** — batch mode: partition a bounded change stream by
  ``batch_id`` and apply batches in order. This is the reference's
  run-per-day model (pyelt/pipeline.py:106-197) and the mode used by the
  correctness suite and the benchmark.

* **tail(input_dir)** — Structured Streaming: ``readStream`` over a
  parquet directory of change events, ``foreachBatch`` into the same
  vault merge. Spark's checkpoint gives at-least-once redelivery; the
  vault's idempotent batch commits upgrade that to exactly-once
  (redelivered batch ids are skipped before any write).

Resume semantics: each LakeTable's commit log records every applied
batch_id, so a crashed replay restarted from the top skips committed
batches and continues — the checkpoint carries per-bucket row counts and
merge metrics (per-partition lineage) for every commit.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyelt_spark.plans.pipe import _apply_lane
from pyelt_spark.plans.pipeline import TranscriptVault


class MicrobatchRunner:
    def __init__(self, vault: TranscriptVault):
        self.vault = vault

    # ------------------------------------------------------------ batch mode

    def replay(
        self,
        events: DataFrame,
        batch_col: str = "batch_id",
        on_batch: Callable[[int, dict], None] | None = None,
    ) -> list[dict[str, Any]]:
        """Apply all batches in ``batch_col`` order, skipping batch ids the
        vault has already committed (crash-resume / exactly-once).

        A batch counts as done only when EVERY table's commit log has it —
        a crash can land with some tables committed and others not; each
        merge is individually idempotent, so re-applying such a torn batch
        completes exactly the missing tables.

        Execution is LANED: each table (hub / sat / link) applies its
        pending batches on its own lane, and the three lanes run
        concurrently. Correctness needs only per-table batch order (batch
        N+1's merge reads the state batch N's commit published — on its OWN
        table; hash surrogate keys mean no table ever reads another's
        state), so a per-batch barrier across tables is pure wasted
        wall-clock. A lane applies its ids as consecutive windows
        (``plans.pipe._apply_lane``: one closed-form ``apply_batches`` pass
        per window, chunked by the rows-per-core budget; a window of one
        batch takes the single-batch merge). Probe-proven-empty batches
        are left out of each table's windows. ``on_batch(batch_id,
        metrics)`` fires for each applied batch, in order, once every lane
        is done."""
        done = (
            self.vault.sat.committed_batch_ids()
            & self.vault.hub.committed_batch_ids()
            & self.vault.link.committed_batch_ids()
        )
        # ONE up-front job computes every batch's affected buckets for all
        # three tables (batch ids and per-lane row counts fall out of the
        # same aggregation) — the merges then skip their bucket-discovery
        # collect, taking a driver-blocking job off the critical path. A bucket
        # SUPERSET per table is fine (hub/link sets here ignore the op/null
        # filters): it only widens the pruned state read.
        from pyelt_spark.functions.hashing import hash_key
        from pyelt_spark.storage.lake import bucket_expr

        v = self.vault
        probes = [
            F.struct(
                F.lit("sat").alias("t"),
                bucket_expr(
                    hash_key(*v.sat_merge.business_keys), v.sat.num_buckets
                ).alias("k"),
            ),
            F.struct(
                F.lit("hub").alias("t"),
                bucket_expr(
                    hash_key(*v.hub_merge.business_keys), v.hub.num_buckets
                ).alias("k"),
            ),
            F.struct(
                F.lit("link").alias("t"),
                F.when(
                    F.col("tool").isNotNull(),
                    bucket_expr(
                        hash_key(*v.link_merge.business_keys), v.link.num_buckets
                    ),
                ).alias("k"),
            ),
        ]
        rows = (
            events.select(
                F.col(batch_col).alias("_b"), F.explode(F.array(*probes)).alias("s")
            )
            .select("_b", F.col("s.t").alias("t"), F.col("s.k").alias("k"))
            .filter(F.col("k").isNotNull())
            .groupBy("_b", "t", "k")
            .agg(F.count("*").alias("n"))
            .collect()
        )
        affected: dict[int, dict[str, list[int]]] = {}
        rows_per: dict[tuple[int, str], int] = {}
        for r in rows:
            affected.setdefault(int(r["_b"]), {}).setdefault(r["t"], []).append(
                int(r["k"])
            )
            key = (int(r["_b"]), r["t"])
            rows_per[key] = rows_per.get(key, 0) + int(r["n"])
        # every table is probed unconditionally, so a missing entry for a
        # batch PROVES that table gets no rows there — record the empty
        # list and the vault skips that merge without any Spark job (the
        # common case: a batch with no tool turns feeds the link nothing)
        for slot in affected.values():
            for t in ("sat", "hub", "link"):
                slot.setdefault(t, [])
        batch_ids = sorted(affected)
        pending = [b for b in batch_ids if b not in done]
        if not pending:
            return [{"batch_id": b, "skipped_duplicate_batch": b} for b in batch_ids]

        op_filter = (
            (lambda df: df.filter(F.col("op") != "D"))
            if "op" in events.columns
            else (lambda df: df)
        )
        sat_merge = v.batch_sat_merge(events)
        ups = op_filter(events)

        # per lane: the table's window merge, then lane-scoped maintenance
        # (a cross-lane compaction would violate the tables' single-writer
        # commit protocol mid-replay)
        lanes = {
            "hub": (
                lambda ids, aff: v.hub_merge.apply_batches(
                    v.hub, ups, batch_col, ids, affected_buckets=aff
                ),
                v.hub.compact_if_crowded,
            ),
            "sat": (
                lambda ids, aff: sat_merge.apply_batches(
                    v.sat, events, batch_col, ids, lineage={}, affected_buckets=aff
                ),
                v.sat.hist.compact_if_crowded,
            ),
            "link": (
                lambda ids, aff: v.link_merge.apply_batches(
                    v.link, ups.filter(F.col("tool").isNotNull()), batch_col, ids,
                    affected_buckets=aff,
                ),
                v.link.compact_if_crowded,
            ),
        }
        results: dict[str, dict[int, dict]] = {}

        def _run_lane(name: str) -> None:
            window, maintain = lanes[name]
            results[name] = _apply_lane(
                v.spark, name, pending, affected, rows_per, window
            )
            maintain()

        with ThreadPoolExecutor(max_workers=len(lanes)) as pool:
            futs = [pool.submit(_run_lane, name) for name in lanes]
            for f in futs:
                f.result()

        out = []
        for b in batch_ids:
            if b in done:
                out.append({"batch_id": b, "skipped_duplicate_batch": b})
                continue
            out.append({name: results[name][b] for name in lanes})
            if on_batch is not None:
                on_batch(b, out[-1])
        return out

    # -------------------------------------------------------- streaming mode

    def tail(
        self,
        input_dir: str,
        checkpoint_dir: str,
        schema=None,
        trigger_once: bool = True,
    ):
        """Tail a growing parquet directory of change events.

        Batch ids are Spark's epoch ids offset into a distinct namespace so
        they never collide with replay batch ids; exactly-once comes from
        the vault's idempotent commits, not from the sink.
        """
        spark = self.vault.spark
        reader = spark.readStream
        if schema is not None:
            reader = reader.schema(schema)
        else:
            # mergeSchema: the directory may mix files from before and after
            # an additive evolution — the stream schema must be the union
            # (a single arbitrary footer would randomly drop late columns)
            static = spark.read.option("mergeSchema", "true").parquet(input_dir)
            reader = reader.schema(static.schema)
        stream = reader.option("maxFilesPerTrigger", 64).parquet(input_dir)

        def _sink(df: DataFrame, epoch_id: int):
            if df.isEmpty():
                return
            self.vault.apply_batch(df, 1_000_000_000 + int(epoch_id))

        writer = stream.writeStream.foreachBatch(_sink).option(
            "checkpointLocation", checkpoint_dir
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()
