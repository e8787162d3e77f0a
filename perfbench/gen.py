"""Seeded input generators for the benchmark.

Everything here is a function of the seed: the same seed writes the same
files. The program under test only ever receives the written parquet.

* ``domain_tables``: the ``customer`` and ``orders`` tables the orders
  domain's change stream derives from, with the column types and value
  domains of the repository's sf0.001 test tables.
* ``cdc_streams``: a transcript change-event stream from the engine's source
  generator: a catch-up whose batch ids follow seq order or a seeded hash of
  seq (out of order: later batches carry smaller seqs), then tail
  microbatches, each in its own directory.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def domain_tables(out_dir: str, seed: int) -> None:
    """Write the two tables the orders domain replays from: 150 customers
    and 1500 orders (the repository's sf0.001 sizes)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_ord = 150, 1500
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    o_date = np.datetime64("1995-01-01", "us") + rng.integers(0, 2400, n_ord).astype(
        "timedelta64[D]")
    # a tenth of the customers place no order
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust - n_cust // 10, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(o_date, pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })


def cdc_streams(spark, out_dir: str, n_catchup: int, n_batches: int, seed: int,
                out_of_order: bool = False, n_tail: int = 0, tail_batch: int = 1):
    """Write one change-event stream as parquet: the catch-up in one
    directory and every tail microbatch in its own. Returns the catch-up
    frame and {batch id: microbatch frame}, read back from the files.

    The first ``n_catchup`` seqs form the catch-up in ``n_batches`` batches:
    seq ranges, or, ``out_of_order``, batch ids from a seeded hash of seq,
    so each batch mixes old and new seqs. The next ``n_tail`` seqs form
    tail microbatches of ``tail_batch`` events, numbered after the catch-up,
    over the same conversations."""
    from pyspark.sql import functions as F

    from pyelt_spark.sources.events import transcript_change_events

    ev = transcript_change_events(spark, n_catchup + n_tail, n_convs=n_catchup // 80, seed=seed)
    seq = F.col("seq")
    catchup_batch = (
        F.pmod(F.xxhash64(F.lit(seed), seq), F.lit(n_batches)) if out_of_order
        else F.floor(seq / F.lit(-(-n_catchup // n_batches)))
    )
    tail_batch_id = F.lit(n_batches) + F.floor((seq - F.lit(n_catchup)) / F.lit(tail_batch))
    ev = ev.withColumn(
        "batch_id", F.when(seq < n_catchup, catchup_batch).otherwise(tail_batch_id).cast("long")
    )
    part = F.when(seq < n_catchup, F.lit("catchup")).otherwise(
        F.concat(F.lit("tail-"), F.col("batch_id").cast("string")))
    ev.withColumn("part", part).coalesce(4).write.partitionBy("part").parquet(out_dir)

    def read(part: str):
        return spark.read.parquet(os.path.join(out_dir, f"part={part}"))

    tail = {n_batches + i: read(f"tail-{n_batches + i}") for i in range(-(-n_tail // tail_batch))}
    return read("catchup"), tail
