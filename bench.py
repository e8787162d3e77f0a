"""Benchmark harness — prints ONE JSON line.

Headline metric: sustained CDC merge-apply throughput (change-events/sec)
of the full vault replay (dedup → hashdiff → hub/sat/link merge → commit)
over the change-event stream derived from $SPARK_GRAFT_SF_DIR's events
table, on local[$SPARK_GRAFT_CPUS]. State-read queries (current turns,
SCD2 history) run against the vault that replay produced.

Scaling-efficiency evidence (BASELINE.md north rule, sandbox protocol):
``python bench.py --scaling`` executes the identical merge-apply job at
N=2 and 4N=8 pinned cores on the same input and reports throughput at
both plus efficiency = (T_2 / T_8) / 4. ``SPARK_GRAFT_SCALING_EVENTS``
sizes the input; ``SPARK_GRAFT_SCALING_CONCURRENT=1`` runs the legs
concurrently on disjoint cores (see run_scaling for why that is NOT the
default).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# operator queries timed at the bench sf (replay-state queries handled
# separately against the bench vault)
BENCH_QUERIES = [
    "cdc_latest_per_key",
    "cdc_changed_rows",
    "cdc_dup_key_validation",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_nation_revenue",
    "top_orders_per_customer",
    "events_hourly_rollup",
    "events_sessionize",
    "doc_quality_score",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "asof_lineitem_status",
    "dedup_clusters",
    "decontaminate",
    "doc_winnow_fingerprints",
    "domain_orders_current",
]


def _fresh_spark(n_cpus: str, app: str):
    from pyelt_spark.session import get_session

    return get_session(
        app,
        master=f"local[{n_cpus}]",
        shuffle_partitions=max(int(n_cpus), 8),
    )


class NoiseProbe:
    """Run tools/noise_probe.py alongside the bench and summarize its
    windows, so the bench artifact self-describes its measurement window
    (VERDICT r4: a uniformly-noisy host cost a round of comparability).
    ``probe_slow_share`` = share of windows below 80% of the run's own
    median spin rate — an objective host-steal marker; > ~0.1 means the
    numbers were taken under contention and should not be compared.

    The probe only measures HOST steal if the measured job cannot run on
    the probe's core (noise_probe.py docstring: disjoint cores), so the
    probe claims the box's last core and the bench process — hence the
    child JVM, which inherits affinity — is restricted to the rest. On a
    32-core box local[32] then overcommits 32 task threads onto 31 cores
    (~3% slower), a fair price for a window label that does not flag the
    bench's own load as contention (r5: an otherwise-quiet --full run
    self-labeled 'noisy' at slow_share 0.12 because Spark shared core 31
    with the probe)."""

    def __init__(self):
        import subprocess

        fd, self.path = tempfile.mkstemp(prefix="bench_probe_")
        os.close(fd)
        # derive both the probe core and the restricted mask from the
        # CURRENT allowed set, not cpu_count: an externally pinned or
        # cgroup-cpuset-limited bench must not be silently unpinned, and
        # the probe core must be one the process may actually use
        try:
            allowed = os.sched_getaffinity(0)
        except (AttributeError, OSError):
            allowed = set(range(os.cpu_count() or 1))
        self.core = max(allowed)
        self.reserved = False
        if len(allowed) > 2:
            try:
                os.sched_setaffinity(0, allowed - {self.core})
                self.reserved = True
            except (AttributeError, OSError):
                pass
        probe = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "tools", "noise_probe.py")
        cmd = [sys.executable, probe, self.path]
        pin = None
        if self.reserved:
            if shutil.which("taskset"):
                cmd = ["taskset", "-c", str(self.core)] + cmd
            else:
                # without taskset the child would inherit the RESTRICTED
                # mask and spin on the bench cores — pin it ourselves
                pin = lambda: os.sched_setaffinity(0, {self.core})  # noqa: E731
        self.proc = subprocess.Popen(
            cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            preexec_fn=pin,
        )

    def stop(self) -> dict:
        self.proc.terminate()
        self.proc.wait()
        try:
            with open(self.path) as f:
                raw = [int(l) for l in f if l.strip()]
            os.unlink(self.path)
        except (OSError, ValueError):
            return {}
        if len(raw) < 20:
            return {}
        # drop the first 5 windows in ARRIVAL order (interpreter warmup),
        # THEN sort — sorting first would discard the slowest windows,
        # i.e. the host-steal signal itself (ADVICE r4)
        wins = sorted(raw[5:])
        med = wins[len(wins) // 2]
        slow = sum(1 for w in wins if w < 0.8 * med) / len(wins)
        return {
            "probe_median": med,
            "probe_p05": wins[len(wins) // 20],
            "probe_slow_share": round(slow, 4),
            "window": "noisy" if slow > 0.1 else "quiet",
        }


def _warmup_replay(spark) -> None:
    """Untimed JIT/codegen warmup through the exact replay code path (a
    tiny synthetic vault). Fresh-process timings are inflated ~5-7 s by
    JVM/JIT warmup (r5 measurement: first sf0.1 replay 17.7 s, second
    10.2 s in the same process); the headline metric is sustained merge
    latency, so the bench measures warm-vs-warm and says so in the JSON
    (``replay_warmed_up``)."""
    from pyelt_spark.plans.pipeline import TranscriptVault
    from pyelt_spark.sources.events import transcript_change_events
    from pyelt_spark.streaming.runner import MicrobatchRunner

    # shape-matched: same bucket count as the measured replay (32), enough
    # events for several non-trivial batches. A 4k-event/8-bucket warmup
    # left the first sf0.1 replay ~4 s slower than the second (different
    # codegen/AQE paths); with this shape the first timed replay matches
    # the steady state (r5 measurement: 14.07 vs 13.95 s back-to-back).
    ev = transcript_change_events(spark, 20000, batch_size=2500, seed=7)
    state_base = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    root = tempfile.mkdtemp(prefix="bench_warm_", dir=state_base)
    try:
        MicrobatchRunner(
            TranscriptVault(spark, root, num_buckets=max(int(CPUS), 8))
        ).replay(ev)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def run_merge_apply(spark, sf_dir: str, keep_vault: bool = False):
    """The headline job: full vault replay in 8 microbatches.
    Returns (seconds, n_events, vault_or_None)."""
    from pyspark.sql import functions as F

    from pyelt_spark.entry_queries import derived_events
    from pyelt_spark.plans.pipeline import TranscriptVault
    from pyelt_spark.streaming.runner import MicrobatchRunner

    ev = derived_events(spark, sf_dir)
    n = ev.count()
    ev = ev.withColumn(
        "batch_id", F.floor(F.col("seq") / F.lit(max(n // 8, 1))).cast("long")
    ).persist()
    state_base = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    root = tempfile.mkdtemp(prefix="bench_vault_", dir=state_base)
    vault = TranscriptVault(spark, root, num_buckets=max(int(CPUS), 8))
    t0 = time.perf_counter()
    MicrobatchRunner(vault).replay(ev)
    dt = time.perf_counter() - t0
    ev.unpersist()
    if not keep_vault:
        shutil.rmtree(root, ignore_errors=True)
        vault = None
    return dt, n, vault


def run_scaling(sf_dir: str) -> dict:
    """The identical merge-apply job at two parallelism levels (N=2 and
    4N=8 cores) on the same input — the sandbox stand-in for N vs 4N
    executors (BASELINE.md). N=2→8 rather than 8→32 because all levels
    share ONE local JVM (one GC, one UnifiedMemoryManager, one disk); at
    32 threads lock/GC contention — which a real 4N-executor cluster does
    not have — dominates and the measurement stops isolating parallelism.
    The input is a deterministically generated change-event stream big
    enough that compute (hashing, dedup shuffle, merge join, parquet
    write) dominates driver latency; it is written ONCE and both runs
    read the same files. State lives on tmpfs so the sandbox's single
    disk does not serialize the bucket writes."""
    from pyelt_spark.plans.pipeline import TranscriptVault
    from pyelt_spark.sources.events import transcript_change_events
    from pyelt_spark.streaming.runner import MicrobatchRunner

    n_events = int(os.environ.get("SPARK_GRAFT_SCALING_EVENTS", "2000000"))
    input_dir = os.path.join(tempfile.gettempdir(), f"scaling_input_{n_events}")
    if not os.path.exists(os.path.join(input_dir, "_SUCCESS")):
        gen = _fresh_spark("32", "bench_scaling_gen")
        transcript_change_events(
            gen, n_events, batch_size=max(n_events // 4, 1), seed=42
        ).write.mode("overwrite").parquet(input_dir)
        gen.stop()

    out = {"n_events_requested": n_events, "input": input_dir}
    # each level runs in its own PINNED process: a level gets exactly its
    # core budget for EVERYTHING (tasks, GC, IO threads) — the faithful
    # analog of an executor's container cpu limit. Without pinning,
    # local[N] quietly consumes >N cores of GC/IO and the comparison stops
    # measuring parallelism. Legs run one at a time by default.
    # SPARK_GRAFT_SCALING_CONCURRENT=1 runs them concurrently on disjoint
    # core sets (0-1 and 2-9) so both legs sample the same host-noise
    # window — measured and REJECTED as the default: shared memory
    # bandwidth starves the wide leg (8-core throughput dropped 73→64
    # kev/s while the 2-core leg was unaffected), deflating the ratio by
    # ~0.2 — a bias a real N-vs-4N two-cluster comparison does not have.
    # Sequential legs + repeated pairs + per-leg minima is the protocol.
    import subprocess

    concurrent = bool(os.environ.get("SPARK_GRAFT_SCALING_CONCURRENT"))
    levels = (("2", "0-1"), ("8", "2-9" if concurrent else "0-7"))
    procs = []
    for cpus, cpuset in levels:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--scaling-worker", cpus, input_dir,
        ]
        if shutil.which("taskset"):
            cmd = ["taskset", "-c", cpuset] + cmd
        env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="16g", PYTHONPATH=os.path.dirname(os.path.abspath(__file__)))
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, env=env)
        procs.append((cpus, p))
        if not concurrent:
            p.wait()
    for cpus, p in procs:
        stdout, _ = p.communicate()
        line = [l for l in stdout.splitlines() if l.startswith("{")][-1]
        out[f"local[{cpus}]"] = json.loads(line)
    t_n = out[f"local[{levels[0][0]}]"]["sec"]
    t_4n = out[f"local[{levels[1][0]}]"]["sec"]
    out["scaling_efficiency"] = round((t_n / t_4n) / 4, 3)
    return out


def run_scaling_worker(cpus: str, input_dir: str) -> None:
    from pyelt_spark.plans.pipeline import TranscriptVault
    from pyelt_spark.streaming.runner import MicrobatchRunner

    state_base = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    # shuffle partitions: 1/core measured fastest for this workload on the
    # wide leg (144.6s vs 161s at 4/core and 172s at 2/core, 16M events,
    # pinned 8 cores) — the merge shuffles are uniform enough that one
    # task-per-core wave beats straggler-smoothing oversubscription, so
    # task count stays proportional to the core budget on both legs.
    ppc = int(os.environ.get("SPARK_GRAFT_SCALING_PARTS_PER_CORE", "1"))
    from pyelt_spark.session import get_session

    spark = get_session(
        f"bench_scaling_{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=max(ppc * int(cpus), 8),
    )
    ev = spark.read.parquet(input_dir)
    n = ev.count()
    root = tempfile.mkdtemp(prefix=f"scaling_vault_{cpus}_", dir=state_base)
    vault = TranscriptVault(spark, root, num_buckets=32)
    t0 = time.perf_counter()
    MicrobatchRunner(vault).replay(ev)
    dt = time.perf_counter() - t0
    shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({"sec": round(dt, 3), "events_per_sec": round(n / dt, 1), "n_events": n}))
    spark.stop()


def main():
    if "--scaling-worker" in sys.argv:
        i = sys.argv.index("--scaling-worker")
        run_scaling_worker(sys.argv[i + 1], sys.argv[i + 2])
        return
    if "--scaling" in sys.argv:
        result = run_scaling(SF_DIR)
        print(json.dumps({"metric": "scaling", "sf": SF_DIR, **result}))
        return

    import __spark_entry__ as entry

    # probe BEFORE the Spark session: NoiseProbe restricts this process's
    # affinity away from the probe core, and the JVM must be launched after
    # that to inherit the restriction (an already-running JVM keeps its mask)
    probe = NoiseProbe()
    spark = _fresh_spark(CPUS, "bench")
    queries = entry.queries()

    # headline: merge-apply throughput (warm-vs-warm — see _warmup_replay);
    # keep the vault for state reads
    _warmup_replay(spark)
    merge_sec, n_events, vault = run_merge_apply(spark, SF_DIR, keep_vault=True)
    per_query = {"cdc_merge_apply_replay": round(merge_sec, 3)}
    total = merge_sec

    # state-read queries against the replayed vault
    for name, df_fn in {
        "cdc_current_turns_read": lambda: vault.current_turns(),
        "cdc_scd2_history_read": lambda: vault.sat.read(),
        "cdc_hub_read": lambda: vault.hub.read(),
    }.items():
        t0 = time.perf_counter()
        df_fn().count()
        dt = time.perf_counter() - t0
        per_query[name] = round(dt, 3)
        total += dt

    # --full: additionally time EVERY queries() entry not already covered,
    # so no operator family is perf-invisible (default list stays fixed
    # for round-over-round driver comparability)
    bench_list = list(BENCH_QUERIES)
    if "--full" in sys.argv:
        bench_list += [q for q in queries if q not in bench_list]

    for name in bench_list:
        t0 = time.perf_counter()
        queries[name](spark, SF_DIR).count()
        dt = time.perf_counter() - t0
        per_query[name] = round(dt, 3)
        total += dt

    shutil.rmtree(vault.root, ignore_errors=True)
    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    print(
        json.dumps(
            {
                "metric": "cdc_merge_apply_plus_queries_wall_sec",
                "value": round(total, 3),
                "unit": "sec",
                "queries": per_query,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "merge_apply_events_per_sec": round(n_events / merge_sec, 1),
                "merge_apply_n_events": n_events,
                "replay_warmed_up": True,
                # r5: the Spark JVM is kept off the probe core (NoiseProbe
                # docstring) — costs ~3% of compute vs r4's layout but the
                # window label now measures the HOST, not the bench itself.
                # False = the restriction could not be applied (non-Linux,
                # tiny cpuset) and the window label may include self-load
                "probe_core_reserved": probe.reserved,
                **probe.stop(),
            }
        )
    )


if __name__ == "__main__":
    main()
