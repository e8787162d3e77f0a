"""CDC vault benchmark: one workload per run, every output checked.

Run from the repository root:

    python3 perfbench/run.py --workload catchup_window --seed 1 --seconds 25 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 25

A run starts a ``local[4]`` Spark session, generates the workload's inputs
from ``--seed`` (written once to parquet; the program only reads them),
warms the engine up on a throwaway vault and then runs the workload on a
fresh vault. The measured phase is a fixed amount of work, so the vault it
measures does not depend on the speed of the code under test; it takes
about ``--seconds`` on a 4-core host. Every output is checked against a
reference that shares no code with the engine's merge (``reference.py``).
The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. The lines before it repeat the
figures and add the ones the JSON leaves out (set-up parts, the commit
tail, the failed share, the host noise label).

``--trace 0`` reports the end-to-end metrics, with no tracing at all.
``--trace 1`` reports per-layer metrics instead: once set-up is done the
program's layer entry points are wrapped in spans (``spans.py``) and
Spark's event log is folded into them. ``--workload all`` runs every
workload both ways in child processes and prints the traced runs' overhead
against the untraced ones.

Workloads (sizes in the constants below). Both are one consumer's life: a
catch-up replay into a fresh vault by one ``MicrobatchRunner.replay``, then
the tail, a closed loop with one client that applies ``TAIL_BATCHES`` small
microbatches with new, higher seqs over the same keys (one ``replay`` call
each). After each it reads three hot conversations (``conversation_view``,
collected) and scans ``current_turns()`` (fully materialized) twice; a
read step also follows the catch-up. Set-up first replays a small catch-up
of the same order on a throwaway vault, so JIT and code generation warm-up
land in ``setup_s``, not in the timed catch-up.

* ``catchup_window``: the catch-up stream is in order; every lane takes
  the window-coalesced ``apply_batches`` path. Its traced run then also
  replays the orders domain through a fresh ``Pipe`` (five lanes on four
  cores) and reads it with the ``domain_orders_current`` driver query,
  checked; this gives the ``pipe.replay`` and ``queries`` layers.
* ``catchup_out_of_order``: the catch-up's batch ids come from a hash of
  ``seq``, so later batches carry smaller seqs; the window path declines
  and every lane runs the per-batch chain with sat prefetch.

End-to-end metrics:

* ``setup_s``: session start, input generation and the warm-up replay.
* ``replay_events_per_s``: catch-up events per second of catch-up wall.
* ``commit_p50_s``: median wall of a tail microbatch commit.
* ``point_read_p50_s``, ``scan_read_p50_s``: median read walls.
* ``bytes_written_per_event``: vault bytes on disk per applied event.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]
sys.dont_write_bytecode = True

import gen  # noqa: E402
import reference  # noqa: E402

WORKLOADS = ["catchup_window", "catchup_out_of_order"]
CORES = 4
BUCKETS = max(CORES, 8)    # bench.py's vault bucket count for this core count
DRIVER_MEM = "2g"

CATCHUP_EVENTS = 32_000    # ~8k keys (20 turns per conversation)
CATCHUP_BATCHES = 3
WARMUP_EVENTS = 4_000      # the set-up replay's catch-up ...
WARMUP_BATCHES = 2         # ... in fewer batches: same paths, less fixed cost
TAIL_EVENTS = 1_000        # per microbatch
TAIL_BATCHES = 4           # tail commits per run
HOT_CONVS = ["conv-0", "conv-1", "conv-2"]  # each read step reads all three
SCANS_PER_STEP = 2
NOISY = 0.05               # host CPU share of steal plus other processes
DOMAIN_BUCKETS = 16        # the domain driver query's bucket count


def now() -> float:
    return time.perf_counter()


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail_percentile(xs: list[float]) -> str:
    """The highest percentile with at least ten samples above it."""
    n = len(xs)
    if n < 11:
        return f"n/a (needs 11 samples, have {n})"
    pct = int(100 * (n - 10) / n)
    return f"p{pct} {sorted(xs)[max(pct * n // 100 - 1, 0)]:.4f} s of {n}"


def tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Host:
    """Noise label for a run from /proc: steal time, and CPU used by
    processes other than this one and its JVM."""

    def __init__(self, jvm_pid: int):
        self.pids = [os.getpid(), jvm_pid]
        self.t0 = self._sample()

    def _sample(self) -> tuple[list[int], int]:
        with open("/proc/stat") as f:
            cpu = [int(x) for x in f.readline().split()[1:]]
        own = 0
        for pid in self.pids:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            own += int(fields[11]) + int(fields[12])  # utime + stime
        return cpu, own

    def stop(self) -> dict[str, float]:
        (c0, o0), (c1, o1) = self.t0, self._sample()
        d = [b - a for a, b in zip(c0, c1)]
        total = max(sum(d[:8]), 1)  # user..steal (guest time is inside user)
        busy = total - d[3] - d[4]  # minus idle and iowait
        others = max(busy - d[7] - (o1 - o0), 0)
        return {"steal_share": d[7] / total, "others_cpu_share": others / total}


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def stop_jvm() -> None:
    """Stop Spark and wait for the gateway JVM to exit (it exits when its
    stdin pipe closes)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None and gateway.proc is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()


# ---------------------------------------------------------------------------
# run context
# ---------------------------------------------------------------------------


class Run:
    def __init__(self, args, work: str):
        self.args, self.work, self.seed = args, work, args.seed
        self.attempted = self.failed = 0
        self.notes: list[str] = []
        self.setup: dict[str, float] = {}
        self.reference_s = self.check_s = 0.0
        self.samples: dict[str, list[float]] = {}
        self.summary: dict[str, str] = {}
        self.tracer = None
        self.n_vaults = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def start_session(self) -> None:
        t = now()
        os.makedirs(self.path("tmp"))
        import tempfile

        tempfile.tempdir = self.path("tmp")
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(CORES),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": self.path("spark-local"),
            "TZ": "UTC",
        })
        time.tzset()
        conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')}",
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            os.makedirs(self.path("eventlog"))
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.path("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        from pyelt_spark.session import get_session

        self.spark = get_session("perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).collect()
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.setup["session"] = now() - t

    def start_tracing(self) -> None:
        """Wrap the layer entry points in spans (traced runs), after set-up."""
        if self.args.trace:
            from spans import Tracer

            self.tracer = Tracer(self.spark)
            self.tracer.install()

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def check(self, what: str, problem) -> None:
        self.attempted += 1
        if problem:
            self.failed += 1
            self.notes.append(f"MISMATCH {what}: {problem}")

    def fresh_vault(self):
        from pyelt_spark.plans.pipeline import TranscriptVault

        self.n_vaults += 1
        return TranscriptVault(self.spark, self.path("vaults", str(self.n_vaults)), BUCKETS)


# ---------------------------------------------------------------------------
# CDC workloads
# ---------------------------------------------------------------------------


def replay(vault, events) -> float:
    from pyelt_spark.streaming.runner import MicrobatchRunner

    t = now()
    MicrobatchRunner(vault).replay(events)
    return now() - t


def read_step(run: Run, vault, spec: reference.VaultSpec) -> None:
    """A point read of each hot conversation and ``SCANS_PER_STEP`` full
    scans, timed, then checked against the spec, untimed."""
    points = {}
    for conv in HOT_CONVS:
        t = now()
        with run.span("reads.point"):
            points[conv] = [tuple(r)[3:] for r in vault.conversation_view(conv).collect()]
        run.sample("point_read_s", now() - t)
    for _ in range(SCANS_PER_STEP):
        t = now()
        with run.span("reads.scan"):
            vault.current_turns().write.format("noop").mode("overwrite").save()
        run.sample("scan_read_s", now() - t)
    t = now()
    for conv, point in points.items():
        run.check(f"point read {conv}",
                  None if point == spec.conversation(conv) else f"{len(point)} rows differ")
    scan = [tuple(r.values()) for r in vault.current_turns().toArrow().to_pylist()]
    want = spec.current()
    run.check("scan read", None if scan == want else
              f"{len(scan)} rows vs {len(want)}, first diff "
              f"{next(((a, b) for a, b in zip(scan, want) if a != b), None)}")
    run.check_s += now() - t


def check_state(run: Run, vault, spec: reference.VaultSpec, what: str) -> None:
    t = now()
    got = reference.vault_state(vault)
    run.check(what, "; ".join(reference.diff_state(got, spec.expected())))
    run.check_s += now() - t


def warm_up(run: Run, out_of_order: bool) -> None:
    """Set-up, untimed: a small catch-up of the workload's order through the
    same paths on a throwaway vault."""
    t = now()
    catchup, _ = gen.cdc_streams(run.spark, run.path("warmup-input"), WARMUP_EVENTS,
                                 WARMUP_BATCHES, run.seed + 1_000_003, out_of_order)
    vault = run.fresh_vault()
    replay(vault, catchup)
    shutil.rmtree(vault.root)
    run.setup["warmup"] = now() - t


def cdc(run: Run, out_of_order: bool) -> None:
    """Catch-up replay into a fresh vault, then the tail loop on it."""
    spark = run.spark
    t = now()
    catchup, tail = gen.cdc_streams(
        spark, run.path("input"), CATCHUP_EVENTS, CATCHUP_BATCHES, run.seed, out_of_order,
        n_tail=TAIL_EVENTS * TAIL_BATCHES, tail_batch=TAIL_EVENTS)
    run.setup["inputs"] = now() - t
    warm_up(run, out_of_order)
    t = now()
    every = reference.collect_events(spark.read.parquet(run.path("input")).drop("part"))
    spec = reference.VaultSpec()
    for b in range(CATCHUP_BATCHES):
        spec.apply(b, every[b])
    run.reference_s = now() - t
    t = now()
    vault = run.fresh_vault()
    # a collection left over from set-up would land in the timed catch-up
    gc.collect()
    spark._jvm.System.gc()
    run.setup["vault"] = now() - t
    run.start_tracing()

    applied = sum(len(every[b]) for b in range(CATCHUP_BATCHES))
    run.sample("replay_events_per_s", applied / replay(vault, catchup))
    read_step(run, vault, spec)
    for b in sorted(tail):
        run.sample("commit_s", replay(vault, tail[b]))
        spec.apply(b, every[b])
        applied += len(every[b])
        read_step(run, vault, spec)
    run.sample("bytes_written_per_event", tree_bytes(vault.root) / applied)
    check_state(run, vault, spec, "state after tail")
    run.summary["commit_tail_s"] = tail_percentile(run.samples["commit_s"])


def cdc_metrics(run: Run) -> dict[str, tuple[float, str]]:
    m = {k: median(v) for k, v in run.samples.items()}
    return {
        "setup_s": (sum(run.setup.values()), "s"),
        "replay_events_per_s": (m["replay_events_per_s"], "1/s"),
        "commit_p50_s": (m["commit_s"], "s"),
        "point_read_p50_s": (m["point_read_s"], "s"),
        "scan_read_p50_s": (m["scan_read_s"], "s"),
        "bytes_written_per_event": (m["bytes_written_per_event"], "bytes"),
    }


# ---------------------------------------------------------------------------
# orders domain (traced runs of catchup_window)
# ---------------------------------------------------------------------------


def domain(run: Run) -> None:
    """A fresh orders-domain ``Pipe`` (two hubs, two sats and a hybrid link:
    five lanes on four cores) replays the domain's three-batch stream; the
    ``domain_orders_current`` driver query then reads it, collected and
    checked. No end-to-end metric includes it: it gives the ``pipe.replay``
    and ``queries`` layers."""
    import pyarrow.parquet as pq

    from pyelt_spark import entry_domain
    from pyelt_spark.plans.pipe import Pipe

    spark = run.spark
    sf_dir = run.path("domain-tables")
    gen.domain_tables(sf_dir, run.seed)
    entry_domain._domain_events(spark, sf_dir).write.parquet(run.path("domain-input"))
    pipe = Pipe(spark, run.path("domain-vault"), entry_domain._mappings(),
                num_buckets=DOMAIN_BUCKETS)
    pipe.replay(spark.read.parquet(run.path("domain-input")))
    # the query reads the pipe registered for its table directory: this one
    entry_domain._PIPES[sf_dir] = pipe
    with run.span("queries.domain_orders_current"):
        got = [tuple(r) for r in entry_domain.q_domain_orders_current(spark, sf_dir).collect()]
    want = reference.domain_orders_current(
        *(pq.read_table(os.path.join(sf_dir, f"{t}.parquet")).to_pylist()
          for t in ("customer", "orders")))
    got.sort()
    run.check("domain_orders_current", None if got == want else
              f"{len(got)} rows vs {len(want)}, first diff "
              f"{next(((a, b) for a, b in zip(got, want) if a != b), None)}")


# ---------------------------------------------------------------------------
# results
# ---------------------------------------------------------------------------

def per_layer(run: Run, end_to_end: dict) -> dict[str, tuple[float, str]]:
    from spans import FIELDS

    rss = jvm_peak_rss_mb(run.jvm_pid)
    run.spark.stop()  # flushes the event log
    logs = os.listdir(run.path("eventlog"))
    out = {}
    for key, value in run.tracer.layers(run.path("eventlog", logs[0])).items():
        field = key.rsplit(".", 1)[1]
        out[key] = (value, FIELDS.get(field, "s" if field == "wall_s" else "ratio"))
    out["jvm.peak_rss_mb"] = (rss, "MB")
    # the traced run's end-to-end figures, against the untraced run's
    for name, (value, unit) in end_to_end.items():
        out[f"traced.{name}"] = (value, unit)
    out["host.steal_share"] = (run.host["steal_share"], "ratio")
    out["host.others_cpu_share"] = (run.host["others_cpu_share"], "ratio")
    return out


def run_one(args) -> int:
    import pyelt_spark  # noqa: F401  (fails fast outside the program's checkout)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = Run(args, work)
    try:
        run.start_session()
        host = Host(run.jvm_pid)
        cdc(run, out_of_order=args.workload == "catchup_out_of_order")
        run.host = host.stop()
        metrics = cdc_metrics(run)
        if args.trace:
            if args.workload == "catchup_window":
                domain(run)
            metrics = per_layer(run, metrics)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # unless another run is using it

    noise = run.host["steal_share"] + run.host["others_cpu_share"]
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
    print("  set-up: " + ", ".join(f"{k} {v:.3f}s" for k, v in run.setup.items())
          + f"; not timed: reference {run.reference_s:.3f}s, checks {run.check_s:.3f}s")
    print("  samples: " + ", ".join(f"{k} x{len(v)} ({min(v):.4g}-{max(v):.4g})"
                                    for k, v in run.samples.items()))
    for k, v in run.summary.items():
        print(f"  {k} {v}")
    print(f"  failed_share {run.failed / max(run.attempted, 1):.4f} "
          f"({run.failed} of {run.attempted} checked operations)")
    print(f"  host noise: steal {run.host['steal_share']:.2%}, other processes "
          f"{run.host['others_cpu_share']:.2%} of host CPU "
          f"({'noisy' if noise > NOISY else 'quiet'})")
    for note in run.notes[:20]:
        print("  " + note)
    for line in getattr(run.tracer, "paths", []):
        print("  lane paths: " + line)
    for name, (value, unit) in metrics.items():
        if not args.trace or value:
            print(f"  {name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def run_all(args) -> int:
    """Every workload, untraced then traced, each in its own process."""
    summary = {}
    for w in WORKLOADS:
        results = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
            print(out, end="", flush=True)
            results[trace] = json.loads(out.strip().splitlines()[-1])
        plain, traced = results[0]["metrics"], results[1]["metrics"]
        overhead = {k: traced[f"traced.{k}"]["value"] / v["value"] - 1  # signed ratio
                    for k, v in plain.items() if k != "setup_s"}
        summary[w] = {"correct": results[0]["correct"] and results[1]["correct"],
                      "traced_vs_untraced": overhead}
        print(f"{w}: traced vs untraced: "
              + ", ".join(f"{k} {v:+.1%}" for k, v in overhead.items()))
    print(json.dumps(summary))
    return 0 if all(s["correct"] for s in summary.values()) else 1


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=25)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
