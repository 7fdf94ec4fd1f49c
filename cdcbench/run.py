"""CDC engine benchmark: one run of one workload, in a fresh process.

    python3 cdcbench/run.py --workload ingest_copart --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. Inputs come from the seed's cache (made by
``inputs.py`` right after the session starts, on a miss). The run sets up
(session start, warm-up applies into throwaway tables, table creation), then
drives the workload closed-loop with one client for at most ``--seconds``,
applies any epochs left untimed, checks every result against the oracle, and
prints one detail JSON line followed by the result line. ``--trace 1`` wraps
each layer's public functions, reports per-layer numbers instead of the
end-to-end ones, and writes its spans to ``.cdcbench_out/``. The exit code
is 0 only when every checked call was correct.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdcbench.common import (  # noqa: E402
    BENCH_DIR, CHECK_SCANS, KEY, LOCAL_CORES, OUT_DIR, PACKAGE, ROOT, RUNS_DIR,
    SETUP_REPS, SPECS, clean_env, digest, jvm_process, lookup_rows,
    scan_summary, spark_session, stop_session,
)
from cdcbench.inputs import WARM_EPOCHS, ensure_inputs  # noqa: E402


def cpu_times() -> list[int]:
    """The VM's CPU time counters from ``/proc/stat`` (steal is the
    eighth: time the hypervisor gave this VM's CPUs to someone else)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(t0: list[int], t1: list[int]) -> float:
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / max(sum(d[:8]), 1)


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def storage_counts(lake: str) -> dict:
    """Walk a lake table's directory from outside the engine."""
    files = data_bytes = total = snaps = 0
    per_bucket: dict[str, int] = {}
    for d, _, names in os.walk(lake):
        for n in names:
            size = os.path.getsize(os.path.join(d, n))
            total += size
            if n.endswith(".parquet"):
                files += 1
                data_bytes += size
                b = os.path.basename(d)
                if b.startswith("__bucket="):
                    per_bucket[b] = per_bucket.get(b, 0) + 1
            elif n.startswith("snapshot-") and n.endswith(".json"):
                snaps += 1
    return {
        "data_files": files,
        "data_bytes": data_bytes,
        "bytes": total,
        "snapshots": snaps,
        "files_per_bucket_max": max(per_bucket.values(), default=0),
    }


def summarize(xs: list[float]) -> dict:
    """Median, plus the highest percentile that has at least ten samples
    beyond it (None when the run has too few samples for any)."""
    out = {"n": len(xs), "p50": statistics.median(xs) if xs else None,
           "p_hi": None, "p_hi_value": None, "samples": xs}
    s = sorted(xs)
    for p in (99.9, 99, 95, 90, 75, 50):
        v = s[min(len(s) - 1, int(len(s) * p / 100))] if s else None
        if v is not None and sum(1 for x in s if x > v) >= 10:
            out["p_hi"], out["p_hi_value"] = p, v
            break
    return out


class Run:
    def __init__(self, spec, seed: int, seconds: int, tracer, run_dir: str):
        self.spec = spec
        self.seed = seed
        self.cfg = spec.engine_config()
        self.seconds = seconds
        self.tracer = tracer
        self.run_dir = run_dir
        self.gen_s = 0.0
        self.lake = os.path.join(run_dir, "lake")
        self.mirror = os.path.join(run_dir, "mirror")
        self.samples = {k: [] for k in
                        ("epoch", "events_per_s", "lookup", "scan", "sync")}
        self.attempted = 0
        self.failures: list[str] = []
        self.setup: dict = {}
        self.timed_wall_s = 0.0
        self.epochs_timed = 0

    # -- bookkeeping -------------------------------------------------------
    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    def timed(self, name: str, sample: str | None, fn):
        """Run one public call (span ``bench.<name>``), record its latency."""
        with self.tracer.span(f"bench.{name}"):
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        if sample is not None:
            self.samples[sample].append(dt)
        return out, dt

    # -- phases --------------------------------------------------------------
    def set_up(self):
        from cnpj_data_pipeline_spark.plans.pipeline import IngestJob

        self.tracer.phase = "setup"
        t0 = time.perf_counter()
        self.spark = spark_session(
            self.run_dir, f"cdcbench-{self.spec.name}",
            self.cfg.shuffle_partitions, self.cores(),
        )
        session_s = time.perf_counter() - t0
        self.tracer.phase = None
        # inputs are made (on a cache miss) between the session start and the
        # warm-up applies, outside every timed region
        inputs, warm_wal, self.gen_s = ensure_inputs(
            self.spark, self.spec, self.seed, self.run_dir)
        with open(os.path.join(inputs, "expect.json")) as f:
            self.expect = json.load(f)
        self.wal = os.path.join(inputs, "wal")
        reps = []
        for r in range(SETUP_REPS):
            d = os.path.join(self.run_dir, f"warm-{r}")
            t0 = time.perf_counter()
            m = IngestJob(d, self.cfg).run_stream(self.spark, warm_wal)
            reps.append(time.perf_counter() - t0)
            self.check(len(m) == WARM_EPOCHS
                       and not any(x["skipped"] for x in m), "warm-up apply")
            shutil.rmtree(d)
        t0 = time.perf_counter()
        self.job = IngestJob(self.lake, self.cfg)
        self.table = self.job.ensure_table()
        create_s = time.perf_counter() - t0
        self.setup = {"session_s": session_s, "warmup_s": reps,
                      "create_s": create_s}
        return session_s + statistics.median(reps) + create_s

    def cores(self) -> int:
        return min(LOCAL_CORES, os.cpu_count() or 1)

    def apply_next(self, epoch: int, sample: bool) -> None:
        m, dt = self.timed(
            "epoch", "epoch" if sample else None,
            lambda: self.job.run_stream(self.spark, self.wal, max_epochs=1),
        )
        self.check(
            len(m) == 1 and m[0]["epoch"] == epoch and not m[0]["skipped"],
            f"apply epoch {epoch}",
        )
        if sample:
            self.samples["events_per_s"].append(
                self.expect["epoch_events"][epoch] / dt
            )

    def scan(self, state: dict) -> None:
        got, _ = self.timed(
            "scan", "scan", lambda: scan_summary(self.table.read(self.spark))
        )
        self.check(got == state["scan"], "scan summary")

    def lookup(self, lk: dict) -> None:
        keys = self.spark.createDataFrame(
            [tuple(k) for k in lk["keys"]],
            f"{KEY[0]} string, {KEY[1]} int",
        )
        rows, _ = self.timed(
            "lookup", "lookup",
            lambda: lookup_rows(self.table.read_keys(self.spark, keys)),
        )
        self.check(rows == lk["rows"], "lookup rows")

    def sync(self, epochs: list[int], sample: bool = True) -> None:
        m, _ = self.timed("sync", "sync" if sample else None,
                          lambda: self.syncer.run_once(self.spark))
        self.check(m["epochs_synced"] == epochs, f"sync {epochs}")

    def measure(self) -> None:
        from cnpj_data_pipeline_spark.plans.sync import FeedSyncJob

        n = len(self.expect["epoch_events"])
        states = self.expect["states"]
        self.syncer = FeedSyncJob(self.lake, self.mirror, cfg=self.cfg)
        first = 0
        if self.spec.kind == "serve":
            # the large seeding epoch and its mirror catch-up are not timed
            self.apply_next(0, sample=False)
            self.sync([0], sample=False)
            first = 1
        self.tracer.phase = "measure"
        t_start = time.perf_counter()
        e = first
        while e < n and time.perf_counter() - t_start < self.seconds:
            self.apply_next(e, sample=True)
            if self.spec.kind == "serve":
                self.lookup(states[e]["lookups"][0])
                self.scan(states[e])
                self.sync([e])
            e += 1
        self.timed_wall_s = time.perf_counter() - t_start
        self.tracer.phase = None
        self.epochs_timed = e - first
        # epochs the time limit left over are applied untimed, so every run
        # ends in the same, fully checked state
        while e < n:
            self.apply_next(e, sample=False)
            if self.spec.kind == "serve":
                self.sync([e], sample=False)
            e += 1
        final = states[-1]
        if self.spec.kind == "ingest":
            # the ingest workloads' own checks time the read paths on the
            # table they built: scans, lookups, and a mirror built by one
            # consumer catch-up over every epoch
            for _ in range(CHECK_SCANS):
                self.scan(final)
            for lk in final["lookups"]:
                self.lookup(lk)
            self.sync(list(range(n)))
        from cnpj_data_pipeline_spark.lake.format import LakeTable

        base = digest(self.table.read(self.spark))
        self.check(base == final["digest"], "final state digest")
        mirror = digest(LakeTable.load(self.mirror).read(self.spark))
        self.check(mirror == base, "mirror equals base")

    def peak_rss_mb(self) -> float:
        return (vm_hwm_kb(os.getpid())
                + vm_hwm_kb(jvm_process(self.spark).pid)) / 1024.0


def end_to_end(run: Run, setup_s: float, storage: dict, rss: float) -> dict:
    med = statistics.median
    s = run.samples
    return {
        "setup_s": (setup_s, "s"),
        "ingest_events_per_s": (med(s["events_per_s"]), "1/s"),
        "epoch_latency_p50_s": (med(s["epoch"]), "s"),
        "lookup_p50_s": (med(s["lookup"]), "s"),
        "scan_p50_s": (med(s["scan"]), "s"),
        "sync_p50_s": (med(s["sync"]), "s"),
        "lake_bytes_per_wal_byte": (
            storage["bytes"] / run.expect["wal_bytes"], "ratio"),
        "peak_rss_mb": (rss, "MB"),
    }


def per_layer(run: Run, tracer, storage: dict) -> dict:
    from cdcbench.trace import layer_metrics

    tracer.self_times()
    out = {}
    for k, v in layer_metrics(tracer.spans, run.timed_wall_s).items():
        unit = "s" if k.endswith("_s") or k.endswith(".s") else "count"
        out[k] = (v, unit)
    out["trace.overhead_s"] = (tracer.overhead_s, "s")
    out["lake.format.files_per_bucket_max"] = (
        storage["files_per_bucket_max"], "count")
    for k in ("data_files", "snapshots"):
        out[f"storage.{k}"] = (storage[k], "count")
    out["storage.bytes"] = (storage["bytes"], "B")
    return out


class _Off:
    """The tracer of an untraced run: records nothing."""

    phase = None

    @staticmethod
    def span(name: str):
        return contextlib.nullcontext()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"cdcbench: no {PACKAGE}/ beside {os.path.basename(BENCH_DIR)}/"
              " - run from the root of a full checkout", file=sys.stderr)
        return 2

    wall0 = time.monotonic()
    load_start = os.getloadavg()
    cpu_start = cpu_times()
    run_id = f"{args.workload}-s{args.seed}-p{os.getpid()}"
    run_dir = os.path.join(RUNS_DIR, run_id)
    os.makedirs(run_dir)
    env = clean_env(run_dir)
    os.environ.clear()
    os.environ.update(env)
    spec = SPECS[args.workload]
    tracer = _Off()
    if args.trace:
        from cdcbench.trace import Tracer, engine_targets

        tracer = Tracer(run_id)
        tracer.install(engine_targets())
    run = None
    result = None
    try:
        # flush pending writeback (tables an earlier run deleted) so the
        # disk is idle when set-up and timing start
        os.sync()
        run = Run(spec, args.seed, args.seconds, tracer, run_dir)
        try:
            setup_s = run.set_up()
            run.measure()
            rss = run.peak_rss_mb()
        finally:
            if getattr(run, "spark", None) is not None:
                stop_session(run.spark)
        storage = storage_counts(run.lake)
        metrics = (per_layer(run, tracer, storage) if args.trace
                   else end_to_end(run, setup_s, storage, rss))
        result = {
            "correct": not run.failures,
            "attempted": run.attempted,
            "failed": len(run.failures),
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }
        detail = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "nproc": os.cpu_count(), "local_cores": run.cores(),
            "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
            "cpu_steal_frac": steal_frac(cpu_start, cpu_times()),
            "inputs_generated_s": run.gen_s,
            "setup": run.setup, "timed_wall_s": run.timed_wall_s,
            "epochs_timed": run.epochs_timed,
            "latency_s": {k: summarize(v) for k, v in run.samples.items()
                          if k != "events_per_s"},
            "storage": storage,
            "ops_failed_frac": len(run.failures) / max(run.attempted, 1),
            "failures": run.failures,
            "wall_s": time.monotonic() - wall0,
        }
        print(json.dumps({"detail": detail}), flush=True)
    except Exception:
        traceback.print_exc()
    finally:
        if args.trace:
            tracer.uninstall()
            os.makedirs(OUT_DIR, exist_ok=True)
            tracer.dump(os.path.join(OUT_DIR, f"trace-{run_id}.jsonl"))
        shutil.rmtree(run_dir, ignore_errors=True)
    if result is None:
        return 1
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
