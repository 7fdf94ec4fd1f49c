"""Shared pieces of the CDC benchmark: workload specs, paths, the Spark
session settings and the order-independent digest both the oracle side and
the lake side are reduced to.

Nothing here starts Spark on import; ``pyspark`` is imported inside the
functions that need it, so ``run.py`` can refuse to run (non-zero exit,
no result line) before touching the engine when the package is absent.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
from dataclasses import dataclass, field

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "cnpj_data_pipeline_spark"
CACHE_DIR = os.path.join(ROOT, ".cdcbench_cache")
RUNS_DIR = os.path.join(ROOT, ".cdcbench_runs")
OUT_DIR = os.path.join(ROOT, ".cdcbench_out")

# Source files whose behaviour decides the cached inputs: the engine's
# generator and WAL writers, and this benchmark's input and spec code. A
# change to any of them invalidates every cached input.
INPUT_SOURCES = (
    os.path.join(PACKAGE, "gen.py"),
    os.path.join(PACKAGE, "sources", "change_stream.py"),
    os.path.join(os.path.basename(BENCH_DIR), "inputs.py"),
    os.path.join(os.path.basename(BENCH_DIR), "common.py"),
)

PAYLOAD = ("conv_id", "turn_idx", "role", "text", "tool", "ts")
KEY = ("conv_id", "turn_idx")
LOOKUP_KEYS = 32
SETUP_REPS = 3
# lookups and scans that check the final state of an ingest workload (the
# first of each runs cold; scans are cheap, so they get more samples)
CHECK_LOOKUPS = 4
CHECK_SCANS = 7
LOCAL_CORES = 4
DRIVER_MEMORY = "2g"


@dataclass(frozen=True)
class Spec:
    """One workload: its inputs (sizes are events) and the pinned engine
    configuration. Every ``EngineConfig`` value that changes the physical
    plan is pinned here, never taken from the environment."""

    name: str
    kind: str  # "ingest" or "serve"
    bucketed: bool
    n_events: int
    n_epochs: int
    seed_epochs: int  # leading generator epochs folded into WAL epoch 0
    warm_events: int
    cfg: dict = field(default_factory=dict)

    def engine_config(self):
        from cnpj_data_pipeline_spark.config import EngineConfig

        return EngineConfig(**self.cfg)


SPECS = {
    s.name: s
    for s in (
        # large bucket-aligned epochs: the shuffle-free apply does the work
        Spec("ingest_copart", "ingest", True, 160_000, 5, 1, 3_000,
             dict(n_buckets=16, merge_partitions=8, shuffle_partitions=8,
                  compact_threshold=5)),
        # one large seeding epoch, then small arbitrarily partitioned epochs,
        # each followed by lookups, a scan and a consumer catch-up
        Spec("serve_mixed", "serve", False, 65_000, 13, 10, 3_000,
             dict(n_buckets=8, merge_partitions=4, shuffle_partitions=4,
                  compact_threshold=2, compact_max_buckets=2)),
    )
}


def source_hash() -> str:
    h = hashlib.sha256()
    for rel in INPUT_SOURCES:
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(rel.encode() + b"\0" + f.read())
    return h.hexdigest()[:12]


def input_dir(workload: str, seed: int, src_hash: str) -> str:
    return os.path.join(CACHE_DIR, workload, f"s{seed}-{src_hash}")


def clean_env(run_dir: str) -> dict:
    """The environment a run (and its input generator) executes under: no
    ``SPARK_GRAFT_*`` knob reaches the engine, Spark's scratch stays in the
    run directory, and Python workers import the package from the
    checkout."""
    env = {
        k: v for k, v in os.environ.items()
        if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"
    }
    env["PYTHONPATH"] = ROOT + (
        os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""
    )
    env["TMPDIR"] = run_dir
    return env


def spark_session(run_dir: str, app: str, shuffle_partitions: int, cores: int):
    """Start the engine's session with every resource setting pinned."""
    from cnpj_data_pipeline_spark import session

    local = os.path.join(run_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = session.get_spark(
        app_name=app,
        master=f"local[{cores}]",
        shuffle_partitions=shuffle_partitions,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # a pre-touched fixed heap: steady timings from the first call
            # and a peak RSS that does not depend on when the heap grew
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={local} -Xms{DRIVER_MEMORY} "
                "-XX:+AlwaysPreTouch"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def digest(df) -> list:
    """Order-independent digest of a frame's payload rows: the row count and
    the wrapping-free sum of one 64-bit hash per row (decimal, so the sum
    cannot overflow). Every row is rendered as JSON first, so a NULL in one
    column never hashes like a value in its neighbour."""
    from pyspark.sql import functions as F

    row = F.xxhash64(F.to_json(F.struct(*[F.col(c) for c in PAYLOAD])))
    r = df.select(row.cast("decimal(38,0)").alias("h")).agg(
        F.count("*").alias("n"), F.sum("h").alias("s")
    ).collect()[0]
    return [int(r["n"]), str(r["s"] if r["s"] is not None else 0)]


def scan_summary(df) -> list:
    """The full current-state aggregate scan: rows, text characters and
    turn-index sum per role, sorted by role."""
    from pyspark.sql import functions as F

    rows = df.groupBy("role").agg(
        F.count("*"), F.sum(F.length("text")), F.sum("turn_idx")
    ).collect()
    return sorted([r[0], int(r[1]), int(r[2] or 0), int(r[3] or 0)]
                  for r in rows)


def lookup_rows(df) -> list:
    """Looked-up rows as plain lists (``ts`` as epoch microseconds), sorted
    by key."""
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in PAYLOAD if c != "ts"]
    rows = df.select(*cols, F.unix_micros("ts")).collect()
    return sorted((list(r) for r in rows), key=lambda r: (r[0], r[1]))


def jvm_process(spark):
    """The ``subprocess.Popen`` of the session's JVM."""
    return spark.sparkContext._gateway.proc


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM (and with it every Python worker it
    forked) has exited: closing the JVM's stdin is its shutdown signal."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
