"""Generate and cache one seed's inputs for one workload: the WALs (written
with the engine's own producers, ``sources.change_stream.write_epoch`` and
``write_epoch_bucketed``) and the oracle's expectations (``oracle.final_state``
over the same events, reduced to digests and expected lookup rows).

``ensure_inputs`` runs inside the measuring process, on its session, before
set-up is timed: one JVM start per run, whether the cache hits or not. The
pandas oracle runs in a child process of its own that reads the WAL back, so
the measuring process never holds the events in Python memory:

    python3 cdcbench/inputs.py --wal <dir> --out <dir> --kind serve \
        --seed 3 --wal-epochs 5

Each workload's inputs land in ``.cdcbench_cache/<workload>/s<seed>-<hash>/``
and its warm-up WAL in ``.cdcbench_cache/<workload>/warm-<hash>/`` (``hash``
covers the files in ``common.INPUT_SOURCES``); a directory is renamed into
place only when complete.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdcbench.common import (  # noqa: E402
    BENCH_DIR, CACHE_DIR, CHECK_LOOKUPS, KEY, LOCAL_CORES, LOOKUP_KEYS,
    PAYLOAD, digest, input_dir, source_hash,
)

# The warm-up WAL is the same for every seed, so a checkout makes it once per
# workload. Its second epoch merges into rows of its first, so set-up also
# warms the merge kernels (and the Python workers they run in).
WARM_SEED = 7919
WARM_EPOCHS = 2
ORACLE_TIMEOUT_S = 120


def _log(what: str, t0: float) -> None:
    print(f"inputs: {what} at {time.monotonic() - t0:.1f} s", file=sys.stderr,
          flush=True)


def _events(spark, seed: int, n_events: int, n_epochs: int, seed_epochs: int):
    from pyspark.sql import functions as F

    from cnpj_data_pipeline_spark.gen import gen_changes

    ch = gen_changes(
        spark, n_events=n_events, n_convs=max(n_events // 10, 1000),
        turns_per_conv=16, n_epochs=n_epochs, seed=seed, skew=1.2,
        update_ratio=0.30, delete_ratio=0.05, dup_ratio=0.02, late_ratio=0.02,
    )
    if seed_epochs > 1:
        # fold the leading generator epochs into one large seeding epoch 0
        ch = ch.withColumn(
            "epoch",
            F.greatest(F.col("epoch") - (seed_epochs - 1), F.lit(0))
            .cast("int"),
        )
    return ch


def _write_wal(ch, root: str, n_epochs: int, bucketed: bool, n_buckets: int):
    from cnpj_data_pipeline_spark.gen import epoch_batches
    from cnpj_data_pipeline_spark.sources import change_stream as cs

    for e, b in epoch_batches(ch, n_epochs):
        if bucketed:
            cs.write_epoch_bucketed(b, root, e, list(KEY), n_buckets)
        else:
            cs.write_epoch(b.repartition(LOCAL_CORES), root, e)


def _dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(root) for f in fs if f.endswith(".parquet")
    )


def generate(spark, spec, seed: int, dest: str, scratch: str) -> None:
    """Write the inputs of workload ``spec`` for ``seed`` under ``dest``."""
    from pyspark.sql import functions as F

    t0 = time.monotonic()
    n_wal_epochs = spec.n_epochs - spec.seed_epochs + 1
    n_buckets = spec.cfg["n_buckets"]
    wal = os.path.join(dest, "wal")
    ch = _events(spark, seed, spec.n_events, spec.n_epochs, spec.seed_epochs)
    _write_wal(ch.persist(), wal, n_wal_epochs, spec.bucketed, n_buckets)
    ch.unpersist()
    _log(f"{spec.name}: WAL written", t0)
    # the oracle folds what the WAL holds, in a process of its own
    proc = subprocess.Popen(
        [sys.executable, os.path.join(BENCH_DIR, "inputs.py"),
         "--wal", wal, "--out", scratch, "--kind", spec.kind,
         "--seed", str(seed), "--wal-epochs", str(n_wal_epochs)],
        stdout=sys.stderr,
    )
    try:
        if proc.wait(timeout=ORACLE_TIMEOUT_S) != 0:
            raise RuntimeError(f"oracle process exited {proc.returncode}")
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
    with open(os.path.join(scratch, "expect.json")) as f:
        expect = json.load(f)
    final = spark.read.parquet(os.path.join(scratch, "final.parquet"))
    final = final.select(
        *[F.col(c) for c in PAYLOAD if c != "ts"],
        F.timestamp_micros("ts_us").alias("ts"),
    )
    expect["states"][-1]["digest"] = digest(final)
    expect.update(workload=spec.name, wal_bytes=_dir_bytes(wal))
    with open(os.path.join(dest, "expect.json"), "w") as f:
        json.dump(expect, f)
    _log(f"{spec.name}: oracle states", t0)


def write_warm(spark, spec, dest: str) -> None:
    """Write the warm-up WAL of workload ``spec`` under ``dest``."""
    warm = _events(spark, WARM_SEED, spec.warm_events, WARM_EPOCHS, 1)
    _write_wal(warm, dest, WARM_EPOCHS, spec.bucketed, spec.cfg["n_buckets"])


def _cached(dest: str, make) -> float:
    """Run ``make(staging)`` unless ``dest`` exists, then rename the
    finished staging directory into place; returns the seconds it took."""
    if os.path.isdir(dest):
        return 0.0
    t0 = time.monotonic()
    staging = os.path.join(CACHE_DIR, f".tmp-{os.getpid()}")
    try:
        make(staging)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        os.rename(staging, dest)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return time.monotonic() - t0


def ensure_inputs(spark, spec, seed: int, run_dir: str):
    """The cached inputs of ``spec`` for ``seed`` and the workload's warm-up
    WAL, each generated on a miss; returns both directories and the
    generation seconds (0.0 when both hit)."""
    h = source_hash()
    warm = os.path.join(CACHE_DIR, spec.name, f"warm-{h}")
    dest = input_dir(spec.name, seed, h)
    scratch = os.path.join(run_dir, "gen")
    gen_s = _cached(warm, lambda d: write_warm(spark, spec, d))
    try:
        gen_s += _cached(
            dest, lambda d: generate(spark, spec, seed, d, scratch))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if gen_s:
        spark.catalog.clearCache()
        # write the new inputs back now, not during the timed phases
        os.sync()
    return dest, warm, gen_s


# -- the oracle side: pandas only, in its own process -------------------------

def _expect_state(changes_pdf, rng: random.Random, n_lookups: int):
    """Oracle state of a change prefix -> the scan summary and sampled
    live-key lookups the run must reproduce (same shapes as
    ``common.scan_summary`` / ``common.lookup_rows``)."""
    import pandas as pd

    from cnpj_data_pipeline_spark import oracle

    state = oracle.final_state(changes_pdf, list(PAYLOAD))
    summary = sorted(
        [role, int(len(g)), int(g["text"].dropna().str.len().sum()),
         int(g["turn_idx"].sum())]
        for role, g in state.groupby("role")
    )
    micros = (state["ts"] - pd.Timestamp(0)) // pd.Timedelta(microseconds=1)
    lookups = []
    for _ in range(n_lookups):
        idx = sorted(rng.sample(range(len(state)), LOOKUP_KEYS))
        rows = [
            [None if pd.isna(v) else v for v in
             (r.conv_id, int(r.turn_idx), r.role, r.text, r.tool)]
            + [int(micros.iloc[i])]
            for i, r in zip(idx, state.iloc[idx].itertuples())
        ]
        rows.sort(key=lambda r: (r[0], r[1]))
        lookups.append({"keys": [r[:2] for r in rows], "rows": rows})
    return state, micros, {"scan": summary, "lookups": lookups}


def read_wal(wal: str, n_wal_epochs: int):
    """Every change event in the WAL's epochs, as one pandas frame. Files are
    listed explicitly: a bucketed epoch keeps them under ``__bucket=<b>/``,
    which dataset discovery would skip as hidden."""
    import glob

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(PAYLOAD) + ["op", "lsn", "epoch"]
    tables = [
        pq.read_table(fp, columns=cols)
        for e in range(n_wal_epochs)
        for fp in sorted(glob.glob(os.path.join(
            wal, f"epoch={e}", "**", "*.parquet"), recursive=True))
    ]
    return pa.concat_tables(tables).to_pandas() if tables else pd.DataFrame()


def oracle_main(wal: str, out: str, kind: str, seed: int,
                n_wal_epochs: int) -> None:
    """Fold the WAL's events with the oracle; write ``expect.json``
    (per-epoch event counts and the expected states) and the final state as
    ``final.parquet`` (``ts`` as epoch microseconds in ``ts_us``)."""
    import pandas as pd

    pdf = read_wal(wal, n_wal_epochs)
    # naive UTC, as the engine's session (time zone UTC) hands them out
    pdf["ts"] = pd.to_datetime(pdf["ts"], utc=True).dt.tz_localize(None)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    rng = random.Random(seed)
    if kind == "ingest":
        final, micros, expected = _expect_state(pdf, rng, CHECK_LOOKUPS)
        states = [expected]
    else:
        # one expected state after every WAL epoch: the serve loop checks
        # its scan and lookups against the state it just made visible
        states = []
        for e in range(n_wal_epochs):
            final, micros, expected = _expect_state(
                pdf[pdf["epoch"] <= e], rng, 1)
            states.append(expected)
    os.makedirs(out)
    final = final.drop(columns=["ts"]).assign(ts_us=micros.astype("int64"))
    final.to_parquet(os.path.join(out, "final.parquet"), index=False)
    expect = {
        "seed": seed,
        "n_events": len(pdf),
        "epoch_events": [int((pdf["epoch"] == e).sum())
                         for e in range(n_wal_epochs)],
        "states": states,
    }
    with open(os.path.join(out, "expect.json"), "w") as f:
        json.dump(expect, f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--wal", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--kind", required=True, choices=("ingest", "serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--wal-epochs", type=int, required=True)
    args = ap.parse_args()
    t0 = time.monotonic()
    oracle_main(args.wal, args.out, args.kind, args.seed, args.wal_epochs)
    _log("oracle folded", t0)
    return 0


if __name__ == "__main__":
    sys.exit(main())
