"""Engine configuration.

The reference derives its physical knobs from host memory at runtime
(``src/config.py:136-164``: chunk sizes 100k..5M rows, strategy enum) and hard-codes
merge cutovers (10k / 1M rows, ``src/database/postgres.py:216-219,386-390``).
On Spark those adaptive choices are Catalyst/AQE's job; what remains configurable
is the *layout* of the lake table (bucket count), the salting factor used to split
hot keys across tasks, and the merge kernel strategy.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class EngineConfig:
    """Knobs for the CDC ingest engine.

    n_buckets
        Number of hash buckets the lake table is clustered into on
        ``xxhash64(conv_id, turn_idx)``. Merge cost is proportional to *touched*
        buckets only (copy-on-write at bucket granularity), so at 100 TB this is
        raised (e.g. 2**14) so a bucket's state fits comfortably in one executor's
        memory; at test scale 32 keeps file counts small. Buckets are independent,
        so throughput scales with executors up to ``n_buckets`` parallel merges.
    salt_factor
        Sub-splits of a bucket for the grouped merge. Salting is on
        ``xxhash64(conv_id, turn_idx, SALT_SEED)`` — the FULL key, never conv_id
        alone — so one hot conversation spreads over ``salt_factor`` tasks while
        every (conv_id, turn_idx) key still lands in exactly one task (merge
        correctness requires per-key locality, not per-conversation locality).
    merge_strategy
        ``"native"`` (default): single-shuffle JVM-side merge — repartition on
        (bucket, salt) once, LWW window partitioned by (bucket, salt, key) reuses
        that partitioning (no second exchange), whole-stage codegen end-to-end.
        ``"pandas"``: groupBy(bucket, salt).applyInPandas Arrow-vectorized merge
        kernel (no per-row Python) — the applyInPandas shape from the north star,
        kept as a fully supported strategy and exercised by tests; measured ~2.6×
        slower than native at bench scale (Arrow round-trip of the full state).
        Both produce identical results.
    shuffle_partitions
        Default for spark.sql.shuffle.partitions in sessions we create.
    """

    n_buckets: int = 32
    salt_factor: int = 4
    merge_strategy: str = "native"
    # Partition count for the merge shuffle. None (default) auto-sizes to
    # min(n_buckets * salt_factor, 2 * defaultParallelism). Set explicitly to
    # size by DATA VOLUME instead (Spark practice: bounded task size,
    # independent of executor count) — required for apples-to-apples cluster
    # scaling comparisons, where N and 4N executors must run the SAME job;
    # letting the count follow core count gives the small cluster fewer,
    # bigger, per-core-cheaper tasks and understates true scaling.
    merge_partitions: int | None = None
    # Write path: "mor" (merge-on-read, default) appends each epoch's LWW
    # winners as bucket-delta files — per-epoch cost is O(batch), never
    # O(table); readers resolve LWW; compaction bounds read cost. "cow"
    # (copy-on-write) rewrites touched buckets to merged state on every epoch —
    # cheap reads, but write amplification grows with table size (the classic
    # Iceberg CoW-vs-MoR trade; at 10^10 rows with every bucket touched per
    # batch, CoW is quadratic in epochs and MoR is the only viable default).
    write_mode: str = "mor"
    # Auto-compact a bucket once it holds this many file generations.
    compact_threshold: int = 8
    # Rate limit per maintenance pass: at most this many buckets compacted
    # after one epoch (most-generational first; None = unbounded). Uniform
    # workloads push every bucket over the threshold in the same epoch — an
    # unbounded pass then rewrites the whole table in one stall.
    compact_max_buckets: int | None = None
    shuffle_partitions: int = 32
    # Audit column stamped on merged rows (reference: data_atualizacao =
    # CURRENT_TIMESTAMP, src/database/postgres.py:284,415,460). Excluded from
    # replay-equality checks, like the reference excludes audit cols from PKs.
    audit_col: str = "_updated_at"
    write_audit_col: bool = False
    # Co-partitioned WAL fast path (operators.copart): "auto" (default) uses
    # the shuffle-free map-only apply whenever an epoch's layout descriptor
    # matches the table's bucketing exactly; "off" always takes the general
    # shuffling path. Never needed for correctness — only for the exchange.
    copart: str = "auto"
    # Hot-bucket split for the co-partitioned path: one task per this many
    # WAL bytes within a bucket, so a skewed bucket fans out over several
    # tasks instead of serializing into one.
    copart_max_task_bytes: int = 256 * 2**20
    # Paranoia gate for UNTRUSTED bucket-aligned producers: before a copart
    # apply, re-hash every WAL row Spark-side (map-only, one extra scan of
    # the batch, no exchange) and fail loudly if any row sits in a
    # __bucket= directory its key doesn't hash to. The layout descriptor
    # only proves the producer's declared intent; this proves placement.
    # Off by default — the producer helpers in this repo hash correctly by
    # construction.
    copart_verify_placement: bool = False
    # Per-file key bloom sidecars (lake/bloom.py) — the third pruning level
    # for point lookups (under bucket + key-range). "auto" (default):
    # built only by EXPLICIT maintenance (table.compact/vacuum/rebucket,
    # tools/run_maintenance.py — the read-optimization passes, where
    # Iceberg likewise spends its stats budget); the ingest hot path,
    # INCLUDING the inline threshold-triggered auto-compaction it runs,
    # writes none, keeping the north-star throughput untouched (measured:
    # inline blooms cost ~10% of copart ingest at bench scale, and riding
    # auto-compaction cost the gated replay +20% in round 4 — one extra
    # column-pruned read per rewritten file the replay never redeems).
    # "force": ALSO built inline at every ingest apply, stats harvest, and
    # auto-compaction — for lookup-heavy tables that want delta-level file
    # skipping between compactions and accept the ingest tax. "off":
    # never. Sidecars are caches: any file may lack one and lookups stay
    # correct, just less pruned.
    key_blooms: str = "auto"

    key_cols: tuple[str, ...] = ("conv_id", "turn_idx")
    # Version-resolution engine for tables CREATED by this job: "lww"
    # (newest row wins — the default), "partial" (newest value wins PER
    # COLUMN: Paimon's partial-update merge engine, made associative with
    # per-column origin LSNs — operators/partial.py), or "aggregate"
    # (per-column monoid fold per agg_spec: the stream ships deltas, the
    # table holds running aggregates; tombstones rejected at ingest). A
    # table property, fixed at creation; existing tables keep theirs.
    merge_engine: str = "lww"
    # For merge_engine="aggregate": payload column -> "sum"|"min"|"max"|
    # "last" (unlisted columns default to "last").
    agg_spec: dict | None = None


# Internal/meta column names used in the physical lake layout.
BUCKET_COL = "__bucket"
SALT_COL = "__salt"
# the merge shuffle's salt hash seed: fixed, so salt placement is stable
SALT_SEED = 1337
LSN_META_COL = "__lsn"

