"""Partial-update merge engine — per-column last-non-null fold.

The LWW engine (``operators.dedup``) resolves a key to its single newest
ROW; a CDC stream of partial updates (Debezium sources with unchanged-TOAST
columns, wide tables patched a few fields at a time, multi-writer column
ownership) instead wants the newest value PER COLUMN. Paimon calls this the
``partial-update`` merge engine and Hudi the partial-update payload; both
punt on out-of-order input — Paimon requires in-sequence arrival per key
(or per-column sequence groups configured by hand), Hudi documents the
ordering field as authoritative per row. This implementation is correct for
ARBITRARY arrival order and across compactions, because the fold is made
associative by carrying its provenance:

* ``__col_lsns`` (map<column, lsn>) on every folded row records which LSN
  each surviving column value came from. A later fold that mixes a folded
  row with raw late events compares per COLUMN at the true origin LSN — a
  compacted row never smuggles an old value forward under the row's max
  LSN.
* ``__del_lsn`` on every folded row records the newest tombstone LSN seen,
  so a column value arriving late (origin below a delete that compaction
  already folded away) still loses to that delete.

With those two meta columns, fold(fold(A), B) == fold(A ∪ B) for any split
of the version set — the per-column winner is a max over (origin LSN,
tiebreaks) and the delete horizon is a max, both commutative semilattices.
That associativity is what lets the SAME function serve within-batch
dedup at ingest, merge-on-read resolution at read time, and the compaction
rewrite — and lets each run over any partitioning.

Semantics per key:

* a column's value = the value with the highest origin LSN among non-delete
  versions, if that origin is STRICTLY above the newest delete LSN;
* the row is alive iff any non-delete version is strictly above the newest
  delete LSN (an all-NULL insert still creates the key);
* ties on origin LSN break by (row LSN, value under its native order) so
  every partitioning and engine picks the same winner; an exact (origin ==
  delete LSN) tie resolves to the delete.

Scale shape: identical to the LWW fold — ONE hash aggregate that reuses the
merge's (bucket, salt-of-full-key) exchange; per payload column it runs one
``max_by``, all JVM-side, map-side partials collapsing duplicate versions
before the shuffle. No windows, no sorts, no Python.

Reference analogue: none — the reference's upsert replaces whole rows
(``ON CONFLICT DO UPDATE SET col = EXCLUDED.col`` for every column,
src/database/postgres.py:216-264). Partial-update is a capability its
Postgres target would express as per-column COALESCE in the conflict
clause; at lake scale it must be a merge engine.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cnpj_data_pipeline_spark.operators.dedup import lww_winners_agg

#: physical meta column: map<payload column name, origin lsn> of each
#: surviving column value on a FOLDED row (absent/null on raw WAL rows —
#: their origin is the row's own lsn)
COL_LSNS_META_COL = "__col_lsns"
#: physical meta column: newest tombstone lsn folded into this row (absent/
#: null when no delete has been seen for the key)
DEL_LSN_META_COL = "__del_lsn"

#: sentinel "no delete seen" — below any real LSN (engine LSNs are ≥ 0)
_NO_DEL = -1


#: per-column fold functions of the AGGREGATE merge engine. "last" is the
#: partial-update fold (newest non-null, origin-LSN provenance); the rest
#: are commutative monoids — associative by algebra, so folded partials
#: re-fold exactly. Aggregate tables REJECT tombstones at ingest (a sum
#: cannot retract a contribution a compaction already folded away), which
#: keeps the delete-horizon branch dead and the monoids pure.
AGG_FNS = ("last", "sum", "min", "max")


def partial_winners_agg(
    df: DataFrame,
    group_cols: Sequence[str],
    payload_cols: Sequence[str],
    lsn_col: str = "lsn",
    op_col: str = "op",
    agg_spec: dict[str, str] | None = None,
) -> DataFrame:
    """One folded row per group under partial-update semantics (module doc),
    or — with ``agg_spec`` — the AGGREGATE merge engine's spec-driven fold.

    ``group_cols`` is the grouping key — the table key, optionally prefixed
    by (bucket, salt) exactly like ``dedup.lww_winners_agg`` so the fold
    reuses the merge's existing exchange. ``payload_cols`` are the non-key
    payload columns to fold per-column (key columns are group keys and never
    folded). ``lsn_col``/``op_col`` name the envelope — raw ("lsn", "op")
    for WAL batches, physical meta names for committed table files.

    ``agg_spec`` maps a payload column to its fold fn (:data:`AGG_FNS`);
    unlisted columns default to "last". "sum"/"min"/"max" contributions are
    the column DELTAS the stream carries (a counters table ships +n events
    and the fold accumulates); a folded row re-contributes its partial
    aggregate, which is exact because each fn is a commutative monoid.

    Input may or may not carry ``__col_lsns``/``__del_lsn`` (raw WAL rows
    don't); output ALWAYS does — the provenance that keeps the fold
    associative. Output columns: group_cols + payload_cols + lsn_col +
    op_col + __col_lsns + __del_lsn.
    """
    agg_spec = agg_spec or {}
    bad = {c: f for c, f in agg_spec.items() if f not in AGG_FNS}
    if bad:
        raise ValueError(f"unknown agg fns {bad} (have {AGG_FNS})")
    cols = set(df.columns)
    lsn = F.col(lsn_col)
    op = F.col(op_col)

    # newest delete seen, per row: an explicit tombstone's lsn, or the
    # folded-in delete horizon a previous fold recorded
    row_del = F.when(op == "D", lsn).otherwise(F.lit(_NO_DEL))
    if DEL_LSN_META_COL in cols:
        row_del = F.greatest(
            row_del, F.coalesce(F.col(DEL_LSN_META_COL), F.lit(_NO_DEL))
        )

    def origin(c: str):
        if COL_LSNS_META_COL in cols:
            return F.coalesce(
                F.element_at(F.col(COL_LSNS_META_COL), F.lit(c)), lsn
            )
        return lsn

    aggs = [
        F.max(row_del).alias("__DEL"),
        F.max(F.when(op != "D", lsn)).alias("__LIVE"),
    ]
    for c in payload_cols:
        fn = agg_spec.get(c, "last")
        contrib = F.col(c).isNotNull() & (op != "D")
        if fn in ("sum", "min", "max"):
            # commutative monoid: fold the raw contribution directly; the
            # "origin" of a monoid column is just the newest contributing
            # lsn (metadata for symmetry — refolds never need it)
            agg_f = {"sum": F.sum, "min": F.min, "max": F.max}[fn]
            aggs.append(
                F.struct(
                    F.max(F.when(contrib, lsn)).alias("o"),
                    agg_f(F.when(contrib, F.col(c))).alias("v"),
                ).alias(f"__p_{c}")
            )
            continue
        o = origin(c)
        # deterministic total order per column: origin, then row lsn, then
        # the value itself under its NATIVE ordering — same winner on every
        # partitioning AND in the Arrow twin (partial_fold_arrow): UTF-8
        # byte order == code-point order, timestamps compare as micros,
        # numerics as numbers; candidates are never null (contrib gates).
        # Non-orderable value types (map; and array/struct for Arrow-twin
        # parity) tie-break on their canonical JSON instead — Spark cannot
        # order a struct containing a MapType at all, and such columns
        # route compaction to the shuffle kernel (same expression, no
        # cross-kernel parity needed).
        vt = df.schema[c].dataType if c in df.columns else None
        import pyspark.sql.types as _T

        if isinstance(
            vt, (_T.MapType, _T.ArrayType, _T.StructType)
        ):
            tiebreak_val = F.to_json(F.col(c))
        else:
            tiebreak_val = F.col(c)
        ordk = F.struct(o, lsn, tiebreak_val)
        aggs.append(
            F.max_by(
                F.struct(o.alias("o"), F.col(c).alias("v")),
                F.when(contrib, ordk),
            ).alias(f"__p_{c}")
        )

    agg = df.groupBy(*[F.col(g) for g in group_cols]).agg(*aggs)

    dele = F.col("__DEL")
    live = F.col("__LIVE")
    alive = live.isNotNull() & (live > dele)

    def survives(c: str):
        p = F.col(f"__p_{c}")
        return p.isNotNull() & (p["o"] > dele)

    out_cols = [F.col(g) for g in group_cols]
    for c in payload_cols:
        out_cols.append(
            F.when(survives(c), F.col(f"__p_{c}")["v"]).alias(c)
        )
    out_cols.append(F.when(alive, live).otherwise(dele).alias(lsn_col))
    out_cols.append(F.when(alive, F.lit("U")).otherwise(F.lit("D")).alias(op_col))
    if payload_cols:
        entries = F.array(
            *[
                F.struct(
                    F.lit(c).alias("key"),
                    F.when(survives(c), F.col(f"__p_{c}")["o"]).alias("value"),
                )
                for c in payload_cols
            ]
        )
        col_lsns = F.map_filter(
            F.map_from_entries(entries), lambda _k, v: v.isNotNull()
        )
    else:
        col_lsns = F.lit(None).cast("map<string,bigint>")
    out_cols.append(col_lsns.alias(COL_LSNS_META_COL))
    out_cols.append(
        F.when(dele >= 0, dele).cast("long").alias(DEL_LSN_META_COL)
    )
    return agg.select(*out_cols)


def winners_agg(
    df: DataFrame,
    group_cols: Sequence[str],
    payload_cols: Sequence[str],
    engine: str = "lww",
    lsn_col: str = "lsn",
    op_col: str = "op",
    agg_spec: dict[str, str] | None = None,
) -> DataFrame:
    """One folded row per group under the table's merge engine — the Spark
    fold every shuffling path runs: ``dedup.lww_winners_agg`` for "lww",
    else :func:`partial_winners_agg` over the ``payload_cols`` that are not
    group columns. ``group_cols`` is the key, optionally prefixed by
    (bucket, salt)."""
    if engine == "lww":
        return lww_winners_agg(df, group_cols, lsn_col=lsn_col, op_col=op_col)
    groups = set(group_cols)
    return partial_winners_agg(
        df, group_cols, [c for c in payload_cols if c not in groups],
        lsn_col=lsn_col, op_col=op_col, agg_spec=agg_spec,
    )


def partial_fold_arrow(
    tbl,
    key_cols: Sequence[str],
    payload_cols: Sequence[str],
    lsn_col: str = "lsn",
    op_col: str = "op",
    agg_spec: dict[str, str] | None = None,
):
    """Arrow/numpy twin of :func:`partial_winners_agg` for the MAP-ONLY
    bucket rewrite (``operators.copart.rewrite_buckets_map``) — the same
    per-column fold with zero exchange, proven result-identical to the
    shuffling kernel by ``tests/test_partial_update.py``. Executor-side
    helper: no Spark objects, pyarrow + numpy only.

    Semantics (module doc): per key, newest tombstone LSN is the delete
    horizon; each column independently takes the value whose (origin LSN,
    row LSN, native value order) is greatest among non-delete versions,
    surviving only strictly above the horizon; output rows carry
    ``__col_lsns``/``__del_lsn`` provenance so later folds stay
    associative. The value tie-break ranks float NaN GREATEST
    (``ranks_of(..., nan_greatest=True)``) to match Spark's total order,
    so even a duplicate-LSN tie between NaN and a number picks the same
    winner in both kernels.

    The AGGREGATE engine (sum/min/max monoids) deliberately stays on the
    shuffling kernel: float sums are order-sensitive, so a numpy refold
    could differ in final bits from Spark's — the one engine where
    bit-parity cannot be promised across kernels."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(tbl)
    key_cols = list(key_cols)
    payload_cols = list(payload_cols)
    names = set(tbl.column_names)

    if n == 0:
        gid = np.zeros(0, dtype=np.int64)
        G = 0
    elif len(key_cols) == 1:
        gid, _ = pd.factorize(
            tbl.column(key_cols[0]).to_pandas(), sort=False
        )
        G = int(gid.max()) + 1
    else:
        gid, _ = pd.factorize(
            pd.MultiIndex.from_frame(tbl.select(key_cols).to_pandas()),
            sort=False,
        )
        G = int(gid.max()) + 1

    lsn = pc.fill_null(tbl.column(lsn_col), _NO_DEL).to_numpy(
        zero_copy_only=False
    ).astype(np.int64)
    is_del = pc.fill_null(
        pc.equal(tbl.column(op_col), "D"), False
    ).to_numpy(zero_copy_only=False).astype(bool)

    row_del = np.where(is_del, lsn, _NO_DEL)
    if DEL_LSN_META_COL in names:
        dl = pc.fill_null(
            tbl.column(DEL_LSN_META_COL), _NO_DEL
        ).to_numpy(zero_copy_only=False).astype(np.int64)
        row_del = np.maximum(row_del, dl)

    DEL = np.full(G, _NO_DEL, dtype=np.int64)
    np.maximum.at(DEL, gid, row_del)
    LIVE = np.full(G, _NO_DEL, dtype=np.int64)
    live_mask = ~is_del
    np.maximum.at(LIVE, gid[live_mask], lsn[live_mask])
    # __LIVE is null iff NO non-delete version exists; lsn values are >= 0
    has_live = np.zeros(G, dtype=bool)
    has_live[gid[live_mask]] = True
    alive = has_live & (LIVE > DEL)

    from cnpj_data_pipeline_spark.operators.zorder import ranks_of

    out_values: list = []
    surv2d = np.zeros((G, len(payload_cols)), dtype=bool)
    orig2d = np.zeros((G, len(payload_cols)), dtype=np.int64)
    def _monoid_numpy(vc):
        """Null-filled numpy view of a numeric/temporal column: keeps the
        integer dtype intact (a bare to_numpy would promote int-with-null
        to float64, losing exactness past 2^53)."""
        fill = pa.scalar(0, pa.int64()).cast(vc.type)
        return pc.fill_null(vc, fill).to_numpy(zero_copy_only=False)

    for ci, c in enumerate(payload_cols):
        fn = (agg_spec or {}).get(c, "last")
        vc = tbl.column(c)
        if isinstance(vc, pa.ChunkedArray):
            vc = vc.combine_chunks()
        valid = pc.is_valid(vc).to_numpy(zero_copy_only=False).astype(bool)
        contrib = valid & ~is_del
        if fn in ("sum", "min", "max"):
            # commutative monoid: fold contributions; int sums are exact
            # and min/max are order-insensitive, so parity with the Spark
            # kernel holds bit-for-bit (float SUMS are routed to the
            # shuffle kernel before we get here — order-sensitive)
            idxs = np.flatnonzero(contrib)
            vals = _monoid_numpy(vc)
            is_dt = vals.dtype.kind == "M"
            work = vals.view(np.int64) if is_dt else vals
            o_grp = np.full(G, _NO_DEL - 1, dtype=np.int64)
            has = np.zeros(G, dtype=bool)
            if len(idxs):
                np.maximum.at(o_grp, gid[idxs], lsn[idxs])
                has[gid[idxs]] = True
            if fn == "sum":
                acc = np.zeros(
                    G,
                    dtype=np.int64 if work.dtype.kind in "iu" else np.float64,
                )
                if len(idxs):
                    np.add.at(acc, gid[idxs], work[idxs])
            else:
                if work.dtype.kind == "f":
                    acc = np.full(
                        G, np.inf if fn == "min" else -np.inf, np.float64
                    )
                else:
                    ii = np.iinfo(np.int64)
                    acc = np.full(
                        G, ii.max if fn == "min" else ii.min, np.int64
                    )
                    work = work.astype(np.int64)
                if len(idxs):
                    ufunc = np.minimum if fn == "min" else np.maximum
                    w = work[idxs]
                    if fn == "min" and w.dtype.kind == "f":
                        # Spark orders NaN GREATEST: min ignores NaN unless
                        # every contribution is NaN; numpy's ufunc would
                        # propagate it — mask NaN to +inf, restore NaN for
                        # all-NaN groups
                        nan_m = np.isnan(w)
                        ufunc.at(
                            acc, gid[idxs], np.where(nan_m, np.inf, w)
                        )
                        nn = np.zeros(G, dtype=bool)
                        nn[gid[idxs][~nan_m]] = True
                        all_nan = np.zeros(G, dtype=bool)
                        all_nan[gid[idxs]] = True
                        acc = np.where(all_nan & ~nn, np.nan, acc)
                    else:
                        # max: NaN is greatest in BOTH engines (numpy
                        # propagates, Spark returns it) — they agree
                        ufunc.at(acc, gid[idxs], w)
            survives = has & (o_grp > DEL)
            surv2d[:, ci] = survives
            orig2d[:, ci] = np.where(survives, o_grp, 0)
            acc_arrow = pa.array(acc).cast(vc.type)
            out_values.append(
                pc.if_else(
                    pa.array(survives), acc_arrow, pa.scalar(None, vc.type)
                )
            )
            continue
        if COL_LSNS_META_COL in names:
            looked = pc.map_lookup(
                tbl.column(COL_LSNS_META_COL), pa.scalar(c), "first"
            )
            o = pc.fill_null(looked, _NO_DEL).to_numpy(
                zero_copy_only=False
            ).astype(np.int64)
            o = np.where(
                pc.is_valid(looked).to_numpy(zero_copy_only=False), o, lsn
            )
        else:
            o = lsn
        idxs = np.flatnonzero(contrib)
        if len(idxs):
            try:
                vals = vc.to_numpy(zero_copy_only=False)
            except pa.ArrowInvalid:
                vals = np.array(vc.to_pylist(), dtype=object)
            # nan_greatest: Spark's total order ranks NaN above every
            # number, so a duplicate-LSN tie between NaN and a finite
            # value must resolve to NaN here too (bit-parity with the
            # shuffle kernel's max_by); candidates are never null (contrib
            # gates on validity), so null-first handling is moot here
            vrank = ranks_of(vals[idxs], nan_greatest=True)
            order = np.lexsort((vrank, lsn[idxs], o[idxs], gid[idxs]))
            srt = idxs[order]
            grp = gid[srt]
            last = np.flatnonzero(np.r_[grp[1:] != grp[:-1], True])
            win_rows, win_gids = srt[last], grp[last]
        else:
            win_rows = win_gids = np.zeros(0, dtype=np.int64)
        win_idx = np.full(G, -1, dtype=np.int64)
        win_idx[win_gids] = win_rows
        win_o = np.full(G, _NO_DEL - 1, dtype=np.int64)
        win_o[win_gids] = o[win_rows] if len(win_rows) else win_o[win_gids]
        survives = (win_idx >= 0) & (win_o > DEL)
        surv2d[:, ci] = survives
        orig2d[:, ci] = np.where(survives, win_o, 0)
        taken = vc.take(pa.array(np.where(win_idx >= 0, win_idx, 0)))
        out_values.append(
            pc.if_else(pa.array(survives), taken, pa.scalar(None, vc.type))
        )

    # group representative row (first occurrence) for the key columns
    rep = np.zeros(G, dtype=np.int64)
    rep[gid[::-1]] = np.arange(n - 1, -1, -1, dtype=np.int64)
    rep_idx = pa.array(rep)

    cols: dict = {}
    for k in key_cols:
        cols[k] = tbl.column(k).take(rep_idx)
    for c, arr in zip(payload_cols, out_values):
        cols[c] = arr
    cols[lsn_col] = pa.array(np.where(alive, LIVE, DEL), pa.int64())
    cols[op_col] = pa.array(np.where(alive, "U", "D"), pa.string())
    # __col_lsns: surviving {column: origin lsn} per group, payload order
    counts = surv2d.sum(axis=1)
    offsets = np.zeros(G + 1, dtype=np.int32)
    np.cumsum(counts, out=offsets[1:])
    flat = surv2d.ravel()
    key_pool = np.array(payload_cols, dtype=object)
    map_keys = pa.array(
        np.tile(key_pool, G)[flat] if G else [], type=pa.string()
    )
    map_items = pa.array(orig2d.ravel()[flat], type=pa.int64())
    cols[COL_LSNS_META_COL] = pa.MapArray.from_arrays(
        pa.array(offsets, pa.int32()), map_keys, map_items
    )
    cols[DEL_LSN_META_COL] = pc.if_else(
        pa.array(DEL >= 0), pa.array(DEL, pa.int64()), pa.scalar(None, pa.int64())
    )
    return pa.table(cols)
