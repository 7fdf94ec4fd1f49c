"""ExportJob — the outbound CDC *producer* job: tail a lake table's change
feed into a directory stream of Debezium-JSON epochs, incrementally and
exactly-once.

``sources/debezium.py`` gives the engine both wire directions — inbound
(``read_debezium_epoch``) and a one-shot outbound pivot
(``export_changes_debezium``). This job makes the outbound side a
RESUMABLE STREAM: every run exports exactly the change windows committed
since the last run, so a downstream system that speaks Debezium (another
lake, a search index, a cache invalidator) tails the directory the same
way this engine tails its own WAL. The reference has no outbound feed at
all — its consumers re-SELECT Postgres; this is the missing half of its
"database as the integration point" model, done log-style.

Exactly-once WITHOUT a consumer-offset store, mirroring the WAL layout the
ingest side already trusts:

- Export epochs are numbered densely (``epoch=0``, ``epoch=1``, ...); each
  directory carries a ``_window.json`` manifest recording the source
  snapshot window ``(from_sid, to_sid]`` it folds plus the source epochs
  inside it. The FRONTIER is simply the max ``to_sid`` over existing
  manifests — recovered by listing, no extra state file to race on.
- An epoch is PUBLISHED by an atomic ``os.rename`` of a staging directory
  into place (the same single-writer POSIX-rename commit point the WAL
  producer uses). A crash mid-write leaves only an invisible ``_tmp-``
  directory (swept on the next run); a crash between write and rename
  re-exports the identical window — the stream never shows a torn or
  duplicated epoch.
- Re-running with nothing pending is a metadata no-op (one snapshot-list
  read).

Granularity: ``granularity="window"`` (default) folds ALL pending source
epochs into one export epoch per run — net changes, the Delta-CDF
semantics a replica wants. ``granularity="epoch"`` emits one export epoch
per SOURCE apply commit, preserving every intermediate table state — a
mirror applying them one-by-one reproduces the source's full snapshot
history (the time-travel parity gate in ``tests/test_export_job.py``).

Per-run cost is O(changed data): the typed-feed aggregate + pre-image
read + pivot the one-shot export pays, once per window — never O(table).
At 10^10 rows the export reads only the delta files the covered commits
appended.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import SparkSession

from cnpj_data_pipeline_spark.lake.format import LakeTable
from cnpj_data_pipeline_spark.sources.debezium import export_changes_debezium

_MANIFEST = "_window.json"
_TMP_PREFIX = "_tmp-"


def _exported_epochs(out_root: str) -> list[tuple[int, dict]]:
    """Published export epochs as ``(epoch_no, manifest)``, ordered."""
    if not os.path.isdir(out_root):
        return []
    out = []
    for name in os.listdir(out_root):
        if not name.startswith("epoch="):
            continue
        mpath = os.path.join(out_root, name, _MANIFEST)
        try:
            with open(mpath, encoding="utf-8") as f:
                out.append((int(name.split("=", 1)[1]), json.load(f)))
        except (OSError, ValueError):
            # no manifest -> a foreign/partial directory; never count it
            # toward the frontier (publishing is rename-atomic, so an
            # engine-written epoch always has one)
            continue
    return sorted(out)


class ExportJob:
    """Incremental outbound Debezium export of one lake table's change
    feed into ``out_root`` (see module doc)."""

    def __init__(
        self,
        source_root: str,
        out_root: str,
        granularity: str = "window",
        files_per_epoch: int = 4,
    ):
        if granularity not in ("window", "epoch"):
            raise ValueError(f"unknown granularity {granularity!r}")
        self.source_root = source_root
        self.out_root = out_root
        self.granularity = granularity
        self.files_per_epoch = int(files_per_epoch)

    def _sweep_tmp(self) -> None:
        if not os.path.isdir(self.out_root):
            return
        for name in os.listdir(self.out_root):
            if name.startswith(_TMP_PREFIX):
                shutil.rmtree(
                    os.path.join(self.out_root, name), ignore_errors=True
                )

    def _publish(
        self,
        spark: SparkSession,
        src: LakeTable,
        epoch_no: int,
        from_sid: int,
        to_sid: int,
        source_epochs: list[int],
    ) -> int:
        """Export one window into ``epoch=<epoch_no>`` atomically; returns
        the number of change events written."""
        feed = export_changes_debezium(
            spark, src, from_snapshot=from_sid, to_snapshot=to_sid
        )
        tmp = os.path.join(
            self.out_root, f"{_TMP_PREFIX}{epoch_no}-{uuid.uuid4().hex[:8]}"
        )
        feed.coalesce(self.files_per_epoch).write.mode("overwrite").text(tmp)
        # count from the write's own output, not a second job
        n = sum(
            1
            for name in os.listdir(tmp)
            if name.startswith("part-")
            for _ in open(os.path.join(tmp, name), "rb")
        )
        with open(os.path.join(tmp, _MANIFEST), "w", encoding="utf-8") as f:
            json.dump(
                {
                    "from_sid": from_sid,
                    "to_sid": to_sid,
                    "source_epochs": source_epochs,
                    "events": n,
                },
                f,
            )
        final = os.path.join(self.out_root, f"epoch={epoch_no}")
        os.rename(tmp, final)  # the commit point
        return n

    def run_once(self, spark: SparkSession) -> dict:
        """Export every pending source window; returns producer metrics."""
        t0 = time.monotonic()
        os.makedirs(self.out_root, exist_ok=True)
        self._sweep_tmp()
        src = LakeTable.load(self.source_root)
        done = _exported_epochs(self.out_root)
        frontier = max((m["to_sid"] for _, m in done), default=0)
        next_no = done[-1][0] + 1 if done else 0

        applies = [
            s
            for s in src.applies_of(src.snapshots())
            if s["snapshot_id"] > frontier
        ]
        exported, events = [], 0
        if applies:
            if self.granularity == "window":
                windows = [(frontier, applies[-1]["snapshot_id"],
                            [s["epoch"] for s in applies])]
            else:
                windows, prev = [], frontier
                for s in applies:
                    windows.append((prev, s["snapshot_id"], [s["epoch"]]))
                    prev = s["snapshot_id"]
            for from_sid, to_sid, src_epochs in windows:
                events += self._publish(
                    spark, src, next_no, from_sid, to_sid, src_epochs
                )
                exported.append(next_no)
                next_no += 1
        return {
            "epochs_exported": exported,
            "events": events,
            "frontier_sid": max(
                (m["to_sid"] for _, m in _exported_epochs(self.out_root)),
                default=0,
            ),
            "seconds": round(time.monotonic() - t0, 3),
        }

    def run_follow(
        self,
        spark: SparkSession,
        poll_seconds: float = 5.0,
        max_polls: int | None = None,
    ) -> dict:
        """Poll loop: export, sleep, repeat (the long-running producer
        shape). ``max_polls`` bounds the loop for tests/batch drains."""
        totals = {"epochs_exported": [], "events": 0, "polls": 0}
        while True:
            m = self.run_once(spark)
            totals["epochs_exported"].extend(m["epochs_exported"])
            totals["events"] += m["events"]
            totals["polls"] += 1
            if max_polls is not None and totals["polls"] >= max_polls:
                return totals
            time.sleep(poll_seconds)
