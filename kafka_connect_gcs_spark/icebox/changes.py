"""Incremental changelog reads: CDC *out* of the table.

The ingest side tails a binlog into the table (streaming/pipeline.py);
downstream consumers want the reverse — "what changed between snapshot A
and snapshot B" — without rescanning 10^10 rows. This is Iceberg's
incremental scan / Delta's ``table_changes``, built on what the icebox
metadata already records per commit: the manifest (data-file) set and the
merge-on-read delete-vector set of every snapshot
(icebox/table.py::Snapshot).

The trick is that BOTH merge modes localize change evidence in metadata:

* COW rewrites an affected file → the file appears in exactly one of the
  two manifest sets;
* MoR appends winners to new files and covers old rows with new DVs →
  the new files and new DV entries are the evidence.

So the candidate keys are recoverable by reading ONLY files/DVs in the
symmetric difference of the two snapshots — cost ∝ data touched by the
intervening commits, never table size. Both endpoint states are then
re-read restricted to those candidates (coarse file pruning by candidate
key range + an exact semi-join) and diffed with one key-partitioned
full-outer join. Unchanged rows that merely moved files (compaction,
COW rewrite collateral) classify as no-change and are dropped — the
LWW contract (same key + same offset ⇒ same payload) makes the offset
comparison sufficient.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_connect_gcs_spark.icebox.table import IceboxTable, Snapshot
from kafka_connect_gcs_spark.session import local_frame


def _live(col):
    return ~F.coalesce(col, F.lit(False))


def table_changes(
    table: IceboxTable,
    from_version: int,
    to_version: int | None = None,
    key_col: str = "doc_id",
    order_col: str = "last_offset",
    deleted_col: str = "deleted",
) -> DataFrame:
    """Exact row-level changelog between two committed snapshots:
    ``(change, <key>, <payload of the post-image — pre-image for D>,
    old_offset, new_offset)`` with ``change ∈ {I, U, D}``.

    Applying the changelog to the ``from_version`` state reproduces the
    ``to_version`` state exactly (test-pinned for both merge modes), so a
    downstream consumer can tail the table the way this engine tails the
    binlog.
    """
    to_version = (
        table.current_version() if to_version is None else int(to_version)
    )
    from_version = int(from_version)
    if to_version < from_version:
        raise ValueError(
            f"to_version {to_version} precedes from_version {from_version}"
        )
    snap_a = Snapshot.from_json(table.metadata(from_version)["snapshot"])
    snap_b = Snapshot.from_json(table.metadata(to_version)["snapshot"])

    paths_a = {m.path for m in snap_a.manifests}
    paths_b = {m.path for m in snap_b.manifests}
    removed = paths_a - paths_b
    added = paths_b - paths_a
    dv_a = {m.path for m in snap_a.deletes}
    new_dvs = [m for m in snap_b.deletes if m.path not in dv_a]

    spark = table.spark
    cand_parts: list[DataFrame] = []
    if removed:
        cand_parts.append(
            table.read(
                from_version, manifest_filter=lambda e: e.path in removed
            ).select(key_col)
        )
    if added:
        cand_parts.append(
            table.read(
                to_version, manifest_filter=lambda e: e.path in added
            ).select(key_col)
        )
    if new_dvs:
        dv_paths = [os.path.join(table.root, e.path) for e in new_dvs]
        cand_parts.append(spark.read.parquet(*dv_paths).select(key_col))
    if not cand_parts:
        schema = table.read(to_version).schema
        empty = local_frame(spark, [], schema)
        return _classify(empty, empty, key_col, order_col, deleted_col)

    cand = cand_parts[0]
    for p in cand_parts[1:]:
        cand = cand.unionByName(p)
    cand = cand.distinct()

    # coarse file pruning: candidate keys from one batch of commits are
    # usually localized in the key-ranged layout; the semi-join below is
    # what makes the diff EXACT regardless
    bounds = cand.agg(
        F.min(key_col).alias("lo"), F.max(key_col).alias("hi")
    ).collect()[0]
    key_range = (bounds["lo"], bounds["hi"]) if bounds["lo"] is not None else None

    def _state(version: int) -> DataFrame:
        df = table.read(version, key_range=key_range)
        return df.join(cand, key_col, "left_semi")

    return _classify(
        _state(from_version), _state(to_version), key_col, order_col, deleted_col
    )


def _classify(
    old: DataFrame, new: DataFrame, key_col: str, order_col: str, deleted_col: str
) -> DataFrame:
    """One key-partitioned full-outer join → I/U/D rows; no-change rows
    (same offset on both sides, or dead on both sides) are dropped."""
    payload = [c for c in new.columns if c != key_col]
    # additive schema evolution: a column minted after ``from_version``
    # reads as null on the old side (same null-fill rule as file reads)
    old_has = set(old.columns)
    o = old.select(
        F.col(key_col),
        F.lit(True).alias("_in_old"),
        *[
            (F.col(c) if c in old_has else F.lit(None)).alias(f"_old_{c}")
            for c in payload
        ],
    )
    n = new.select(
        F.col(key_col),
        F.lit(True).alias("_in_new"),
        *[F.col(c).alias(f"_new_{c}") for c in payload],
    )
    j = o.join(n, key_col, "full_outer")
    old_live = F.coalesce("_in_old", F.lit(False)) & _live(
        F.col(f"_old_{deleted_col}")
    )
    new_live = F.coalesce("_in_new", F.lit(False)) & _live(
        F.col(f"_new_{deleted_col}")
    )
    change = (
        F.when(~old_live & new_live, F.lit("I"))
        .when(old_live & ~new_live, F.lit("D"))
        .when(
            old_live
            & new_live
            & (F.col(f"_old_{order_col}") != F.col(f"_new_{order_col}")),
            F.lit("U"),
        )
    )
    # post-image for I/U, pre-image for D
    img = lambda c: F.when(  # noqa: E731
        change == "D", F.col(f"_old_{c}")
    ).otherwise(F.col(f"_new_{c}"))
    out_payload = [
        img(c).alias(c) for c in payload if c not in (order_col, deleted_col)
    ]
    return j.where(change.isNotNull()).select(
        change.alias("change"),
        F.col(key_col),
        *out_payload,
        F.col(f"_old_{order_col}").alias("old_offset"),
        F.col(f"_new_{order_col}").alias("new_offset"),
    )


def changes_since(table: IceboxTable, version: int) -> DataFrame:
    """Changelog from ``version`` to the current snapshot."""
    return table_changes(table, version)


class ChangelogTail:
    """A downstream consumer's cursor over the table's snapshot log — the
    engine's own feed-tailing loop pointed AT the lake instead of at the
    binlog. ``poll()`` returns the exact changelog from the last consumed
    version to the current head; the caller processes it and then calls
    ``advance()`` — the same consume-then-commit handoff as the ingest
    checkpoint (a crash between the two replays the poll, and because
    :func:`table_changes` is a pure function of two pinned versions, the
    replay is bit-identical — exactly-once for any idempotent sink).

    The cursor is one JSON file swapped by atomic rename; many
    independent consumers = many cursor files (``name``).
    """

    def __init__(self, table: IceboxTable, cursor_dir: str, name: str = "tail"):
        self.table = table
        self.dir = os.path.abspath(cursor_dir)
        os.makedirs(self.dir, exist_ok=True)
        self.path = os.path.join(self.dir, f"{name}.cursor.json")
        self._pending: tuple[int, int] | None = None

    def position(self) -> int:
        if not os.path.exists(self.path):
            return 0
        with open(self.path) as f:
            return int(json.load(f)["version"])

    def poll(self) -> "tuple[DataFrame, int] | None":
        """``(changes, to_version)`` for everything committed since the
        cursor, or None when caught up. Safe to call repeatedly — the
        cursor moves only in :meth:`advance`."""
        frm = self.position()
        to = self.table.current_version()
        if to <= frm:
            return None
        self._pending = (frm, to)
        return table_changes(self.table, frm, to), to

    def advance(self, to_version: int) -> None:
        """Commit the cursor after the caller durably processed the poll
        result (must match the version ``poll`` handed out)."""
        if self._pending is None or to_version != self._pending[1]:
            raise ValueError(
                f"advance({to_version}) without a matching poll"
            )
        tmp = self.path + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump({"version": int(to_version)}, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, self.path)
        self._pending = None
