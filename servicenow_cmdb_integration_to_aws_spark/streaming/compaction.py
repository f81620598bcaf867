"""Snapshot compaction over the CDC append log (a15, round-2 brief
item 6): fold the keyed change log the i11 sink produces into a
versioned, immutable base snapshot — the missing piece between
"append-only log lands on S3" and "analysts read current state
cheaply". Merge-on-read (i11) re-windows the whole log every query;
compaction amortizes that into a base snapshot so reads window only
the post-compaction tail.

Layout (one directory per table)::

    snap_root/
      v=1/part-*.parquet     immutable snapshot versions
      v=2/part-*.parquet
      _LATEST                JSON {"version": 2, "compacted_through": 7}
                             committed by atomic rename

100 TB notes: each compaction is an incremental fold — base vN ∪ new
log batches, ONE shuffle on the key — never a full-history replay, so
cost tracks the delta, not the table. Versions are immutable dirs and
readers resolve `_LATEST` once at plan time: snapshot isolation with
zero read locks, the Iceberg/Hudi commit pattern rebuilt from
primitives. The flock around the version bump stands in for the
metastore/conditional-put a shared object store would use; concurrent
compactors serialize, concurrent readers never block.
"""

from __future__ import annotations

import contextlib
import errno
import glob
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import scratch
from ..operators.numeric import FIN
from ..registry import EVENTS_US, query
from ..sources.tables import read_written, scan
from ..statefile import exclusive, publish, read_json, sweep


def _require(ok: bool, what: str) -> None:
    """Fail-loud check on a production query path. A plain raise, not
    ``assert``: several query bodies drive required side effects
    (compactions, manifest publishes) through their checks, and under
    ``python -O`` an assert-based check would silently skip both the
    check AND the work (r13 ADVICE — asserts as control flow)."""
    if not ok:
        raise RuntimeError(what)


def _stage_batch_dirs(df: DataFrame, **buckets):
    """Materialize every log batch of ``df`` in ONE Spark job and hand
    back a ``take(axis, value, dest)`` mover (r14/r15, guide §6: one
    pass over the source instead of one filtered scan+write job PER
    batch — and one pass for i22's two unrelated batch sequences).

    Each keyword names a bucket axis and its batch-assignment
    expression (``_stage_batch_dirs(df, a=half, b=third)``); one
    dynamic-partition write by the composite ``(__a, __b, ...)``
    stages every split at once. ``take`` HARD-LINKS the part files
    whose ``axis`` bucket equals ``value`` into ``dest`` (a
    ``batch_id=N`` log dir): a row with ``__a=h, __b=t`` belongs to
    log A's batch h AND log B's batch t, so no take may move the file
    — links share the bytes, and each log's retention deletes its own
    links independently. Falls back to a copy across filesystems.
    Each batch still enters its log exactly at its protocol point:
    compactions between takes see exactly the batches taken so far.
    A row whose bucket on the taken axis is NULL or a value nobody
    takes is never taken (a15's bare ``% 2`` drops NULL/negative ids
    from both halves by declared contract). A bucket value with NO
    rows (degenerate corpora — the --limit fuzz axis) stages an empty
    batch dir with the source schema. The partition columns ride only
    the write; staged data files keep the source schema. At 100 TB the
    staged files are the fixture INPUT build (the log an upstream sink
    would have written), not query output."""
    cols = {f"__{axis}": bucket for axis, bucket in buckets.items()}
    tmp = scratch.mkdtemp("stage_batches_")
    df.withColumns(cols).write.mode("overwrite").partitionBy(*cols).parquet(tmp)

    def take(axis: str, value, dest: str) -> None:
        pat = os.path.join(
            tmp,
            *(f"__{x}={value if x == axis else '*'}" for x in buckets),
            "*.parquet",
        )
        files = sorted(glob.glob(pat))
        if not files:
            df.limit(0).write.mode("overwrite").parquet(dest)
            return
        os.makedirs(dest, exist_ok=True)
        for f in files:
            # disambiguate with EVERY partition value: a dynamic-
            # partition write reuses the same part filename across
            # sibling dirs (one task, one name), so a single-component
            # prefix collides for the axis whose value is fixed
            *dirs, name = os.path.relpath(f, tmp).split(os.sep)
            tag = "-".join(d[2:].replace("=", "", 1) for d in dirs)
            out = os.path.join(dest, f"{tag}-{name}")
            try:
                os.link(f, out)
            except OSError as err:  # cross-device staging: fall back to copy
                if err.errno != errno.EXDEV:  # e.g. dest exists: fail loudly
                    raise
                shutil.copy2(f, out)

    def done() -> None:
        shutil.rmtree(tmp, ignore_errors=True)

    return take, done


def _batch_ids(log_dir: str | None, missing_ok: bool = False) -> list[int]:
    """Sorted ids of the ``batch_id=N`` dirs under ``log_dir`` (the i11
    sink layout); with ``missing_ok`` an absent log has none."""
    if missing_ok and (log_dir is None or not os.path.isdir(log_dir)):
        return []
    return sorted(
        int(d.split("=", 1)[1]) for d in os.listdir(log_dir)
        if d.startswith("batch_id=")
    )


def _contiguous_tail(
    store_root: str, ids: list[int], ct: int, h: int | None = None
) -> list[int]:
    """The ids in ``(ct, h]`` (above ``ct`` if ``h`` is None), which
    must be exactly ``ct+1, ..., end``: log retention can delete batch
    ct+1 and keep later ones, and folding past that gap would serve
    state silently missing batches (r13 ADVICE)."""
    tail = [b for b in ids if b > ct and (h is None or b <= h)]
    end = h if h is not None else (tail[-1] if tail else ct)
    if tail != list(range(ct + 1, end + 1)):
        raise HorizonMismatch(
            f"store {store_root} compacted through {ct} but its pending "
            f"batch ids {tail} are not a contiguous cover of ({ct}, {end}]"
        )
    return tail


def _read_batches(spark: SparkSession, log_dir: str, ids: list) -> DataFrame:
    return read_written(
        spark, *[os.path.join(log_dir, f"batch_id={b}") for b in ids]
    )


class SnapshotStore:
    """Versioned latest-per-key snapshot over an append log.

    `key` is the upsert key; `order` breaks ties — the LAST row under
    (order) per key wins, which is associative, so any split of the
    log across compactions yields the same final snapshot.

    ISOLATION CONTRACT (single-table by design): each store versions
    ONE table; `_LATEST` pins one version atomically, so a reader of
    one store always sees a consistent snapshot of that table. There
    is deliberately NO cross-store transaction: a consumer joining
    two stores can observe table A at vN and table B at vM whose
    folds straddle each other in wall-clock time (the r10 verdict's
    "What's missing" #3). That matches what per-table commit logs
    (Hudi, Delta pre-multi-table, Iceberg pre-catalog-txn) provide;
    consumers that need cross-table consistency must get it the same
    ways those systems do — both remedies are now implemented (r12),
    and both are EXPLICIT opt-ins:

    (a) :func:`consistent_read` — join on data-carried watermarks:
        equal `compacted_through` horizons, laggards served from
        base ∪ capped log tail, refusal (`HorizonMismatch`) when a
        truncated log cannot reach the horizon. Lock-free; requires
        the stores to share one upstream batch sequence.
    (b) :class:`StoreGroup` — serialize the member folds under one
        outer flock and publish a tiny manifest {table: version} by
        atomic rename (the a20-style commit record one level up);
        readers pin the manifest, never per-store `_LATEST`. Works
        across unrelated batch sequences and gives repeatable reads,
        at the price the contract names: the group lock serializes
        its members' maintenance, which is why the engine still does
        not impose it implicitly on unrelated tables at 100 TB.
    """

    def __init__(
        self,
        snap_root: str,
        key: str,
        order: list[str],
        fold=None,
    ):
        self.root = snap_root
        self.key = key
        self.order = order
        #: pluggable fold (r10): `fold(base_df_or_None, delta_df) ->
        #: DataFrame` merges a delta into the current base. None =
        #: the default latest-per-key upsert fold (a15). i18 passes an
        #: aggregate merge (count/sum are summed, max is re-maxed) so
        #: the SAME versioned flock'd commit protocol — and therefore
        #: the same crash-safety story — carries the incremental
        #: rollup, not just the upsert snapshot.
        self._fold_fn = fold
        #: test-only crash-point hook — an INSTANCE attribute on
        #: purpose: assigning a plain function at class level
        #: (SnapshotStore._fault = fn) would turn it into a bound
        #: method, so _crash would pass `self` as the `point` argument
        #: and the injected crash would never match its step name
        #: (r10 ADVICE). Assign on the instance: store._fault = fn.
        self._fault = None
        os.makedirs(snap_root, exist_ok=True)

    # -- commit metadata ------------------------------------------------
    def _meta(self) -> dict:
        return read_json(
            os.path.join(self.root, "_LATEST"),
            {"version": 0, "compacted_through": -1},
        )

    def _crash(self, point: str) -> None:
        if self._fault is not None:
            self._fault(point)

    def _commit(self, meta: dict) -> None:
        publish(
            os.path.join(self.root, "_LATEST"),
            json.dumps(meta),
            # tmp written, not live
            staged=lambda: self._crash("before_latest_replace"),
        )
        self._crash("after_latest_replace")  # commit durable

    # -- the fold -------------------------------------------------------
    def _latest_per_key(self, df: DataFrame) -> DataFrame:
        """Winner-per-key under (order) DESC, then a CANONICAL tiebreak
        over every remaining column (frame order, DESC NULLS LAST):
        under at-least-once delivery two DIFFERENT payloads can tie on
        the semantic version key (duplicate event_ids, tie-truncated
        timestamps — the r13 --rowshuffle × chain finding), and without
        a total order the winner depends on physical row order. The
        tiebreak columns deliberately do NOT join ``self.order``: the
        change feed (:meth:`changes`) diffs exactly ``order`` — version
        semantics — while the tiebreak only canonicalizes the pick.
        Rows tying on EVERY column are identical; either wins."""
        tiebreak = [
            F.col(c).desc_nulls_last()
            for c in df.columns
            if c != self.key and c not in self.order
        ]
        w = Window.partitionBy(self.key).orderBy(
            *[F.col(c).desc() for c in self.order], *tiebreak
        )
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def _fold(self, base: DataFrame | None, delta: DataFrame) -> DataFrame:
        if self._fold_fn is not None:
            return self._fold_fn(base, delta)
        src = delta if base is None else base.unionByName(delta)
        return self._latest_per_key(src)

    @contextlib.contextmanager
    def _locked(self):
        """Exclusive flock over the store: two compactors racing would
        both write vN+1 with different subsets and one commit would
        vanish. Readers are unaffected (they pin a version). A `_LATEST`
        temp found under it is a crashed commit's, and is swept."""
        with exclusive(os.path.join(self.root, "_LOCK")):
            sweep(os.path.join(self.root, "_LATEST"))
            yield

    def _advance(
        self, spark: SparkSession, meta: dict, folded: DataFrame, through: int
    ) -> int:
        """Write the folded state as version N+1, then commit. A crash
        after the v-dir write but before the _LATEST replace leaves an
        orphan version dir a retry OVERWRITES (mode=overwrite on the
        same vN+1) — readers never see it because they resolve _LATEST."""
        new_v = meta["version"] + 1
        folded.write.mode("overwrite").parquet(
            os.path.join(self.root, f"v={new_v}")
        )
        self._crash("after_fold_write")  # v-dir exists, not committed
        self._commit({"version": new_v, "compacted_through": through})
        return new_v

    def compact(self, spark: SparkSession, log_dir: str) -> int:
        """Fold log batches newer than the last compaction (directories
        ``batch_id=N`` under `log_dir`, the i11 sink layout) plus the
        current base into version N+1. Returns the new version."""
        with self._locked():
            meta = self._meta()
            new_batches = _contiguous_tail(
                self.root, _batch_ids(log_dir), meta["compacted_through"]
            )
            if not new_batches:
                return meta["version"]
            delta = _read_batches(spark, log_dir, new_batches)
            base = (
                None
                if meta["version"] == 0
                else self._read_version(spark, meta["version"])
            )
            return self._advance(
                spark, meta, self._fold(base, delta), new_batches[-1]
            )

    def fold_batches(self, spark: SparkSession, batches: dict, load) -> int:
        """Fold pre-keyed change batches — e.g. a streaming sink's
        `_spark_metadata` log parsed by ``_sink_log_batches`` — newer
        than ``compacted_through``, ONE VERSION PER BATCH, oldest
        first. ``load(batches[b])`` returns the batch's delta in the
        store's fold shape, or None for an empty commit (skipped; the
        pointer only advances on folded batches, and a skipped batch
        stays skipped because every later commit carries a higher id).

        Per-batch commits are what make a crash ANYWHERE resumable:
        dying between two folds loses nothing (the next run starts
        after the last committed batch), and dying between a version
        write and the pointer advance re-folds ONLY that batch from
        the same base (idempotent overwrite of the orphan v-dir —
        never a double merge). Returns the final version."""
        with self._locked():
            meta = self._meta()
            v = meta["version"]
            pending = _contiguous_tail(
                self.root, sorted(batches), meta["compacted_through"]
            )
            for b in pending:
                self._crash(f"before_fold_batch_{b}")
                delta = load(batches[b])
                if delta is None:
                    continue  # empty commit adds nothing
                base = None if v == 0 else self._read_version(spark, v)
                v = self._advance(spark, meta, self._fold(base, delta), b)
                meta = {"version": v, "compacted_through": b}
            return v

    def _read_version(self, spark: SparkSession, v: int) -> DataFrame:
        return read_written(spark, os.path.join(self.root, f"v={v}"))

    def gc(self, keep_last: int = 1) -> list[int]:
        """Version retention sweep: delete committed version dirs older
        than the newest ``keep_last``, under the store flock. Returns
        the swept version numbers (ascending).

        What it never touches: the current version; UNCOMMITTED orphan
        dirs above ``_LATEST`` (a crashed compactor's retry overwrites
        its own orphan — sweeping it here would race that retry); the
        change log (that is :func:`prune_log`'s job, with the opposite
        safety rule). Time travel to a swept version refuses loudly
        (:meth:`read_version`'s GC refusal) instead of part-scanning.

        Operator hazards, stated plainly (the Delta-VACUUM trade): a
        reader whose plan resolved a version BEFORE the sweep reads
        deleted files if it is still running — retention windows must
        exceed the longest reader, exactly as in every
        immutable-snapshot system; and external pins (a StoreGroup
        manifest naming an old version) are invisible here because a
        store deliberately does not know its groups (the single-table
        isolation contract) — group operators must size ``keep_last``
        to cover their manifest horizon. 100 TB notes: the sweep is
        driver-side metadata + dir deletes, never a data read; cost is
        O(swept versions), and the flock only excludes compactors for
        the listing instant."""
        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")

        with self._locked():
            meta = self._meta()
            swept = []
            for v in range(1, meta["version"] - keep_last + 1):
                d = os.path.join(self.root, f"v={v}")
                if os.path.isdir(d):
                    shutil.rmtree(d)
                    swept.append(v)
            return swept

    def read_version(self, spark: SparkSession, v: int) -> DataFrame:
        """Time travel: the snapshot exactly as version ``v`` published
        it — the "AS OF v" read every snapshot-store user eventually
        wants (reproduce yesterday's training set, audit a regression,
        diff against :meth:`changes`). Version dirs are immutable, so
        the returned plan is REPEATABLE: it stays pinned to v's files
        no matter how many compactions advance ``_LATEST`` while the
        (arbitrarily long) downstream job runs.

        Refusals are loud, never silent fallbacks (the store's standing
        contract): ``v`` above the committed ``_LATEST`` does not exist
        yet — even if a crashed compactor left an ORPHAN ``v=N+1`` dir,
        that data was never committed and must not be servable — and a
        committed version whose dir a retention sweep garbage-collected
        raises instead of letting the parquet scan surface a confusing
        path error. 100 TB notes: the check is two driver-side metadata
        probes (manifest JSON + one directory stat); the read itself is
        the same immutable-dir scan every pinned reader performs."""
        meta = self._meta()
        if not 1 <= v <= meta["version"]:
            raise ValueError(
                f"version {v} of store {self.root} does not exist "
                f"(committed versions: 1..{meta['version']})"
            )
        if not os.path.isdir(os.path.join(self.root, f"v={v}")):
            raise ValueError(
                f"version {v} of store {self.root} was garbage-collected"
                " — its directory is gone; pick a retained version"
            )
        return self._read_version(spark, v)

    def changes(
        self, spark: SparkSession, v_from: int, v_to: int
    ) -> DataFrame:
        """Change feed between two pinned snapshot versions: one row
        per key whose state differs, classified insert / update /
        delete — what an incremental downstream consumer reads instead
        of re-diffing full snapshots itself.

        The diff covers EVERY stored non-key column, not just the
        ``order`` (version) columns: under the canonical tiebreak a
        key's winner can deterministically flip on payload columns
        alone (duplicate version keys — the r13 rowshuffle class), and
        a feed diffing only ``order`` would leave incremental consumers
        silently diverged from the snapshot (r13 ADVICE). Comparisons
        are null-safe (``eqNullSafe`` / SQL ``IS DISTINCT FROM``):
        plain ``!=`` is NULL — dropped by the filter — when exactly one
        side of a payload transition is NULL.

        Implementation is a single co-keyed full-outer join of the two
        immutable versions (g7's delta-detect shape); unchanged keys
        are filtered before anything leaves the join. 100 TB notes:
        both sides shuffle once on the key — and on a real object
        store both versions are range-clustered by the same key (a14's
        sink), so the exchange is the only wire cost; the output is
        delta-sized, not snapshot-sized."""
        old = self._read_version(spark, v_from).alias("o")
        new = self._read_version(spark, v_to).alias("n")
        k = self.key
        if set(old.columns) != set(new.columns):
            raise ValueError(
                f"changes() across schema-divergent versions of "
                f"{self.root}: v{v_from} has {sorted(old.columns)}, "
                f"v{v_to} has {sorted(new.columns)}"
            )
        cond = F.col(f"o.{k}") == F.col(f"n.{k}")
        # version columns first (the semantic order), then the payload
        # columns in stored-schema order
        diff_cols = list(self.order) + [
            c for c in new.columns if c != k and c not in self.order
        ]
        changed = F.col(f"o.{k}").isNull() | F.col(f"n.{k}").isNull()
        for c in diff_cols:
            changed = changed | ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
        op = (
            F.when(F.col(f"o.{k}").isNull(), F.lit("insert"))
            .when(F.col(f"n.{k}").isNull(), F.lit("delete"))
            .otherwise(F.lit("update"))
        )
        return (
            old.join(new, cond, "full_outer")
            .filter(changed)
            .select(
                F.coalesce(F.col(f"n.{k}"), F.col(f"o.{k}")).alias(k),
                op.alias("change_op"),
                *[
                    F.col(f"o.{c}").alias(f"old_{c}") for c in diff_cols
                ],
                *[
                    F.col(f"n.{c}").alias(f"new_{c}") for c in diff_cols
                ],
            )
        )

    def read(self, spark: SparkSession, log_dir: str | None = None) -> DataFrame:
        """Current state: pinned base version, merged on read with any
        log batches the base hasn't absorbed yet (the cheap tail)."""
        meta = self._meta()
        base = (
            self._read_version(spark, meta["version"])
            if meta["version"] > 0
            else None
        )
        tail = _contiguous_tail(
            self.root, _batch_ids(log_dir, missing_ok=True),
            meta["compacted_through"],
        )
        if base is None and not tail:
            raise ValueError(f"empty snapshot store {self.root}")
        if not tail:
            return base  # committed versions are already folded
        return self._fold(base, _read_batches(spark, log_dir, tail))


@query(
    "a15_snapshot_compact",
    oracle=f"""
    {EVENTS_US}
    SELECT event_id, user_id, ts, event_type, value
    FROM (SELECT *, row_number() OVER (
              PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC,
                       event_type DESC NULLS LAST,
                       value DESC NULLS LAST) AS rn
          FROM e)
    WHERE rn = 1
    """,
)
def a15_snapshot_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log→snapshot compaction (a15): the i11 append log folded into a
    versioned base snapshot, exercised across TWO compaction
    generations — batch 0 → v1, batch 1 (+v1) → v2 — then read back.
    Latest-per-key is associative under the store's total order —
    (ts, event_id) DESC plus the canonical remaining-column tiebreak
    (see `_latest_per_key`) — so the split reproduces exactly the
    one-shot merge the oracle computes. tests/test_streaming.py additionally pins
    read-back equality between the compacted snapshot and pure
    merge-on-read, and test_robustness.py races two compactors under
    the flock."""
    cols = ["event_id", "user_id", "ts", "event_type", "value"]
    e = scan(spark, sf_dir, "events").select(*cols)
    log_dir = scratch.mkdtemp("a15_log_")
    store = SnapshotStore(
        scratch.mkdtemp("a15_snap_"),
        key="user_id",
        order=["ts", "event_id"],
    )
    # two foreachBatch-style appends (identical sink layout to i11),
    # a compaction after EACH — v2 must fold v1 with the new batch.
    # Halves split by event_id parity so both generations touch keys.
    # Both batches are staged in ONE source pass (guide §6); each
    # enters the log only at its protocol point via take(),
    # so the two-generation fold sequence is unchanged.
    parity = F.when(F.col("event_id") % 2 == 0, 0).when(
        F.col("event_id") % 2 == 1, 1
    )
    take, done = _stage_batch_dirs(e, a=parity)
    take("a", 0, os.path.join(log_dir, "batch_id=0"))
    _require(store.compact(spark, log_dir) == 1, "a15: first fold is not v1")
    take("a", 1, os.path.join(log_dir, "batch_id=1"))
    done()
    _require(store.compact(spark, log_dir) == 2, "a15: second fold is not v2")
    return store.read(spark).select(*cols)


@query(
    "a16_change_feed",
    oracle=f"""
    {EVENTS_US},
    v1 AS (
        SELECT user_id, ts, event_id, event_type, value
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY user_id
                  ORDER BY ts DESC, event_id DESC,
                           event_type DESC NULLS LAST,
                           value DESC NULLS LAST
              ) AS rn
              FROM e WHERE event_id % 2 = 0)
        WHERE rn = 1
    ),
    v2 AS (
        SELECT user_id, ts, event_id, event_type, value
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY user_id
                  ORDER BY ts DESC, event_id DESC,
                           event_type DESC NULLS LAST,
                           value DESC NULLS LAST
              ) AS rn
              FROM e)
        WHERE rn = 1
    )
    SELECT COALESCE(v2.user_id, v1.user_id) AS user_id,
           CASE WHEN v1.user_id IS NULL THEN 'insert'
                WHEN v2.user_id IS NULL THEN 'delete'
                ELSE 'update' END AS change_op,
           v1.ts AS old_ts, v1.event_id AS old_event_id,
           v1.event_type AS old_event_type, v1.value AS old_value,
           v2.ts AS new_ts, v2.event_id AS new_event_id,
           v2.event_type AS new_event_type, v2.value AS new_value
    FROM v1 FULL JOIN v2 ON v1.user_id = v2.user_id
    WHERE v1.user_id IS NULL OR v2.user_id IS NULL
       OR v1.ts IS DISTINCT FROM v2.ts
       OR v1.event_id IS DISTINCT FROM v2.event_id
       OR v1.event_type IS DISTINCT FROM v2.event_type
       OR v1.value IS DISTINCT FROM v2.value
    """,
)
def a16_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot change feed (a16): what changed between two pinned
    snapshot versions — the incremental-consumer read over the a15
    store. Builds the same two-generation store as a15 (even-event
    batch → v1, odd-event batch folded → v2), then emits one row per
    key whose latest state moved, classified insert/update/delete with
    old and new values for EVERY stored column — version and payload
    alike, null-safely compared, so payload-only winner flips under
    the canonical tiebreak are visible to the feed (r13 ADVICE).

    Oracle: v1/v2 recomputed directly from events in SQL; the feed is
    their full-outer diff. Both versions are immutable dirs, so the
    feed is reproducible forever — the property downstream retries
    depend on."""
    cols = ["event_id", "user_id", "ts", "event_type", "value"]
    e = scan(spark, sf_dir, "events").select(*cols)
    log_dir = scratch.mkdtemp("a16_log_")
    store = SnapshotStore(
        scratch.mkdtemp("a16_snap_"),
        key="user_id",
        order=["ts", "event_id"],
    )
    # single-pass batch staging (the a15 pattern; guide §6)
    parity = F.when(F.col("event_id") % 2 == 0, 0).when(
        F.col("event_id") % 2 == 1, 1
    )
    take, done = _stage_batch_dirs(e, a=parity)
    take("a", 0, os.path.join(log_dir, "batch_id=0"))
    _require(store.compact(spark, log_dir) == 1, "a16: first fold is not v1")
    take("a", 1, os.path.join(log_dir, "batch_id=1"))
    done()
    _require(store.compact(spark, log_dir) == 2, "a16: second fold is not v2")
    return store.changes(spark, 1, 2)


def prune_log(store: SnapshotStore, log_dir: str) -> list[int]:
    """Log retention sweep — the complement of :meth:`SnapshotStore.gc`
    with the OPPOSITE safety rule: delete only batches the store has
    durably absorbed (``batch_id <= compacted_through``). Returns the
    pruned batch ids (ascending).

    This is the one retention discipline the store's gap refusals
    assume: pruning ABOVE ``compacted_through`` — or skipping an
    intermediate id — is exactly what turns the next ``compact()`` /
    ``read()`` / :func:`consistent_read` into a loud
    :class:`HorizonMismatch` instead of a silent partial fold, so this
    helper reads the manifest under the store flock and never reaches
    past it. Safe concurrently with readers: merge-on-read only folds
    batches ABOVE ``compacted_through``, which this never touches, and
    the base version dirs are `gc`'s jurisdiction. 100 TB notes:
    driver-side listing + dir deletes, O(pruned batches); running it
    after every compaction keeps the log's size proportional to the
    uncompacted tail, which is what makes the merge-on-read tail cost
    genuinely delta-sized forever."""
    with store._locked():
        ct = store._meta()["compacted_through"]
        pruned = [b for b in _batch_ids(log_dir, missing_ok=True) if b <= ct]
        for b in pruned:
            shutil.rmtree(os.path.join(log_dir, f"batch_id={b}"))
        return pruned


# -- cross-store consistent read (i21, r11 verdict item 4) ---------------


class HorizonMismatch(RuntimeError):
    """Raised when a multi-store read cannot reach one common source
    horizon: some store's committed snapshot lags the others and its
    change log no longer (or does not yet) contain the batches needed
    to catch up. A consumer that proceeded anyway would join table A's
    fold-through-batch-N state against table B's fold-through-batch-M
    state — exactly the straddled vN×vM read the SnapshotStore
    isolation contract warns about.

    Also raised by the store-LOCAL paths (``compact``,
    ``fold_batches``, merge-on-read ``read``) when the log's pending
    batch ids are non-contiguous above ``compacted_through``:
    retention deleting an intermediate committed batch while keeping
    later ones means folding would silently skip rows — the same
    wrong-answer class, durable instead of per-read (r13 ADVICE)."""


def consistent_read(
    spark: SparkSession,
    reads: list,
    attempts: int = 3,
) -> tuple[int, list[DataFrame]]:
    """Equal-horizon read across several single-table SnapshotStores —
    remedy (a) from the SnapshotStore isolation contract, implemented.

    ``reads`` is a list of ``(store, log_dir)`` pairs whose logs are
    fed from the SAME upstream batch sequence (shared ``batch_id``
    space — the i11/foreachBatch layout). The horizon ``h`` is the
    max ``compacted_through`` over the stores' ``_LATEST`` manifests;
    each store is then read AT ``h``: a store already compacted
    through ``h`` serves its pinned base version, a laggard serves
    base ∪ its log tail in ``(compacted_through, h]`` through the
    store's own fold (merge-on-read capped at the horizon — never
    past it, so a log batch newer than ``h`` in a leader's log is
    deliberately invisible). If a laggard's log does not CONTIGUOUSLY
    cover ``(compacted_through, h]`` — it falls short of ``h``, or
    retention deleted an intermediate batch while keeping later ones —
    the read REFUSES with :class:`HorizonMismatch` rather than serve
    a straddled or gap-folded join; manifests are re-read ``attempts`` times first,
    because in a live deployment the laggard's compactor may publish
    the missing fold between polls.

    Returns ``(h, [df, ...])`` in input order.

    100 TB notes: the consistency decision costs two tiny driver-side
    JSON reads per store (manifest + log listing) at PLAN time — no
    global lock, no cross-table transaction, so unrelated tables'
    maintenance never serializes (the documented reason remedy (b)'s
    outer lock is not the default). The laggard's catch-up work is
    delta-sized (its uncompacted tail), identical to the merge-on-read
    cost `read()` already pays; leaders pay nothing. Every version dir
    is immutable and `_LATEST` is resolved once, so the returned plan
    stays consistent no matter how long the downstream join runs.
    """
    if not reads:
        raise ValueError("consistent_read needs at least one (store, log)")
    last_err: HorizonMismatch | None = None
    for _ in range(max(1, attempts)):
        metas = [s._meta() for s, _ in reads]
        h = max(m["compacted_through"] for m in metas)
        out: list[DataFrame] = []
        try:
            for (store, log_dir), m in zip(reads, metas):
                ct = m["compacted_through"]
                base = (
                    store._read_version(spark, m["version"])
                    if m["version"] > 0
                    else None
                )
                if ct == h:
                    if base is None:
                        raise HorizonMismatch(
                            f"store {store.root} is empty (no committed "
                            f"version) at horizon {h}"
                        )
                    out.append(base)
                    continue
                tail = _contiguous_tail(
                    store.root, _batch_ids(log_dir, missing_ok=True), ct, h
                )
                delta = _read_batches(spark, log_dir, tail)
                out.append(store._fold(base, delta))
            return h, out
        except HorizonMismatch as err:
            last_err = err  # re-poll manifests: a live compactor may
            # have published the laggard's fold since the first read
    assert last_err is not None
    raise last_err


def _make_rollup_fold(key: str, n_name: str, sum_name: str):
    """Count/sum-cents aggregate fold factory (d27's algebra on the
    upsert store's protocol). The delta is RAW log rows (what both
    `compact()` and the merge-on-read tail hand a fold); the base,
    when present, is already aggregated — count/sum are
    associative-commutative, so base ⊎ delta is one re-aggregation.
    One definition serves every keyed rollup store (i21's per-user,
    i22's per-event_type) so the cents cast and NULL-group semantics
    can never diverge between them."""

    def fold(base: DataFrame | None, delta: DataFrame) -> DataFrame:
        from ..operators.numeric import finite_metric

        cents = (finite_metric("value").cast("decimal(18,2)") * 100).cast(
            "bigint"
        )
        d = (
            delta.select(key, cents.alias("cents"))
            .groupBy(key)
            .agg(
                F.count(F.lit(1)).alias(n_name),
                F.sum("cents").alias(sum_name),
            )
        )
        if base is None:
            return d
        return (
            base.unionByName(d)
            .groupBy(key)
            .agg(
                F.sum(n_name).alias(n_name),
                F.sum(sum_name).alias(sum_name),
            )
        )

    return fold


#: i21's store B: per-user count/sum-cents rollup.
_user_rollup_fold = _make_rollup_fold("user_id", "n_events", "sum_cents")


@query(
    "i21_consistent_read",
    oracle=f"""
    {EVENTS_US},
    latest AS (
        SELECT user_id, ts, event_type
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY user_id
                  ORDER BY ts DESC, event_id DESC,
                           event_type DESC NULLS LAST,
                           value DESC NULLS LAST
              ) AS rn
              FROM e WHERE user_id IS NOT NULL)
        WHERE rn = 1
    ),
    roll AS (
        SELECT user_id,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(CAST(({FIN}) AS DECIMAL(18,2)) * 100
                    AS BIGINT)) AS BIGINT) AS sum_cents
        FROM e WHERE user_id IS NOT NULL GROUP BY 1
    )
    SELECT l.user_id, l.ts AS last_ts, l.event_type AS last_event_type,
           r.n_events, r.sum_cents
    FROM latest l JOIN roll r ON l.user_id = r.user_id
    """,
)
def i21_consistent_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-store consistent read (i21): two single-table snapshot
    stores fed from the same source batch sequence — store A the
    latest-event-per-user upsert (a15's fold), store B the per-user
    count/sum rollup (d27's algebra) — deliberately left STRADDLED
    (A compacted through batch 2, B only through batch 1), then joined
    through :func:`consistent_read`, which detects the lag from the
    `_LATEST` manifests and serves B at A's horizon by folding B's
    uncompacted log tail in. A naive reader joining the two pinned
    versions directly would combine all-3-batch user state with
    2-batch counts (tests pin both that observable anomaly and the
    HorizonMismatch refusal when the tail is truncated).

    Oracle: the single-fold recompute at the matched horizon — all
    three batches partition `events`, so horizon 2 ≡ the full corpus.
    NULL-user policy: the stores keep the NULL group (own-group
    snapshot semantics) but the cross-store equi-join EXCLUDES it,
    in both engines explicitly (r9 nullkeys rule).

    100 TB notes: both stores are key-clustered on user_id at rest
    (a14 sink discipline), so the consistency join shuffles each side
    once on the join key; the horizon check itself is driver-side
    metadata. The straddle repair reads ONLY B's tail batch — delta
    cost, not table cost. The two stores consume ONE physical log
    (that is the premise — a shared upstream batch sequence), so the
    source is staged exactly once; per-store logs would change
    nothing semantically, only double the staging."""
    cols = ["event_id", "user_id", "ts", "event_type", "value"]
    e = scan(spark, sf_dir, "events").select(*cols)
    log_dir = scratch.mkdtemp("i21_log_")
    root_a = scratch.mkdtemp("i21_snap_a_")
    root_b = scratch.mkdtemp("i21_snap_b_")
    store_a = SnapshotStore(root_a, key="user_id", order=["ts", "event_id"])
    store_b = SnapshotStore(
        root_b, key="user_id", order=[], fold=_user_rollup_fold
    )
    # three source batches in one shared log; pmod over a coalesced
    # key so the thirds provably PARTITION the corpus (bare `% 3`
    # drops NULL and negative ids — the i18 lesson).
    third = F.pmod(F.coalesce(F.col("event_id"), F.lit(0)), F.lit(3))
    # all three batches staged in ONE source pass (guide §6); batch 2
    # only enters the shared log after the first compacts, exactly as
    # the per-batch writes did.
    take, done = _stage_batch_dirs(e, a=third)
    for i in (0, 1):
        take("a", i, os.path.join(log_dir, f"batch_id={i}"))
    _require(store_a.compact(spark, log_dir) == 1, "i21: A fold 1 != v1")
    _require(store_b.compact(spark, log_dir) == 1, "i21: B fold 1 != v1")
    take("a", 2, os.path.join(log_dir, "batch_id=2"))
    done()
    # A leads: through batch 2. B's compactor has NOT run: the
    # manifests now straddle (the state a naive two-store join
    # silently mis-reads).
    _require(store_a.compact(spark, log_dir) == 2, "i21: A fold 2 != v2")
    _require(store_a._meta()["compacted_through"] == 2, "i21: A not at 2")
    _require(store_b._meta()["compacted_through"] == 1, "i21: B not at 1")
    h, (da, db) = consistent_read(
        spark, [(store_a, log_dir), (store_b, log_dir)]
    )
    _require(h == 2, f"i21: horizon {h} != 2")
    return (
        da.filter(F.col("user_id").isNotNull())
        .select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_event_type"),
        )
        .join(db, "user_id")
        .select(
            "user_id", "last_ts", "last_event_type", "n_events", "sum_cents"
        )
    )


# -- cross-store group commit (remedy (b) of the isolation contract) -----


class StoreGroup:
    """Transactional multi-store publication — remedy (b) from the
    SnapshotStore isolation contract, for consumers that need a
    STRONGER guarantee than :func:`consistent_read`'s equal-horizon
    rule: one atomically-published, repeatable-read set of versions
    across several stores, regardless of batch horizons.

    ``with group.commit() as g: ...`` serializes maintenance across
    the group under one outer flock; on clean exit the group writes a
    tiny manifest ``{table: version}`` (temp-write + fsync + atomic
    rename — the a20/i20 commit record, one level up). Readers resolve
    the manifest ONCE (`read_pinned`) and read exactly those immutable
    version dirs, ignoring any newer per-store ``_LATEST`` — so a
    reader can never observe a torn pair, even while a new group
    commit is mid-flight, and a crash BETWEEN folds publishes nothing
    (the previous manifest stays live; per-store _LATEST may advance,
    which is harmless because group readers never look at it).

    This is deliberately OPT-IN, not the store default: the outer
    lock serializes otherwise-unrelated tables' maintenance — the
    documented reason the engine does not fake cross-store
    transactions implicitly. Use :func:`consistent_read` (no lock,
    horizon-based) when the tables share a batch sequence; use a
    StoreGroup when they do not, or when readers need repeatable
    pins.

    Maintenance discipline: once a store joins a group, ALL its
    compaction must happen inside ``group.commit()`` bodies. A
    per-store compactor running outside the group lock (store flocks
    are independent of the group flock) can advance a member between
    the body's folds and the manifest write; the body's own folds are
    immune when issued through the yielded handle's
    :meth:`~StoreGroup.commit` ``g.compact(name, spark, log_dir)``,
    which pins the version RETURNED by the fold — the manifest then
    records exactly what the body produced, never a later _LATEST.
    Members the body leaves untouched (or compacts directly on the
    store object) are pinned from ``_LATEST`` at publish time, which
    is only torn-free under the stated discipline. 100 TB notes: the manifest is O(#tables) bytes resolved
    driver-side at plan time; version dirs stay immutable so a pinned
    read plan remains valid for its whole (arbitrarily long) run; on
    a shared object store the flock + rename slots are a conditional
    put, exactly as for the single-store `_LATEST`."""

    def __init__(self, group_root: str, stores: dict):
        self.root = group_root
        self.stores = dict(stores)
        os.makedirs(group_root, exist_ok=True)

    def _manifest_path(self) -> str:
        return os.path.join(self.root, "_MANIFEST")

    def manifest(self) -> dict:
        return read_json(self._manifest_path(), {})

    @contextlib.contextmanager
    def commit(self):
        """Context manager: flock the group, let the caller run folds,
        then publish the member versions as one manifest. Nothing is
        published if the body raises. Yields a PER-COMMIT handle whose
        ``compact(name, spark, log_dir)`` records the version RETURNED
        by the member's fold; at publish time those recorded versions
        win over a publish-time ``_LATEST`` re-read, so an out-of-band
        compactor racing the group cannot pin a version the body never
        produced (members not folded through the handle fall back to
        ``_LATEST`` — safe only under the class's maintenance
        discipline). The recorded set lives on the HANDLE, not the
        group, so a concurrent caller invoking :meth:`compact` on the
        group object can never leak its fold into another thread's
        in-flight manifest."""
        with exclusive(os.path.join(self.root, "_GLOCK")):
            sweep(self._manifest_path())  # a crashed commit's temp
            handle = _GroupCommit(self)
            yield handle
            versions = {
                name: handle.recorded.get(name, s._meta()["version"])
                for name, s in self.stores.items()
            }
            empty = sorted(n for n, v in versions.items() if v == 0)
            if empty:
                # fail at COMMIT time, not at some later reader's
                # plan time: a v=0 member has no version dir to pin
                raise ValueError(
                    f"group commit with never-compacted members: {empty}"
                )
            publish(self._manifest_path(), json.dumps(versions))

    def compact(self, name: str, spark: SparkSession, log_dir: str) -> int:
        """Plain pass-through to a member's compact — NEVER records
        into any in-flight commit (recording belongs to the per-commit
        handle :class:`_GroupCommit`, so a concurrent out-of-band
        caller cannot contaminate another thread's manifest)."""
        return self.stores[name].compact(spark, log_dir)

    def gc(self, keep_last: int = 1) -> dict:
        """Group-aware version retention: sweep every member like
        :meth:`SnapshotStore.gc`, but NEVER a version the published
        manifest still pins — the external-pin hazard the store-level
        sweep documents, closed at the level that actually knows the
        pins. Runs under the group flock so the manifest cannot flip
        mid-sweep (a commit in flight either published before the
        listing — its pins are honored — or publishes after, seeing
        only versions this sweep kept, since commits only ever pin
        CURRENT-or-newer versions). Returns {member: [swept...]}.

        Per member, the newest ``keep_last`` versions survive, and so
        does the exact version the manifest pins (a member compacted
        ahead of the group can have UNREFERENCED versions between its
        pin and its retained tail — those sweep). A group reader that
        resolved the manifest before the sweep reads pinned dirs that
        are still there; the documented residual hazard is the same
        one every immutable-snapshot system has — a reader holding a
        manifest OLDER than the current one races retention, so
        retention cadence must exceed manifest-reader lifetime."""
        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")

        with exclusive(os.path.join(self.root, "_GLOCK")):
            pins = self.manifest()
            swept: dict[str, list[int]] = {}
            for name, store in self.stores.items():
                with store._locked():
                    latest = store._meta()["version"]
                    out = []
                    for v in range(1, latest - keep_last + 1):
                        if v == pins.get(name):
                            continue  # manifest-pinned: must survive
                        d = os.path.join(store.root, f"v={v}")
                        if os.path.isdir(d):
                            shutil.rmtree(d)
                            out.append(v)
                    swept[name] = out
            return swept

    def read_pinned(self, spark: SparkSession) -> dict:
        """Resolve the manifest once; return {table: DataFrame} of
        exactly the published versions (never per-store _LATEST)."""
        m = self.manifest()
        if not m:
            raise ValueError(f"store group {self.root} has no manifest")
        return {
            name: self.stores[name]._read_version(spark, v)
            for name, v in m.items()
        }


class _GroupCommit:
    """Per-commit handle yielded by :meth:`StoreGroup.commit`. Holds
    THIS commit's recorded fold versions — deliberately not group
    state, so commits are isolated from each other and from
    out-of-band :meth:`StoreGroup.compact` callers."""

    def __init__(self, group: StoreGroup):
        self._group = group
        self.recorded: dict[str, int] = {}

    def compact(self, name: str, spark: SparkSession, log_dir: str) -> int:
        """Fold a member's log and RECORD the returned version for
        this commit's manifest — the race-proof way to compact a
        group member."""
        v = self._group.stores[name].compact(spark, log_dir)
        self.recorded[name] = v
        return v


#: i22's store B: per-event_type count/sum-cents rollup (same
#: :func:`_make_rollup_fold` algebra; NULL event_type stays as its own
#: group in the STORE — own-group snapshot semantics, the r9 nullkeys
#: rule — and the consumer join decides exclusion).
_type_rollup_fold = _make_rollup_fold(
    "event_type", "type_n_events", "type_sum_cents"
)


@query(
    "i22_store_group_read",
    oracle=f"""
    {EVENTS_US},
    latest AS (
        SELECT user_id, ts, event_type
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY user_id
                  ORDER BY ts DESC, event_id DESC,
                           event_type DESC NULLS LAST,
                           value DESC NULLS LAST
              ) AS rn
              FROM e WHERE user_id IS NOT NULL)
        WHERE rn = 1
    ),
    roll AS (
        SELECT event_type,
               COUNT(*) AS type_n_events,
               CAST(SUM(CAST(CAST(({FIN}) AS DECIMAL(18,2)) * 100
                    AS BIGINT)) AS BIGINT) AS type_sum_cents
        FROM e WHERE event_type IS NOT NULL GROUP BY 1
    )
    SELECT l.user_id, l.ts AS last_ts, l.event_type AS last_event_type,
           r.type_n_events, r.type_sum_cents
    FROM latest l JOIN roll r ON l.event_type = r.event_type
    """,
)
def i22_store_group_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional multi-store read (i22): two snapshot stores with
    UNRELATED batch sequences — store "users" the latest-event-per-user
    upsert fed by a 2-way source split, store "types" the
    per-event_type rollup fed by a 3-way split — published through
    TWO :class:`StoreGroup` commits (partial, then full) and consumed
    via ``read_pinned``. This is the case :func:`consistent_read`
    cannot serve (no shared ``batch_id`` horizon exists across the
    logs); the group manifest is what makes the pair joinable.

    Mechanics pinned inline: the first commit's pinned read stays
    valid and UNCHANGED after the second commit flips the manifest
    (repeatable read over immutable version dirs); both commits fold
    through the yielded handle so the manifest records exactly the
    body's fold versions. The torn-commit refusal and the
    naive-reader anomaly are pytest pins at two SFs
    (``tests/test_streaming.py``).

    Oracle: the single-fold recompute over the full corpus — both
    splits partition `events`, so the second manifest ≡ all rows.
    NULL policy (r9 nullkeys rule): both stores keep their NULL key
    group (own-group snapshot semantics); the consumer join EXCLUDES
    NULL user_id (store A's key) and NULL event_type (the join key),
    explicitly in both engines.

    100 TB notes: the group manifest is O(#tables) bytes, written
    under the group flock (a conditional put on a shared object
    store) and resolved ONCE at read-plan time — version dirs are
    immutable, so a pinned join plan stays valid for its whole run
    regardless of concurrent group commits. Each commit's fold cost
    is delta-sized per member (the store's own incremental contract);
    the consumer join shuffles each side once on event_type, with the
    tiny types rollup broadcast by AQE."""
    cols = ["event_id", "user_id", "ts", "event_type", "value"]
    e = scan(spark, sf_dir, "events").select(*cols)
    log_a = scratch.mkdtemp("i22_log_users_")
    log_b = scratch.mkdtemp("i22_log_types_")
    root_a = scratch.mkdtemp("i22_snap_users_")
    root_b = scratch.mkdtemp("i22_snap_types_")
    group_root = scratch.mkdtemp("i22_group_")
    store_a = SnapshotStore(root_a, key="user_id", order=["ts", "event_id"])
    store_b = SnapshotStore(
        root_b, key="event_type", order=[], fold=_type_rollup_fold
    )
    group = StoreGroup(group_root, {"users": store_a, "types": store_b})
    # two UNRELATED batch sequences over the same corpus: pmod over a
    # coalesced key so the splits provably PARTITION it (bare `% k`
    # drops NULL and negative ids — the i18 lesson).
    key = F.coalesce(F.col("event_id"), F.lit(0))
    half, third = F.pmod(key, F.lit(2)), F.pmod(key, F.lit(3))
    # BOTH logs staged in ONE source pass (r15, guide §6 — the two
    # r14 per-log passes fused via the composite (half, third)
    # partition write; see _stage_batch_dirs). Each batch still
    # enters its log only at its protocol point, exactly as before.
    take, done = _stage_batch_dirs(e, a=half, b=third)
    take("a", 0, os.path.join(log_a, "batch_id=0"))
    for i in (0, 1):
        take("b", i, os.path.join(log_b, f"batch_id={i}"))
    # the two member folds are INDEPENDENT single-table compactions
    # (separate stores, separate logs, separate flocks) serialized
    # only by the driver loop — overlap them (r15, guide §2.6): each
    # fold's job tail leaves most cores idle at this delta size, and
    # the group commit only needs BOTH versions recorded before the
    # manifest publish on clean exit. FIFO scheduling backfills one
    # fold's stragglers with the other's tasks; the commit protocol
    # (per-store version write + _LATEST, then one group manifest)
    # is unchanged — the handle records each fold's returned version
    # under distinct keys, and the manifest is written after both
    # futures resolve.
    from concurrent.futures import ThreadPoolExecutor

    with group.commit() as g:
        with ThreadPoolExecutor(2) as pool:
            fa = pool.submit(g.compact, "users", spark, log_a)
            fb = pool.submit(g.compact, "types", spark, log_b)
            _require(fa.result() == 1, "i22: users != v1")
            _require(fb.result() == 1, "i22: types != v1")
    _require(
        group.manifest() == {"users": 1, "types": 1},
        f"i22: first manifest is {group.manifest()}",
    )
    pinned_v1 = group.read_pinned(spark)  # resolved NOW at {1, 1}
    # the rest of both sequences arrives; second group commit flips
    take("a", 1, os.path.join(log_a, "batch_id=1"))
    take("b", 2, os.path.join(log_b, "batch_id=2"))
    done()
    with group.commit() as g:
        with ThreadPoolExecutor(2) as pool:
            fa = pool.submit(g.compact, "users", spark, log_a)
            fb = pool.submit(g.compact, "types", spark, log_b)
            _require(fa.result() == 2, "i22: users != v2")
            _require(fb.result() == 2, "i22: types != v2")
    _require(
        group.manifest() == {"users": 2, "types": 2},
        f"i22: second manifest is {group.manifest()}",
    )
    # repeatable read: the pre-flip plan still reads the v=1 dirs
    # (immutable, pre-resolved manifest) even though _LATEST is {2,2}
    # — inputFiles() is a metadata-only probe, no job launched
    _require(
        store_a._meta()["version"] == store_b._meta()["version"] == 2,
        "i22: per-store _LATEST did not advance to v2",
    )
    for name in ("users", "types"):
        files = pinned_v1[name].inputFiles()
        _require(
            bool(files) and all("/v=1/" in f for f in files),
            f"i22: pinned {name} read does not resolve v=1 dirs: {files}",
        )
    fresh = group.read_pinned(spark)
    da, db = fresh["users"], fresh["types"]
    return (
        da.filter(F.col("user_id").isNotNull())
        .filter(F.col("event_type").isNotNull())
        .select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_event_type"),
        )
        .join(db.filter(F.col("event_type").isNotNull())
                .withColumnRenamed("event_type", "last_event_type"),
              "last_event_type")
        .select(
            "user_id", "last_ts", "last_event_type",
            "type_n_events", "type_sum_cents",
        )
    )


@query(
    "i23_time_travel_read",
    oracle=f"""
    {EVENTS_US}
    SELECT event_id, user_id, ts, event_type, value
    FROM (SELECT *, row_number() OVER (
              PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC,
                       event_type DESC NULLS LAST,
                       value DESC NULLS LAST) AS rn
          FROM e WHERE event_id % 2 = 0)
    WHERE rn = 1
    """,
)
def i23_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version-pinned time travel (i23, the r13 verdict's growth id):
    an EXPLICIT "AS OF v" read of an older snapshot version while
    ``_LATEST`` has advanced past it. Builds the a15 two-generation
    store (even-event batch -> v1, odd-event batch folded -> v2),
    resolves v1 through the public :meth:`SnapshotStore.read_version`
    BEFORE the second compaction runs, then returns that pre-resolved
    plan after ``_LATEST`` reaches v2 — proving in the query itself
    that a pinned read is immune to concurrent compaction (immutable
    version dirs; the inputFiles probe is metadata-only).

    Oracle: the v1-prefix recompute — latest-per-key over exactly the
    even-event batch under the store's content-total order (version
    columns DESC, then the canonical remaining-column tiebreak DESC
    NULLS LAST — the i21 pattern). pytest additionally pins the loud
    refusals (never-committed / orphan / garbage-collected versions)
    and byte-equality between the pre-compaction and post-compaction
    v1 reads (``tests/test_streaming.py``).

    100 TB notes: time travel costs what any pinned reader pays — one
    driver-side manifest probe plus an immutable-dir scan of ONE
    version; no log replay, no fold. Retention that deletes old
    version dirs turns this read into the loud GC refusal rather than
    a silent partial scan."""
    cols = ["event_id", "user_id", "ts", "event_type", "value"]
    e = scan(spark, sf_dir, "events").select(*cols)
    log_dir = scratch.mkdtemp("i23_log_")
    store = SnapshotStore(
        scratch.mkdtemp("i23_snap_"),
        key="user_id",
        order=["ts", "event_id"],
    )
    # single-pass batch staging (the a15 pattern; guide §6)
    parity = F.when(F.col("event_id") % 2 == 0, 0).when(
        F.col("event_id") % 2 == 1, 1
    )
    take, done = _stage_batch_dirs(e, a=parity)
    take("a", 0, os.path.join(log_dir, "batch_id=0"))
    _require(store.compact(spark, log_dir) == 1, "i23: first fold is not v1")
    pinned = store.read_version(spark, 1)  # resolved at _LATEST == v1
    take("a", 1, os.path.join(log_dir, "batch_id=1"))
    done()
    _require(store.compact(spark, log_dir) == 2, "i23: second fold is not v2")
    _require(
        store._meta() == {"version": 2, "compacted_through": 1},
        "i23: _LATEST did not advance to v2",
    )
    files = pinned.inputFiles()
    _require(
        bool(files) and all("/v=1/" in f for f in files),
        f"i23: pinned plan does not resolve v=1 dirs: {files}",
    )
    return pinned.select(*cols)
