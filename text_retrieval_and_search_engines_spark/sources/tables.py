"""Thin Iceberg-style table layer: parquet dirs + JSON snapshot manifest.

No Iceberg runtime jar exists in this sandbox (SURVEY.md §7), so the default
catalog is a directory of parquet tables plus ``_snapshots.json`` emulating
Iceberg snapshot commits; ``read_table``/``write_table`` switch to real
``format('iceberg')`` when a catalog is configured. Operators never see this —
they only get DataFrames (snapshot logic must not leak, SURVEY.md §7 note 3).
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

# separator between an epoch tag and the original filename in files
# published by the append move phase ("{tag}__{orig}"). Tags are validated
# to never contain it, so prefix matching cannot alias two tags. (Catalogs
# that crashed mid-move under a pre-"__" release must run recover_appends
# once — any append/compact does — before serving readers.)
TAG_SEP = "__"


def is_pending_file(name: str, pending: set[str]) -> bool:
    """True if a parquet file basename belongs to one of `pending` epochs.

    Matches BOTH the current ``{tag}__{orig}`` scheme and the previous
    release's ``{tag}-{orig}`` scheme (ADVICE r3: a catalog that crashed
    mid-move under the old naming and was then upgraded would otherwise
    expose the partial epoch to readers until recover_appends runs)."""
    return any(name.startswith(t + TAG_SEP) or name.startswith(t + "-")
               for t in pending)


@dataclass
class Catalog:
    """Location + format switch for the engine's tables."""

    root: str
    use_iceberg: bool = False
    iceberg_namespace: str = ""
    _manifest_path: str = field(init=False)

    def __post_init__(self) -> None:
        os.makedirs(self.root, exist_ok=True)
        self._manifest_path = os.path.join(self.root, "_snapshots.json")
        self._lock = threading.Lock()

    # -- snapshot manifest (emulated Iceberg commit log) ---------------------
    def _load_manifest(self) -> dict:
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                return json.load(f)
        return {"snapshots": []}

    def _append_snapshot(self, entry: dict) -> None:
        with self._lock:  # phase writes may commit from concurrent threads
            m = self._load_manifest()
            # max+1, not len+1: pruning may shrink the list and len+1 would
            # reissue ids already used by live entries
            entry["snapshot_id"] = max(
                (s.get("snapshot_id", 0) for s in m["snapshots"]),
                default=0) + 1
            m["snapshots"].append(entry)
            tmp = self._manifest_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(m, f, indent=1)
            os.replace(tmp, self._manifest_path)

    def snapshot_for(self, table: str, fingerprint: str | None = None) -> dict | None:
        """Latest committed snapshot for `table` (matching fingerprint if given)."""
        for s in reversed(self._load_manifest()["snapshots"]):
            if s["table"] == table and (fingerprint is None or s.get("fingerprint") == fingerprint):
                return s
        return None

    # -- table IO -------------------------------------------------------------
    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def write_table(self, df: DataFrame, table: str, fingerprint: str = "",
                    mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
        if self.use_iceberg:
            full = f"{self.iceberg_namespace}.{table}"
            w = df.writeTo(full)
            (w.createOrReplace() if mode == "overwrite" else w.append())
        else:
            w = df.write.mode(mode)
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(self.path(table))
        self._append_snapshot({
            "table": table,
            "fingerprint": fingerprint,
            "mode": mode,
            "committed_at": time.time(),
        })

    def snapshot_is_live(self, table: str, fingerprint: str,
                         unmarked_overwrite: bool = True) -> bool:
        """True iff a snapshot matching `fingerprint` exists AND has not been
        superseded by a later overwrite-mode write of the same table with
        another fingerprint. An append's idempotence marker (e.g.
        ``neardup-sigs:{tag}``) dies with the table state it appended to:
        after ``write_table(..., mode="overwrite")`` rebuilds the table,
        replaying the same tag must re-process, not skip — `snapshot_for`
        alone would match the stale marker.

        `unmarked_overwrite` says how an entry without `mode` counts. True
        (the default): as an overwrite, the conservative direction for
        entries written before the manifest recorded `mode` (re-process).
        False (`has_table`): as no overwrite, because the append and
        compaction markers of streaming/incremental.py carry no mode and
        extend the table state rather than replace it."""
        unmarked = "overwrite" if unmarked_overwrite else None
        match = overwrite = None
        for s in self._load_manifest()["snapshots"]:
            if s["table"] != table:
                continue
            sid = s.get("snapshot_id", 0)
            if s.get("fingerprint") == fingerprint:
                match = sid
            elif s.get("mode", unmarked) == "overwrite":
                overwrite = sid
        return match is not None and (overwrite is None or match > overwrite)

    def epoch_state(self) -> tuple[set[str], set[str]]:
        """(pending, done) epoch tags from the manifest — pending = commit
        marker written but no done marker (a writer mid-move, or crashed
        mid-move); done = epochs fully published (up to manifest pruning,
        which only drops markers too old to matter to any live reader).

        Cached on the manifest file's (mtime_ns, size): read_table calls
        this on every open, and re-parsing the JSON per table would tax
        every reader for a condition that is almost always 'no append in
        flight'. mtime alone is not a safe key — two manifest writes can
        land in one mtime tick on coarse-granularity filesystems — so the
        byte size (which changes on every append/prune) disambiguates."""
        try:
            st = os.stat(self._manifest_path)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            return set(), set()
        cached = getattr(self, "_pending_cache", None)
        if cached is not None and cached[0] == key:
            return cached[1]
        done, com = set(), set()
        for s in self._load_manifest()["snapshots"]:
            if s["table"] != "_epochs":
                continue
            fp = s["fingerprint"]
            if fp.endswith(":done"):
                done.add(fp[:-5])
            elif fp.endswith(":commit"):
                com.add(fp[:-7])
        state = (com - done, done)
        self._pending_cache = (key, state)
        return state

    def pending_epoch_tags(self) -> set[str]:
        """Mid-move epoch tags — see epoch_state."""
        return self.epoch_state()[0]

    def read_table(self, spark: SparkSession, table: str,
                   schema: str | None = None,
                   snapshot_done: set[str] | None = None) -> DataFrame:
        """`schema` (DDL string) makes the read robust to a VALID empty
        table: a partitionBy write with zero rows leaves only _SUCCESS, and
        schema inference fails on it (e.g. a fully lang-filtered corpus).

        Snapshot isolation vs a concurrent appender: files published by a
        committed-but-not-done epoch (the append move phase) are excluded,
        so a single read opening mid-move sees the exact pre-epoch state.

        `snapshot_done` extends that guarantee ACROSS a multi-table open
        (ADVICE r3: IndexReader opens postings/termstats/docmap/stats in
        separate calls, and an epoch's done marker landing between them
        would yield a mixed pre/post-epoch view): pass the done-set
        captured once at open (``epoch_state()[1]``) and every epoch that
        was not done at capture time — including ones that commit AND
        finish mid-open — is excluded, because such an epoch necessarily
        appears in the manifest's pending-or-done sets at read time while
        being absent from the captured set. Fold/compaction tags never
        enter the manifest's _epochs entries, so they are never excluded."""
        if self.use_iceberg:
            return spark.read.format("iceberg").load(f"{self.iceberg_namespace}.{table}")
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        if "://" not in self.root:
            pending, done = self.epoch_state()
            if snapshot_done is not None:
                pending = pending | (done - snapshot_done)
        else:
            pending = ()
        base = self.path(table)
        if pending and os.path.isdir(base):
            import glob as _glob
            files = [f for f in _glob.glob(os.path.join(base, "**",
                                                        "*.parquet"),
                                           recursive=True)
                     if not is_pending_file(os.path.basename(f), pending)]
            if files:
                # basePath keeps partition-dir columns (e.g. term_bucket)
                return reader.option("basePath", base).parquet(*files)
            # every file belongs to a pending epoch: the pre-epoch state is
            # an empty (but valid) table — falling back to the plain dir
            # read here would expose exactly the files just excluded
            if schema is not None:
                return spark.createDataFrame([], schema)
            return reader.parquet(base).limit(0)
        return reader.parquet(self.path(table))

    def prune_manifest(self, keep_epochs: int = 100) -> int:
        """Bound manifest growth on long append streams: every micro-batch
        adds ~4 snapshot entries and each commit rewrites the whole JSON —
        O(n^2) bytes over 10^5 epochs. Drops _epochs markers and per-epoch
        append/append-delta entries beyond the newest `keep_epochs` epoch
        tags (Structured Streaming replays at most the CURRENT failed
        micro-batch, so old done-markers can never be consulted again).
        Entries for base builds/compactions and each table's newest
        append-delta lineage are always kept. Returns entries dropped.
        A real Iceberg catalog replaces this with snapshot expiration."""
        with self._lock:
            m = self._load_manifest()
            snaps = m["snapshots"]
            tags: list[str] = []
            for s in snaps:      # commit order = epoch order
                if s["table"] == "_epochs" and s["fingerprint"].endswith(":done"):
                    tags.append(s["fingerprint"][:-5])
            # always keep >=1 newest tag: the latest append-delta entry is
            # what tells readers merge-on-read is needed
            keep_tags = set(tags[-max(keep_epochs, 1):])
            old_tags = set(tags) - keep_tags

            def is_old_epoch_entry(s: dict) -> bool:
                fp = s["fingerprint"]
                if s["table"] == "_epochs":
                    tag = fp.rsplit(":", 1)[0]
                    return tag in old_tags
                # curated appends add per-epoch 'neardup-sigs:{tag}' and
                # 'curate_append-metrics:{tag}' markers too — without
                # pruning them a long curated stream grows the manifest ~2
                # entries/epoch unbounded and snapshot_is_live scans it all
                # every epoch. Only that epoch-scoped phase is matched: any
                # other '...-metrics:' fingerprint is not an epoch marker.
                for prefix in ("append-delta:", "append:", "neardup-sigs:",
                               "curate_append-metrics:"):
                    if fp.startswith(prefix):
                        return fp[len(prefix):] in old_tags
                return False

            kept = [s for s in snaps if not is_old_epoch_entry(s)]
            dropped = len(snaps) - len(kept)
            if dropped:
                m["snapshots"] = kept
                tmp = self._manifest_path + ".tmp"
                with open(tmp, "w") as f:
                    json.dump(m, f, indent=1)
                os.replace(tmp, self._manifest_path)
            return dropped

    def latest_fingerprint(self, table: str) -> str | None:
        """Fingerprint of the most recent snapshot committed for `table`
        (readers use this to decide e.g. whether termstats delta rows exist
        and need merge-on-read)."""
        s = self.snapshot_for(table)
        return None if s is None else s.get("fingerprint")

    def has_table(self, table: str, fingerprint: str | None = None) -> bool:
        """True iff `table` exists and, given `fingerprint`, its files are
        still that build's: a later explicit overwrite by another build
        (another fingerprint) means they are not, so a resumable build must
        redo the phase instead of reading the other build's files."""
        if fingerprint is None:
            live = self.snapshot_for(table) is not None
        else:
            live = self.snapshot_is_live(table, fingerprint,
                                         unmarked_overwrite=False)
        if not live:
            return False
        return self.use_iceberg or os.path.exists(self.path(table))
