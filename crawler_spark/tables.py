"""Snapshot-committed table catalog — Iceberg semantics on plain parquet.

The production design (SURVEY.md §1.3, §4) stores frontier / url_seen /
pages / word_frequencies / links / metrics in **Iceberg** tables: one atomic
snapshot commit per scheduling round gives per-partition lineage, metrics,
and kill-and-resume for free (reference checkpointing: storage/
persistent_queue.py:196-261, virtualized per SURVEY.md X5).

This sandbox ships no Iceberg runtime, so this module reproduces the exact
commit semantics on parquet + JSON manifests:

    <root>/
      CURRENT                      -> text file naming the committed manifest
      _commits/commit-<n>.json     -> {round, tables: {name: [data dirs]},
                                       metrics, lineage}
      <table>/d<commit>-<k>/       -> immutable parquet data dirs

Commit protocol (same guarantees as an Iceberg transaction group):
 1. all DataFrames of the round are written to NEW data dirs (never
    overwritten — reads of the previous snapshot stay valid),
 2. the new manifest is written to _commits/,
 3. CURRENT is atomically os.replace()'d to point at it.

A killed job leaves orphan data dirs that no manifest references; the next
run resumes from CURRENT as if the partial round never happened — rounds are
atomic, so the reference's "stuck processing" recovery (database.py:694-715)
has no analog here.

Each round also re-reads state from parquet rather than chaining DataFrame
lineage across rounds — the commit doubles as a lineage truncation point,
which is what keeps an iterative Spark driver loop's plans from growing
without bound.

Iceberg mapping (for a real cluster):
  stage_replace(frontier)  -> MERGE INTO frontier USING round_results
  stage_append(pages, ...) -> df.writeTo(t).append()
  CURRENT/manifests        -> Iceberg snapshot + metadata JSON
  resume                   -> read last committed snapshot (time travel)
At 10^10-URL scale the frontier is bucketed by xxhash64(host) into 4096
partitions (Iceberg `bucket(4096, host_hash)`).

url_seen is a REAL Spark bucketed table (``bucketBy(n, url_hash,
canonical)`` via saveAsTable at an explicit location inside the catalog
root): the per-round dedup anti-join (plans/round.py J1) reads it with
``Bucketed: true`` and NO Exchange on the seen side — only the per-round
candidate set shuffles, which is what makes the monotonically growing
10^10-row seen set affordable per round (the Iceberg twin is a
storage-partitioned join on `bucket(4096, url_hash)`). Snapshot semantics
are preserved at FILE granularity: appends only ever add new part-files,
the manifest's ``seen.files`` list names the committed ones, and reads
first delete any orphan files a killed round left behind (exactly an
Iceberg snapshot's file-level visibility, with orphan cleanup inlined).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# bucketed url_seen: bucket on BOTH join keys so the J1 anti-join's required
# distribution exactly matches the table's HashPartitioning (a superset join
# key would make the planner fall back to a both-sides shuffle)
SEEN_KEYS = ("url_hash", "canonical")


def _part_files(d: str) -> set[str]:
    try:
        return {f for f in os.listdir(d) if not f.startswith(("_", "."))}
    except FileNotFoundError:
        return set()


class SnapshotCatalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "_commits"), exist_ok=True)

    # -- snapshot state --------------------------------------------------

    def _current_path(self) -> str:
        return os.path.join(self.root, "CURRENT")

    def _current_name(self) -> str | None:
        cur = self._current_path()
        if not os.path.exists(cur):
            return None
        with open(cur) as f:
            return f.read().strip()

    def _load_manifest(self, name: str) -> dict | None:
        try:
            with open(os.path.join(self.root, "_commits", name)) as f:
                return json.load(f)
        except (json.JSONDecodeError, OSError):
            return None

    def current_manifest(self) -> dict | None:
        name = self._current_name()
        if name is None:
            return None
        with open(os.path.join(self.root, "_commits", name)) as f:
            return json.load(f)

    def current_round(self) -> int:
        """Highest committed round, or -1 before any commit."""
        m = self.current_manifest()
        return -1 if m is None else m["round"]

    def read(self, spark: SparkSession, table: str) -> DataFrame | None:
        m = self.current_manifest()
        if m is None or table not in m["tables"] or not m["tables"][table]:
            return None
        if table == "url_seen" and "seen" in m:
            return self.read_seen(spark)
        if table == "frontier" and "frontier_buckets" in m:
            return self._read_frontier_buckets(spark, m["frontier_buckets"])
        paths = [os.path.join(self.root, p) for p in m["tables"][table]]
        return spark.read.parquet(*paths)

    def _read_frontier_buckets(self, spark: SparkSession, fb: dict) -> DataFrame:
        """Assemble the frontier from its per-bucket dir assignments.

        ``fb`` = {"default": dir, "map": {host_bucket: dir}}: buckets in
        ``map`` live in the dir a dirty-bucket commit last wrote them to;
        all others still live in the last full-rewrite dir. Each dir is read
        with an ``isin`` filter on the host_bucket PARTITION column, so
        Spark partition-prunes to exactly the assigned bucket subdirs — the
        union scans each committed bucket once, never a superseded copy.
        """
        from functools import reduce

        mapped = {int(b): d for b, d in fb["map"].items()}
        by_dir: dict[str, list[int]] = {}
        for b, d in mapped.items():
            by_dir.setdefault(d, []).append(b)
        default = spark.read.parquet(os.path.join(self.root, fb["default"]))
        parts = [
            default
            if not mapped
            else default.where(~F.col("host_bucket").isin(*mapped))
        ]
        for d, buckets in by_dir.items():
            parts.append(
                spark.read.parquet(os.path.join(self.root, d)).where(
                    F.col("host_bucket").isin(*buckets)
                )
            )
        return reduce(lambda a, b: a.unionByName(b), parts)

    # -- bucketed url_seen -------------------------------------------------

    def seen_table_name(self) -> str:
        """Session-catalog name for this workdir's bucketed seen table."""
        return f"url_seen_{zlib.crc32(os.path.abspath(self.root).encode()):08x}"

    def _ensure_seen_registered(self, spark: SparkSession, meta: dict) -> str:
        """Idempotently (re)register the external bucketed table — a new
        SparkSession has no metastore entry for it (the metadata is
        session-scoped; the DATA is the parquet under the catalog root)."""
        name = self.seen_table_name()
        loc = os.path.abspath(os.path.join(self.root, meta["dir"]))
        if spark.catalog.tableExists(name):
            cur = {
                r["col_name"]: r["data_type"]
                for r in spark.sql(f"DESCRIBE TABLE EXTENDED `{name}`").collect()
            }.get("Location", "")
            if cur.removeprefix("file:") == loc:
                return name
            spark.sql(f"DROP TABLE `{name}`")  # stale generation pointer
        spark.sql(
            f"CREATE TABLE `{name}` (url_hash BIGINT, canonical STRING) "
            f"USING PARQUET CLUSTERED BY (url_hash, canonical) "
            f"INTO {meta['buckets']} BUCKETS LOCATION '{loc}'"
        )
        return name

    def cleanup_orphan_seen(self) -> int:
        """WRITER-ONLY: delete seen-table part-files not in the committed
        manifest (left by a killed round's staged-but-uncommitted append).
        Only the resuming writer may call this — a concurrent reader that
        deleted them would race a LIVE round's staged files, whose manifest
        would then list vanished files (silent url_seen loss). Returns the
        number of files removed."""
        m = self.current_manifest()
        meta = (m or {}).get("seen")
        if meta is None:
            return 0
        d = os.path.join(self.root, meta["dir"])
        orphans = _part_files(d) - set(meta["files"])
        for orphan in orphans:
            os.remove(os.path.join(d, orphan))
        return len(orphans)

    def read_seen(self, spark: SparkSession) -> DataFrame:
        """The committed seen set — NON-destructive (safe for a second
        reader against a live crawl). Hot path: the BUCKETED table scan (no
        Exchange in joins keyed on SEEN_KEYS). If the dir holds part-files
        outside the committed manifest (a killed round's staged append, or a
        live round mid-write), the bucketed scan would leak them into the
        anti-join, so fall back to scanning exactly the committed files
        (unbucketed — correctness over the saved Exchange; rare, and the
        resuming writer restores the fast path via cleanup_orphan_seen())."""
        meta = self.current_manifest()["seen"]
        d = os.path.join(self.root, meta["dir"])
        committed = set(meta["files"])
        if _part_files(d) - committed:
            return spark.read.parquet(*[os.path.join(d, f) for f in sorted(committed)])
        name = self._ensure_seen_registered(spark, meta)
        spark.catalog.refreshTable(name)  # appends/prunes since last read
        return spark.table(name)

    def compact_seen(self, spark: SparkSession) -> int:
        """Fold the seen table's accumulated per-round files (one per bucket
        per round) into one generation with one file per bucket (Iceberg
        rewrite_data_files). Returns files merged (0 = nothing to do)."""
        m = self.current_manifest()
        meta = m.get("seen") if m else None
        if meta is None or len(meta["files"]) <= meta["buckets"]:
            return 0
        n_files = len(meta["files"])
        d = os.path.join(self.root, meta["dir"])
        self.cleanup_orphan_seen()  # compaction runs in the writer process
        # raw parquet read (not spark.table): the rewrite must not depend on
        # the catalog entry stage_seen_init is about to drop and re-create
        df = spark.read.parquet(d)
        commit = self.begin(self.current_round(), tag="compact-url-seen")
        commit.stage_seen_init(spark, df, buckets=meta["buckets"])
        commit.set_metrics(compacted_seen_files=n_files, maintenance=True)
        commit.commit()
        return n_files

    def metrics_history(self) -> list[dict]:
        """Metrics of COMMITTED rounds only, oldest first.

        Walks the parent-manifest chain from CURRENT: every manifest records
        the manifest it superseded, so an ORPHAN manifest — written by a kill
        between manifest write and the CURRENT swap, including a maintenance
        commit whose round equals CURRENT's — is simply never reached and
        never counted (a round-number filter cannot tell such an orphan from
        the real commit at the same round). Pre-chain manifests (no
        ``parent`` key) fall back to the legacy round<=current scan.
        """
        chain = self.snapshot_chain()
        if any("parent" not in m for _, m in chain):
            return self._metrics_history_legacy()
        return [{"round": m["round"], **m.get("metrics", {})} for _, m in reversed(chain)]

    def _metrics_history_legacy(self) -> list[dict]:
        current = self.current_round()
        out = []
        for name in sorted(os.listdir(os.path.join(self.root, "_commits"))):
            m = self._load_manifest(name)
            if m is not None and m["round"] <= current:
                out.append({"round": m["round"], **m.get("metrics", {})})
        return out

    # -- time travel / incremental reads (Iceberg snapshot semantics) ------

    def snapshot_chain(self) -> list[tuple[str, dict]]:
        """(name, manifest) pairs from CURRENT back to the first commit,
        newest first, via parent pointers — the committed snapshot log
        (orphan manifests from a kill between manifest write and CURRENT
        swap are unreachable and never appear, same contract as
        metrics_history)."""
        name = self._current_name()
        chain: list[tuple[str, dict]] = []
        seen: set[str] = set()
        while name and name not in seen:
            seen.add(name)
            m = self._load_manifest(name)
            if m is None:
                break
            chain.append((name, m))
            name = m.get("parent")
        return chain

    def snapshots(self) -> list[dict]:
        """Committed snapshot log, newest first: {name, round, metrics}."""
        return [
            {"name": n, "round": m["round"], "metrics": m.get("metrics", {})}
            for n, m in self.snapshot_chain()
        ]

    def manifest_as_of(self, round_no: int) -> dict | None:
        """Newest committed manifest with round <= round_no, or None if the
        crawl had not reached ``round_no`` yet."""
        for _, m in self.snapshot_chain():
            if m["round"] <= round_no:
                return m
        return None

    def read_as_of(
        self, spark: SparkSession, table: str, round_no: int
    ) -> DataFrame | None:
        """Time-travel read: ``table`` exactly as committed at ``round_no``
        (Iceberg VERSION AS OF). Every commit writes new dirs/files and the
        manifest swap is what publishes them, so superseded snapshots stay
        readable until a maintenance op (compact_*, expire) physically
        rewrites — the expire_snapshots trade-off, documented not hidden.
        url_seen is scanned as the committed FILE LIST (non-destructive,
        unbucketed): time travel is an analytics path, not the hot dedup
        anti-join."""
        m = self.manifest_as_of(round_no)
        if m is None and self._history_truncated():
            raise ValueError(
                f"snapshot as of round {round_no} expired (expire_snapshots)"
            )
        if m is None or table not in m.get("tables", {}) or not m["tables"][table]:
            return None
        if table == "url_seen" and "seen" in m:
            meta = m["seen"]
            d = os.path.join(self.root, meta["dir"])
            return spark.read.parquet(
                *[os.path.join(d, f) for f in sorted(meta["files"])]
            )
        if table == "frontier" and "frontier_buckets" in m:
            return self._read_frontier_buckets(spark, m["frontier_buckets"])
        paths = [os.path.join(self.root, p) for p in m["tables"][table]]
        return spark.read.parquet(*paths)

    def read_increment(
        self, spark: SparkSession, table: str, from_round: int, to_round: int
    ) -> DataFrame | None:
        """Incremental (CDC-style) read: rows APPENDED to ``table`` after
        the ``from_round`` snapshot, up to and including ``to_round`` —
        Iceberg's incremental-consumption pattern, resolved purely from
        manifest file sets (no data comparison, no shuffle: the increment
        is exactly the dirs the newer manifest lists that the older one
        does not).

        Defined only while every commit in between touched ``table`` with
        append ops; a replace/compaction in the window makes "what was
        added" ill-defined at the file level, so this raises ValueError
        (Iceberg raises on overwrite snapshots in incremental scans the
        same way). Returns None if ``table`` is absent at ``to_round``; an
        empty (0-row, schema-correct) frame if no files were added.
        """
        mf = self.manifest_as_of(from_round)
        if mf is None and self._history_truncated():
            raise ValueError(
                f"incremental read from round {from_round}: snapshot expired "
                "(expire_snapshots removed it; the increment base is gone)"
            )
        mt = self.manifest_as_of(to_round)
        if mt is None or table not in mt.get("tables", {}):
            return None
        # lineage audit over the (from, to] window, newest-first chain
        for _, m in self.snapshot_chain():
            if m["round"] <= (mf["round"] if mf else -1):
                break
            if m["round"] > mt["round"]:
                continue
            for op in m.get("lineage", {}).get(table, []):
                if op.get("op") != "append":
                    raise ValueError(
                        f"incremental read of {table!r} undefined across "
                        f"round {m['round']}: non-append op {op.get('op')!r} "
                        "in the window (compaction/replace rewrites files)"
                    )
        if table == "url_seen" and "seen" in mt:
            old = set(mf["seen"]["files"]) if mf and "seen" in mf else set()
            meta = mt["seen"]
            new = [f for f in sorted(meta["files"]) if f not in old]
            d = os.path.join(self.root, meta["dir"])
            if mf and "seen" in mf and mf["seen"]["dir"] != meta["dir"]:
                raise ValueError(
                    f"incremental read of {table!r} undefined: seen-table "
                    "generation changed in the window (compaction)"
                )
            base = [os.path.join(d, f) for f in (new or sorted(meta["files"]))]
            out = spark.read.parquet(*base)
            return out if new else out.limit(0)
        dirs_to = mt["tables"].get(table, [])
        dirs_from = set(mf["tables"].get(table, [])) if mf else set()
        if not set(dirs_from) <= set(dirs_to):
            raise ValueError(
                f"incremental read of {table!r} undefined: snapshot at round "
                f"{mt['round']} dropped dirs present at round "
                f"{mf['round'] if mf else -1}"
            )
        new_dirs = [d for d in dirs_to if d not in dirs_from]
        paths = [os.path.join(self.root, p) for p in (new_dirs or dirs_to)]
        out = spark.read.parquet(*paths)
        return out if new_dirs else out.limit(0)

    # -- commit protocol ---------------------------------------------------

    def begin(self, round_no: int, tag: str | None = None) -> "RoundCommit":
        return RoundCommit(self, round_no, tag)

    def compact_frontier(
        self,
        spark: SparkSession,
        partition_by: list[str] | None = None,
        max_age_rounds: int | None = None,
        horizon: float = 30.0,
    ) -> int:
        """X6 retention (reference cleanup worker, persistent_queue.py:263-296,
        database.py:717-736): drop completed/failed/skipped rows from the
        frontier in one maintenance commit.

        ``max_age_rounds`` is the reference's 24-hour age cutoff translated
        to virtual time (VERDICT r2 #6): when set, only non-pending rows
        whose LAST scheduled round is older than ``current_round -
        max_age_rounds`` are dropped — recent bookkeeping rows stay visible
        to analytics, exactly like the reference keeps the last day of
        completed/failed rows. The age source is the crawl_order table (the
        exact round each URL was scheduled); rows never scheduled (robots-
        skipped) fall back to ``floor(scheduled_at / horizon)``, the round
        they became eligible. ``None`` keeps the drop-all-bookkeeping
        behavior.

        Safe by construction: scheduling reads only pending rows, dedup reads
        url_seen (not the frontier), and the crawl order is its own table —
        so compaction never changes what a resumed crawl does, it only sheds
        bookkeeping rows (at 10^10 URLs the completed set dwarfs pending).
        Returns the number of rows dropped.
        """
        frontier = self.read(spark, "frontier")
        if frontier is None:
            return 0
        pending = F.col("status") == "pending"
        if max_age_rounds is None:
            keep = frontier.where(pending)
        else:
            cutoff = self.current_round() - max_age_rounds
            order = self.read(spark, "crawl_order")
            last = (
                order.groupBy("canonical").agg(F.max("round").alias("_last_round"))
                if order is not None
                else None
            )
            fr = frontier.join(last, "canonical", "left") if last is not None else (
                frontier.withColumn("_last_round", F.lit(None).cast("int"))
            )
            age_round = F.coalesce(
                F.col("_last_round"),
                F.floor(F.col("scheduled_at") / F.lit(horizon)).cast("int"),
            )
            keep = fr.where(pending | (age_round >= F.lit(cutoff))).drop("_last_round")
        dropped = frontier.count() - keep.count()
        # tagged commit: the round's original manifest (with its scheduled
        # metrics, needed by resume accounting) must survive
        commit = self.begin(self.current_round(), tag="compact")
        commit.stage_replace("frontier", keep, partition_by=partition_by or ["host_bucket"])
        commit.set_metrics(compacted_rows=dropped, maintenance=True)
        commit.commit()
        return dropped

    def remove_host(
        self, spark: SparkSession, host: str, partition_by: list[str] | None = None
    ) -> int:
        """E3 (queue.py:455-488): drop a host's PENDING frontier rows in one
        tagged maintenance commit (completed bookkeeping rows stay; combine
        with cfg.blocked_domains to stop re-discovery). Returns rows removed.
        """
        frontier = self.read(spark, "frontier")
        if frontier is None:
            return 0
        doomed = (frontier["host"] == host) & (frontier["status"] == "pending")
        removed = frontier.where(doomed).count()
        if removed == 0:
            return 0
        commit = self.begin(
            self.current_round(), tag=f"rmhost-{zlib.crc32(host.encode()) % 10**8}"
        )
        commit.stage_replace(
            "frontier", frontier.where(~doomed), partition_by=partition_by or ["host_bucket"]
        )
        commit.set_metrics(removed_host=host, removed_rows=removed, maintenance=True)
        commit.commit()
        return removed

    def compact_table(
        self, spark: SparkSession, table: str, partition_by: list[str] | None = None
    ) -> int:
        """Merge an append-table's accumulated per-round data dirs into one
        (Iceberg rewrite_data_files analog). url_seen grows one dir per
        round; after many rounds the multi-path scan pays per-file overhead.
        Content-preserving by construction; returns dirs merged.
        """
        if table == "url_seen" and (self.current_manifest() or {}).get("seen"):
            return self.compact_seen(spark)
        m = self.current_manifest()
        if m is None or len(m["tables"].get(table, [])) <= 1:
            return 0
        n_dirs = len(m["tables"][table])
        df = self.read(spark, table)
        commit = self.begin(self.current_round(), tag=f"compact-{table}")
        commit.stage_replace(table, df, partition_by=partition_by)
        commit.set_metrics(compacted_dirs=n_dirs, maintenance=True)
        commit.commit()
        return n_dirs

    def _history_truncated(self) -> bool:
        """True when the oldest reachable manifest names a parent that no
        longer exists — i.e. expire_snapshots removed part of the chain."""
        chain = self.snapshot_chain()
        if not chain:
            return False
        parent = chain[-1][1].get("parent")
        return parent is not None and self._load_manifest(parent) is None

    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """WRITER-ONLY maintenance (Iceberg ``expire_snapshots``): keep the
        newest ``keep_last`` committed snapshots; delete every older or
        unreachable manifest, every data dir no kept manifest references,
        and every url_seen part-file no kept manifest lists.

        This is what bounds catalog disk at 10^10 scale — append tables
        keep their data (CURRENT references all their dirs cumulatively),
        but superseded frontier/seen generations and their manifests go.
        Afterwards time travel reaches exactly the kept window: read_as_of /
        read_increment below it raise ValueError (Iceberg's "cannot find
        snapshot"), never silently misreport. Returns removal counts.
        """
        assert keep_last >= 1
        chain = self.snapshot_chain()
        if not chain:  # uninitialized catalog: nothing to expire, not an error
            return {"manifests": 0, "dirs": 0, "seen_files": 0}
        kept = chain[:keep_last]
        kept_names = {n for n, _ in kept}
        # budget preservation: resume reads the newest committed
        # scheduled_cum (engine.run_crawl); catalogs written before that
        # counter existed only carry per-round "scheduled", whose sum is
        # about to be truncated. Backfill the cumulative counter into the
        # newest kept manifest BEFORE deleting the history it summarizes.
        # Sum via metrics_history(), NOT the parent chain: a legacy
        # (parentless) catalog's chain holds only CURRENT, while
        # metrics_history falls back to the full round<=current scan.
        newest_name, newest_m = kept[0]
        if not any("scheduled_cum" in m.get("metrics", {}) for _, m in kept):
            cum = sum(m.get("scheduled", 0) for m in self.metrics_history())
            newest_m.setdefault("metrics", {})["scheduled_cum"] = cum
            path = os.path.join(self.root, "_commits", newest_name)
            with open(path + ".tmp", "w") as f:
                json.dump(newest_m, f, indent=1)
                f.flush()
                os.fsync(f.fileno())
            os.replace(path + ".tmp", path)
        ref_dirs = _referenced_dirs(m for _, m in kept)
        seen_files: dict[str, set[str]] = {}
        for _, m in kept:
            if "seen" in m:
                seen_files.setdefault(m["seen"]["dir"], set()).update(
                    m["seen"]["files"]
                )
        n_manifests = 0
        cdir = os.path.join(self.root, "_commits")
        for name in os.listdir(cdir):
            if name.endswith(".json") and name not in kept_names:
                os.remove(os.path.join(cdir, name))
                n_manifests += 1
        n_dirs = self._sweep_dirs(ref_dirs)
        n_seen = 0
        for rel, files in seen_files.items():
            d = os.path.join(self.root, rel)
            for f in _part_files(d) - files:
                os.remove(os.path.join(d, f))
                n_seen += 1
        return {"manifests": n_manifests, "dirs": n_dirs, "seen_files": n_seen}

    def expire_orphans(self) -> int:
        """X6 maintenance: delete data dirs no REACHABLE manifest references
        — killed-round leftovers only. Dirs superseded by later commits but
        still referenced by an older manifest in the parent chain are KEPT:
        deleting them (the old not-referenced-by-CURRENT rule) silently
        broke read_as_of over rounds the snapshot log still listed, with a
        raw PATH_NOT_FOUND instead of the expired-history ValueError. To
        reclaim superseded generations, expire_snapshots() — which also
        removes their manifests and keeps the time-travel contract honest.
        """
        return self._sweep_dirs(_referenced_dirs(m for _, m in self.snapshot_chain()))

    def _sweep_dirs(self, referenced: set[str]) -> int:
        """Delete every ``table/dir`` under the root not in ``referenced``
        (``_commits`` is never swept); returns the number removed."""
        removed = 0
        for table in os.listdir(self.root):
            tdir = os.path.join(self.root, table)
            if table == "_commits" or not os.path.isdir(tdir):
                continue
            for d in os.listdir(tdir):
                if f"{table}/{d}" not in referenced:
                    shutil.rmtree(os.path.join(tdir, d), ignore_errors=True)
                    removed += 1
        return removed


def _referenced_dirs(manifests) -> set[str]:
    """Every ``table/dir`` the given manifests reference: append-table dirs,
    the url_seen generation and the frontier bucket map."""
    referenced: set[str] = set()
    for m in manifests:
        for dirs in m.get("tables", {}).values():
            referenced.update(dirs)
        if "seen" in m:
            referenced.add(m["seen"]["dir"])
        if "frontier_buckets" in m:
            referenced.add(m["frontier_buckets"]["default"])
            referenced.update(m["frontier_buckets"]["map"].values())
    return referenced


class RoundCommit:
    """One atomic commit group: stage writes, then commit() or abandon."""

    def __init__(self, catalog: SnapshotCatalog, round_no: int, tag: str | None = None):
        self.catalog = catalog
        self.round_no = round_no
        self.tag = tag
        self.parent = catalog._current_name()  # manifest this commit supersedes
        prev = catalog.current_manifest()
        self.tables: dict[str, list[str]] = (
            {k: list(v) for k, v in prev["tables"].items()} if prev else {}
        )
        self.seen: dict | None = (
            {**prev["seen"], "files": list(prev["seen"]["files"])}
            if prev and "seen" in prev
            else None
        )
        self.frontier_buckets: dict | None = (
            {"default": prev["frontier_buckets"]["default"],
             "map": dict(prev["frontier_buckets"]["map"])}
            if prev and "frontier_buckets" in prev
            else None
        )
        # the cumulative scheduled-pages counter survives EVERY commit, round
        # or maintenance: expire_snapshots keeps only the newest manifests,
        # and if those are all maintenance commits (compaction after the last
        # round), resume's budget accounting must still find the counter —
        # summing the truncated per-round history would undercount and let a
        # resumed crawl overshoot max_pages. Round commits overwrite it via
        # set_metrics with the fresh value.
        self.metrics: dict = (
            {"scheduled_cum": prev["metrics"]["scheduled_cum"]}
            if prev and "scheduled_cum" in prev.get("metrics", {})
            else {}
        )
        self.lineage: dict = {}
        self._committed = False

    def _write(self, table: str, df: DataFrame, partition_by: list[str] | None) -> str:
        rel = f"{table}/d{self.round_no}-{uuid.uuid4().hex[:8]}"
        writer = df.write
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(os.path.join(self.catalog.root, rel))
        return rel

    def stage_append(self, table: str, df: DataFrame, partition_by: list[str] | None = None) -> str:
        """Stage an append; returns the absolute path of the new data dir."""
        rel = self._write(table, df, partition_by)
        self.tables.setdefault(table, []).append(rel)
        self.lineage.setdefault(table, []).append({"op": "append", "dir": rel})
        return os.path.join(self.catalog.root, rel)

    def stage_replace(self, table: str, df: DataFrame, partition_by: list[str] | None = None) -> str:
        """Stage a full replace (compaction / init; Iceberg REPLACE TABLE)."""
        rel = self._write(table, df, partition_by)
        self.tables[table] = [rel]
        self.lineage.setdefault(table, []).append({"op": "replace", "dir": rel})
        if table == "frontier":
            # a full rewrite collapses every per-bucket assignment
            self.frontier_buckets = {"default": rel, "map": {}}
        return os.path.join(self.catalog.root, rel)

    def stage_replace_buckets(self, table: str, df: DataFrame, buckets: list[int]) -> str:
        """Stage a DIRTY-BUCKET-ONLY replace of the frontier — the true
        Iceberg-MERGE analog (tables touched by a round rewrite only their
        dirty ``host_bucket`` partitions; untouched buckets carry forward in
        whatever dir last wrote them). ``df`` must contain exactly the new
        content of the dirty buckets, nothing else. Commit cost scales with
        the touched-bucket row count, not the frontier size.
        """
        assert table == "frontier", "bucket-mapped commits are a frontier feature"
        assert self.frontier_buckets is not None, "frontier not initialized"
        rel = self._write(table, df, ["host_bucket"])
        for b in buckets:
            self.frontier_buckets["map"][str(int(b))] = rel
        # referenced dirs (for expire_orphans): default + every mapped dir
        self.tables[table] = sorted(
            {self.frontier_buckets["default"], *self.frontier_buckets["map"].values()}
        )
        self.lineage.setdefault(table, []).append(
            {"op": "replace_buckets", "dir": rel, "buckets": sorted(int(b) for b in buckets)}
        )
        return os.path.join(self.catalog.root, rel)

    def stage_seen_init(self, spark: SparkSession, df: DataFrame, buckets: int) -> None:
        """Create a fresh GENERATION of the bucketed url_seen table (init or
        compaction). Writes to a new dir — the previous generation stays
        readable until the manifest swap, like every other staged write."""
        rel = f"url_seen/g{uuid.uuid4().hex[:8]}"
        loc = os.path.abspath(os.path.join(self.catalog.root, rel))
        name = self.catalog.seen_table_name()
        spark.sql(f"DROP TABLE IF EXISTS `{name}`")
        (
            df.select(*SEEN_KEYS)
            # co-locate rows with their bucket first: without this every task
            # writes a sliver into every bucket (tasks x buckets tiny files)
            .repartition(buckets, *SEEN_KEYS)
            .write.bucketBy(buckets, *SEEN_KEYS)
            .option("path", loc)
            .mode("overwrite")
            .saveAsTable(name)
        )
        self.seen = {"dir": rel, "buckets": buckets, "files": sorted(_part_files(loc))}
        self.tables["url_seen"] = [rel]
        self.lineage.setdefault("url_seen", []).append({"op": "replace", "dir": rel})

    def stage_seen_append(self, spark: SparkSession, df: DataFrame) -> list[str]:
        """Append fresh rows to the bucketed url_seen table. Only ADDS
        part-files; the manifest's file list is what makes them visible, so
        a kill between this write and commit() leaves invisible orphans that
        the resuming writer deletes via cleanup_orphan_seen() (read_seen()
        itself is non-destructive and scans committed files only while
        orphans exist). Returns the new file names."""
        assert self.seen is not None, "url_seen not initialized (stage_seen_init)"
        loc = os.path.abspath(os.path.join(self.catalog.root, self.seen["dir"]))
        before = _part_files(loc)
        name = self.catalog._ensure_seen_registered(spark, self.seen)
        buckets = self.seen["buckets"]
        (
            df.select(*SEEN_KEYS)
            .repartition(buckets, *SEEN_KEYS)
            .write.mode("append")
            .bucketBy(buckets, *SEEN_KEYS)
            .option("path", loc)
            .saveAsTable(name)
        )
        new = sorted(_part_files(loc) - before)
        self.seen["files"] = sorted(set(self.seen["files"]) | set(new))
        self.lineage.setdefault("url_seen", []).append({"op": "append", "files": new})
        return new

    def set_metrics(self, **metrics) -> None:
        self.metrics.update(metrics)

    def commit(self) -> None:
        assert not self._committed
        # tagged (maintenance) commits get a unique name: two compactions at
        # the same round must not overwrite each other's manifest, or the
        # parent chain would self-reference and drop the earlier metrics.
        # Untagged round commits keep the stable name on purpose — a re-run
        # of a killed round supersedes its own orphan file.
        suffix = f"-{self.tag}-{uuid.uuid4().hex[:6]}" if self.tag else ""
        name = f"commit-{self.round_no:06d}{suffix}.json"
        manifest = {
            "round": self.round_no,
            "parent": self.parent,
            "tables": self.tables,
            "metrics": self.metrics,
            "lineage": self.lineage,
        }
        if self.seen is not None:
            manifest["seen"] = self.seen
        if self.frontier_buckets is not None:
            manifest["frontier_buckets"] = self.frontier_buckets
        path = os.path.join(self.catalog.root, "_commits", name)
        # manifest lands atomically too: a kill mid-write must leave either
        # no file or a complete one, never a truncated orphan
        with open(path + ".tmp", "w") as f:
            json.dump(manifest, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        os.replace(path + ".tmp", path)
        tmp = self.catalog._current_path() + ".tmp"
        with open(tmp, "w") as f:
            f.write(name)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self.catalog._current_path())
        self._committed = True
