"""Catalog schema migrations — versioned, ledgered, idempotent upgrades.

The reference ships a full migration manager (storage/migrations.py:20-560:
versioned up/down SQL, a ``schema_migrations`` ledger table, apply /
rollback / migrate-to-latest) because its store is Postgres DDL. This
catalog's "schema" is the manifest format plus the physical layout of the
snapshot tables, so the Spark-native analog migrates THOSE: each migration
is a (needed?, apply) pair where apply is an ordinary tagged maintenance
commit — atomic, parent-chained, time-travel-visible — and the ledger is a
``_migrations.json`` beside ``_commits`` (the ``schema_migrations`` table
analog; Iceberg's format-version bump follows the same upgrade-by-metadata
idea).

This module is the only code that knows the older catalog layouts; the
readers and writers in tables.py and plans/ assume the current one.
``run_crawl`` applies every pending migration when it resumes a catalog
(it is the writer, as for ``cleanup_orphan_seen``), and the CLI's
``expire`` does so before expiring.

Built-in migrations (each one a REAL upgrade path this repo's history
needed):

001 scheduled_cum_backfill — catalogs written before the cumulative
    scheduled-pages counter carry only per-round ``scheduled`` metrics;
    resume reads its max_pages budget from the newest manifest's
    cumulative value, which survives snapshot expiry. Backfills it from
    the committed history — the only code that sums ``scheduled``.
002 bucketed_url_seen — catalogs whose url_seen is a plain append table
    (the pre-bucketing layout) are rebuilt into the bucketed generation
    store (``stage_seen_init``), restoring the no-Exchange dedup plan.

Rollback: intentionally refused (`downgrade` raises). Every migration here
is additive metadata or a content-preserving relayout, and the snapshot
chain already provides point-in-time reads of the pre-migration state
(``read_as_of``) — the capability DOWN-migrations exist to approximate.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import SparkSession

from crawler_spark.config import CrawlConfig
from crawler_spark.tables import SnapshotCatalog, atomic_write

__all__ = ["migrations_status", "migrate_to_latest", "LATEST_VERSION"]


# -- built-in migrations -----------------------------------------------------


def _needs_scheduled_cum(cat: SnapshotCatalog) -> bool:
    m = cat.current_manifest()
    return m is not None and "scheduled_cum" not in m.get("metrics", {})


def _apply_scheduled_cum(spark: SparkSession, cat: SnapshotCatalog, _buckets: int) -> dict:
    # the committed per-round history is the source of truth; maintenance
    # rounds carry no 'scheduled' key and contribute 0
    cum = sum(int(h.get("scheduled", 0) or 0) for h in cat.metrics_history())
    commit = cat.begin(cat.current_round(), tag="migrate-001")
    commit.set_metrics(scheduled_cum=cum, maintenance=True, migration="001")
    commit.commit()
    return {"scheduled_cum": cum}


def _needs_bucketed_seen(cat: SnapshotCatalog) -> bool:
    m = cat.current_manifest()
    # .get("tables", {}): an older manifest may lack the key entirely
    return (
        m is not None
        and "seen" not in m
        and bool(m.get("tables", {}).get("url_seen"))
    )


def _apply_bucketed_seen(spark: SparkSession, cat: SnapshotCatalog, buckets: int) -> dict:
    df = cat.read(spark, "url_seen")
    commit = cat.begin(cat.current_round(), tag="migrate-002")
    # no pre-count: url_seen is the catalog's largest table and the rewrite
    # inside stage_seen_init is already one full read — a count would double
    # the migration's scan I/O for a cosmetic ledger field
    commit.stage_seen_init(spark, df, buckets=buckets)
    commit.set_metrics(maintenance=True, migration="002")
    commit.commit()
    return {"buckets": buckets}


MIGRATIONS: list[tuple[str, str, object, object]] = [
    ("001", "scheduled_cum_backfill", _needs_scheduled_cum, _apply_scheduled_cum),
    ("002", "bucketed_url_seen", _needs_bucketed_seen, _apply_bucketed_seen),
]
LATEST_VERSION = MIGRATIONS[-1][0]


# -- ledger -------------------------------------------------------------------


def _ledger_path(workdir: str) -> str:
    return os.path.join(workdir, "_migrations.json")


def _read_ledger(workdir: str) -> list[dict]:
    try:
        with open(_ledger_path(workdir)) as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError):
        return []


def _append_ledger(workdir: str, entry: dict) -> None:
    entries = _read_ledger(workdir) + [entry]
    atomic_write(_ledger_path(workdir), json.dumps(entries, indent=1))  # like manifests


# -- public API ---------------------------------------------------------------


def migrations_status(workdir: str) -> dict:
    """Current version, the applied ledger, and pending migration names —
    ``get_current_version`` / ``get_pending_migrations`` of the reference.
    The forward-compat guard raises on a ledger from a NEWER writer (a
    version this build does not know), mirroring Iceberg's refusal to
    write a table whose format-version exceeds the library's."""
    ledger = _read_ledger(workdir)
    known = {v for v, _, _, _ in MIGRATIONS}
    unknown = [e for e in ledger if e["version"] not in known]
    if unknown:
        raise ValueError(
            f"catalog at {workdir} was migrated by a newer writer "
            f"(unknown migration versions {[e['version'] for e in unknown]}); "
            "refusing to operate on it"
        )
    cat = SnapshotCatalog(workdir)
    applied = {e["version"] for e in ledger}
    pending = [
        {"version": v, "name": n}
        for v, n, needed, _ in MIGRATIONS
        if v not in applied and needed(cat)
    ]
    current = max(applied) if applied else None
    return {"current": current, "applied": ledger, "pending": pending}


def migrate_to_latest(
    spark: SparkSession, workdir: str, n_seen_buckets: int = CrawlConfig.n_seen_buckets
) -> dict:
    """Apply every pending migration in order (``migrate_to_latest`` of the
    reference). ``n_seen_buckets`` sizes a rebuilt url_seen (002): a
    resuming crawl passes its own setting. Idempotent: a second call finds
    nothing pending. Each application is one atomic maintenance commit plus
    one ledger append; a kill between the two re-runs the migration next
    time, which every ``apply`` tolerates (001 rewrites the same value; 002
    re-inits the seen generation — content-preserving either way)."""
    # forward-compat guard FIRST: a ledger from a newer writer must refuse
    # BEFORE any apply mutates the catalog (a newer format could look
    # "unmigrated" to this build's needed() probes — e.g. a future seen
    # layout without the "seen" key would trigger 002's rebuild into the
    # OLD layout, corrupting it, if the guard only ran afterwards)
    migrations_status(workdir)
    applied = []
    for version, name, needed, apply in MIGRATIONS:
        cat = SnapshotCatalog(workdir)  # re-read state after prior step
        if not needed(cat):
            continue
        detail = apply(spark, cat, n_seen_buckets)
        entry = {
            "version": version,
            "name": name,
            "applied_at_round": cat.current_round(),
            "applied_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "detail": detail,
        }
        _append_ledger(workdir, entry)
        applied.append(entry)
    status = migrations_status(workdir)
    return {"applied_now": applied, **status}


def downgrade(*_args, **_kwargs) -> None:
    """Refused by design — see the module docstring: the snapshot chain's
    ``read_as_of`` already serves the pre-migration state, and both
    built-in migrations are additive or content-preserving."""
    raise NotImplementedError(
        "downgrade is refused: use SnapshotCatalog.read_as_of for "
        "pre-migration state (reference rollback_migration analog is the "
        "snapshot chain itself)"
    )
