"""Bounded operator-scoped caching.

Catalyst does not reuse exchanges across self-join aliases — a
DataFrame referenced from two subtrees of one plan is computed twice
unless persisted (measured on the simhash sketch and the ann_lsh
bucket table). But a registered query can't unpersist after "the
action": it returns a lazy DataFrame the driver collects later.
Leaving every persist live leaks cached blocks across repeated
invocations (a warm session re-runs each query) until LRU eviction.

`bounded_cache` bounds that to ONE live cache per (operator, slot)
key: re-invoking the operator unpersists the previous round's block
before persisting the new one. MEMORY_AND_DISK so an over-sized cache
spills instead of OOMing an executor.

Unpersist is refcounted by SEMANTIC plan, not by slot: Spark's
CacheManager keys cached data by canonicalized plan, so two slots
holding byte-identical plans (e.g. "ann_lsh.e" and "knn_pq.e" — same
load/fan_out/select) share ONE cache entry, and unpersisting either
DataFrame would silently uncache the other slot's still-live data.
`_drop` therefore skips the physical unpersist while any other live
slot holds a semantically-equal plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_LIVE: dict[str, DataFrame] = {}


def _sem_hash(df: DataFrame) -> int | None:
    try:
        return df._jdf.queryExecution().analyzed().semanticHash()
    except Exception:
        return None


def _drop(old: DataFrame | None) -> None:
    if old is None:
        return
    h = _sem_hash(old)
    if h is not None and any(_sem_hash(live) == h for live in _LIVE.values()):
        # another live slot shares the CacheManager entry — leave the
        # physical cache in place for it
        return
    try:
        old.unpersist(blocking=False)
    except Exception:
        # the holder's SparkSession was stopped; its blocks died with
        # the context
        pass


def bounded_cache(key: str, df: DataFrame) -> DataFrame:
    """Persist ``df`` under ``key``, unpersisting the previous holder.

    Re-invocation with a semantically identical plan (same query, same
    sf_dir — the common repeat) returns the EXISTING cached holder
    instead of an unpersist/re-persist churn that would throw the
    blocks away just to rebuild them."""
    old = _LIVE.get(key)
    if old is not None:
        oh, nh = _sem_hash(old), _sem_hash(df)
        if oh is not None and oh == nh:
            return old
    _drop(_LIVE.pop(key, None))
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _LIVE[key] = df
    return df


# Memo-event journal: (slot, "build" | "hit" | "uncacheable"), appended by
# iterative_memo and memo_collect. perfbench slices it around each
# request to report memo hits and builds, so a timing that rides
# memoized state shows as such (VERDICT r13 item 6: a memoized
# trainer's repeat run otherwise silently measures a checkpoint read).
MEMO_LOG: list[tuple[str, str]] = []

_ITER_MEMO: dict[tuple, DataFrame] = {}


def _scope_fingerprint(scope: str):
    """(name, mtime, size) digest of a scope that is a data directory —
    so a memo keyed on an sf_dir path revalidates when the files at
    that path are regenerated within one process (bounded_cache gets
    this for free from Spark's semantic plan hash; a localCheckpoint'ed
    memo would otherwise serve stale blocks). Non-path scopes (or
    unreadable ones) fingerprint as None, preserving old behavior."""
    import os

    if not os.path.isdir(scope):
        return None
    entries = []
    try:
        for name in sorted(os.listdir(scope)):
            p = os.path.join(scope, name)
            if os.path.isdir(p):
                for part in sorted(os.listdir(p)):
                    st = os.stat(os.path.join(p, part))
                    entries.append(
                        (f"{name}/{part}", st.st_mtime_ns, st.st_size)
                    )
            else:
                st = os.stat(p)
                entries.append((name, st.st_mtime_ns, st.st_size))
    except OSError:
        return None
    return tuple(entries)


def iterative_memo(key: str, scope: str, build) -> DataFrame:
    """Process-level memo of ITERATIVELY derived tables (Lloyd-trained
    centroids/codebooks, label-propagation fixpoints) as
    lineage-TRUNCATED DataFrames.

    An iterative builder leaves an O(rounds)-deep logical plan in its
    result's lineage; every downstream DataFrame operation re-analyzes
    that whole tree (measured: 7.7 s of pure DRIVER time per
    knn_ivf_multiprobe build at sf0.1, vs 1.3 s of execution), and a
    driver-looped builder (min_label_propagate) re-EXECUTES its rounds
    on every invocation. ``build()`` runs once per (key, scope);
    `localCheckpoint` materializes the result and replaces its lineage
    with the materialized blocks; every later call in the process gets
    the SAME shallow DataFrame. Values are unchanged — the checkpoint
    stores exactly what the deterministic builder computed, so oracle
    parity is unaffected. The memo re-builds if the holder's
    SparkSession has been stopped (a process that stops and rebuilds its
    session) or — when ``scope`` is a data directory — if the files
    under it changed (mtime/size fingerprint)."""
    memo_key = (key, scope, _scope_fingerprint(scope))
    df = _ITER_MEMO.get(memo_key)
    if df is not None:
        try:
            if not df.sparkSession.sparkContext._jsc.sc().isStopped():
                MEMO_LOG.append((key, "hit"))
                return df
        except Exception:  # noqa: BLE001 — session gone; rebuild
            pass
    MEMO_LOG.append((key, "build"))
    df = build().localCheckpoint()
    # evict slots for the same (key, scope) with an outdated fingerprint —
    # unpersisting each so the superseded checkpoint blocks are freed
    # rather than leaking for the life of the process
    for stale in [
        k for k in _ITER_MEMO if k[:2] == memo_key[:2] and k != memo_key
    ]:
        old = _ITER_MEMO.pop(stale)
        try:
            old.unpersist()
        except Exception:  # noqa: BLE001 — session gone; blocks are too
            pass
    _ITER_MEMO[memo_key] = df
    return df


def release(key: str) -> None:
    """Explicitly drop a cached slot (tests / teardown)."""
    _drop(_LIVE.pop(key, None))


# -- balance-only collected-rows memo (round 14) -----------------------------

_ROWS_MEMO: dict[tuple, list] = {}
_ROWS_MEMO_CAP = 1024  # tiny rows (boundary arrays); cap is a leak guard


def _input_fingerprint(df: DataFrame):
    """(path, mtime_ns, size) for every input file of the plan, or None
    when the plan has no file source. A None fingerprint still memoizes
    safely: plans whose data is NOT visible in the canonicalized plan
    (RDD-backed relations) never canonicalize equal across builds, so
    their semantic hash alone already distinguishes them; plans whose
    data IS in the plan (LocalRelation) are covered by the hash.

    Raises OSError when an input file can't be stat'ed (a remote URI
    such as hdfs:// or s3a://, or a file deleted mid-listing): its
    contents could change without the fingerprint changing."""
    import os

    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — non-file source
        return None
    fps = []
    for f in sorted(files):
        p = f
        for pre in ("file://", "file:"):
            if p.startswith(pre):
                p = p[len(pre):]
                break
        st = os.stat(p)
        fps.append((p, st.st_mtime_ns, st.st_size))
    return tuple(fps)


def memo_collect(slot: str, df: DataFrame) -> list:
    """Process-level memo of a small BALANCE-ONLY aggregate's collected
    rows — percentile/boundary sketches whose values decide WHERE rows
    are cut into coarse buckets, never WHAT the query returns (see
    functions/distributed.py: any boundaries yield the same final
    ranks/sums). That property is what makes this memo unconditionally
    value-safe: even a semantic-hash collision could only unbalance a
    bucket, not change a result.

    Keyed on (slot, analyzed-plan semantic hash, input-file fingerprint):
    the same sketch over the same files returns the saved rows without a
    Spark job (the sketch job otherwise re-runs on every invocation —
    perfbench's warm query mix repeats each query every cycle);
    regenerated data at the same path changes the fingerprint and
    rebuilds. A plan reading a file that can't be stat'ed is collected
    every time, never memoized. Process-scoped, dies with the
    interpreter — same discipline as iterative_memo (no cross-run
    artifacts)."""
    h = _sem_hash(df)
    try:
        mk = None if h is None else (slot, h, _input_fingerprint(df))
    except OSError:
        mk = None
    if mk is None:
        MEMO_LOG.append((slot, "uncacheable"))
        return df.collect()
    rows = _ROWS_MEMO.get(mk)
    if rows is not None:
        MEMO_LOG.append((slot, "hit"))
        return rows
    rows = df.collect()
    # same (slot, hash) with an outdated fingerprint = regenerated data
    for stale in [k for k in _ROWS_MEMO if k[:2] == mk[:2] and k != mk]:
        del _ROWS_MEMO[stale]
    while len(_ROWS_MEMO) >= _ROWS_MEMO_CAP:
        _ROWS_MEMO.pop(next(iter(_ROWS_MEMO)))
    _ROWS_MEMO[mk] = rows
    MEMO_LOG.append((slot, "build"))
    return rows
