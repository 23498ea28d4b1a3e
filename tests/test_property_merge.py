"""Property-based pin of the CDC merge semantics (round 8): for
arbitrary snapshots and change batches — key collisions, tombstones,
NULL keys, multi-version updates, deletes of absent keys —
`merge_upsert` must equal an independent, obviously-correct Python
reference model of MERGE. The Spark plan (full-outer join + version
compaction) and the dict-based model share no code, so agreement under
hypothesis exploration is real evidence, not tautology.
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

_SETTINGS = dict(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_KEYS = st.integers(min_value=0, max_value=7)  # small domain → collisions
_VALS = st.text(
    alphabet="abcxyz", min_size=0, max_size=4
)

_SNAPSHOT = st.lists(
    st.tuples(_KEYS, _VALS), min_size=0, max_size=8,
    unique_by=lambda t: t[0],
)
_DELTA = st.lists(
    st.tuples(
        st.one_of(st.none(), _KEYS),          # key (NULL rows must drop)
        _VALS,                                 # value
        st.integers(min_value=0, max_value=3), # version
        st.booleans(),                         # deleted
    ),
    min_size=0,
    max_size=10,
)


def _reference_merge(snapshot, delta):
    """Dict-based MERGE model: compact delta to max version per key;
    on EQUAL versions the Spark side orders the remaining columns
    ASCENDING under row_number()==1, i.e. keeps the lexicographically
    SMALLEST (value, deleted) row — verified by hand (snapshot 'old',
    equal-version changes 'aaa'/'zzz' -> 'aaa' wins) and mirrored
    here. Then apply update/insert/delete."""
    compacted: dict[int, tuple] = {}
    for k, v, ver, dele in delta:
        if k is None:
            continue
        cur = compacted.get(k)
        if (
            cur is None
            or ver > cur[0]
            or (ver == cur[0] and (v, dele) < (cur[1], cur[2]))
        ):
            compacted[k] = (ver, v, dele)
    out = {k: v for k, v in snapshot}
    for k, (ver, v, dele) in compacted.items():
        if dele:
            out.pop(k, None)
        else:
            out[k] = v
    return sorted(out.items())


@given(snapshot=_SNAPSHOT, delta=_DELTA)
# the equal-version collision that exposes the tiebreak DIRECTION
@example(
    snapshot=[(1, "old")],
    delta=[(1, "zzz", 1, False), (1, "aaa", 1, False)],
)
# tombstone loses to a higher-version revival, wins over equal-version
@example(
    snapshot=[(1, "old")],
    delta=[(1, "x", 1, True), (1, "y", 2, False)],
)
@settings(**_SETTINGS)
def test_merge_upsert_equals_reference_model(spark, snapshot, delta):
    from big_data_parallel_computing_hw2_spark.sources import layout

    snap_df = spark.createDataFrame(
        snapshot or [], "id BIGINT, v STRING"
    )
    delta_df = spark.createDataFrame(
        [(k, v, ver, d) for k, v, ver, d in delta] or [],
        "id BIGINT, v STRING, __version INT, __deleted BOOLEAN",
    )
    got = sorted(
        (r["id"], r["v"])
        for r in layout.merge_upsert(
            snap_df, delta_df, "id",
            deleted_col="__deleted", version_col="__version",
        ).collect()
    )
    assert got == _reference_merge(snapshot, delta)

