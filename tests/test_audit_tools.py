"""The audit-tool layer stays wired to the registry (no SparkSession:
these pin the tools' contracts, not the plans themselves — the tools'
full runs are round-close disciplines, their artifacts committed as
PLANS.md / SCALING.md / SURVEY §7j)."""

from __future__ import annotations

import os

import __spark_entry__ as entry_mod
from tools.adversarial_probe import KNOWN_OUT_OF_DOMAIN
from tools.plan_regression import parse_plans_md
from tools.scaling_report import SF_DIRS

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_committed_plans_cover_the_registry():
    rows = parse_plans_md(os.path.join(REPO, "PLANS.md"))
    registry = set(entry_mod._QUERIES)
    assert set(rows) == registry  # every query audited, none stale
    for name, r in rows.items():
        assert not r["cart"], f"{name}: committed plan has a cartesian"


def test_probe_allowlist_is_registry_subset_with_contracts():
    registry = set(entry_mod._QUERIES)
    assert set(KNOWN_OUT_OF_DOMAIN) <= registry
    # every allowlisted query carries a human-readable input contract
    assert all(len(v) > 10 for v in KNOWN_OUT_OF_DOMAIN.values())


def test_scaling_sf_dirs_exist():
    for d, sf in SF_DIRS:
        assert os.path.isdir(d), d
        assert sf > 0


def test_make_sf1_rekey_is_disjoint_and_fk_consistent():
    """The sf1 generator's key map (key*REPS + rep) keeps replicas
    key-disjoint and referential integrity exact, and the same table
    list covers every FK that references a replicated PK."""
    from tools.make_sf1 import _KEY_COLS, REPS, _COPY_ONLY

    # replicas of distinct keys can never collide
    keys = [1, 2, 3, 700]
    images = {k * REPS + r for k in keys for r in range(REPS)}
    assert len(images) == len(keys) * REPS
    # FK columns rekey with their referenced PKs (same transform)
    assert "o_custkey" in _KEY_COLS["orders"]
    assert {"l_orderkey", "l_partkey", "l_suppkey"} <= set(
        _KEY_COLS["lineitem"]
    )
    # dimension tables stay fixed (TPC-H semantics)
    assert set(_COPY_ONLY) == {"region", "nation"}


def test_make_sf1_replication_preserves_structure(spark):
    """Behavioral pin for the sf1 generator: token renames are
    bijective per replica (within-replica Jaccard/dup structure exactly
    preserved) while replica vocabularies are disjoint (no artificial
    cross-replica near-dup pair space), and vector rotation preserves
    the norm (distance structure) while changing the direction."""
    import math

    from tools.make_sf1 import REPS, _replicate

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma", "en", "s0", 16),
            (2, "alpha beta delta", "en", "s0", 16),
        ],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    out = _replicate(docs, "documents").collect()
    assert len(out) == 2 * REPS
    by_rep: dict[int, list] = {}
    for r in out:
        by_rep.setdefault(r["doc_id"] % REPS, []).append(r)
    vocab_by_rep = {}
    for rep, rows in by_rep.items():
        toks = [set(r["text"].split()) for r in rows]
        # bijective rename: within-replica Jaccard == original 2/4
        inter, union = toks[0] & toks[1], toks[0] | toks[1]
        assert len(inter) / len(union) == 2 / 4
        vocab_by_rep[rep] = toks[0] | toks[1]
        # n_chars recomputed to match the transformed text
        assert all(r["n_chars"] == len(r["text"]) for r in rows)
    # replicas are lexically disjoint — zero shared shingle/token space
    reps = sorted(vocab_by_rep)
    for a in reps:
        for b in reps:
            if a < b:
                assert not (vocab_by_rep[a] & vocab_by_rep[b])

    emb = spark.createDataFrame(
        [(1, [3.0, 4.0, 0.0, 0.0], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    eout = _replicate(emb, "embeddings").collect()
    assert len(eout) == REPS
    vecs = {r["vec_id"] % REPS: list(r["embedding"]) for r in eout}
    base_norm = math.sqrt(sum(x * x for x in vecs[0]))
    dim = len(vecs[0])
    for rep, v in vecs.items():
        # orthogonal map: norm exactly preserved, direction rotated by
        # rep mod dim (wrap rather than a negative slice length)
        assert math.isclose(
            math.sqrt(sum(x * x for x in v)), base_norm, rel_tol=1e-6
        )
        k = rep % dim
        assert v == vecs[0][k:] + vecs[0][:k]
