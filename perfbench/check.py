"""Expected results, computed outside any timed interval, and the
checks that compare the program's outputs with them. Every check
returns a list of problems; an empty list means the output is correct.
"""

from __future__ import annotations

import math
import os

import numpy as np

from gen import FTIF_HEADER, N_BANDS

REL_TOL = 1e-9


def read_ftif(payload: bytes) -> np.ndarray | None:
    """float32[bands, h, w], or None when the bytes are not a whole
    FTIF image."""
    if len(payload) < FTIF_HEADER.size:
        return None
    magic, n, w, h = FTIF_HEADER.unpack_from(payload)
    if magic != b"FTIF" or len(payload) != FTIF_HEADER.size + 4 * n * w * h:
        return None
    return np.frombuffer(payload, "<f4", offset=FTIF_HEADER.size).reshape(n, h, w)


def _scene_files(scene_dir: str):
    for name in sorted(os.listdir(scene_dir)):
        with open(os.path.join(scene_dir, name), "rb") as fh:
            yield name, read_ftif(fh.read())


def file_band_means(scene_dir: str) -> dict[tuple[str, int], float]:
    """Mean of the non-zero pixels per (file, 1-based band); 0.0 for a
    band with no non-zero pixel and for every band of an undecodable
    file."""
    out = {}
    for name, bands in _scene_files(scene_dir):
        for b in range(N_BANDS if bands is None else bands.shape[0]):
            nz = np.zeros(0) if bands is None else bands[b][bands[b] != 0]
            out[name, b + 1] = float(nz.astype("f8").sum() / nz.size) if nz.size else 0.0
    return out


def raster_stats_expected(scene_dir: str) -> list[tuple]:
    """(band, band_max, band_min, band_mean, n_files) in band order."""
    per_band: dict[int, list[float]] = {}
    for (_, band), mean in file_band_means(scene_dir).items():
        per_band.setdefault(band, []).append(mean)
    return [
        (b, max(v), min(v), sum(v) / len(v), len(v))
        for b, v in sorted(per_band.items())
    ]


def _close(a, b) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-12)


def check_raster_stats(rows: list[tuple], expected: list[tuple]) -> list[str]:
    if len(rows) != len(expected):
        return [f"{len(rows)} bands, expected {len(expected)}"]
    problems = []
    for got, exp in zip(rows, expected):
        if got[0] != exp[0] or got[4] != exp[4]:
            problems.append(f"band/n_files {got[0]},{got[4]} != {exp[0]},{exp[4]}")
        elif not all(_close(g, e) for g, e in zip(got[1:4], exp[1:4])):
            problems.append(f"band {exp[0]}: {got[1:4]} != {exp[1:4]}")
    return problems


def components(pairs: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """(doc_id, cluster_id) for every document in a pair, the cluster
    being the smallest doc_id of its connected component, in doc_id
    order: the rows of the ``dedup_clusters`` oracle."""
    parent: dict[int, int] = {}

    def root(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = root(a), root(b)
        parent[max(ra, rb)] = min(ra, rb)
    return [(d, root(d)) for d in sorted(parent)]


def check_query(cols, rows, oracle_cols, oracle_rows, norm_rows) -> list[str]:
    """Column names, row count and order-insensitive values, with the
    cell normalisation given by ``norm_rows``."""
    if sorted(cols) != sorted(oracle_cols):
        return [f"columns {cols} != {oracle_cols}"]
    if len(rows) != len(oracle_rows):
        return [f"{len(rows)} rows, expected {len(oracle_rows)}"]
    if norm_rows(cols, rows) != norm_rows(oracle_cols, oracle_rows):
        return ["values differ"]
    return []


def ingest_expected(pairs: list[tuple[int, int]], doc_ids) -> dict[int, int | None]:
    """The one-shot screen from the LSH candidate pairs (a < b): each
    document's smallest bucket-mate below it, None when it has none."""
    dup_of = dict.fromkeys(doc_ids)
    for a, b in pairs:
        if dup_of[b] is None or a < dup_of[b]:
            dup_of[b] = a
    return dup_of


def check_planted(report_rows: list[tuple], planted: list[tuple[int, int]],
                  min_flagged: float) -> list[str]:
    """At least ``min_flagged`` of the planted near-duplicates must be
    flagged. LSH may miss a pair, so the floor sits under one."""
    flagged = {d for d, dup_of in report_rows if dup_of is not None}
    hit = sum(d in flagged for d, _ in planted)
    if hit < min_flagged * len(planted):
        return [f"{hit} of {len(planted)} planted near-duplicates flagged"]
    return []


def check_ingest(report_rows: list[tuple], expected_rows: list[tuple]) -> list[str]:
    """The streamed (doc_id, dup_of) report against the one-shot one."""
    got, exp = sorted(report_rows), sorted(expected_rows)
    if len(got) != len(exp):
        return [f"{len(got)} report rows, expected {len(exp)}"]
    bad = [(g, e) for g, e in zip(got, exp) if g != e]
    return [f"{len(bad)} verdicts differ, first {bad[0]}"] if bad else []
