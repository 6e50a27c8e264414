"""Fixture-level recall guarantee for the shared banded-MinHash
blocker (_band_prefiltered_candidates) behind q_dedup_near and
q_containment_dedup.

Both keys register EXACT brute-force oracles over a PROBABILISTIC
blocker: the driver hash-check passes only while every true pair
band-collides AND clears the >=5/16 signature prefilter.  That holds
on the current documents fixture (mutated near-identicals collide by
construction), but a regenerated fixture with different mutation
characteristics could break it — e.g. a true containment pair at 2x
size skew (Jaccard ~0.43) band-collides only ~13% of the time (r10
ADVICE).  This test asserts the recall property DIRECTLY, so a
fixture regeneration fails with a pointed message here instead of a
bare hash mismatch in CORRECTNESS_r{N}.json."""

from __future__ import annotations

import duckdb

from flink_streaming_example_spark.operators.dedup import (
    _band_prefiltered_candidates,
)
from flink_streaming_example_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE_DIR

# Ground-truth pairs of both registered oracles (_DEDUP_NEAR_ORACLE /
# _CONTAINMENT_ORACLE) in one exact pass: the same shingles and the
# same threshold expressions, but emitting the PAIRS, which is what the
# blocker must not lose.  Instead of an all-pairs list_intersect, the
# shingle self-join counts |A∩B| for every pair sharing a shingle
# (pairs sharing none clear neither threshold); the lists are
# distinct, so |A∪B| = |A| + |B| - |A∩B|.
_TRUE_PAIRS = """
WITH sh AS (
  SELECT doc_id,
    list_distinct([substring(text, i, 5)
                   FOR i IN range(1, greatest(length(text) - 3, 2))]) AS s
  FROM read_parquet('{sf}/documents.parquet')
), flat AS (
  SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
         count(*) AS i
  FROM flat a JOIN flat b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY ALL
)
SELECT id_a, id_b,
  CAST(i AS DOUBLE) / (na + nb - i) >= 0.6 AS jaccard,
  1000 * i // least(na, nb) >= 900 AS containment
FROM inter
"""


def _blocker_pairs(spark) -> set[tuple[int, int]]:
    docs = load_table(spark, SF_SMOKE_DIR, "documents").select(
        "doc_id", "text"
    )
    pre = _band_prefiltered_candidates(docs)
    return {(r["id_a"], r["id_b"]) for r in pre.collect()}


def test_blocker_recall_covers_every_oracle_pair(spark):
    """Every ground-truth pair of BOTH exact oracles must survive the
    band + 5/16-prefilter stage on this fixture — the precondition
    for the two keys' driver hash-matches.  If this fails after a
    fixture regeneration, the honest fixes are (a) more bands /
    looser prefilter, or (b) swapping the containment blocker to the
    PPJoin prefix-filter documented in q_containment_dedup."""
    sql = _TRUE_PAIRS.format(sf=SF_SMOKE_DIR)
    rows = duckdb.connect().execute(sql).fetchall()
    truth = {
        "jaccard>=0.6": {(a, b) for a, b, jac, _ in rows if jac},
        "containment>=900pm": {(a, b) for a, b, _, cont in rows if cont},
    }
    for label, pairs in truth.items():
        assert pairs, (
            f"fixture has zero {label} pairs — the recall property "
            "would be vacuous; regenerate with duplicate mutations"
        )
    got = _blocker_pairs(spark)
    for label, pairs in truth.items():
        missing = pairs - got
        assert not missing, (
            f"banded blocker lost {len(missing)}/{len(pairs)} true "
            f"{label} pairs (e.g. {sorted(missing)[:5]}): the exact "
            "oracles of q_dedup_near/q_containment_dedup will "
            "hash-mismatch. See test docstring for the honest fixes."
        )


def test_blocker_releases_previous_persists(spark):
    """Repeated blocker invocations must not accumulate cached
    partitions for the process lifetime (r10 ADVICE): each call
    releases the previous call's persisted frames, so at most one
    invocation's worth (minhash agg + candidate pairs) stays cached."""
    from flink_streaming_example_spark.operators.dedup import (
        _BAND_PREV_PERSISTS,
    )

    docs = load_table(spark, SF_SMOKE_DIR, "documents").select(
        "doc_id", "text"
    )
    for _ in range(3):
        _band_prefiltered_candidates(docs).count()
    assert len(_BAND_PREV_PERSISTS) == 2, _BAND_PREV_PERSISTS
