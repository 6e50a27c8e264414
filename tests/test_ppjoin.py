"""Boundary semantics for q_containment_ppjoin (the prefix-filter
containment variant): the 900-per-mille threshold must be EXACT under
floored integer division, and the rarest-shingle prefix cut
(|A| - ceil(0.9|A|) + 1 probes) must not lose a pair sitting exactly
on the threshold — the worst case for the prefix property, where the
probe budget is smallest relative to the misses allowed."""

from __future__ import annotations

import duckdb

from flink_streaming_example_spark.plans.registry import all_specs
from tests.test_collocations_pctrank import _write_documents

_SPECS = all_specs()

# 14 distinct base words -> doc B has 12 word-trigram shingles.
_B_WORDS = [f"w{i:02d}" for i in range(14)]


def _crafted_texts() -> list[str]:
    return [
        " ".join(_B_WORDS),  # doc 0: the container B
        # doc 1: words b1..b11 + one foreign word -> 10 trigrams,
        # 9 of them in B: containment = 1000*9//10 = 900, EXACTLY at
        # the threshold -> must be emitted.  Prefix budget is the
        # minimum possible (10 - 9 + 1 = 2 probes).
        " ".join(_B_WORDS[:11] + ["zz1"]),
        # doc 2: words b1..b10 + one foreign word -> 9 trigrams, 8 in
        # B: containment = 1000*8//9 = 888 -> must NOT be emitted.
        " ".join(_B_WORDS[:10] + ["zz2"]),
        # doc 3: too short for any trigram (2 words) -> excluded from
        # the shingle universe entirely.
        "aa bb",
        # doc 4: unrelated filler so document frequencies are not all 1.
        " ".join(f"q{i}" for i in range(8)),
    ]


def test_ppjoin_exact_900pm_boundary(spark, tmp_path):
    _write_documents(_crafted_texts(), str(tmp_path))
    got = {
        (r["id_small"], r["id_big"], r["cont_pm"])
        for r in _SPECS["q_containment_ppjoin"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    # doc1 (10 shingles) against doc0 (12 shingles): exactly 900 pm,
    # included; doc2 at 888 pm excluded; nothing else qualifies.
    # Cross-check the full expectation against the registered oracle
    # on the same crafted parquet rather than trusting hand counts.
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    want = {
        tuple(r)
        for r in con.execute(
            _SPECS["q_containment_ppjoin"].oracle
        ).fetchall()
    }
    assert (1, 0, 900) in want, "fixture drifted: boundary pair missing"
    assert got == want
    assert all(p[:2] != (2, 0) and p[:2] != (0, 2) for p in got), (
        "888 pm pair must be excluded by floored integer division"
    )


# ---------------------------------------------------------------------------
# Streaming twin (round 13): the incremental foreachBatch index merge
# must equal the batch key under EVERY batch slicing — in particular
# when a qualifying pair's members arrive in different batches, in
# either order (the two candidate legs of streaming/ppjoin.py).


def _merge_slices(spark, sf_dir, state_dir, slices):
    """Feed doc_id slices through ppjoin_merge_batch sequentially,
    with foreachBatch's monotonically increasing batch ids."""
    from flink_streaming_example_spark.sources.tables import load_table
    from flink_streaming_example_spark.streaming.ppjoin import (
        ppjoin_merge_batch,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    for bid, ids in enumerate(slices):
        ppjoin_merge_batch(
            docs.filter(docs.doc_id.isin(list(ids))), state_dir, bid
        )


def _batch_answer(spark, sf_dir):
    return {
        (r["id_small"], r["id_big"], r["cont_pm"])
        for r in _SPECS["q_containment_ppjoin"].fn(spark, sf_dir).collect()
    }


def test_streaming_ppjoin_slicings_match_batch(spark, tmp_path):
    """1-, 2- and 3-batch slicings over the crafted boundary corpus,
    including both arrival orders of the (container, contained) pair:
    container first (later small doc probes the index) and contained
    first (the STORED prefix must catch the container's postings)."""
    from flink_streaming_example_spark.streaming.ppjoin import (
        read_ppjoin_pairs,
    )

    fixture = tmp_path / "fx"
    fixture.mkdir()
    _write_documents(_crafted_texts(), str(fixture))
    want = _batch_answer(spark, str(fixture))
    assert (1, 0, 900) in want  # the pair the slicings must preserve
    slicings = [
        [[0, 1, 2, 3, 4]],  # single batch
        [[0, 2], [1, 3, 4]],  # container first, small doc later
        [[1, 3], [4], [0, 2]],  # small doc FIRST -> stored-prefix leg
    ]
    for i, slices in enumerate(slicings):
        state = tmp_path / f"state_{i}"
        _merge_slices(spark, str(fixture), str(state), slices)
        got = {
            (r["id_small"], r["id_big"], r["cont_pm"])
            for r in read_ppjoin_pairs(spark, str(state)).collect()
        }
        assert got == want, f"slicing {slices} diverged from batch key"


def _state_rows(spark, state_dir):
    """Every state table's full row multiset (all batch partitions),
    read raw — NO dedup-on-read anywhere, so a replay that appended
    instead of overwriting shows up as extra rows here."""
    from flink_streaming_example_spark.streaming import ppjoin as pp

    out = {}
    for table, schema in pp._SCHEMAS.items():
        out[table] = sorted(
            map(
                tuple,
                pp._read_state(
                    spark, state_dir, table, 1 << 62, keep_batch=True
                ).collect(),
            )
        )
    return out


def test_streaming_ppjoin_replayed_batch_is_exactly_once(spark, tmp_path):
    """foreachBatch replays a failed batch with the SAME batch id;
    the per-batch partition OVERWRITE must leave every state table's
    full content byte-identical — verified with dedup-on-read absent
    (there is none: _state_rows reads raw partitions, and
    read_ppjoin_pairs no longer dedupes)."""
    from flink_streaming_example_spark.sources.tables import load_table
    from flink_streaming_example_spark.streaming.ppjoin import (
        ppjoin_merge_batch,
        read_ppjoin_pairs,
    )

    fixture = tmp_path / "fx"
    fixture.mkdir()
    _write_documents(_crafted_texts(), str(fixture))
    state = tmp_path / "state"
    docs = load_table(spark, str(fixture), "documents").select(
        "doc_id", "text"
    )
    first = docs.filter(docs.doc_id.isin([0, 2]))
    second = docs.filter(docs.doc_id.isin([1, 3, 4]))
    ppjoin_merge_batch(first, str(state), 0)
    ppjoin_merge_batch(second, str(state), 1)
    base_pairs = sorted(
        map(tuple, read_ppjoin_pairs(spark, str(state)).collect())
    )
    base_state = _state_rows(spark, str(state))
    ppjoin_merge_batch(second, str(state), 1)  # crash replay of batch 1
    assert (
        sorted(map(tuple, read_ppjoin_pairs(spark, str(state)).collect()))
        == base_pairs
    )
    assert _state_rows(spark, str(state)) == base_state


def test_streaming_ppjoin_uncommitted_batch_is_invisible(
    spark, tmp_path, monkeypatch
):
    """A crash BETWEEN state-table writes leaves the batch without its
    _commits marker: readers must not see its partial pairs, and the
    replay (same batch id) must land the full batch exactly once."""
    from flink_streaming_example_spark.sources.tables import load_table
    from flink_streaming_example_spark.streaming import ppjoin as pp

    fixture = tmp_path / "fx"
    fixture.mkdir()
    _write_documents(_crafted_texts(), str(fixture))
    state = tmp_path / "state"
    docs = load_table(spark, str(fixture), "documents").select(
        "doc_id", "text"
    )
    first = docs.filter(docs.doc_id.isin([0, 2]))
    second = docs.filter(docs.doc_id.isin([1, 3, 4]))
    pp.ppjoin_merge_batch(first, str(state), 0)

    real_write = pp._write_state

    def crashing(df, state_dir, table, batch_id):
        real_write(df, state_dir, table, batch_id)
        if table == pp._PAIRS:  # pairs written, then the "crash"
            raise RuntimeError("injected crash after pairs write")

    monkeypatch.setattr(pp, "_write_state", crashing)
    try:
        pp.ppjoin_merge_batch(second, str(state), 1)
    except RuntimeError:
        pass
    # batch 1's pairs partition exists on disk but is uncommitted
    assert pp._max_committed(str(state)) == 0
    visible = {
        tuple(r)
        for r in pp.read_ppjoin_pairs(spark, str(state)).collect()
    }
    assert visible == set(), "uncommitted batch leaked into the read view"
    monkeypatch.setattr(pp, "_write_state", real_write)
    pp.ppjoin_merge_batch(second, str(state), 1)  # replay
    got = {
        tuple(r)
        for r in pp.read_ppjoin_pairs(spark, str(state)).collect()
    }
    assert got == _batch_answer(spark, str(fixture))


def test_streaming_ppjoin_reads_each_state_table_once_per_batch(
    spark, tmp_path, monkeypatch
):
    """The merge builds each state table's frame exactly once per
    batch (the scan-discipline gate for the foreachBatch path — the
    run_to_memory streaming ratchet can't see inside foreachBatch):
    a fan-out regression re-reading postings per candidate leg would
    double this count."""
    from flink_streaming_example_spark.sources.tables import load_table
    from flink_streaming_example_spark.streaming import ppjoin as pp

    fixture = tmp_path / "fx"
    fixture.mkdir()
    _write_documents(_crafted_texts(), str(fixture))
    calls: list[str] = []
    real = pp._read_state

    def counting(spark_, state_dir, table, upto, **kw):
        calls.append(table)
        return real(spark_, state_dir, table, upto, **kw)

    monkeypatch.setattr(pp, "_read_state", counting)
    docs = load_table(spark, str(fixture), "documents").select(
        "doc_id", "text"
    )
    state = str(tmp_path / "s")
    pp.ppjoin_merge_batch(docs.filter(docs.doc_id.isin([0, 2])), state, 0)
    # first batch: no prior df exists, so the dfreq read is skipped
    # (fast path) — three state reads, each built exactly once
    assert sorted(calls) == ["docs", "postings", "prefixes"], calls
    calls.clear()
    pp.ppjoin_merge_batch(docs.filter(docs.doc_id.isin([1, 3, 4])), state, 1)
    assert sorted(calls) == ["dfreq", "docs", "postings", "prefixes"], calls


def test_streaming_ppjoin_first_batch_has_no_prior_state_legs(
    spark, tmp_path, monkeypatch
):
    """Before its first write a state table must read as an empty
    frame the OPTIMIZER can see: an empty LocalRelation, not a
    Python-parallelized LogicalRDD of unknown size.  Then a first
    batch's pairs plan carries no prior-state leg at all — Catalyst
    drops the stored-prefixes probe and the state side of every
    union — instead of shuffling and joining the batch against
    nothing and starting Python workers to scan zero rows."""
    from flink_streaming_example_spark.sources.tables import load_table
    from flink_streaming_example_spark.streaming import ppjoin as pp
    from tests.test_plans import _walk_jvm_plan

    never_written = str(tmp_path / "never_written")
    for table in pp._SCHEMAS:
        plan = (
            pp._read_state(spark, never_written, table, 0, keep_batch=True)
            ._jdf.queryExecution()
            .optimizedPlan()
        )
        assert plan.getClass().getSimpleName() == "LocalRelation", (
            f"{table}: empty state is not an empty LocalRelation\n{plan}"
        )
        assert plan.data().isEmpty(), f"{table}: {plan}"
        assert "LogicalRDD" not in plan.toString(), f"{table}: {plan}"

    fixture = tmp_path / "fx"
    fixture.mkdir()
    _write_documents(_crafted_texts(), str(fixture))
    written: dict = {}
    real = pp._write_state

    def capturing(df, state_dir, table, batch_id):
        written[table] = df
        real(df, state_dir, table, batch_id)

    monkeypatch.setattr(pp, "_write_state", capturing)
    docs = load_table(spark, str(fixture), "documents").select(
        "doc_id", "text"
    )
    pp.ppjoin_merge_batch(docs, str(tmp_path / "state"), 0)
    plan = written[pp._PAIRS]._jdf.queryExecution().optimizedPlan()
    nodes = list(_walk_jvm_plan(plan))
    # every state read carries the `batch` partition column; the
    # batch's own frames (the pins) do not
    prior = [
        n.nodeName()
        for n in nodes
        if n.children().isEmpty()
        and (
            n.getClass().getSimpleName() == "LocalRelation"
            or any(
                n.output().apply(i).name() == "batch"
                for i in range(n.output().size())
            )
        )
    ]
    assert not prior, f"first-batch pairs plan reads prior state:\n{plan}"
    # new prefixes x batch postings, then the two docs lookups
    joins = [n for n in nodes if n.getClass().getSimpleName() == "Join"]
    assert len(joins) == 3, f"expected 3 joins, got {len(joins)}:\n{plan}"


def test_streaming_ppjoin_df_fold_never_aggregates_postings(
    spark, tmp_path
):
    """Round-14 scale gate (VERDICT r13 item 1): the per-batch df
    frame must be built from the batch's own postings plus a lookup
    into the DFREQ state — never an aggregate over the accumulated
    postings index.  Captured pre-pin via the pinning audit hook; the
    gate reads the optimized plan's parquet scans directly."""
    import io
    import contextlib

    from flink_streaming_example_spark.operators import pinning
    from flink_streaming_example_spark.sources.tables import load_table
    from flink_streaming_example_spark.streaming import ppjoin as pp

    fixture = tmp_path / "fx"
    fixture.mkdir()
    _write_documents(_crafted_texts(), str(fixture))
    state = str(tmp_path / "state")
    docs = load_table(spark, str(fixture), "documents").select(
        "doc_id", "text"
    )
    pp.ppjoin_merge_batch(docs.filter(docs.doc_id.isin([0, 2])), state, 0)
    captured: list = []
    pinning._AUDIT_PRE_PIN = captured
    try:
        pp.ppjoin_merge_batch(
            docs.filter(docs.doc_id.isin([1, 3, 4])), state, 1
        )
    finally:
        pinning._AUDIT_PRE_PIN = None
    df_frames = [f for f in captured if f.columns == ["sh", "df"]]
    assert len(df_frames) == 1, [f.columns for f in captured]
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df_frames[0].explain("formatted")
    plan = buf.getvalue()
    assert "/dfreq" in plan, plan  # the state the fold MAY read
    for banned in ("/postings", "/docs", "/prefixes", "/pairs"):
        assert banned not in plan, f"df fold scans {banned}:\n{plan}"
    # exactly one file source: the dfreq state (the batch side comes
    # from the checkpointed shingle frame, a LogicalRDD).  AQE's
    # formatted explain repeats the node across initial/final plan
    # sections, so count DISTINCT scan locations, not occurrences.
    locations = {
        line.strip()
        for line in plan.splitlines()
        if "Location:" in line
    }
    assert len(locations) == 1 and all(
        "/dfreq" in loc for loc in locations
    ), locations


def test_streaming_ppjoin_dfreq_compaction_bounds_partitions(
    spark, tmp_path, monkeypatch
):
    """Round-14 partition-growth bound: every K-th batch writes the
    FULL latest-wins (sh, df) view, and a LATER merge drops the
    superseded partitions (deletion only once the compaction batch
    can no longer replay).  Values must stay equal to the full
    recompute throughout, the compaction batch's own replay must be
    idempotent, and the result must still match the batch key."""
    import os

    from pyspark.sql import functions as F

    from flink_streaming_example_spark.sources.tables import load_table
    from flink_streaming_example_spark.streaming import ppjoin as pp

    monkeypatch.setattr(pp, "_COMPACT_EVERY", 2)
    fixture = tmp_path / "fx"
    fixture.mkdir()
    _write_documents(_crafted_texts(), str(fixture))
    state = str(tmp_path / "state")
    docs = load_table(spark, str(fixture), "documents").select(
        "doc_id", "text"
    )

    def merge(ids, bid):
        pp.ppjoin_merge_batch(docs.filter(docs.doc_id.isin(ids)), state, bid)

    def dfreq_partitions():
        t = os.path.join(state, pp._DFREQ)
        return sorted(
            int(e.split("=", 1)[1])
            for e in os.listdir(t)
            if e.startswith("batch=")
        )

    def df_matches_recompute(upto):
        post = pp._read_state(spark, state, pp._POSTINGS, upto)
        want = sorted(
            map(
                tuple,
                post.groupBy("sh")
                .agg(F.count(F.lit(1)).alias("df"))
                .collect(),
            )
        )
        stored = pp._read_state(
            spark, state, pp._DFREQ, upto, keep_batch=True
        )
        got = sorted(
            map(
                tuple,
                stored.groupBy("sh")
                .agg(F.max_by("df", "batch").alias("df"))
                .collect(),
            )
        )
        return got == want

    merge([0], 0)
    merge([2], 1)
    merge([4], 2)  # K=2 -> batch 2 writes the full view + watermark
    assert pp._read_meta(state)["dfreq_latest"] == 2
    # deletion has NOT happened yet (batch 2 could still replay)
    assert dfreq_partitions() == [0, 1, 2]
    assert df_matches_recompute(3)
    # replay of the compaction batch itself: idempotent
    before = _state_rows(spark, state)
    merge([4], 2)
    assert _state_rows(spark, state) == before
    # the NEXT merge observes the marker and drops superseded parts
    merge([1, 3], 3)
    assert dfreq_partitions() == [2, 3]
    assert df_matches_recompute(4)
    got = {
        tuple(r)
        for r in pp.read_ppjoin_pairs(spark, state).collect()
    }
    assert got == _batch_answer(spark, str(fixture))


def test_streaming_ppjoin_incremental_df_equals_full_recompute(
    spark, tmp_path
):
    """The maintained (sh, df) table — latest-wins per shingle — must
    equal the round-13 full recompute ``all_post.groupBy(sh).count()``
    after every batch, so prefix ranking is byte-identical."""
    from pyspark.sql import functions as F

    from flink_streaming_example_spark.sources.tables import load_table
    from flink_streaming_example_spark.streaming import ppjoin as pp

    fixture = tmp_path / "fx"
    fixture.mkdir()
    _write_documents(_crafted_texts(), str(fixture))
    state = str(tmp_path / "state")
    docs = load_table(spark, str(fixture), "documents").select(
        "doc_id", "text"
    )
    for bid, ids in enumerate([[0, 2], [4], [1, 3]]):
        pp.ppjoin_merge_batch(
            docs.filter(docs.doc_id.isin(ids)), state, bid
        )
        post = pp._read_state(
            spark, state, pp._POSTINGS, bid + 1
        )
        want = sorted(
            map(
                tuple,
                post.groupBy("sh")
                .agg(F.count(F.lit(1)).alias("df"))
                .collect(),
            )
        )
        stored = pp._read_state(
            spark, state, pp._DFREQ, bid + 1, keep_batch=True
        )
        got = sorted(
            map(
                tuple,
                stored.groupBy("sh")
                .agg(F.max_by("df", "batch").alias("df"))
                .collect(),
            )
        )
        assert got == want, f"df drifted from full recompute at batch {bid}"


def _write_doc_rows(spark, rows, out_dir):
    """documents.parquet fixture with EXPLICIT doc_ids (the shared
    _write_documents assigns sequential ids; bucket tests need to pick
    ids whose hash buckets differ)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    ids = [r[0] for r in rows]
    texts = [r[1] for r in rows]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * len(ids), pa.string()),
                "source": pa.array(["fx"] * len(ids), pa.string()),
                "n_chars": pa.array(
                    [len(t) for t in texts], pa.int64()
                ),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )


def test_streaming_ppjoin_probe_reads_prune_to_touched_buckets(
    spark, tmp_path
):
    """Round-15 scale gate (VERDICT r14 item 1): the per-batch probe
    must touch ONLY the state buckets of the batch's own join keys —
    proven end-to-end with poison files: a garbage .parquet planted in
    an UNTOUCHED bucket partition must never be opened (merge
    succeeds), while the same garbage in a TOUCHED bucket must fail
    the merge (positive control — the gate isn't vacuous)."""
    import os

    import pytest

    from flink_streaming_example_spark.sources.tables import load_table
    from flink_streaming_example_spark.streaming import ppjoin as pp

    fixture = tmp_path / "fx"
    # batch 0: one long doc (48 trigrams — covers ~all 8 sh buckets)
    # plus a second doc so >1 doc bucket exists; batch 1: a 3-word doc
    # sharing exactly ONE trigram with doc 100 -> touches 1 sh bucket.
    long_words = " ".join(f"a{i:02d}" for i in range(50))
    rows = [
        (100, long_words),
        (101, " ".join(f"b{i:02d}" for i in range(20))),
        (200, "a00 a01 a02"),  # batch 1: 1 shingle, contained in 100
        (300, "a00 a01 a02"),  # batch 2: same shingle (positive ctl)
    ]
    _write_doc_rows(spark, rows, str(fixture))
    docs = load_table(spark, str(fixture), "documents").select(
        "doc_id", "text"
    )
    state = str(tmp_path / "state")
    pp.ppjoin_merge_batch(docs.filter(docs.doc_id.isin([100, 101])), state, 0)
    post0 = os.path.join(state, pp._POSTINGS, "batch=0")
    buckets0 = {
        int(e.split("=", 1)[1])
        for e in os.listdir(post0)
        if e.startswith("bucket=")
    }
    assert len(buckets0) >= 3, "fixture must spread shingles over buckets"
    # batch 1 merges clean with garbage planted in every bucket EXCEPT
    # the one its single shingle hashes to — we don't know that bucket
    # a priori, so run the merge, read which bucket batch 1 wrote,
    # then verify untouched-bucket poison is inert on a FRESH state.
    pp.ppjoin_merge_batch(docs.filter(docs.doc_id == 200), state, 1)
    post1 = os.path.join(state, pp._POSTINGS, "batch=1")
    touched = {
        int(e.split("=", 1)[1])
        for e in os.listdir(post1)
        if e.startswith("bucket=")
    }
    assert len(touched) == 1, "3-word doc must hash to one sh bucket"
    (touched_bucket,) = touched
    untouched = sorted(buckets0 - touched)
    assert untouched, "need an untouched-but-present bucket to poison"
    # ---- negative: poison untouched buckets on a fresh state replay
    state2 = str(tmp_path / "state2")
    pp.ppjoin_merge_batch(
        docs.filter(docs.doc_id.isin([100, 101])), state2, 0
    )
    for b in untouched:
        d = os.path.join(state2, pp._POSTINGS, "batch=0", f"bucket={b}")
        assert os.path.isdir(d)
        with open(os.path.join(d, "part-poison.parquet"), "wb") as fh:
            fh.write(b"this is not a parquet file")
    # docs-table poison: the candidate (200, 100) touches only those
    # two ids' doc buckets — poison every OTHER existing doc bucket.
    cand_doc_buckets = {
        spark.sql(
            f"SELECT CAST(pmod(xxhash64(CAST({i} AS BIGINT)), "
            f"{pp._N_DOC_BUCKETS}) AS INT)"
        ).collect()[0][0]
        for i in (100, 200)
    }
    docs0 = os.path.join(state2, pp._DOCS, "batch=0")
    for e in os.listdir(docs0):
        if not e.startswith("bucket="):
            continue
        if int(e.split("=", 1)[1]) not in cand_doc_buckets:
            with open(
                os.path.join(docs0, e, "part-poison.parquet"), "wb"
            ) as fh:
                fh.write(b"junk")
    pp.ppjoin_merge_batch(docs.filter(docs.doc_id == 200), state2, 1)
    got = {
        tuple(r) for r in pp.read_ppjoin_pairs(spark, state2).collect()
    }
    assert (200, 100, 1000) in got, "the cross-batch pair must emit"
    # ---- positive control: poison the TOUCHED bucket -> merge fails
    d = os.path.join(
        state2, pp._POSTINGS, "batch=0", f"bucket={touched_bucket}"
    )
    assert os.path.isdir(d), "long doc must populate the probed bucket"
    with open(os.path.join(d, "part-poison.parquet"), "wb") as fh:
        fh.write(b"this is not a parquet file")
    with pytest.raises(Exception):
        pp.ppjoin_merge_batch(docs.filter(docs.doc_id == 300), state2, 2)


def test_streaming_ppjoin_facts_compaction_geometric(
    spark, tmp_path, monkeypatch
):
    """Round-15 (VERDICT r14 item 6): postings/prefixes/docs partition
    growth is bounded by GEOMETRIC compaction — a _COMPACT_EVERY
    multiple rewrites the full live fact view only once the postings
    ledger has doubled since the last full view (amortized O(1) per
    row), the watermark flips atomically with the commit, a later
    merge deletes superseded partitions, and the compactor's own
    replay (pre- AND post-commit) is idempotent.  All commit metadata
    stays ONE manifest file regardless of batch count (ADVICE r14:
    no marker dirs, no O(batches) listdir)."""
    import os

    from flink_streaming_example_spark.sources.tables import load_table
    from flink_streaming_example_spark.streaming import ppjoin as pp

    monkeypatch.setattr(pp, "_COMPACT_EVERY", 2)
    fixture = tmp_path / "fx"
    fixture.mkdir()
    _write_documents(_crafted_texts(), str(fixture))
    state = str(tmp_path / "state")
    docs = load_table(spark, str(fixture), "documents").select(
        "doc_id", "text"
    )

    def merge(ids, bid):
        pp.ppjoin_merge_batch(docs.filter(docs.doc_id.isin(ids)), state, bid)

    def partitions(table):
        t = os.path.join(state, table)
        return sorted(
            int(e.split("=", 1)[1])
            for e in os.listdir(t)
            if e.startswith("batch=")
        )

    # batch sizes: 0 -> big (doc 0: 12 shingles), then tiny batches so
    # the ledger does NOT double by batch 4.
    merge([0], 0)
    merge([2], 1)
    merge([4], 2)  # K-multiple, rows_at_compact==0 -> facts full view
    m = pp._read_meta(state)
    assert m["facts_latest"] == 2 and m["dfreq_latest"] == 2
    assert m["rows_at_compact"] == m["rows"] > 0
    # deletion deferred: batch 2 could still replay
    assert partitions(pp._POSTINGS) == [0, 1, 2]
    # ---- post-commit replay of the facts compactor must rewrite the
    # SAME full view (the replay-deterministic trigger), not new-only
    before = _state_rows(spark, state)
    merge([4], 2)
    assert _state_rows(spark, state) == before
    assert pp._read_meta(state) == m, "replay must not advance the ledger"
    # ---- a later merge observes the watermark and drops superseded
    merge([3], 3)
    assert partitions(pp._POSTINGS) == [2, 3]
    assert partitions(pp._DOCS) == [2, 3]
    assert partitions(pp._PREFIXES) == [2, 3]
    # batch 4 is a K-multiple but the ledger has NOT doubled (batches
    # 3-4 are tiny): dfreq compacts, facts do not.
    merge([1], 4)
    m = pp._read_meta(state)
    assert m["dfreq_latest"] == 4 and m["facts_latest"] == 2
    merge([], 5)
    assert partitions(pp._DFREQ) == [4, 5]
    assert partitions(pp._POSTINGS) == [2, 3, 4, 5]
    # ---- metadata is ONE file, whatever the batch count
    entries = sorted(os.listdir(state))
    assert entries == sorted(
        [pp._META, pp._DOCS, pp._POSTINGS, pp._PREFIXES, pp._DFREQ,
         pp._PAIRS]
    ), entries
    # ---- and the answer still equals the batch key
    got = {
        tuple(r) for r in pp.read_ppjoin_pairs(spark, state).collect()
    }
    assert got == _batch_answer(spark, str(fixture))


def test_streaming_ppjoin_real_multibatch_stream_matches_batch(
    spark, tmp_path
):
    """The production shape end-to-end: the sf0.001 corpus (500 docs)
    drains through the REAL streaming machinery in MULTIPLE
    micro-batches (3 source files, maxFilesPerTrigger=1, batch ids
    assigned by the checkpoint) — unlike the registered key's
    single-file replay, this exercises the incremental df fold, the
    stored-prefix candidate leg, and the per-batch partition writes
    under genuine foreachBatch sequencing.  Result must equal the
    batch key on the same corpus."""
    import os

    from tests.conftest import SF_SMOKE_DIR
    from flink_streaming_example_spark.sources.tables import (
        SCHEMAS,
        load_table,
    )
    from flink_streaming_example_spark.streaming import ppjoin as pp

    docs = load_table(spark, SF_SMOKE_DIR, "documents")
    src = str(tmp_path / "stream_src")
    docs.repartition(3).write.parquet(src)
    n_files = sum(
        1 for e in os.listdir(src) if e.endswith(".parquet")
    )
    assert n_files >= 3
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema(SCHEMAS["documents"])
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .select("doc_id", "text")
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda b, bid: pp.ppjoin_merge_batch(b, state, bid)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert pp._max_committed(state) >= 2, (
        "expected >= 3 real micro-batches (one per source file)"
    )
    got = {
        tuple(r) for r in pp.read_ppjoin_pairs(spark, state).collect()
    }
    want = _batch_answer(spark, SF_SMOKE_DIR)
    assert got == want


def test_streaming_ppjoin_registered_with_batch_oracle():
    spec = _SPECS["q_streaming_ppjoin"]
    assert spec.oracle == _SPECS["q_containment_ppjoin"].oracle
    assert "streaming" in spec.tags
