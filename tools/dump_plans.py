"""Dump formatted physical plans.  Run from the repo root:

    python tools/dump_plans.py                          # PLANS.md at sf0.001
    python tools/dump_plans.py OUT_DIR before q_a,q_b[,...]
    python tools/dump_plans.py OUT_DIR after  q_a,q_b[,...]

With no arguments it regenerates PLANS.md: formatted physical plans for
representative queries, annotated with what each plan is supposed to
exhibit (the properties tests/test_plans.py asserts).

With OUT_DIR SUFFIX KEYS each key's plan goes to OUT_DIR/<key>_<suffix>.txt.
Batch keys: the returned DataFrame's formatted plan.  Streaming keys
(the frame comes back from a memory sink): the captured incremental
plan of the final micro-batch (streaming/queries._CAPTURE_STREAMING_PLANS),
falling back to the memory-table plan.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from flink_streaming_example_spark.plans.registry import all_specs
from flink_streaming_example_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

# (key, what the plan should exhibit)
SHOWCASE: tuple[tuple[str, str], ...] = (
    (
        "q_groupby_report",
        "Filter and 7-column projection pushed into the parquet scan "
        "(`PushedFilters`, `ReadSchema`); partial+final `HashAggregate` "
        "(map-side combine), whole plan inside `WholeStageCodegen`.",
    ),
    (
        "q_project",
        "Column pruning: the scan's `ReadSchema` lists exactly the 5 "
        "projected columns of lineitem's 11.",
    ),
    (
        "q_star_join",
        "Star schema: every dimension (region/nation/customer) joins as "
        "`BroadcastHashJoin` — only the lineitem⋈orders fact-fact edge "
        "may shuffle (bucketing removes even that; tests/test_bucketing.py).",
    ),
    (
        "q_keyed_agg_salted",
        "Skew pattern: two `HashAggregate` pairs — partial per (key, salt) "
        "then merge per key — splitting a hot key across 16 reducers.",
    ),
    (
        "q_tumbling_window",
        "Event-time tumbling window as a plain aggregate over the window "
        "expression: partial+final `HashAggregate`, no extra shuffle.",
    ),
    (
        "q_knn_ivf",
        "ANN bucketing: candidate scoring joins on the bucket id "
        "(`BroadcastHashJoin` on the tiny query side), never all-pairs; "
        "the cosine fold is JVM expressions, no Python stage.",
    ),
    (
        "q_dedup_near",
        "MinHash LSH: candidate generation is an equi-join on (band, "
        "signature) — no `CartesianProduct` anywhere; Python-free.  "
        "Since r13 the candidate-docs semi-join carries NO broadcast "
        "hint: the `BroadcastHashJoin` you see is stats-chosen (AQE), "
        "so the same plan degrades to sort-merge when the candidate "
        "set outgrows a broadcast at scale.",
    ),
    (
        "q_containment_ppjoin",
        "PPJoin prefix filter: the shingle frame is checkpoint-pinned "
        "(`Scan ExistingRDD`), the posting join equi-shuffles on the "
        "shingle hash, and the verify joins on the candidate-pair "
        "frame are hint-free (stats-adaptive) since r13 — candidate "
        "volume is corpus-linear, so forcing a broadcast there was "
        "the package's last named scale defect.",
    ),
    (
        "q_dedup_exact",
        "Exact dedup: one window over the normalized-text partition key; "
        "filter on row_number — a single shuffle by content key.",
    ),
    (
        "q_bm25",
        "BM25 (r13 pin): ONE pinned documents scan (was 4) — the token "
        "frame is checkpoint-materialized once (`Scan ExistingRDD`) and "
        "tf, df, and doc-length legs all fold off it; the per-corpus "
        "scalars ride a 1-row cross join, no re-scan per leg.",
    ),
    (
        "q_chi2_select",
        "Chi-squared term selection (r13 pin): the token frame pins "
        "once, the per-language doc counts pin as the first production "
        "`_BOUNDED_SLOTS` entry (domain-bounded broadcast, audited), "
        "and the contingency folds are partial+final `HashAggregate` "
        "off the single pinned scan (2 documents scans, was 4).",
    ),
    (
        "q_tpch_q5",
        "TPC-H Q5 snowflake: date filter pushed to the orders scan, "
        "nation/region as hinted `BroadcastHashJoin`; the scaling "
        "relations carry no hint so AQE broadcasts them at fixture "
        "scale and sort-merge-joins them at warehouse scale.",
    ),
    (
        "q_tpch_q18",
        "TPC-H Q18: lineitem aggregates FIRST (partial+final, fact-only "
        "shuffle); the tiny qualifying-key set is broadcast into "
        "orders/customer — no fact re-shuffle.",
    ),
    (
        "q_asof_join",
        "As-of join, joinless formulation: `Union` of both sides into "
        "one keyed timeline, then a single `Window` running carry "
        "(`last_value ignore nulls`) — ONE hash exchange on the key, no "
        "Join node, no per-key candidate-pair blowup on hot keys "
        "(gated by tests/test_plans.py::test_asof_family_is_joinless).",
    ),
    (
        "q_media_metadata",
        "Header-level media metadata: two chained Arrow `MapInPandas` "
        "stages (synthesize container bytes -> parse headers) — a "
        "narrow, shuffle-free pipeline; binary payloads never leave "
        "the executor.",
    ),
    (
        "q_gap_fill",
        "Time-series densify: the day spine is GENERATED "
        "(sequence+explode per key) — no stored calendar, no driver "
        "loop; forward fill is a running-frame window, single shuffle "
        "by user_id shared with the aggregate.",
    ),
    (
        "q_pack_sequences",
        "Sequence packing: one window cumsum per language shard then a "
        "partial+final aggregate — the whole packing decision is two "
        "shuffles by the same key, no sequential pass.",
    ),
    (
        "q_heavy_hitters",
        "Count-Min two-pass (r14 pin): the token frame is checkpoint-"
        "pinned ONCE (`Scan ExistingRDD`; documents read once, was 5), "
        "the sketch build's shuffle cardinality is the d*w cell grid "
        "(constant), the candidate probe and the verify semi-join are "
        "`BroadcastHashJoin`s — the only token-keyed aggregation runs "
        "over the sketch-filtered candidates, never the raw corpus.",
    ),
    (
        "q_zorder_layout",
        "Morton-code layout rule: the 16-bit interleave is one "
        "`WholeStageCodegen` span of integer shift/and arithmetic "
        "feeding a 16-group partial+final aggregate — no window, no "
        "global sort, no Python.",
    ),
    (
        "q_pagerank",
        "Unrolled iterative shape: the edge list materializes once "
        "(`Scan ExistingRDD` from localCheckpoint — the orders x "
        "lineitem distinct is NOT re-derived per round), each round is "
        "a `BroadcastHashJoin` against node-sized ranks plus one "
        "groupBy-dst shuffle; all arithmetic is exact 64-bit integer.",
    ),
    (
        "q_kcore",
        "Iterate-to-shrink shape (r8): each peel round reads the "
        "PREVIOUS round's localCheckpoint (`Scan ExistingRDD` — the "
        "three references per round would otherwise re-derive the "
        "edge build 3^R times), filters through two broadcast "
        "semi-joins on the node-sized survivor set, and the final "
        "degree report is one partial+final aggregate.",
    ),
    (
        "q_chunk_documents",
        "RAG chunker (r8): explode(sequence) + slice + array_join as "
        "one `WholeStageCodegen`-resident generate/project pipeline — "
        "ZERO exchanges in the whole plan; the chunker rides the scan.",
    ),
    (
        "q_pii_scrub",
        "Scrub pass (r8): three chained JVM regexp_replace/extract "
        "expressions inside the scan's project — every byte of the "
        "corpus is touched exactly once, no Python, and the only "
        "exchange is the final per-language aggregate.",
    ),
    (
        "q_ewma",
        "Exact time-series smoothing (r9): ONE window exchange keyed by "
        "user_id; the binary-decay weighted sum is a codegen'd "
        "higher-order fold (aggregate/zip_with/shiftleft) over the "
        "frame's collect_list — no Python, no second shuffle, and no "
        "division anywhere in the plan (num/den emitted separately).",
    ),
    (
        "q_anomaly_zscore",
        "3-sigma outlier counts (r9): an unbounded window and the "
        "per-key regroup share the SAME hashpartitioning(user_id) — the "
        "exchange is reused, so the whole operator is effectively one "
        "shuffle; all arithmetic is exact DECIMAL(38,0) inside codegen.",
    ),
    (
        "q_fuzzy_join",
        "Record linkage (r9): the catalog side replicates exactly 3x "
        "(length band) and BROADCASTs; levenshtein evaluates only "
        "INSIDE first-char x length blocks — no cartesian, no shuffle "
        "of the probe side beyond the final per-probe aggregate.",
    ),
    (
        "q_triangles",
        "Triangle counting (r9, r10): edge-intersection form — "
        "half-edges localCheckpointed once, oriented low-(deg,id) -> "
        "high-(deg,id) so adjacency lists stay ~sqrt(2|E|)-bounded "
        "under hubs (r10), sorted out-neighbor lists BROADCAST onto "
        "the edges, third corners via per-row JVM array_intersect "
        "(never materializing the 49M-row wedge set the self-join "
        "form shuffles; A/B 6.6 -> 3.4 s at sf0.1), endpoint explode "
        "+ count, then `TakeOrderedAndProject` top-k (r10: the "
        "emission is a bounded per-partition heap, not a "
        "single-partition sort of the node set).",
    ),
    (
        "q_range_frame_7d",
        "Time-RANGE framed aggregate (r10): the per-(user, day) "
        "rollup shuffles once and the RANGE BETWEEN 6 PRECEDING "
        "window runs inside the SAME hashpartitioning(user_id) — one "
        "exchange total, exact micro-int amounts, value-interval "
        "frame semantics a ROWS frame cannot express.",
    ),
    (
        "q_containment_dedup",
        "Sub-document containment dedup (r10): the shared "
        "banded-MinHash blocker (band-signature equi-join + 5/16 "
        "signature prefilter) feeds exact full-set containment over "
        "candidates ONLY — no all-pairs stage anywhere; the exact "
        "shingle sets are re-derived in place for candidate docs via "
        "a broadcast semi-join.",
    ),
    (
        "q_bucketed_join",
        "Bucketed co-located fact⋈fact join (r9 continuation): both "
        "scans `Bucketed: true` (8/8 buckets selected) feeding "
        "`SortMergeJoin` with NO exchange on either side — the only "
        "Exchange in the plan is the final per-priority aggregate "
        "(asserted by tests/test_scale_joins.py).  The layout, not a "
        "broadcast, eliminates the shuffle.",
    ),
    (
        "q_bloom_prefilter",
        "Runtime-row-filter pattern made explicit (r9 continuation): "
        "the dimension's keys hashed into a 4096-bit Bloom set "
        "aggregated to ONE array row, broadcast (BroadcastNestedLoop "
        "of a scalar side, the repo's seed-broadcast idiom), probed "
        "with three in-scan array_contains before the exact broadcast "
        "semi join — fact rows that cannot join die before any "
        "shuffle; no false negatives, so bit-equal to the semi join.",
    ),
    (
        "q_collocations",
        "Exact integer PMI-lift collocations (r9 continuation, r11 "
        "emission fix): tail-zip bigram build (one hash aggregate), "
        "vocabulary-sized unigram table BROADCAST into both legs, "
        "corpus totals on one broadcast scalar row, DECIMAL(38,0) lift "
        "arithmetic fully JVM-side; both aggregates checkpoint-pinned "
        "(documents read twice, not five times — r11 scan audit); the "
        "top-30 over the vocab^2-worst-case pair set emits via "
        "`TakeOrderedAndProject` (per-partition bounded heaps), with "
        "the rn window over only the 30 survivors.",
    ),
    (
        "q_pareto",
        "Distributed global running sum (r9 third block; r14 pin): the "
        "classic single-partition-window trap decomposed — partitioned "
        "window WITHIN revenue bands (band = rev_cents >> 20, monotone "
        "in revenue), band totals prefix-summed on a band-count-sized "
        "side, exclusive offsets BROADCAST back, grand total on one "
        "broadcast scalar row.  The only unpartitioned Window in the "
        "plan runs over the tiny band table.  Since r14 the customer-"
        "sized revenue rollup is checkpoint-pinned (orders read once, "
        "was 3): every leg hangs off `Scan ExistingRDD`.",
    ),
    (
        "q_merge_into",
        "MERGE INTO as one FULL OUTER SortMergeJoin (r9 third block): "
        "target and change set each shuffle ONCE on the merge key; all "
        "four WHEN branches (update/delete/insert/keep) resolve in the "
        "post-join projection — no second pass over either side.",
    ),
    (
        "q_rolling_active_users",
        "Rolling COUNT(DISTINCT) without a window (r9 third block): "
        "day-stamp explode (Generate of a 7-element sequence) over the "
        "deduped (user, day) pairs, trimmed against a broadcast scalar "
        "max-day, then plain partial+final distinct aggregates — no "
        "Window operator anywhere in the plan.",
    ),
    (
        "q_max_concurrency",
        "Interval stabbing (r9 fifth block, r11 single-scan): session_"
        "window aggregate -> +1/-1 boundaries exploded off ONE sess "
        "reference -> banded prefix sum (Window partitioned by time band "
        "+ `BroadcastExchange` of the band offsets); the windowed "
        "boundary frame is checkpoint-pinned (Scan ExistingRDD below) so "
        "the band rollup and argmax re-references never re-derive the "
        "events scan; peak and argmax are scalar aggregates broadcast "
        "back — no data-scale single-partition Window, no collect.",
    ),
    (
        "q_cusum",
        "Page-test CUSUM (r9 fifth block): ONE Exchange on user_id feeds "
        "row_number, prefix SUM and running MIN frames plus the final "
        "regroup — four keyed operators, one shuffle, zero Python.",
    ),
    (
        "q_rfm_segments",
        "Three banded global rankings (r9 fifth block, r11 single-scan): "
        "the customer aggregate is checkpoint-pinned (Scan ExistingRDD), "
        "so the chained _banded_rank passes — each referencing its input "
        "twice — shuffle only customer-sized rows instead of re-deriving "
        "orders 2^3+1 times; each metric ranks inside value bands then "
        "adds broadcast exclusive band offsets — the only unpartitioned "
        "Window runs over the band table (value-range-sized), never the "
        "customers.",
    ),
    (
        "q_dpp_join",
        "Dynamic partition pruning (r9 fifth block): the fact scan's "
        "PartitionFilters carry `dynamicpruningexpression(event_type IN "
        "subquery#N)` fed by the aggregate-gated dim — runtime directory "
        "skipping where no static predicate exists; the dim itself is a "
        "`BroadcastExchange` the subquery reuses.",
    ),
    (
        "q_bpe_tokenize",
        "Fixed-vocab BPE as codegen (r9 fifth block): the whole merge "
        "program is nested string expressions inside one "
        "`WholeStageCodegen` span over the scan — a tokenizer with zero "
        "Python stages and zero shuffles before the final aggregate.",
    ),
    (
        "q_label_propagation",
        "Synchronous LPA (r10): three unrolled voting rounds, each ONE "
        "edge⋈label join plus a (node,label) partial+final "
        "`HashAggregate` and a `max_by` argmax as partial+final "
        "`SortAggregate` pairs — map-side partials shrink every round's "
        "shuffle, and there is no per-node `Window` rank anywhere; the "
        "edge list is a checkpointed scan reused by all rounds.",
    ),
    (
        "q_ann_recall",
        "Index-QA audit (r10, r12 fan-out fix): both top-k probes are "
        "`WindowGroupLimit`-pruned to k rows per query, the recall joins "
        "carry explicit broadcast hints (`BroadcastHashJoin` LeftSemi + "
        "LeftOuter), and each probe frame is referenced exactly ONCE by "
        "the left-join census — the embeddings scan count is the two "
        "probes' own documented budgets (cosine 2 + IVF 4), audited in "
        "tests/scan_baseline_notes.md, down from 8 before r12.",
    ),
    (
        "q_knn_lsh",
        "Random-hyperplane LSH probe (r12 rewrite): the 4 hyperplanes "
        "come from one bounded 8-row collect and are embedded as "
        "LITERALS, so each row's signature is a pure projection — no "
        "signature groupBy, no corpus self-join; the corpus is scanned "
        "once for the bucket join plus one row-group-pruned query leg.",
    ),
    (
        "q_ks_test",
        "Two-sample Kolmogorov-Smirnov (r12 single-pass): both group "
        "CDFs fold from ONE checkpoint-pinned banded conditional "
        "aggregate (sum(when(group=a,1)) / sum(when(group=b,1)) per "
        "score band) — events scanned once at pin time (was 6 "
        "per-group re-scans), the sup-gap argmax a broadcast scalar.",
    ),
    (
        "q_sort",
        "Scale-safe global-rank witness (r11): the production range "
        "exchange (`Sort` over `Exchange rangepartitioning`) pinned by a "
        "localCheckpoint scan, a partition-count-sized count collect, "
        "then the rank as a `Window` PARTITIONED by spark_partition_id "
        "plus a `BroadcastHashJoin` of the cumulative offsets — no "
        "single-partition stage anywhere (the old encoding's "
        "unpartitioned row_number is gone; package-wide plan gate).",
    ),
    (
        "q_sketch_error_bounds",
        "Sketch-tier audit (r11): HLL and GK estimates computed next to "
        "their exact counterparts in partial+final `HashAggregate`/"
        "`SortAggregate` pairs; the GK rank check re-scans orders ONCE "
        "against the broadcast 1-row sketch output (BroadcastNestedLoop "
        "of a scalar side, the repo's seed-broadcast idiom).",
    ),
    (
        "q_kafka_frame_roundtrip",
        "Kafka writer projection round-trip (r11, r12 partitioner): "
        "to_json/binary casts, header struct array, Kafka's REAL "
        "murmur2 DefaultPartitioner (32-bit unsigned arithmetic "
        "emulated in BIGINT) and from_json decode are ALL JVM "
        "expressions in one `Project` inside `WholeStageCodegen` — a "
        "single scan, one partial+final aggregate pair, no Python "
        "stage and no shuffle beyond the final groupBy.",
    ),
)


def dump_showcase() -> None:
    spark = get_spark("plan-dump")
    specs = all_specs()
    out = io.StringIO()
    out.write(
        "# PLANS — physical plans of representative queries\n\n"
        f"Generated by `python tools/dump_plans.py` at {SF_DIR} "
        "(plans are scale-independent: the same strategies hold at any "
        "sf; AQE may further coalesce partitions at runtime).  The "
        "properties called out below are asserted for every key in "
        "tests/test_plans.py.\n"
    )
    for key, blurb in SHOWCASE:
        df = specs[key].fn(spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out.write(f"\n## {key}\n\n{blurb}\n\n```\n{buf.getvalue()}```\n")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write(out.getvalue())
    print(f"wrote PLANS.md ({len(SHOWCASE)} plans)")


def dump_keys(out: str, suffix: str, keys: list[str]) -> None:
    from flink_streaming_example_spark.operators import pinning
    from flink_streaming_example_spark.streaming import queries as sq

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "16g")
    os.makedirs(out, exist_ok=True)
    spark = get_spark("plan-dump")
    specs = all_specs()
    for key in keys:
        sq._CAPTURE_STREAMING_PLANS = True
        sq._captured_streaming.clear()
        try:
            df = specs[key].fn(spark, SF_DIR)
            if sq._captured_streaming:
                text = "\n\n".join(p for p, _ in sq._captured_streaming)
            else:
                text = df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
                )
        except Exception as ex:  # noqa: BLE001
            text = f"PLAN CAPTURE FAILED: {ex!r}"
        finally:
            sq._CAPTURE_STREAMING_PLANS = False
            spark.catalog.clearCache()
            pinning.release_all()
        path = os.path.join(out, f"{key}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {key} ({suffix}) sf={SF_DIR}\n\n{text}\n")
        print("WROTE", path, flush=True)


def main() -> None:
    if len(sys.argv) == 1:
        dump_showcase()
    elif len(sys.argv) == 4:
        dump_keys(sys.argv[1], sys.argv[2], sys.argv[3].split(","))
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main()
