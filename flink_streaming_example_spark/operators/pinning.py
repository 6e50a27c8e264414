"""Checkpoint lifetime: the one owner of every eager localCheckpoint.

A DataFrame referenced k times re-executes its whole subtree k times
at the parquet scan (exchange reuse is an optimization, not a
guarantee — SURVEY.md §14.1), and an iterative loop's plan nests one
more round per iteration; both cut lineage with an EAGER
``localCheckpoint``.  Every such checkpoint in the package is made by
``pin`` here — no other module calls ``localCheckpoint`` or frees a
checkpoint's blocks — so when blocks are freed is decided in one
place.  Two contracts:

1. **Superseded release, per slot.**  ``pin(df, slot)`` materializes
   the new checkpoint FIRST, then releases the SAME slot's previous
   one, bounding accumulation at one live frame per slot.  That order
   lets a loop pin its state into one slot round after round: ``df``
   may derive from the slot's previous checkpoint, which is read
   while the new one is built and only then freed.  Slots are named
   ``<key or kernel>:<role>``.  The one-live-result contract is PER
   SLOT (round-11 ADVICE: ``global_rank``'s single process-global
   holder meant two live ranked frames could never coexist): callers
   that need two results alive at once pass distinct slot names.
   Corollary: the frame returned by a previous ``pin`` call on the
   same slot is DEAD after the next call — materialize
   (collect/write) before re-invoking.  ``release_all`` frees every
   slot; the bench harnesses call it between keys.

2. **Scan-audit hook** (round-11 ADVICE item 4): a checkpoint
   truncates lineage, so a pinned key's final plan shows only
   ``Scan ExistingRDD`` and the fact-scan RATCHET
   (tests/test_plans.py::test_fact_scan_ratchet) was structurally
   blind to the checkpoint-building job's parquet scans — the very
   defect class the pins fixed could regress invisibly.  When the
   ratchet sets ``_AUDIT_PRE_PIN`` to a list, ``pin`` (and
   ``audit_frame``, for eagerly collected build-time frames) records
   the UNPINNED frame so the ratchet can count scans in the pre-pin
   subtree too; those counts live in tests/scan_baseline.json under
   ``pin:<table>`` entries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# slot name -> the slot's live checkpoint (released when superseded).
_SLOTS: dict[str, DataFrame] = {}

# Test hook: when a list, every pin()/audit_frame() call appends the
# pre-checkpoint frame for plan-level scan counting.  Never set in
# production code paths.
_AUDIT_PRE_PIN: list[DataFrame] | None = None

# Boundedness registry for the forced-broadcast plan gate (round 13).
# A localCheckpoint truncates lineage, so a pinned frame shows up in
# downstream plans as a bare LogicalRDD — structurally unprovable as
# bounded or unbounded.  Round 12's gate exempted ALL LogicalRDD legs
# ("every current use is a band/bucket table"), and that round's own
# new key falsified the comment: q_containment_ppjoin pins the
# corpus-sized shingle frame.  The exemption is gone; instead a pin
# slot may be DECLARED bounded here (slot -> why), and pin() records
# the checkpoint's RDD ids so the gate can look a LogicalRDD node up
# by rdd id.  An undeclared pin is UNBOUNDED for gate purposes — the
# safe default; a forced broadcast of it must carry its own
# _CONTRACT_BROADCAST_LEGS justification or lose the hint.
_BOUNDED_SLOTS: dict[str, str] = {
    "q_chi2_select:nl": (
        "per-language document counts: one row per lang value — the "
        "attribute domain, not the corpus"
    ),
}
# rdd id -> slot, for every checkpoint created from a declared-bounded
# slot.  RDD ids are unique per SparkContext (monotonic, never
# reused), so stale entries from superseded checkpoints cannot alias.
_BOUNDED_RDD_IDS: dict[int, str] = {}


def _release_checkpoint(df: DataFrame) -> None:
    """Free a superseded localCheckpoint's blocks deterministically.

    localCheckpoint persists an internal RDD OUTSIDE the SQL
    CacheManager, so spark.catalog.clearCache() cannot touch it and
    the blocks otherwise linger until both Python and JVM GC plus the
    ContextCleaner happen to run.  The LogicalRDD accessor is internal
    API — verified on PySpark 4.1; on any failure we fall back to that
    lazy GC path (correctness is unaffected either way)."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def _logical_rdd_ids(df: DataFrame) -> set[int]:
    """RDD ids of every LogicalRDD node in ``df``'s analyzed plan."""
    ids: set[int] = set()
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        n = stack.pop()
        if n.getClass().getSimpleName() == "LogicalRDD":
            ids.add(n.rdd().id())
        ch = n.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return ids


def rdd_is_bounded(rdd_id: int) -> bool:
    """True iff ``rdd_id`` belongs to a checkpoint pinned under a slot
    declared bounded in ``_BOUNDED_SLOTS``."""
    return rdd_id in _BOUNDED_RDD_IDS


def audit_frame(df: DataFrame) -> DataFrame:
    """Record ``df`` for the scan audit without pinning it — for
    bounded build-time materializations (a ``.collect()`` of a
    constant-size frame) that, like checkpoints, run a job whose scans
    never appear in the returned plan."""
    if _AUDIT_PRE_PIN is not None:
        _AUDIT_PRE_PIN.append(df)
    return df


def pin(df: DataFrame, slot: str) -> DataFrame:
    """Eagerly localCheckpoint ``df``, then release ``slot``'s previous
    checkpoint (superseded-release; see module docstring for the
    per-slot one-live-result contract)."""
    if _AUDIT_PRE_PIN is not None:
        _AUDIT_PRE_PIN.append(df)
    ck = df.localCheckpoint(eager=True)
    prev = _SLOTS.pop(slot, None)
    if prev is not None:
        _release_checkpoint(prev)
    _SLOTS[slot] = ck
    if slot in _BOUNDED_SLOTS:
        for rid in _logical_rdd_ids(ck):
            _BOUNDED_RDD_IDS[rid] = slot
    return ck


def release_all() -> None:
    """Release every live pin slot.

    The bench harness calls this between keys (round 12): a 261-key x
    3-rep sweep otherwise carries every pinned key's localCheckpoint
    blocks simultaneously — storage that crowds execution memory in
    the single local-mode JVM and shows up as cross-sweep timing
    inflation.  Queries never call this themselves; within a key the
    per-slot superseded-release contract applies."""
    while _SLOTS:
        _slot, ck = _SLOTS.popitem()
        _release_checkpoint(ck)
