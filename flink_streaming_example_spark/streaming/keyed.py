"""Keyed state on key groups: the one harness behind every per-user
streaming kernel (Flink's KeyedProcessFunction + ValueState, run as
Structured Streaming's applyInPandasWithState).

KEY GROUPS.  A per-user kernel is semantically one state machine per
user_id, but calling the Python kernel once per user pays the fixed
applyInPandasWithState cost (Arrow slice -> pandas frame, kernel call,
output frame, state row round-trip) per user for microseconds of real
work.  Flink never runs keyed state one key at a time either: keys hash
into a fixed number of key groups (maxParallelism, default 128) whose
state lives and moves together.  The harness does the same —
groupBy(pmod(xxhash64(user_id), 128)) — so the kernel runs at most
_N_KEY_GROUPS times per micro-batch however many users there are.  The
constant bounds state-rebalance granularity, not correctness; at
production scale it is raised the way maxParallelism is.

STATE.  Each group's state is ONE row.  A per-user fold's state is kept
as per-user parallel arrays in that row: ``users`` (sorted) plus one
array per state field, and a ``timers`` array when the kernel uses
timers.  Users absent from a batch are carried over unchanged.  A
vectorized group step (the as-of family) declares its own group-row
arrays.

PER CALL the harness concatenates ALL Arrow chunks of the group before
anything else (with small Arrow batches one group's rows arrive in many
chunks, and a chunk-by-chunk sort would be arbitrary across chunk
boundaries), decodes the columns (timestamps to epoch-µs int64,
integral columns exact as int64 — a nullable one is shipped JVM-side as
value plus an explicit null bit, never through float64), lexsorts once
by (user_id, *order), hands each user's segment to the fold (or the
whole sorted group to a step), writes the group's state row back,
frames the output and sets the group's event-time timer.

ORDERING CONTRACT (every order-dependent kernel).  Within a micro-batch
the harness sorts each user's rows by the kernel's order columns.
ACROSS micro-batches a user's rows must arrive in that order: a keyed,
time-ordered source (a Kafka topic partitioned by user with
time-ordered production, or the time-ordered file replays here)
provides it; tests/test_multibatch.py proves the composition on
time-split shard replays.

TIMERS.  A timed fold returns a per-user timer (epoch ms, or None for
none) every time it runs, which is Spark's contract: a key's timer is
reset on every call that does not set it again.  The group's Spark
timer is the minimum armed user timer.  A user whose timer is below the
watermark fires — ``on_timer`` emits its rows and its state is dropped
— in the first batch in which it has no data: on the group's timeout
call when the whole group is idle, or during the group's data call when
other users in the group have data.  That is exactly when Spark's
per-key EventTimeTimeout would fire it.

TRADE-OFF.  A group's state row is rewritten whenever the group gets
data, so each batch writes the state of EVERY user in the touched
groups, not just the users in the batch: state I/O per batch grows with
the total number of users, not with the batch.
"""

from __future__ import annotations

from typing import Any, Callable, NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

_N_KEY_GROUPS = 128
_KG = "kg"
_NULLS = "_nulls"


class Kernel(NamedTuple):
    """What a kernel hands the harness.

    ``run(cols, carried, wm) -> (new_state, out, timer_ms)``: ``cols``
    maps every input column to its numpy array, sorted by (user_id,
    *order) (a column holding nulls is a masked array); ``carried`` is
    the group's state row as a tuple of lists, or None; ``wm`` is the
    event-time watermark in ms (None without timers).  ``new_state``
    is a tuple of arrays/lists (None drops the row), ``out`` a dict of
    output columns or a list of output row tuples, ``timer_ms`` the
    group's next timer or None.  ``expire(carried, wm)`` answers a
    group timeout with the same triple."""

    state: str
    run: Callable[[dict, Any, Any], tuple]
    expire: Callable[[Any, Any], tuple] | None = None


def keyed_state(
    df: DataFrame,
    kernel: Kernel,
    *,
    output: str,
    order: tuple[str, ...] = (),
    mode: str = "append",
    event_time: str | None = None,
) -> DataFrame:
    """Run ``kernel`` per key group over a streaming frame keyed by
    ``user_id``.  ``order`` names the columns each user's rows are
    sorted by after user_id; a leading ``-`` sorts that (numeric)
    column descending.  ``event_time`` names the timestamp column to
    watermark (0 s delay) and enables event-time timers; ``output`` is
    the output schema DDL and ``mode`` the output mode."""
    import numpy as np
    from pyspark.sql.types import _parse_datatype_string
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    timed = event_time is not None
    if timed:
        df = df.withWatermark(event_time, "0 seconds")
    nullable = [
        f.name
        for f in df.schema.fields
        if f.nullable
        and isinstance(f.dataType, IntegralType)
        and f.name != "user_id"
    ]
    if nullable:
        bits = F.lit(0).cast("long")
        for i, c in enumerate(nullable):
            bits = bits + F.when(F.col(c).isNull(), F.lit(1 << i)).otherwise(0)
        df = df.select(
            *[
                F.coalesce(F.col(c), F.lit(0)).alias(c) if c in nullable else c
                for c in df.columns
            ],
            bits.alias(_NULLS),
        )
    out_fields = _parse_datatype_string(output).fields

    def apply(key, pdfs, state: GroupState):
        carried = tuple(state.get) if state.exists else None
        wm = state.getCurrentWatermarkMs() if timed else None
        if state.hasTimedOut:
            new_state, out, timer = kernel.expire(carried, wm)
        else:
            cols = _decode(pdfs, nullable)
            u = cols["user_id"]
            keys = [
                -cols[c[1:]] if c.startswith("-") else cols[c]
                for c in reversed(order)
            ]
            srt = np.lexsort([np.ma.getdata(k) for k in keys] + [u])
            cols = {c: a[srt] for c, a in cols.items()}
            new_state, out, timer = kernel.run(cols, carried, wm)
        if new_state is None:
            if state.exists:
                state.remove()
        else:
            state.update(
                tuple(
                    a.tolist() if isinstance(a, np.ndarray) else list(a)
                    for a in new_state
                )
            )
        if timer is not None:
            state.setTimeoutTimestamp(timer)
        yield _frame(out, out_fields)

    return (
        df.withColumn(_KG, F.pmod(F.xxhash64("user_id"), F.lit(_N_KEY_GROUPS)))
        # a materialized column, not a groupBy expression:
        # FlatMapGroupsInPandasWithState resolves its grouping
        # attributes against the child's output
        .groupBy(_KG)
        .applyInPandasWithState(
            apply,
            outputStructType=output,
            stateStructType=kernel.state,
            outputMode=mode,
            timeoutConf=(
                GroupStateTimeout.EventTimeTimeout
                if timed
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


def per_user(
    fold: Callable,
    state: str,
    on_timer: Callable[[int, tuple], list] | None = None,
) -> Kernel:
    """A Kernel from a per-user fold.

    ``fold(user_id, prev, rows) -> (new_state, out_rows)``: ``prev`` is
    the user's state tuple (fields of the ``state`` DDL) or None,
    ``rows`` maps each input column to the list of the user's values in
    order (None for a null), ``new_state`` is a tuple or None to drop
    the user, ``out_rows`` a list of output tuples.  With ``on_timer``
    the kernel is timed: the fold takes the watermark as a fourth
    argument and returns a third value, the user's timer in epoch ms or
    None; ``on_timer(user_id, state) -> out_rows`` runs when that timer
    fires, after which the user's state is dropped."""
    import numpy as np
    from pyspark.sql.types import _parse_datatype_string

    fields = _parse_datatype_string(state).fields
    group_state = ", ".join(
        ["users array<bigint>"]
        + [f"{f.name} array<{f.dataType.simpleString()}>" for f in fields]
        + (["timers array<bigint>"] if on_timer else [])
    )
    n = len(fields)

    def unpack(carried):
        if carried is None:
            return {}, {}
        users = carried[0]
        st = dict(zip(users, zip(*carried[1 : n + 1])))
        timers = dict(zip(users, carried[n + 1])) if on_timer else {}
        return st, timers

    def pack(st, timers, present, wm):
        out = []
        if on_timer:
            for u in sorted(timers):
                if u not in present and 0 <= timers[u] < wm:
                    out.extend(on_timer(u, st.pop(u)))
                    del timers[u]
        if not st:
            return None, out, None
        users = sorted(st)
        new_state = [users, *map(list, zip(*(st[u] for u in users)))]
        if not on_timer:
            return new_state, out, None
        armed = [timers[u] for u in users if timers[u] >= 0]
        new_state.append([timers[u] for u in users])
        return new_state, out, min(armed) if armed else None

    def run(cols, carried, wm):
        st, timers = unpack(carried)
        u = cols["user_id"]
        starts = np.flatnonzero(np.r_[True, u[1:] != u[:-1]])
        bounds = np.r_[starts, u.size].tolist()
        lists = {c: a.tolist() for c, a in cols.items() if c != "user_id"}
        out: list = []
        present = set()
        for user, a, b in zip(u[starts].tolist(), bounds, bounds[1:]):
            present.add(user)
            rows = {c: v[a:b] for c, v in lists.items()}
            if on_timer:
                new, emitted, timer = fold(user, st.get(user), rows, wm)
                timers[user] = -1 if timer is None else timer
            else:
                new, emitted = fold(user, st.get(user), rows)
            out.extend(emitted)
            if new is None:
                st.pop(user, None)
                timers.pop(user, None)
            else:
                st[user] = new
        new_state, fired, timer = pack(st, timers, present, wm)
        return new_state, out + fired, timer

    def expire(carried, wm):
        st, timers = unpack(carried)
        return pack(st, timers, set(), wm)

    return Kernel(group_state, run, expire if on_timer else None)


def _decode(pdfs, nullable):
    """Concatenate a group's Arrow chunks and decode every column to a
    numpy array: timestamps to epoch-µs int64, integral columns that
    had nulls to int64 masked arrays (from the JVM-side null bits)."""
    import numpy as np
    import pandas as pd

    chunks = [p for p in pdfs if len(p)]
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    cols = {}
    for c in pdf.columns:
        if c in (_KG, _NULLS):
            continue
        s = pdf[c]
        if isinstance(s.dtype, pd.DatetimeTZDtype):
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        if pd.api.types.is_datetime64_dtype(s.dtype):
            # normalize to µs whatever unit the serializer produced (ns
            # vs µs differs across Arrow/pandas versions)
            cols[c] = s.to_numpy().astype("datetime64[us]").view(np.int64)
        else:
            cols[c] = s.to_numpy()
    if nullable:
        bits = pdf[_NULLS].to_numpy(np.int64)
        if bits.any():
            for i, c in enumerate(nullable):
                mask = (bits >> i) & 1 == 1
                if mask.any():
                    cols[c] = np.ma.array(cols[c], mask=mask)
    return cols


def _frame(out, fields):
    """Output frame in the declared column order: a step's dict of
    columns as is; a fold's row tuples with integral columns exact
    (int64, or nullable Int64 when a value is None)."""
    import numpy as np
    import pandas as pd

    names = [f.name for f in fields]
    if isinstance(out, dict):
        return pd.DataFrame(out, columns=names)
    cols = list(zip(*out)) if out else [()] * len(fields)
    data = {}
    for f, col in zip(fields, cols):
        if isinstance(f.dataType, IntegralType):
            try:
                data[f.name] = np.array(col, dtype=np.int64)
            except TypeError:
                data[f.name] = pd.array(col, dtype="Int64")
        else:
            data[f.name] = pd.Series(col, dtype=object if not col else None)
    return pd.DataFrame(data, columns=names)


def int_state(carried, n: int):
    """A step's group-row arrays as int64 numpy arrays (n empty ones
    when the group has no state yet)."""
    import numpy as np

    if carried is None:
        return tuple(np.empty(0, dtype=np.int64) for _ in range(n))
    return tuple(np.asarray(a, dtype=np.int64) for a in carried)


def group_index(u):
    """(head_mask, gid) for a sorted key array: head marks each
    group's first row, gid numbers groups 0..G-1 in order."""
    import numpy as np

    head = np.empty(u.size, dtype=bool)
    head[0] = True
    head[1:] = u[1:] != u[:-1]
    return head, np.cumsum(head) - 1


def seg_last_flag_pos(gid, flag_pos, n):
    """Segmented forward scan: for each row i (rows pre-sorted so each
    group is contiguous, ``gid`` its 0-based group index), the position
    of the most recent row at-or-before i WITHIN i's group whose
    ``flag_pos`` is set (>= 0; -1 = unset).  Returns (valid, pos) —
    the vectorized equivalent of "carry the last order seen so far"
    with per-user resets, via one np.maximum.accumulate over
    gid*(n+1)+(flag_pos+1) (monotone in gid, so a previous group's
    flags can never leak: they decode to a smaller gid and fail the
    validity check)."""
    import numpy as np

    step = np.int64(n + 1)
    key = gid * step + (flag_pos + np.int64(1))
    acc = np.maximum.accumulate(key)
    valid = (acc // step == gid) & (acc % step > 0)
    return valid, acc % step - 1


def merge_carry(su, sl, uu, ul):
    """Merge per-user carry updates (uu, ul) into the sorted state
    arrays (su, sl); a user present in both takes the batch value.
    Returns new sorted (users, last) arrays."""
    import numpy as np

    if not uu.size:
        return su, sl
    if not su.size:
        return uu, ul
    allu = np.concatenate([su, uu])
    allv = np.concatenate([sl, ul])
    order = np.argsort(allu, kind="stable")
    allu, allv = allu[order], allv[order]
    # stable sort keeps state-then-batch order within a duplicate key;
    # keeping the LAST occurrence therefore keeps the batch value
    keep = np.empty(allu.size, dtype=bool)
    keep[:-1] = allu[1:] != allu[:-1]
    keep[-1] = True
    return allu[keep], allv[keep]


def carry_lookup(su, sl, u):
    """Per-row carry lookup: for each (sorted-irrelevant) user id in
    ``u``, (has_carry, value) from the sorted state arrays."""
    import numpy as np

    if not su.size:
        return np.zeros(u.size, dtype=bool), np.zeros(u.size, np.int64)
    ix = np.searchsorted(su, u)
    ix = np.minimum(ix, su.size - 1)
    has = su[ix] == u
    return has, np.where(has, sl[ix], np.int64(0))
