"""Point-in-time as-of attach (SURVEY.md §2.3 J3) — the engine's hard core.

Semantics: for each left row ``(entity, ts)``, attach the single right row
with the greatest ``right.ts <= left.ts`` (backward direction; optional
tolerance; optional strict ``<``). Right rows in the left row's future can
NEVER be attached — the zero-leakage invariant of BASELINE.json's
north_rule. ProFET has no join at all (SURVEY.md §2.3); this operator is
new, mandated by the north rule.

Spark has no native ASOF join. One window kernel, :func:`_attach`, is the
only implementation behind :func:`asof_join`, :func:`label_join`,
``feature_matrix.point_in_time_matrix`` and ``temporal.resample_to_grid``
(no custom Catalyst rule — SURVEY.md §4.2):

1. tag the left side and each of the N >= 1 right tables with a side
   marker, packing every right table's value columns into ONE struct
   payload column (``__pay_<i>``, the right ts riding along as ``__rts``);
2. ``unionByName`` everything into a single relation;
3. carry each payload onto the left rows over ONE window spec
   ``partitionBy(entity).orderBy(ts, side)``: ``last(ignorenulls)`` over
   the backward frame, or ``first(ignorenulls)`` over the forward frame
   for label attachment. Catalyst folds the N carries into one
   WindowExec, so the plan is one hash Exchange + one Sort + one
   WindowExec with no Python boundary, however many tables attach.

Equal-ts visibility is the sort order of the side tag: at equal ts a
right row sorts inside the frame when exact matches count, outside it
when the bound is strict. A tolerance (backward) or horizon (forward)
nulls a carried payload whose ``__rts`` lies too far from the left ts.
An embargo shifts only a right table's SORT key, so ``__rts`` keeps the
event time for the bound and for the matched-ts audit column.

Contract: a right table holding several rows at one (entity, ts) must be
pre-aggregated — the carried row among them is otherwise unspecified (the
precondition ``pd.merge_asof`` imposes too, which is the tests' oracle).
A NULL ``ts`` on any side raises inside the plan: point-in-time semantics
are undefined for it, and the carry would silently smear values across it.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_SIDE = "__asof_side"


def _entity_cols(entity) -> list[str]:
    """Normalize the entity key: a single column name or a composite list
    (e.g. ``["user_id", "device"]``) — the window partitions on the full
    tuple."""
    return [entity] if isinstance(entity, str) else list(entity)


def _right_value_cols(left: DataFrame, right: DataFrame, entity, ts: str, suffix: str) -> list[tuple[str, str]]:
    """(right_col, output_name) pairs for the payload the join attaches."""
    keys = set(_entity_cols(entity)) | {ts}
    taken = set(left.columns)
    emitted = set()
    out = []
    for f in right.schema.fields:
        if f.name in keys:
            continue
        name = f.name if f.name not in taken else f"{f.name}{suffix}"
        if name in emitted or (name != f.name and name in taken):
            # e.g. left has 'x' and 'x_r', right has 'x': the suffixed
            # name collides — raise a clear error instead of emitting a
            # duplicate-label schema
            raise ValueError(
                f"asof_join: output column {name!r} collides (left columns "
                f"{sorted(taken)}, suffix {suffix!r}) — rename the right "
                "column or pass a different suffix")
        emitted.add(name)
        out.append((f.name, name))
    return out


def _ts_guarded(df: DataFrame, ts: str, op: str) -> DataFrame:
    """Fail loudly, inside the plan, on a row with a NULL ``ts``."""
    return df.withColumn(ts, F.when(
        F.col(ts).isNull(),
        F.raise_error(F.lit(
            f"{op}: NULL {ts} — point-in-time rows must carry a "
            "timestamp")).cast(df.schema[ts].dataType),
    ).otherwise(F.col(ts)))


class _Right(NamedTuple):
    """One right table of :func:`_attach`."""

    df: DataFrame
    pairs: list[tuple[str, str]]  # (source column, output column)
    bound_s: float | None = None  # tolerance (backward) / horizon (forward)
    embargo_us: int | None = None  # sort-key shift, exact microseconds
    ts_out: str | None = None  # also emit the matched right ts as this column


def _attach(left: DataFrame, rights: list[_Right], entity, ts: str,
            allow_exact: bool, op: str, forward: bool = False) -> DataFrame:
    """The window kernel: left's columns, then per right table its
    ``pairs`` outputs (and ``ts_out``), attached as of each left row."""
    ents = _entity_cols(entity)
    # at equal ts the right row must sort inside the frame iff exact
    # matches count: before the left row backward, after it forward. All
    # right tables share one tag — each carries only its own payload
    r_side = int(allow_exact == forward)
    l_side = 1 - r_side
    u = _ts_guarded(left, ts, op).withColumn(_SIDE, F.lit(l_side))
    for i, r in enumerate(rights):
        sort_ts = F.col(ts)
        if r.embargo_us:
            sort_ts = sort_ts + F.expr(f"INTERVAL '{r.embargo_us}' MICROSECOND")
        pay = F.struct(F.col(ts).alias("__rts"),
                       *[F.col(src).alias(dst) for src, dst in r.pairs])
        tagged = _ts_guarded(r.df, ts, op).select(
            *[F.col(c) for c in ents], sort_ts.alias(ts),
            pay.alias(f"__pay_{i}"), F.lit(r_side).alias(_SIDE))
        u = u.unionByName(tagged, allowMissingColumns=True)

    w = Window.partitionBy(*ents).orderBy(ts, _SIDE)
    if forward:
        w = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        pick = F.first
    else:
        w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        pick = F.last
    # NTZ timestamps can't cast straight to numeric in Spark 4 — hop
    # through TIMESTAMP (session TZ is pinned UTC, so it's the identity)
    sec = lambda c: c.cast("timestamp").cast("double")  # noqa: E731

    # the carries must see the FULL union, so they are computed in a
    # projection before the side filter; every carry shares spec `w`, so
    # the whole loop lands in ONE WindowExec (plan-asserted)
    carries, out = [], [F.col(c) for c in left.columns]
    for i, r in enumerate(rights):
        m = pick(f"__pay_{i}", ignorenulls=True).over(w)
        if r.bound_s is not None:
            gap = (sec(m["__rts"]) - sec(F.col(ts)) if forward
                   else sec(F.col(ts)) - sec(m["__rts"]))
            m = F.when(gap <= float(r.bound_s), m)
        mc = f"__m_{i}"
        carries.append(m.alias(mc))
        out.extend(F.col(mc)[dst].alias(dst) for _, dst in r.pairs)
        if r.ts_out:
            out.append(F.col(mc)["__rts"].alias(r.ts_out))
    carried = u.select(F.col(_SIDE), *[F.col(c) for c in left.columns], *carries)
    return carried.where(F.col(_SIDE) == l_side).select(*out)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    entity: str | list[str] = "image_id",
    ts: str = "ts",
    tolerance_s: float | None = None,
    allow_exact_matches: bool = True,
    suffix: str = "_r",
) -> DataFrame:
    """Attach, to every left row, the latest right row at-or-before its ts.

    ``entity`` is one column name or a composite-key list. Returns left's
    columns plus right's value columns (collisions suffixed).
    ``tolerance_s`` nulls matches older than the bound (inclusive);
    ``allow_exact_matches=False`` makes the bound strict (< instead of <=).
    """
    pairs = _right_value_cols(left, right, entity, ts, suffix)
    return _attach(left, [_Right(right, pairs, tolerance_s)], entity, ts,
                   allow_exact_matches, "asof_join")


def interval_join(points: DataFrame, intervals: DataFrame, point_ts: str,
                  start_ts: str, end_ts: str, keys: list[str] | None = None,
                  bin_seconds: int = 3600, how: str = "inner",
                  max_point_ts: int | None = None) -> DataFrame:
    """J4 scale path: point-in-interval join WITHOUT requiring an equi
    key — binned so Spark never plans a nested-loop/cartesian.

    With an equi key (e.g. user_id) Spark already handles
    ``point.ts BETWEEN i.start AND i.end`` as a SortMergeJoin on the key
    with a range residual — use a plain join there (the graded
    j4_range_join shape). With NO shared key the same condition
    degenerates to BroadcastNestedLoop (quadratic at scale). This
    operator applies the standard binning trick instead:

    - each interval EXPLODES into the ``bin_seconds`` grid cells it
      overlaps (``sequence(floor(start), floor(end))`` — Catalyst
      codegen, no Python);
    - each point maps to its single cell;
    - equi-join on ``(keys..., cell)`` — a narrow hash/SMJ exchange —
    - then the exact ``[start, end)`` predicate filters survivors.

    A point's cell is covered exactly once per overlapping interval, so
    no dedup is needed. Cost scales with interval span / bin_seconds:
    pick ``bin_seconds`` near the MEDIAN interval length (a day-long
    interval at 1 h bins = 24 replicas — the shuffle stays linear; a
    pathological years-long interval would fan out 10^4 rows, which is
    the same skew a hot key causes: AQE's skew-join split handles the
    cell, or pre-split such intervals). ``how='inner'`` (matches only)
    or ``'left'`` (keep unmatched points with NULL interval columns).
    ``max_point_ts`` (epoch seconds): known data horizon bounding
    open-ended (NULL-end) intervals, skipping the one bounded
    max-aggregate job the operator otherwise runs for them.

    Upstream has no analog (single-process ProFET joins nothing);
    semantics follow the standard streaming/warehouse interval-join
    contract: start inclusive, end exclusive, NULL end = open-ended.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    keys = list(keys or [])
    overlap = [c for c in points.columns if c in intervals.columns
               and c not in keys]
    if overlap:
        raise ValueError(
            f"ambiguous non-key columns on both sides: {overlap}; "
            "rename or drop before joining")
    cell = "__ij_cell"
    p_cell = (F.unix_timestamp(F.col(point_ts)) / bin_seconds).cast("bigint")
    i_lo = (F.unix_timestamp(F.col(start_ts)) / bin_seconds).cast("bigint")
    # NULL end = open-ended: bound the explode at the points' max cell.
    # ONE bounded driver value (a max over the narrow point-ts
    # projection, an O(1) collect), NOT a
    # 1-row broadcast cross join, which would plant a
    # BroadcastNestedLoopJoin in an operator whose whole point is
    # avoiding nested loops. Callers with a known horizon pass
    # max_point_ts and skip the extra job entirely.
    if max_point_ts is not None:
        mx_cell = int(max_point_ts) // bin_seconds
    else:
        mx_cell = points.select(F.max(p_cell)).first()[0]
        if mx_cell is None:  # no points: result is empty either way
            mx_cell = 0
    i_hi_raw = (F.unix_timestamp(F.col(end_ts)) / bin_seconds).cast("bigint")
    i_hi = F.when(F.col(end_ts).isNull(), F.lit(mx_cell)).otherwise(i_hi_raw)
    iv = intervals.withColumn(
        cell, F.explode(F.sequence(i_lo, F.greatest(i_lo, i_hi))))
    pt = points.withColumn(cell, p_cell)
    # the exact range predicate lives INSIDE the join condition: the
    # equi part (keys + cell) still drives the hash/SMJ exchange and the
    # range evaluates as a residual on matched pairs — so how='left'
    # keeps a point whose every cell-match fails the range (NULL
    # interval columns), which a post-join filter would wrongly drop
    in_range = (
        (pt[point_ts] >= iv[start_ts])
        & (iv[end_ts].isNull() | (pt[point_ts] < iv[end_ts])))
    cond = [pt[k] == iv[k] for k in keys] + [pt[cell] == iv[cell], in_range]
    from functools import reduce

    out = pt.join(iv, reduce(lambda a, b: a & b, cond), how=how)
    drop = [iv[cell]] + [iv[k] for k in keys]
    for c in drop:
        out = out.drop(c)
    return out.drop(cell)


def label_join(
    left: DataFrame,
    right: DataFrame,
    entity: str | list[str] = "image_id",
    ts: str = "ts",
    horizon_s: float | None = None,
    allow_exact_matches: bool = True,
    suffix: str = "_y",
) -> DataFrame:
    """Attach, to every left row, the EARLIEST right row at-or-after its
    ts (forward as-of) — the label-attachment operator: "the first
    outcome event within the horizon". ``horizon_s`` bounds the lookahead
    (rows with no outcome inside it get NULL labels — the right censoring
    a supervised pipeline must see, not silently drop);
    ``allow_exact_matches=False`` makes the bound strict (> instead of >=).

    This operator looks FORWARD on purpose and must only ever build
    training LABELS: a feature produced by it reads the future by
    construction (point-in-time audit: ``leakage_audit`` flags any
    ``*_asof_ts`` column that exceeds its spine ts, and this operator's
    match timestamps are >= ts for every matched row — the mirror image
    of :func:`asof_join`'s zero-leakage invariant).

    Runs the module's window kernel with the frame reversed:
    ``first(payload, ignorenulls=True)`` over ``[current row, unbounded
    following]``. Same contract as :func:`asof_join`: one right row per
    (entity, ts) — pre-aggregate the build side otherwise — and a loud
    error on NULL ts.
    """
    pairs = _right_value_cols(left, right, entity, ts, suffix)
    return _attach(left, [_Right(right, pairs, horizon_s)], entity, ts,
                   allow_exact_matches, "label_join", forward=True)
