"""Incremental materialized-aggregate maintenance.

Reference status: extension surface. The reference rebuilds its whole
catalog from raw inputs annually (01_source_me.R:87-96 re-reads every
source). At 100 TB the equivalent "nightly rebuild" is O(history);
this operator maintains a per-key aggregate STATE table instead, so
each new batch costs O(batch + touched state) — the materialized-view
maintenance idea, built from two Spark primitives:

1. decomposable aggregates (SUM/COUNT/MIN/MAX merge associatively, so
   state ⊕ partial-aggregate-of-batch = full recompute, exactly);
2. the versioned table's directory-pruned ``merge`` — only the state
   rows whose keys the batch touches are rewritten; a key-sorted
   state layout with zone maps carries untouched key ranges forward
   verbatim.

AVG is intentionally not a stored state column: store SUM and COUNT
and derive it at read time — averages don't merge, their components
do. The same applies to variance (store sum, sum-of-squares, count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.versioned import VersionedTable

#: aggregate state columns are suffixed by kind so reads are
#: self-describing: <col>_sum, <col>_min, <col>_max, row_count.
_MERGE = {"sum": F.sum, "min": F.min, "max": F.max}


def _partial(batch: DataFrame, keys: list[str], specs: dict[str, tuple[str, ...]]) -> DataFrame:
    aggs = [F.count(F.lit(1)).alias("row_count")]
    for col, kinds in specs.items():
        for k in kinds:
            aggs.append(_MERGE[k](col).alias(f"{col}_{k}"))
    return batch.groupBy(*keys).agg(*aggs)


def _merge_states(a: DataFrame, b: DataFrame, keys: list[str], specs) -> DataFrame:
    aggs = [F.sum("row_count").alias("row_count")]
    for col, kinds in specs.items():
        for k in kinds:
            name = f"{col}_{k}"
            fn = F.sum if k == "sum" else _MERGE[k]
            aggs.append(fn(name).alias(name))
    return a.unionByName(b).groupBy(*keys).agg(*aggs)


def update_incremental_agg(
    table: VersionedTable,
    batch: DataFrame,
    *,
    keys: list[str],
    specs: dict[str, tuple[str, ...]],
    operation: str | None = None,
    props: dict | None = None,
) -> int:
    """Fold one append batch into the aggregate state table.

    ``specs`` maps input column → kinds, e.g. ``{"revenue": ("sum",),
    "price": ("min", "max")}``. Returns the new state version.

    Plan shape: the batch is partially aggregated FIRST (map-side
    combine collapses it to its distinct keys), the state table
    contributes only rows for touched keys — via
    ``VersionedTable.read_range`` the semi join SCANS only state
    directories whose zone map intersects the batch's key range, the
    read-side twin of merge's write pruning — and the re-aggregate
    runs over touched keys only. Nothing re-reads untouched history.
    """
    key = keys[0]
    part = _partial(batch, keys, specs)
    bounds = part.agg(
        F.min(key).alias("mn"),
        F.max(key).alias("mx"),
        F.count(F.lit(1)).alias("n"),
        F.count(key).alias("n_keyed"),
    ).collect()[0]
    # A NULL merge key cannot round-trip through merge(): its
    # null-rejecting anti-join would leave the OLD null-key state row
    # in place while the fresh partial appends beside it — silent
    # double rows (the same null-semantics family as the compact()
    # NULL-key fix). Refuse up front; callers encode null groups with
    # a sentinel of the key's type if they need them.
    if bounds["n_keyed"] < bounds["n"]:
        raise ValueError(
            f"NULL {key!r} in batch: the aggregate state's merge key "
            "must be non-null (encode null groups with a sentinel)"
        )
    if table.head() is None:
        return table.commit(
            part.sort(*keys),
            stats_col=key,
            operation=operation or "incremental-init",
            props=props,
        )
    if bounds["n"] == 0:
        return table.head()  # empty batch: no new version
    state = table.read_range(key, bounds["mn"], bounds["mx"])
    # Semi-join on the MERGE key alone (keys[0]), not the full
    # composite key: merge() anti-joins existing rows by keys[0], so
    # every state row sharing that value must ride along in new_rows
    # or it would be silently dropped. Composite-key siblings pass
    # through _merge_states unchanged (one row per full key group,
    # nothing to merge with), so carrying them is value-neutral.
    touched = state.join(part.select(key).distinct(), key, "semi")
    new_rows = _merge_states(touched, part, keys, specs)
    return table.merge(
        new_rows.sort(*keys), key, operation=operation, props=props
    )


def read_aggregate(
    table: VersionedTable, *, derive_avg: list[str] = ()
) -> DataFrame:
    """Current state, with AVG columns derived from sum/count."""
    df = table.read()
    for col in derive_avg:
        df = df.withColumn(
            f"{col}_avg", F.col(f"{col}_sum") / F.col("row_count")
        )
    return df


def sync_incremental_agg(
    source: VersionedTable,
    state: VersionedTable,
    *,
    keys: list[str],
    specs: dict[str, tuple[str, ...]],
    prop: str = "consumed_version",
) -> int | None:
    """Derived-table pipeline in one call: fold everything appended to
    ``source`` since the last sync into the aggregate ``state`` —
    the lakehouse change-data-feed consumer.

    The consumed source version rides as a STATE-TABLE PROPERTY on the
    very commit that folds its changes (props are carried in every
    manifest, atomic with the commit and vacuum-proof), so the
    watermark and the fold cannot diverge: re-running sync after a
    crash either sees the advanced watermark (no-op) or re-folds the
    identical change set — exactly-once without any external
    coordination, the same pattern as the streaming sinks' manifest
    watermark. Changes come from :meth:`VersionedTable.read_changes`,
    which scans ONLY the directories appended since the watermark and
    raises across non-append rewrites rather than double-counting.
    Returns the new state version, or None when there is nothing new.
    """
    consumed = int(state.get_props().get(prop, 0) or 0)
    head = source.head()
    if head is None or head <= consumed:
        return None
    batch = source.read_changes(consumed or None, head)
    return update_incremental_agg(
        state,
        batch,
        keys=keys,
        specs=specs,
        operation=f"sync-v{head}",
        props={prop: head},
    )


def join_view_delta(
    delta_a: DataFrame | None,
    delta_b: DataFrame | None,
    a_old: DataFrame | None,
    b_old: DataFrame | None,
    *,
    on: str,
) -> DataFrame | None:
    """The exact delta of the inner equi-join view V = A ⋈ B under
    append-only deltas — the textbook IVM identity:

        ΔV  =  ΔA ⋈ B_old  ∪  A_old ⋈ ΔB  ∪  ΔA ⋈ ΔB

    Every new output pair has a new row on exactly one side or on
    both; the three terms cover those cases disjointly, so the union
    is a plain multiset UNION ALL (no dedup shuffle). Duplicate join
    keys multiply multiplicities exactly as a full recompute would;
    NULL keys join nothing on either path. Returns None when both
    deltas are empty/absent.
    """
    a_cols = None if delta_a is None else set(delta_a.columns)
    b_cols = None if delta_b is None else set(delta_b.columns)
    if a_cols is not None and b_cols is not None:
        overlap = (a_cols & b_cols) - {on}
        if overlap:
            raise ValueError(
                f"non-key columns shared by both sides: {sorted(overlap)}"
            )
    parts = []
    if delta_a is not None and b_old is not None:
        parts.append(delta_a.join(b_old, on))
    if a_old is not None and delta_b is not None:
        parts.append(a_old.join(delta_b, on))
    if delta_a is not None and delta_b is not None:
        parts.append(delta_a.join(delta_b, on))
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def sync_join_view(
    a: VersionedTable,
    b: VersionedTable,
    view: VersionedTable,
    *,
    on: str,
    operation: str | None = None,
) -> int | None:
    """Maintain the join view V = A ⋈ B directly off two versioned
    sources' change feeds — no separate state copies: the history
    sides of the IVM identity are TIME-TRAVEL reads of the sources at
    their consumed versions, the deltas are :meth:`read_changes`
    scans of only the appended directories.

        ΔV = ΔA ⋈ B@consumed_b  ∪  A@consumed_a ⋈ ΔB  ∪  ΔA ⋈ ΔB

    Both consumed-version watermarks ride the view's folding commit as
    table properties (atomic with the fold, vacuum-proof), so a
    crashed or repeated sync either sees the advanced watermarks
    (no-op) or recomputes the identical ΔV — exactly-once, same
    contract as :func:`sync_incremental_agg`. History reads are
    zone-map-pruned (``read_range`` at the consumed version over the
    delta's key envelope). Raises if either source history was
    rewritten since its watermark (read_changes' append-only
    contract). Returns the new view version, or None when neither
    source moved.
    """
    props = view.get_props()
    ca = int(props.get("consumed_version_a", 0) or 0)
    cb = int(props.get("consumed_version_b", 0) or 0)
    ha, hb = a.head(), b.head()
    new_a = ha is not None and ha > ca
    new_b = hb is not None and hb > cb
    if not new_a and not new_b:
        return None
    delta_a = a.read_changes(ca or None, ha) if new_a else None
    delta_b = b.read_changes(cb or None, hb) if new_b else None

    def _bounds(df):
        if df is None:
            return (None, None)
        r = df.agg(F.min(on).alias("mn"), F.max(on).alias("mx")).collect()[0]
        return (r["mn"], r["mx"])

    a_bounds, b_bounds = _bounds(delta_a), _bounds(delta_b)

    def _old(table, consumed, bounds):
        if consumed == 0 or bounds[0] is None:
            return None
        return table.read_range(on, bounds[0], bounds[1], version=consumed)

    dv = join_view_delta(
        delta_a if a_bounds[0] is not None else None,
        delta_b if b_bounds[0] is not None else None,
        _old(a, ca, b_bounds),
        _old(b, cb, a_bounds),
        on=on,
    )
    new_props = {
        "consumed_version_a": ha if new_a else ca,
        "consumed_version_b": hb if new_b else cb,
    }
    if dv is None:
        # sources moved but produced no joinable delta (e.g. null-key
        # or bootstrap-empty): still advance the watermarks so the
        # next sync doesn't rescan — an empty commit carries them.
        empty = view.read().limit(0) if view.head() is not None else None
        if empty is None:
            return None
        return view.commit(
            empty, stats_col=on, operation=operation or "sync-noop",
            props=new_props,
        )
    return view.commit(
        dv,
        stats_col=on,
        operation=operation
        or f"sync-a{new_props['consumed_version_a']}"
        f"-b{new_props['consumed_version_b']}",
        props=new_props,
    )


def update_incremental_join(
    a_state: VersionedTable,
    b_state: VersionedTable,
    view: VersionedTable,
    *,
    on: str,
    delta_a: DataFrame | None = None,
    delta_b: DataFrame | None = None,
    operation: str | None = None,
) -> int | None:
    """Maintain a materialized inner equi-join view V = A ⋈_on B
    under append-only batches, without ever re-joining history.

    Reference status: extension surface — the reference re-joins its
    full inputs on every annual rebuild (01_source_me.R:87-96); at
    100 TB a maintained join view costs O(Δ ⋈ touched-history) per
    batch instead of O(A ⋈ B). Each update:

    1. computes ΔV via :func:`join_view_delta` against the CURRENT
       (pre-append) state snapshots — the history side of each term is
       a ``read_range`` pruned to the delta's [min, max] join-key
       envelope, so a key-local batch scans only the state
       directories its keys can touch (zone maps recorded at every
       commit), not the table;
    2. appends ΔA / ΔB to their state tables (``stats_col=on`` keeps
       future reads pruned);
    3. appends ΔV to the view.

    All three appends are separate manifest commits: a crash between
    them leaves the view one batch behind its inputs, never wrong —
    re-running the SAME batch would double-append, so exactly-once
    re-delivery is the caller's contract (the streaming sinks in
    streaming/ops.py show the watermark-tag pattern). Returns the new
    view version, or None when both deltas are empty (no commits).

    Deletes/updates are out of scope by design: append-only deltas
    keep ΔV monotone. Retractions need weighted (z-set) rows — store
    a sign column and fold, as in DBSP — which the aggregate
    maintainer's sum-state already demonstrates.
    """

    def _bounds(df: DataFrame):
        row = df.agg(F.min(on).alias("mn"), F.max(on).alias("mx")).collect()[0]
        return (row["mn"], row["mx"])

    def _pruned(table: VersionedTable, bounds):
        if table.head() is None or bounds[0] is None:
            return None
        return table.read_range(on, bounds[0], bounds[1])

    a_bounds = (None, None) if delta_a is None else _bounds(delta_a)
    b_bounds = (None, None) if delta_b is None else _bounds(delta_b)
    live_a = delta_a if a_bounds[0] is not None else None
    live_b = delta_b if b_bounds[0] is not None else None
    # NULL-key-only batches still append to state (a full read must
    # return them) but cannot produce view rows.
    dv = join_view_delta(
        live_a, live_b, _pruned(a_state, b_bounds), _pruned(b_state, a_bounds), on=on
    )
    if delta_a is not None and not delta_a.isEmpty():
        a_state.commit(delta_a, stats_col=on, operation=operation)
    if delta_b is not None and not delta_b.isEmpty():
        b_state.commit(delta_b, stats_col=on, operation=operation)
    if dv is None:
        return None
    return view.commit(dv, stats_col=on, operation=operation)
