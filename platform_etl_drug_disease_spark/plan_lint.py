"""Physical-plan introspection + lint (the diagnostic layer SURVEY.md §4
proposes: no custom Catalyst rules, but a plan-tree check that catches
scale anti-patterns before they ship).

Used by tests to assert plan quality (filter pushdown reaches the parquet
scan, dimension joins broadcast, hot paths stay in whole-stage codegen) and
available to pipeline authors as ``lint(df)``.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame

# substrings that indicate a scale anti-pattern in a physical plan
ANTIPATTERNS = {
    "CartesianProduct": "unkeyed cross product — add a join key or broadcast",
    "BatchEvalPython": "row-at-a-time Python UDF — use built-ins or a pandas UDF",
}


def explain_string(df: DataFrame, mode: str = "formatted") -> str:
    """The .explain output as a string (explain only prints)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def scans_with_pushdown(df: DataFrame) -> list[str]:
    plan = explain_string(df)
    return [
        line.strip()
        for line in plan.splitlines()
        if "PushedFilters:" in line and "PushedFilters: []" not in line
    ]


def filter_conditions(df: DataFrame) -> list[str]:
    """The ``Condition :`` line of every Filter node in the formatted plan.

    Guard against the InferFiltersFromGenerate pathology: exploding a
    computed array lets Spark derive ``size(arr) > 0`` and sink it below an
    exchange, re-evaluating the (possibly expensive) array expression on the
    pre-shuffle side. Asserting that no Filter condition contains the
    expensive constructor (e.g. ``array_distinct``/``transform``) pins the
    fix (explode_outer + post-Generate null filter)."""
    plan = explain_string(df, mode="formatted")
    return [
        line.split("Condition :", 1)[1].strip()
        for line in plan.splitlines()
        if line.strip().startswith("Condition :")
    ]


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_string(df)


def codegen_stage_count(df: DataFrame) -> int:
    """Number of distinct whole-stage-codegen spans — zero means everything
    fell off the fast path. Executes the plan (collect) first: under AQE the
    final physical plan with its ``*(n)`` codegen markers only exists on this
    DataFrame's queryExecution after an action."""
    import re

    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(set(re.findall(r"\*\((\d+)\)", plan)))


# Columns known to have O(10) distinct values in this schema. An ordered
# window partitioned ONLY by these over an unaggregated table funnels the
# whole input through that many reducers (single-core sort each) — a
# 100-TB serialization point. Fix with the two-phase
# scans in operators/scans.py.
LOW_CARDINALITY_COLS = frozenset(
    {
        "lang",
        "split",
        "source",
        "event_type",
        "l_returnflag",
        "l_linestatus",
        "r_name",
        "n_name",
        "c_mktsegment",
        "o_orderpriority",
        "o_orderstatus",
        "media_type",
        "quality_band",
    }
)


def _plan_depth(line: str) -> int:
    import re

    m = re.search(r"[A-Za-z]", line)
    return m.start() if m else 0


def _raw_leaf_reachable_without_agg(lines: list[str], i: int, d: int) -> bool:
    """Walk a Window node's subtree (lines after ``i`` deeper than ``d``):
    True if any RAW relation leaf is reachable with no aggregate ON THE
    DATA'S PATH. The aggregate must be a path ancestor, not merely somewhere
    in the subtree — a raw fact table joined to a broadcast aggregated
    dimension still funnels the whole fact table through the window sort.
    A persisted aggregate shows up as InMemoryRelation whose cached physical
    plan prints inline, so the physical agg spellings count too.
    LocalRelation/OneRowRelation leaves are driver-sized literals, never a
    scale risk."""
    agg_marks = (
        "Aggregate [", "HashAggregate", "SortAggregate", "ObjectHashAggregate",
    )
    safe_leaves = ("LocalRelation", "OneRowRelation", "LocalTableScan")
    raw_leaves = ("Relation", "FileScan", "Scan ")
    agg_depths: list[int] = []
    for j in range(i + 1, len(lines)):
        dj = _plan_depth(lines[j])
        if dj <= d:
            break
        # keep only aggregate ancestors of the current node
        agg_depths = [a for a in agg_depths if a < dj]
        body = lines[j][dj:]
        if any(m in lines[j] for m in agg_marks):
            agg_depths.append(dj)
            continue
        if any(body.startswith(m) for m in safe_leaves):
            continue
        if any(body.startswith(m) for m in raw_leaves) and not agg_depths:
            return True
    return False


def low_card_running_windows(
    df: DataFrame, low_card: frozenset[str] = LOW_CARDINALITY_COLS
) -> list[str]:
    """Ordered Window nodes over unaggregated input whose entire partition
    spec is known-low-cardinality columns. Works on the optimized logical
    plan: a Window whose data path goes through an Aggregate is running over
    a (bounded) aggregated table and is cleared; one running straight over a
    relation scan is flagged."""
    import re

    plan = df._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()

    hits: list[str] = []
    for i, line in enumerate(lines):
        d = _plan_depth(line)
        if not line[d:].startswith("Window "):
            continue
        # bracket groups at top level: [exprs], [partition], [order] — the
        # order group carries ASC/DESC; the partition group (if any) sits
        # between exprs and order.
        groups = re.findall(r"\[([^\[\]]*(?:\[[^\]]*\][^\[\]]*)*)\]", line[d:])
        if len(groups) < 3:
            continue  # no partition spec, or no order spec
        part, order = groups[-2], groups[-1]
        if " ASC" not in order and " DESC" not in order:
            continue  # unordered window — not a per-key sort
        part_cols = set(re.findall(r"([A-Za-z_][A-Za-z0-9_]*)#\d+", part))
        if not part_cols or not part_cols <= low_card:
            continue
        if not _raw_leaf_reachable_without_agg(lines, i, d):
            continue
        hits.append(
            f"ordered window partitioned only by low-cardinality "
            f"{sorted(part_cols)} over unaggregated input — a per-key global "
            f"sort at scale; use operators/scans.py two-phase forms"
        )
    return hits


def ordered_windows_over_unaggregated(df: DataFrame) -> list[str]:
    """STRICTER than :func:`low_card_running_windows`: every ordered Window
    node — regardless of partition-key cardinality, including unpartitioned
    ones — whose data path reaches a raw relation leaf with no aggregate in
    between. For plans whose documented safety argument IS 'the window runs
    over an aggregate' (the histogram-rank quantile family: the cumulative
    rank window must consume the value histogram, never raw fact rows), so
    a refactor that re-points the window at the fact table fails a named
    test instead of passing the low-cardinality lint incidentally."""
    import re

    plan = df._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()
    hits: list[str] = []
    for i, line in enumerate(lines):
        d = _plan_depth(line)
        body = line[d:]
        if body.startswith("Window "):
            # only ORDERED windows are per-key sorts; an unordered
            # (hash-evaluable) window is scale-safe and must not trip the
            # check (same order-group parse as low_card_running_windows).
            groups = re.findall(r"\[([^\[\]]*(?:\[[^\]]*\][^\[\]]*)*)\]", body)
            if not groups:
                continue
            order = groups[-1]
            if " ASC" not in order and " DESC" not in order:
                continue
        elif not body.startswith("WindowGroupLimit"):
            continue  # WindowGroupLimit is inherently ordered (rank limit)
        if _raw_leaf_reachable_without_agg(lines, i, d):
            hits.append(body.split("]")[0] + "]")
    return hits


def lint(df: DataFrame) -> list[str]:
    """Return human-readable warnings for scale anti-patterns in the plan."""
    plan = explain_string(df)
    warnings = [
        f"{pat}: {why}" for pat, why in ANTIPATTERNS.items() if pat in plan
    ]
    warnings.extend(low_card_running_windows(df))
    # repeated scans of the SAME file = an uncached fan-out (multi-table
    # joins legitimately scan many different files once each)
    locations = [
        line.split("[", 1)[1].split("]")[0]
        for line in plan.splitlines()
        if line.strip().startswith("Location:") and "[" in line
    ]
    from collections import Counter

    for loc, n in Counter(locations).items():
        if n > 3:
            warnings.append(
                f"{loc.rsplit('/', 1)[-1]} scanned {n}x — consider persist() at the fan-out"
            )
    return warnings
