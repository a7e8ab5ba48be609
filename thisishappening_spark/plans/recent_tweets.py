"""The reference's most-called query path as parameterized DataFrame plans.

`get_recent_tweets` (reference data_base.py:307-382) is called 4× per
arriving tweet; `count_tweets` (:276-305), `get_recent_events` (:90-116)
and the event PK lookup (:134-139) round out the surface. Each builder
here composes the exact predicate stack (Q1-Q8 in SURVEY.md §2.2) onto any
tweets- or events-shaped DataFrame and lets Catalyst push every filter to
the scan.

Scale notes: every query carries a time bound (Q1), which on a
date-partitioned table becomes partition pruning — the 100 TB plan reads
only the window's partitions. The bbox (Q2) and flag predicates are
parquet row-group min/max prunable.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from thisishappening_spark.functions.geo import BoundingBox, inbounds_half_open
from thisishappening_spark.sqlexpr import in_list, sql_str


def _ts_lit(t: dt.datetime) -> str:
    """A datetime as a TIMESTAMP literal — same value F.lit(datetime)
    produced under the pinned-UTC session. Aware datetimes are converted
    to their UTC wall time first (ADVICE r21): formatting the naive field
    values of a non-UTC aware datetime would silently shift the window by
    the offset, where F.lit converted correctly."""
    if t.tzinfo is not None:
        t = t.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return f"TIMESTAMP '{t:%Y-%m-%d %H:%M:%S.%f}'"


def _time_window(ts_col: str, timestamp: dt.datetime, hours: float) -> str:
    """Q1: closed sliding interval `[timestamp - hours, timestamp]`
    (reference data_base.py:334-342). SQL-string form (r21 convention,
    sqlexpr.py — the Column build of this plan family cost ~400 Py4J
    round trips per construction)."""
    start = timestamp - dt.timedelta(hours=hours)
    return f"{ts_col} >= {_ts_lit(start)} AND {ts_col} <= {_ts_lit(timestamp)}"


def recent_tweets(
    tweets: DataFrame,
    timestamp: dt.datetime,
    hours: float = 1,
    bounding_box: BoundingBox | None = None,
    place_type: list[str] | None = None,
    has_coords: bool | None = None,
    place_type_or_coords: bool = True,
    include_quote_status: bool = True,
    include_reply_status: bool = True,
    include_deleted_status: bool = False,
    time_col: str = "created_at",
    ordered: bool = True,
) -> DataFrame:
    """Mirror of get_recent_tweets (reference data_base.py:307-382),
    newest-first (O1) when ``ordered``.

    ``ordered=False`` skips the O1 sort for pipeline consumers (KDE
    weighting, window counting) that don't need order — the unconditional
    global range-partition sort would otherwise dominate the hot path at
    scale. The user-facing query keeps the reference's newest-first default.

    Predicate semantics preserved exactly:
    - Q2 bbox is HALF-OPEN (`>= west AND < east AND >= south AND < north`,
      data_base.py:344-353) — deliberately different from the admission
      filter's closed interval P1 (SURVEY §7.4 quirk list).
    - Q3: when `place_type_or_coords` and BOTH args given, the two combine
      with OR; otherwise each applies independently (data_base.py:355-368).
    - Q4/Q5 use `IS NOT TRUE` — NULL rows are KEPT (data_base.py:370-376).
    - Q6 `deleted_at IS NULL` (data_base.py:378-380).
    """
    conds = [_time_window(time_col, timestamp, hours)]

    if bounding_box is not None:
        conds.append(inbounds_half_open("longitude", "latitude", bounding_box))

    if place_type is not None:
        # in_list renders an empty list as FALSE (isin([]) semantics) —
        # `IN ()` is a ParseException (ADVICE r21).
        types_pred = in_list("place_type", [sql_str(t) for t in place_type])
    hc = "TRUE" if has_coords else "FALSE"
    if place_type_or_coords and place_type is not None and has_coords is not None:
        conds.append(f"{types_pred} OR has_coords <=> {hc}")
    else:
        if place_type is not None:
            conds.append(types_pred)
        if has_coords is not None:
            conds.append(f"has_coords <=> {hc}")

    if not include_quote_status:
        # IS NOT TRUE keeps NULLs — not the same as == False
        conds.append("NOT (is_quote_status <=> TRUE)")
    if not include_reply_status:
        conds.append("NOT (is_reply_status <=> TRUE)")
    if not include_deleted_status:
        conds.append("deleted_at IS NULL")

    df = tweets.filter(" AND ".join(f"({c})" for c in conds))
    return df.orderBy(F.desc(time_col)) if ordered else df


def count_tweets(
    tweets: DataFrame,
    timestamp: dt.datetime,
    hours: float = 0,
    bounding_box: BoundingBox | None = None,
    time_col: str = "created_at",
) -> DataFrame:
    """A1: scalar count with Q1 + Q2 filters (reference data_base.py:276-305)."""
    cond = _time_window(time_col, timestamp, hours)
    if bounding_box is not None:
        cond += " AND " + inbounds_half_open("longitude", "latitude", bounding_box)
    return tweets.filter(cond).agg(F.expr("count(status_id_str) AS n_tweets"))


def recent_events(
    events: DataFrame,
    timestamp: dt.datetime,
    hours: float = 1,
    event_type: list[str] | None = None,
    time_col: str = "timestamp",
) -> DataFrame:
    """Q7: time window + `event_type IN (...) OR event_type IS NULL`
    (reference data_base.py:90-116), newest-first (O2)."""
    cond = _time_window(time_col, timestamp, hours)
    if event_type is not None:
        types_pred = in_list("event_type", [sql_str(t) for t in event_type])
        cond = f"({cond}) AND ({types_pred} OR event_type IS NULL)"
    return events.filter(cond).orderBy(F.desc(time_col))


def event_by_id(events: DataFrame, event_id: int, id_col: str = "id") -> DataFrame:
    """Q8 PK lookup (reference data_base.py:134-139)."""
    return events.filter(F.col(id_col) == F.lit(event_id))

