"""Serving layer: kpi/series/alerts DataFrame functions mirroring the
reference read API, plus hot-store maintenance and anchored SQL views."""

from .api import (  # noqa: F401
    PLAN_CACHE_SIZE,
    WINDOW_SECONDS,
    active_alert_counts,
    alerts,
    gapfill_series,
    hot_anchor,
    hot_store_writer,
    kpi,
    parse_window,
    plan_cache_info,
    read_hot_store,
    regroup_series,
    register_views,
    series,
)
from .hotstore import DEFAULT_TTL_SECONDS, HotStore  # noqa: F401
