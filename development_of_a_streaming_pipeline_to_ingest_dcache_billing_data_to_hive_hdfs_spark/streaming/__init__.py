from .pipeline import BillingPipeline
from .windows import (
    dedup_within_watermark,
    interval_join,
    running_totals_per_type,
    session_windows,
    tumbling_counts,
)

__all__ = [
    "BillingPipeline",
    "dedup_within_watermark",
    "interval_join",
    "running_totals_per_type",
    "session_windows",
    "tumbling_counts",
]
