from . import (
    checks,
    decontam,
    dedup,
    drift,
    packing,
    rowpred,
    stats,
    text,
)

__all__ = [
    "checks",
    "decontam",
    "dedup",
    "drift",
    "packing",
    "rowpred",
    "stats",
    "text",
]
