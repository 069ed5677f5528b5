from . import (
    checks,
    decontam,
    dedup,
    drift,
    packing,
    rowpred,
    similarity,
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
    "similarity",
    "stats",
    "text",
]
