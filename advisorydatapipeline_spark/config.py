"""Frozen pipeline configuration.

Plays the role of the reference's frozen config dataclass
(``config/config.py``): base paths, staging layout per run_id, cache
TTL. No hardcoded developer paths; everything is injected. The clock
is injectable so TTL semantics are deterministic under test (the
reference uses wall-clock ``datetime.now()``, enrichment/cache.py:69 —
called out as a correctness risk in SURVEY.md §7).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Callable


def _utcnow() -> datetime:
    return datetime.now(timezone.utc)


@dataclass(frozen=True)
class PipelineConfig:
    base_path: str
    cache_ttl_hours: float = 24.0
    # injectable clock for deterministic TTL cutoffs
    clock: Callable[[], datetime] = field(default=_utcnow)

    @property
    def staging_path(self) -> str:
        return f"{self.base_path}/staging"

    @property
    def prod_path(self) -> str:
        return f"{self.base_path}/prod"

    @property
    def cache_path(self) -> str:
        return f"{self.base_path}/enrichment_cache"

    def run_path(self, run_id: str) -> str:
        """Per-run staging prefix: failed runs never touch prod
        (reference layout: staging/run_id=<ts>/..., SURVEY.md §1.4)."""
        return f"{self.staging_path}/run_id={run_id}"
