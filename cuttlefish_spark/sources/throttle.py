"""Adaptive rate limiting for external-API fetch partitions.

Parity: /root/reference/private/workers/meetup.rkt:9-26 — the
reference tracks `X-Ratelimit-Remaining` / `X-Ratelimit-Reset`
response headers in shared boxes and sleeps `reset+2` seconds when
fewer than 3 requests remain (`apply-throttle` / `update-throttle`,
applied around each GET at meetup.rkt:67,86).

On Spark the shared-box pattern becomes *per-executor* state: each
fetch partition owns a bucket instance (mapInPandas/foreachPartition
closure), so a 1000-executor cluster self-limits to
executors x rate — size `rate_per_sec` accordingly, exactly like
sizing the reference's 3-thread pool (api-runner.rkt:25).
"""

from __future__ import annotations

import time


# Back off when fewer requests than this remain (meetup.rkt:19-26).
MIN_REMAINING = 3


class TokenBucket:
    """Token-bucket limiter with header-driven adaptive backoff."""

    def __init__(self, rate_per_sec: float = 5.0, burst: int = 5,
                 clock=time.monotonic, sleep=time.sleep):
        self.rate = rate_per_sec
        self.capacity = float(burst)
        self.tokens = float(burst)
        self._clock = clock
        self._sleep = sleep
        self._last = clock()
        self._backoff_until = 0.0

    def acquire(self) -> None:
        """Block until a request slot is available (apply-throttle,
        meetup.rkt:12-17)."""
        now = self._clock()
        if now < self._backoff_until:
            self._sleep(self._backoff_until - now)
            now = self._clock()
        self.tokens = min(self.capacity, self.tokens + (now - self._last) * self.rate)
        self._last = now
        if self.tokens < 1.0:
            wait = (1.0 - self.tokens) / self.rate
            self._sleep(wait)
            self.tokens = 1.0
            self._last = self._clock()
        self.tokens -= 1.0

    def update_from_headers(self, headers: dict) -> None:
        """Adaptive backoff from API headers (update-throttle,
        meetup.rkt:19-26): when remaining < MIN_REMAINING, pause
        reset+2 seconds."""
        try:
            remaining = int(headers.get("X-Ratelimit-Remaining", ""))
            reset = float(headers.get("X-Ratelimit-Reset", ""))
        except (TypeError, ValueError):
            return
        if remaining < MIN_REMAINING:
            self._backoff_until = self._clock() + reset + 2.0
