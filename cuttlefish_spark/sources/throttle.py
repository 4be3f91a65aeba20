"""The reference's adaptive throttle: back off on the rate-limit headers.

Parity: /root/reference/private/workers/meetup.rkt:9-26 — the
reference tracks `X-Ratelimit-Remaining` / `X-Ratelimit-Reset`
response headers in shared boxes and sleeps `reset+2` seconds when
fewer than 3 requests remain (`apply-throttle` / `update-throttle`,
applied around each GET at meetup.rkt:67,86). There is no fixed rate:
a server that does not say it is close to its limit is never waited
for.

On Spark the shared boxes become one `Throttle` per `_fetch_rows`
call, shared by every request that call makes (a batch fetch task's
chunk, a streaming microbatch's slice, the driver-side work-list). On
live transport `chapter_chunks` gives each task one chapter, so a
task makes one request and its backoff never delays another request
until several requests run in one task.
"""

from __future__ import annotations

import time


# Back off when fewer requests than this remain (meetup.rkt:19-26).
MIN_REMAINING = 3


class Throttle:
    """Header-driven backoff: `update_from_headers` after each response,
    `wait` before each request. `clock`/`sleep` are test seams."""

    def __init__(self, clock=time.monotonic, sleep=time.sleep):
        self._clock = clock
        self._sleep = sleep
        self._backoff_until = 0.0

    def wait(self) -> None:
        """Sleep until a pending backoff ends (apply-throttle,
        meetup.rkt:12-17)."""
        delay = self._backoff_until - self._clock()
        if delay > 0:
            self._sleep(delay)

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
