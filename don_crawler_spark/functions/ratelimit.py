"""Rate-limit header parsing — A9/X9 from the reference.

Reference: ``RateLimitResetFromHeaders`` / ``retryAfterReset``
(common/rate_limit_headers.go:19-86). Semantics reproduced exactly
(the reference's own table-driven tests, common/rate_limit_headers_test.go,
are mirrored in tests/test_ratelimit.py):

  * headers ``RateLimit-Reset`` and ``X-RateLimit-Reset`` carry unix-epoch
    seconds; values may be comma-separated and multi-valued; each parseable
    int is a candidate ``time.Unix(v)``
  * ``Retry-After`` carries either seconds-from-now (must be > 0 and
    <= 24h worth of seconds) or an HTTP-date
  * candidates after ``now + 24h`` are discarded
  * the LATEST surviving candidate wins; none -> (zero, False)

Nothing in the crawl calls it: the ``host_budgets`` state table carries
``not_before_ts`` precomputed (the synthetic corpus generator draws it
directly), and the engine and the oracle only compare it with the round
start. This module is the reference semantics an ingest step that builds
that column from response headers must follow.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone
from email.utils import parsedate_to_datetime

MAX_RATE_LIMIT_RESET_DELAY = timedelta(hours=24)
MAX_RETRY_AFTER_SECONDS = int(MAX_RATE_LIMIT_RESET_DELAY.total_seconds())


def retry_after_reset(raw: str, now: datetime) -> datetime | None:
    """common/rate_limit_headers.go:67-86."""
    value = raw.strip()
    if not value:
        return None
    try:
        seconds = int(value)
    except ValueError:
        try:
            when = parsedate_to_datetime(value)
        except (TypeError, ValueError):
            return None
        if when.tzinfo is None:
            when = when.replace(tzinfo=timezone.utc)
        return when
    if seconds <= 0 or seconds > MAX_RETRY_AFTER_SECONDS:
        return None
    return now + timedelta(seconds=seconds)


def rate_limit_reset_from_headers(
    headers: dict[str, list[str]] | None, now: datetime | None = None
) -> datetime | None:
    """common/rate_limit_headers.go:19-64. Header keys are matched
    case-insensitively (Go's http.Header canonicalizes them)."""
    if headers is None:
        return None
    if now is None:
        now = datetime.now(timezone.utc)
    norm: dict[str, list[str]] = {}
    for k, vs in headers.items():
        norm.setdefault(k.lower(), []).extend(vs)

    max_accepted = now + MAX_RATE_LIMIT_RESET_DELAY
    latest: datetime | None = None

    def consider(candidate: datetime | None) -> None:
        nonlocal latest
        if candidate is None or candidate > max_accepted:
            return
        if latest is None or candidate > latest:
            latest = candidate

    for key in ("ratelimit-reset", "x-ratelimit-reset"):
        for raw in norm.get(key, []):
            for value in raw.split(","):
                value = value.strip()
                if not value:
                    continue
                try:
                    unix = int(value)
                except ValueError:
                    continue
                consider(datetime.fromtimestamp(unix, tz=timezone.utc))

    for raw in norm.get("retry-after", []):
        consider(retry_after_reset(raw, now))

    return latest
