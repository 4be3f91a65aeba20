"""HTTP fetch layer for the chapter DataSource.

Reference parity — the request/params/throttle/error shape of the
three workers:
- meetup: GET api.meetup.com/{service_id}/events with the fixed param
  set photo-host/fields/sign/status (meetup.rkt:28-36,83-84), throttle
  applied before the request and updated from the response's
  X-Ratelimit-* headers (meetup.rkt:67,86, apply/update-throttle at
  meetup.rkt:9-26).
- facebook: GET graph.facebook.com/v2.9/{service_id}/events with
  since + access_token from config (facebook.rkt:16,67-83).
- eventbrite: GET www.eventbriteapi.com/v3/organizations/{org}/events/
  with expand=venue.address + per-service token (eventbrite.rkt:44,
  98-114).
- Errors mirror the worker Either contract (meetup.rkt:72-80): HTTP
  status errors -> "Couldn't fetch {id}: {code}" (the 404 path shown
  in README.md:66-72), read errors -> "Could not read data for {id}"
  (also an id or organization that is not one URL path segment, which
  is never requested), undecodable bodies, and events that are not
  objects or whose id is not a string or an integer -> "Couldn't
  format {id} into correct JSON".

The transport is injectable: `http_transport` is the live stdlib
urllib GET; tests (and the replay DataSource mode) pass
`FixtureTransport`, which answers from the golden fixtures with
HTTP-shaped (status, headers, body) responses — the reference's own
test strategy (eventbrite.rkt:123-146) lifted to the transport seam.
The caller's `Throttle` waits out any pending header backoff before
each request and reads the response's X-Ratelimit-* headers after it;
there is no fixed rate. A live fetch task holds one chapter, so its
backoff never delays a second request.
"""

from __future__ import annotations

import json
from typing import Any, Callable

from cuttlefish_spark.sources.throttle import Throttle

# transport(url, params) -> (status_code, headers, body); the body is
# the JSON text, as bytes or str.
Transport = Callable[[str, dict], tuple[int, dict, bytes | str]]

_MEETUP_PARAMS = {
    # meetup.rkt:31-36
    "photo-host": "public",
    "fields": "photo_album",
    "sign": "true",
    "status": "upcoming,past",
}


def _segment(part: object) -> str:
    """`part` as one URL path segment. ValueError when it is empty, `.`
    or `..`, or holds `/`, `?`, `#` or `%`: each of those makes the URL
    name another path, query or fragment than the chapter's own."""
    seg = str(part)
    if seg in ("", ".", "..") or any(c in seg for c in "/?#%"):
        raise ValueError(f"not one URL path segment: {seg!r}")
    return seg


def build_request(
    adapter: str,
    service_id: str,
    organization: str | None,
    config: dict | None = None,
) -> tuple[str, dict]:
    """URL + query params for one chapter fetch (worker request shapes
    cited in the module docstring). ValueError for an unknown adapter,
    or when the id that fills the URL's path segment is not one
    segment."""
    config = config or {}
    if adapter == "meetup":
        return f"https://api.meetup.com/{_segment(service_id)}/events", dict(_MEETUP_PARAMS)
    if adapter == "facebook":
        return (
            f"https://graph.facebook.com/v2.9/{_segment(service_id)}/events",
            {
                "since": "132001640",  # facebook.rkt:68
                "access_token": config.get("facebook-access-token", ""),
            },
        )
    if adapter == "eventbrite":
        tokens = config.get("eventbrite-access-tokens", {})
        return (
            f"https://www.eventbriteapi.com/v3/organizations/{_segment(organization)}/events/",
            {
                "expand": "venue.address",  # eventbrite.rkt:99
                "token": tokens.get(service_id, ""),
            },
        )
    raise ValueError(f"No adapter found: {adapter}")


_HTTP_TIMEOUT_S = 30.0


def http_transport(url: str, params: dict) -> tuple[int, dict, bytes]:
    """Live transport: stdlib urllib GET, body returned undecoded for
    `json.loads`. HTTP status errors return as (code, headers, b'') so
    the caller owns the Either contract; every other failure of the
    request or the read (a refused connection, a URL http.client
    rejects, a truncated body) raises OSError for the caller's
    read-error branch."""
    from http.client import HTTPException
    from urllib.error import HTTPError
    from urllib.parse import urlencode
    from urllib.request import Request, urlopen

    full = f"{url}?{urlencode(params)}" if params else url
    req = Request(full, headers={"Accept": "application/json"})
    try:
        with urlopen(req, timeout=_HTTP_TIMEOUT_S) as resp:  # noqa: S310 - https APIs only
            return resp.status, dict(resp.headers), resp.read()
    except HTTPError as e:
        return e.code, dict(e.headers or {}), b""
    except (HTTPException, UnicodeError) as e:  # InvalidURL, IncompleteRead, non-ASCII URL
        raise OSError(f"{type(e).__name__}: {e}") from e


class FixtureTransport:
    """HTTP-shaped replay of the golden fixtures: 200 + JSON body on a
    hit, 404 + empty body on a miss (the README.md:66-72 path). Emits
    X-Ratelimit-* headers so throttle adaptation is testable; records
    every request for assertions."""

    def __init__(self, ratelimit_remaining: int = 100, ratelimit_reset: float = 0.0):
        self.calls: list[tuple[str, dict]] = []
        self._headers = {
            "X-Ratelimit-Remaining": str(ratelimit_remaining),
            "X-Ratelimit-Reset": str(ratelimit_reset),
        }

    def __call__(self, url: str, params: dict) -> tuple[int, dict, str]:
        from cuttlefish_spark.sources import fixtures

        self.calls.append((url, params))
        path = url.split("//", 1)[-1].split("/", 1)[-1]
        body: Any = None
        if url.startswith("https://api.meetup.com/"):
            service_id = path.split("/")[0]
            body = fixtures.MEETUP_RAW.get(service_id)
        elif url.startswith("https://graph.facebook.com/"):
            service_id = path.split("/")[1]
            body = fixtures.FACEBOOK_RAW.get(service_id)
        elif url.startswith("https://www.eventbriteapi.com/"):
            org = path.split("/")[2]
            body = fixtures.EVENTBRITE_RAW.get(org)
        if body is None:
            return 404, dict(self._headers), ""
        return 200, dict(self._headers), json.dumps(body)


def _envelope(adapter: str, doc: Any) -> list | None:
    """Unwrap the per-API response envelope to the raw event list
    (meetup: bare array; facebook: {data}; eventbrite: {events})."""
    if adapter == "meetup":
        return doc if isinstance(doc, list) else None
    key = "data" if adapter == "facebook" else "events"
    inner = doc.get(key) if isinstance(doc, dict) else None
    return inner if isinstance(inner, list) else None


def fetch_events(
    adapter: str,
    service_id: str,
    organization: str | None,
    *,
    transport: Transport,
    throttle: Throttle,
    config: dict | None = None,
) -> tuple[list | None, str | None]:
    """One throttled chapter fetch -> (events, None) or (None, error).

    The worker body of meetup.rkt:66-95 re-expressed over the
    transport seam: wait out any header backoff, GET, header-driven
    throttle update, Either-style error strings. A request
    `build_request` refuses (an id that is not one URL path segment,
    or an unknown adapter, which `_fetch_rows` filters out first) is a
    read error, and neither waits nor is sent."""
    try:
        url, params = build_request(adapter, service_id, organization, config)
    except ValueError:
        return None, f"Could not read data for {service_id}"
    throttle.wait()
    try:
        status, headers, body = transport(url, params)
    except OSError:
        return None, f"Could not read data for {service_id}"
    throttle.update_from_headers(headers)
    if status != 200:
        return None, f"Couldn't fetch {service_id}: {status}"
    try:
        doc = json.loads(body)
    except ValueError:  # not JSON, or not UTF-8
        return None, f"Couldn't format {service_id} into correct JSON"
    events = _envelope(adapter, doc)
    # Events are keyed by id in the chapter's file, so an event that is
    # not an object, or whose id is not a string or an integer, cannot
    # be written.
    ids = [e.get("id") if isinstance(e, dict) else None for e in events or ()]
    if events is None or not all(isinstance(i, (str, int)) and not isinstance(i, bool)
                                 for i in ids):
        return None, f"Couldn't format {service_id} into correct JSON"
    return events, None
