"""Source adapters: one pure-Python normalizer per service, from the
raw event dict of its API to the canonical event record.

Reference parity map (all anchors in /root/reference/private):
- adapter registry / dispatch      api-runner.rkt:19-22, 92-95, 129-147
- meetup normalize                 workers/meetup.rkt:39-59
- facebook normalize               workers/facebook.rkt:35-55
- eventbrite normalize             workers/eventbrite.rkt:51-85
- ISO8601 +-HHMM offset split      workers/facebook.rkt:22-28
- IANA-zone offset resolution      workers/eventbrite.rkt:54-66
- epoch pass-through, url synth    workers/meetup.rkt:43-44, facebook.rkt:41
- default-on-missing-path          hash.rkt:30-35 (nullable-everything)
- Either error values              README.md:30-42, api-runner.rkt:133-147

The canonical event record (FIXTURES.md §1.2, reference
data_formats.md:15-44) is a plain dict, every value nullable: string
`event_id`, `url`, `title`, `description`; int64 `time` and
`utcOffset` (epoch millis); a `venue` dict of strings `name`,
`address1`, `address2`, `country`, `city`, `postalCode` and floats
`lon`, `lat`; and `photos`, null or a list of `{url, width, height}`.
As in the reference, where each worker does the GET and turns the JSON
it got back straight into the record it writes (meetup.rkt:39-59,
api-runner.rkt:39-52), the fetch body (`datasource._fetch_rows`)
applies `ADAPTERS[adapter]` to every event in the task that fetched it
and yields the record plus `chapter_id` and the Either
`status`/`error`. `flat_record` is the one convert from there: the
`{id}.json` files and the golden ingest frames (FLAT_DDL) carry its
record, so no Spark type is built for the nested one.

Lenient reads (hash.rkt:30-35): a missing path or a value of the wrong
JSON type reads null and the event's other fields survive. A string
field takes a string or the decimal text of an integer; a coordinate
takes a number or a string holding a decimal one.

NOTE (design divergence, SURVEY.md §7): the reference keys Eventbrite
events by computed timestamp, silently dropping simultaneous events
(eventbrite.rkt:68). We keep `event_id` as the key — documented
intentional non-bug-parity.
"""

from __future__ import annotations

import re
from datetime import datetime, timedelta, timezone
from zoneinfo import ZoneInfo, ZoneInfoNotFoundError

from cuttlefish_spark.functions.markdown import render_markdown

# The flat record the `{id}.json` files and the golden ingest frames
# carry (`flat_record`).
FLAT_DDL = (
    "chapter_id string, event_id string, url string, time long, utc_offset long, "
    "title string, description string, venue_city string, venue_postal string, "
    "venue_lon double, venue_lat double, n_photos int, status string, error string"
)

_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
_MS = timedelta(milliseconds=1)
_DECIMAL = re.compile(r"[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?")
_FB_TIME = re.compile(
    r"([0-9]{4})-([0-9]{2})-([0-9]{2})T([0-9]{2}):([0-9]{2}):([0-9]{2})[+-][0-9]{4}"
)
_FB_OFFSET = re.compile(r"([+-])([0-9]{2})([0-9]{2})$")
_LOCAL_TIME = re.compile(
    r"([0-9]{4})-([0-9]{1,2})-([0-9]{1,2})"
    r"(?:[T ]([0-9]{1,2})(?::([0-9]{1,2})(?::([0-9]{1,2})(?:\.([0-9]{1,9}))?)?)?)?"
)


def _obj(v) -> dict:
    """A JSON object, or {} for anything else: a missing or wrong-typed
    path reads as null fields (hash.rkt:30-35)."""
    return v if isinstance(v, dict) else {}


def _str(v) -> str | None:
    """A string field: a JSON string, or the decimal text of a JSON
    integer (an id sent as a number keeps its file key); else null."""
    if isinstance(v, str):
        return v
    if isinstance(v, int) and not isinstance(v, bool):
        return str(v)
    return None


def _long(v) -> int | None:
    if isinstance(v, int) and not isinstance(v, bool) and -(2**63) <= v < 2**63:
        return v
    return None


def _double(v) -> float | None:
    """A JSON number, or a string holding a decimal one (Eventbrite
    sends coordinates as strings); else null."""
    if isinstance(v, str) and _DECIMAL.fullmatch(v.strip()):
        return float(v)
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        try:
            return float(v)
        except OverflowError:
            return None
    return None


def _millis(dt: datetime) -> int:
    return (dt - _EPOCH) // _MS


def _venue(name, a1, a2, country, city, postal, lon, lat) -> dict:
    return {
        "name": _str(name), "address1": _str(a1), "address2": _str(a2),
        "country": _str(country), "city": _str(city), "postalCode": _str(postal),
        "lon": _double(lon), "lat": _double(lat),
    }


def normalize_meetup(e: dict) -> dict:
    """meetup.rkt:39-59: rename (link->url, name->title,
    utc_offset->utcOffset, venue.zip->postalCode), epoch pass-through
    (meetup.rkt:43-44), photo list (meetup.rkt:55-58, width/height
    null). A `photo_sample` that is not a list of objects reads empty."""
    v = _obj(e.get("venue"))
    sample = _obj(e.get("photo_album")).get("photo_sample")
    if not isinstance(sample, list) or any(p is not None and not isinstance(p, dict)
                                           for p in sample):
        sample = []
    return {
        "event_id": _str(e.get("id")),
        "url": _str(e.get("link")),
        "time": _long(e.get("time")),
        "utcOffset": _long(e.get("utc_offset")),
        "title": _str(e.get("name")),
        "description": _str(e.get("description")),
        "venue": _venue(v.get("name"), v.get("address_1"), v.get("address_2"),
                        v.get("country"), v.get("city"), v.get("zip"),
                        v.get("lon"), v.get("lat")),
        "photos": [{"url": _str(_obj(p).get("photo_link")), "width": None, "height": None}
                   for p in sample],
    }


def _facebook_offset(start: str) -> int | None:
    """The ±HHMM tail of a Facebook time in millis, read even when the
    time itself does not parse."""
    m = _FB_OFFSET.search(start)
    if m is None:
        return None
    return (-1 if m.group(1) == "-" else 1) * (int(m.group(2)) * 60 + int(m.group(3))) * 60000


def _facebook_time(start: str, offset: int | None) -> int | None:
    """`yyyy-MM-dd'T'HH:mm:ss±HHMM` -> epoch millis. Anything else (a
    `Z` suffix, fractions, a colon in the offset, an offset beyond
    ±18:00 or with 60 minutes or more) reads null."""
    m = _FB_TIME.fullmatch(start)
    if m is None or abs(offset) > 18 * 3600000 or int(start[-2:]) > 59:
        return None
    try:
        return _millis(datetime(*map(int, m.groups()), tzinfo=timezone.utc)) - offset
    except ValueError:
        return None


def normalize_facebook(e: dict) -> dict:
    """facebook.rkt:35-55: ISO8601±HHMM parse + offset split
    (facebook.rkt:22-28), url synthesis (facebook.rkt:41), markdown
    description -> HTML (facebook.rkt:30-32,45), photos always null
    (facebook.rkt:55)."""
    event_id = _str(e.get("id"))
    start = _str(e.get("start_time")) or ""
    offset = _facebook_offset(start)
    place = _obj(e.get("place"))
    loc = _obj(place.get("location"))
    return {
        "event_id": event_id,
        "url": None if event_id is None else "https://facebook.com/" + event_id,
        "time": _facebook_time(start, offset),
        "utcOffset": offset,
        "title": _str(e.get("name")),
        "description": render_markdown(_str(e.get("description"))),
        "venue": _venue(place.get("name"), loc.get("street"), None, loc.get("country"),
                        loc.get("city"), loc.get("zip"), loc.get("longitude"),
                        loc.get("latitude")),
        "photos": None,
    }


def _local_time(s: str | None) -> datetime | None:
    """A naive `yyyy-m-d[(T| )h[:m[:s[.fraction]]]]` wall-clock time."""
    m = _LOCAL_TIME.fullmatch((s or "").strip())
    if m is None:
        return None
    *fields, frac = m.groups()
    micros = int((frac or "0")[:6].ljust(6, "0"))
    try:
        return datetime(*(int(f or 0) for f in fields), micros)
    except ValueError:
        return None


def _zone(name: str | None) -> ZoneInfo | None:
    """The IANA zone `name`, or None when it is unknown or malformed."""
    try:
        return ZoneInfo(name) if name else None
    except (ZoneInfoNotFoundError, ValueError, OSError):
        return None


def normalize_eventbrite(e: dict) -> dict:
    """eventbrite.rkt:51-85: naive-local + IANA zone -> DST-aware UTC
    epoch millis and offset (eventbrite.rkt:54-66; a time in a DST gap
    moves forward by the gap, one in an overlap takes the earlier
    offset); string lat/lon read as numbers; keyed by event_id (NOT by
    timestamp — divergence from the eventbrite.rkt:68 collision bug,
    see module docstring). An unknown zone or unparseable local time
    gives null time and utcOffset."""
    start = _obj(e.get("start"))
    local = _local_time(_str(start.get("local")))
    zone = _zone(_str(start.get("timezone")))
    time = offset = None
    if local is not None and zone is not None:
        at = local.replace(tzinfo=zone)
        time, offset = _millis(at), at.utcoffset() // _MS
    v = _obj(e.get("venue"))
    a = _obj(v.get("address"))
    return {
        "event_id": _str(e.get("id")),
        "url": _str(e.get("url")),
        "time": time,
        "utcOffset": offset,
        "title": _str(_obj(e.get("name")).get("text")),
        "description": _str(_obj(e.get("description")).get("text")),
        "venue": _venue(v.get("name"), a.get("address_1"), a.get("address_2"),
                        a.get("country"), a.get("city"), a.get("postal_code"),
                        a.get("longitude"), a.get("latitude")),
        "photos": None,
    }


# adapter -> normalizer (event dict -> canonical fields)
ADAPTERS = {
    "meetup": normalize_meetup,
    "facebook": normalize_facebook,
    "eventbrite": normalize_eventbrite,
}


def flat_record(rec: dict) -> dict:
    """A fetched row (the canonical record plus `chapter_id` and the
    Either `status`/`error`; an ERROR row holds only those three) ->
    the flat record (FLAT_DDL, in its column order): venue city/postal
    code/coordinates lifted out, photos counted. The `{id}.json` files
    and the golden ingest frames both carry it."""
    venue = rec.get("venue") or {}
    return {
        "chapter_id": rec["chapter_id"],
        "event_id": rec.get("event_id"),
        "url": rec.get("url"),
        "time": rec.get("time"),
        "utc_offset": rec.get("utcOffset"),
        "title": rec.get("title"),
        "description": rec.get("description"),
        "venue_city": venue.get("city"),
        "venue_postal": venue.get("postalCode"),
        "venue_lon": venue.get("lon"),
        "venue_lat": venue.get("lat"),
        "n_photos": len(rec.get("photos") or []),
        "status": rec["status"],
        "error": rec.get("error"),
    }

