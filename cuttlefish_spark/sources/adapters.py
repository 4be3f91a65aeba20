"""Source adapters: per-service raw schemas, normalizers to the
canonical event schema, and the convert step every fetch path shares.

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

Fetching lives in sources.datasource (`_fetch_rows`) over the
transports of sources.fetch: `replay` answers from the inline fixtures
(the reference's own test strategy — golden capture, no network,
eventbrite.rkt:123-146), `live` performs the real GET
(`fetch.http_transport`). Either way the fetch yields raw rows
(RAW_FETCH_DDL), and `normalize_raw` converts them: per-adapter
from_json, the normalizers below, and the Either split.
`dispatch_replay` is the driver-side composition of the two.

NOTE (design divergence, SURVEY.md §7): the reference keys Eventbrite
events by computed timestamp, silently dropping simultaneous events
(eventbrite.rkt:68). We keep `event_id` as the key — documented
intentional non-bug-parity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cuttlefish_spark.functions.markdown import markdown_to_html
from cuttlefish_spark.sources import fixtures

VENUE_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("address1", T.StringType()),
        T.StructField("address2", T.StringType()),
        T.StructField("country", T.StringType()),
        T.StructField("city", T.StringType()),
        T.StructField("postalCode", T.StringType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
    ]
)

PHOTO_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)

# Canonical normalized event record (FIXTURES.md §1.2 /
# reference data_formats.md:15-44). All fields nullable — the
# reference defaults missing paths to null rather than erroring.
CANONICAL_SCHEMA = T.StructType(
    [
        T.StructField("chapter_id", T.StringType()),
        T.StructField("event_id", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("time", T.LongType()),
        T.StructField("utcOffset", T.LongType()),
        T.StructField("title", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("venue", VENUE_SCHEMA),
        T.StructField("photos", T.ArrayType(PHOTO_SCHEMA)),
    ]
)

_MEETUP_RAW_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("link", T.StringType()),
        T.StructField("time", T.LongType()),
        T.StructField("utc_offset", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField(
            "venue",
            T.StructType(
                [
                    T.StructField("name", T.StringType()),
                    T.StructField("address_1", T.StringType()),
                    T.StructField("address_2", T.StringType()),
                    T.StructField("country", T.StringType()),
                    T.StructField("city", T.StringType()),
                    T.StructField("zip", T.StringType()),
                    T.StructField("lon", T.DoubleType()),
                    T.StructField("lat", T.DoubleType()),
                ]
            ),
        ),
        T.StructField(
            "photo_album",
            T.StructType(
                [
                    T.StructField(
                        "photo_sample",
                        T.ArrayType(
                            T.StructType([T.StructField("photo_link", T.StringType())])
                        ),
                    )
                ]
            ),
        ),
    ]
)

_FACEBOOK_RAW_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("start_time", T.StringType()),
        T.StructField(
            "place",
            T.StructType(
                [
                    T.StructField("name", T.StringType()),
                    T.StructField(
                        "location",
                        T.StructType(
                            [
                                T.StructField("street", T.StringType()),
                                T.StructField("country", T.StringType()),
                                T.StructField("city", T.StringType()),
                                T.StructField("zip", T.StringType()),
                                T.StructField("longitude", T.DoubleType()),
                                T.StructField("latitude", T.DoubleType()),
                            ]
                        ),
                    ),
                ]
            ),
        ),
    ]
)

_EVENTBRITE_RAW_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField(
            "name",
            T.StructType(
                [T.StructField("text", T.StringType()), T.StructField("html", T.StringType())]
            ),
        ),
        T.StructField(
            "description",
            T.StructType(
                [T.StructField("text", T.StringType()), T.StructField("html", T.StringType())]
            ),
        ),
        T.StructField(
            "start",
            T.StructType(
                [
                    T.StructField("timezone", T.StringType()),
                    T.StructField("local", T.StringType()),
                    T.StructField("utc", T.StringType()),
                ]
            ),
        ),
        T.StructField(
            "venue",
            T.StructType(
                [
                    T.StructField("name", T.StringType()),
                    T.StructField("latitude", T.StringType()),
                    T.StructField("longitude", T.StringType()),
                    T.StructField(
                        "address",
                        T.StructType(
                            [
                                T.StructField("address_1", T.StringType()),
                                T.StructField("address_2", T.StringType()),
                                T.StructField("city", T.StringType()),
                                T.StructField("region", T.StringType()),
                                T.StructField("postal_code", T.StringType()),
                                T.StructField("country", T.StringType()),
                                T.StructField("latitude", T.StringType()),
                                T.StructField("longitude", T.StringType()),
                            ]
                        ),
                    ),
                ]
            ),
        ),
    ]
)


def _venue(name: Column, a1: Column, a2: Column, country: Column, city: Column,
           postal: Column, lon: Column, lat: Column) -> Column:
    return F.struct(
        name.alias("name"),
        a1.alias("address1"),
        a2.alias("address2"),
        country.alias("country"),
        city.alias("city"),
        postal.alias("postalCode"),
        lon.cast("double").alias("lon"),
        lat.cast("double").alias("lat"),
    )


def normalize_meetup(r: Column) -> dict[str, Column]:
    """meetup.rkt:39-59: rename (link->url, name->title,
    utc_offset->utcOffset, venue.zip->postalCode), epoch pass-through
    (meetup.rkt:43-44), photo array transform (meetup.rkt:55-58,
    width/height null-defaulted)."""
    photos = F.transform(
        F.coalesce(r["photo_album"]["photo_sample"], F.array()),
        lambda p: F.struct(
            p["photo_link"].alias("url"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
        ),
    )
    return {
        "event_id": r["id"],
        "url": r["link"],
        "time": r["time"].cast("long"),
        "utcOffset": r["utc_offset"].cast("long"),
        "title": r["name"],
        "description": r["description"],
        "venue": _venue(
            r["venue"]["name"], r["venue"]["address_1"], r["venue"]["address_2"],
            r["venue"]["country"], r["venue"]["city"], r["venue"]["zip"],
            r["venue"]["lon"], r["venue"]["lat"],
        ),
        "photos": photos,
    }


def normalize_facebook(r: Column) -> dict[str, Column]:
    """facebook.rkt:35-55: ISO8601+-HHMM parse + offset split
    (facebook.rkt:22-28), url synthesis (facebook.rkt:41), markdown
    description -> HTML (facebook.rkt:30-32,45), photos always null
    (facebook.rkt:55)."""
    start = r["start_time"]
    ts = F.to_timestamp(start, "yyyy-MM-dd'T'HH:mm:ssxx")
    sign = F.when(F.regexp_extract(start, r"([+-])\d{4}$", 1) == "-", -1).otherwise(1)
    off_h = F.regexp_extract(start, r"[+-](\d{2})(\d{2})$", 1).cast("long")
    off_m = F.regexp_extract(start, r"[+-](\d{2})(\d{2})$", 2).cast("long")
    offset_ms = sign * (off_h * 3600 + off_m * 60) * 1000
    return {
        "event_id": r["id"],
        "url": F.concat(F.lit("https://facebook.com/"), r["id"]),
        "time": F.unix_millis(ts),
        "utcOffset": offset_ms.cast("long"),
        "title": r["name"],
        "description": markdown_to_html(r["description"]),
        "venue": _venue(
            r["place"]["name"], r["place"]["location"]["street"],
            F.lit(None).cast("string"), r["place"]["location"]["country"],
            r["place"]["location"]["city"], r["place"]["location"]["zip"],
            r["place"]["location"]["longitude"], r["place"]["location"]["latitude"],
        ),
        "photos": F.lit(None).cast(T.ArrayType(PHOTO_SCHEMA)),
    }


def normalize_eventbrite(r: Column) -> dict[str, Column]:
    """eventbrite.rkt:51-85: naive-local + IANA zone -> DST-aware UTC
    epoch millis and offset (eventbrite.rkt:54-66); stringified lat/lon
    cast to double; keyed by event_id (NOT by timestamp — divergence
    from the eventbrite.rkt:68 collision bug, see module docstring)."""
    local_ts = F.to_timestamp(r["start"]["local"])
    utc_ts = F.to_utc_timestamp(local_ts, r["start"]["timezone"])
    return {
        "event_id": r["id"],
        "url": r["url"],
        "time": F.unix_millis(utc_ts),
        "utcOffset": (F.unix_millis(local_ts) - F.unix_millis(utc_ts)).cast("long"),
        "title": r["name"]["text"],
        "description": r["description"]["text"],
        "venue": _venue(
            r["venue"]["name"], r["venue"]["address"]["address_1"],
            r["venue"]["address"]["address_2"], r["venue"]["address"]["country"],
            r["venue"]["address"]["city"], r["venue"]["address"]["postal_code"],
            r["venue"]["address"]["longitude"], r["venue"]["address"]["latitude"],
        ),
        "photos": F.lit(None).cast(T.ArrayType(PHOTO_SCHEMA)),
    }


# adapter -> (raw payload schema, canonical field builder)
ADAPTERS = {
    "meetup": (_MEETUP_RAW_SCHEMA, normalize_meetup),
    "facebook": (_FACEBOOK_RAW_SCHEMA, normalize_facebook),
    "eventbrite": (_EVENTBRITE_RAW_SCHEMA, normalize_eventbrite),
}


def normalize_raw(raw: DataFrame) -> DataFrame:
    """Raw fetch rows (RAW_FETCH_DDL: chapter_id/adapter/service_id/
    payload/status/error) -> nested canonical frame plus Either
    status/error columns. The CONVERT half (worker-* vs convert-json in
    the reference), shared by every fetch path, as projections with no
    union, so the raw frame is read once: each adapter's `from_json`
    runs under `CASE WHEN status = 'OK' AND adapter = '<name>'`, and
    each canonical field picks its adapter's builder column. ERROR rows
    keep null event fields."""
    hits = {name: (F.col("status") == "OK") & (F.col("adapter") == name) for name in ADAPTERS}
    parsed = raw.select(
        "chapter_id", "adapter", "status", "error",
        *[
            F.when(hits[name], F.from_json("payload", schema)).alias(name)
            for name, (schema, _) in ADAPTERS.items()
        ],
    )
    built = {name: build(F.col(name)) for name, (_, build) in ADAPTERS.items()}

    def field(f: T.StructField) -> Column:
        (first, cols), *rest = built.items()
        out = F.when(hits[first], cols[f.name])
        for name, cols in rest:
            out = out.when(hits[name], cols[f.name])
        return out.alias(f.name)

    return parsed.select(
        "chapter_id",
        *[field(f) for f in CANONICAL_SCHEMA.fields if f.name != "chapter_id"],
        "status",
        "error",
    )


def dispatch_replay(spark: SparkSession, chapters=None) -> DataFrame:
    """The full Layer-A pipeline with the fetch on the driver: chapters
    work-list -> per-adapter dispatch -> fetch (fixture transport) ->
    normalize, with Either-style status/error columns.

    The fetch body is the batch fetch's (`_fetch_rows`: throttle ->
    GET -> Either rows), run in-process instead of in fetch tasks;
    `normalize_raw` then converts the rows exactly as it does for the
    fetch tasks. `chapters` defaults to the golden fixture work-list."""
    from cuttlefish_spark.sources.datasource import RAW_FETCH_DDL, _fetch_rows

    if chapters is None:
        chapters = fixtures.CHAPTERS
    rows = list(_fetch_rows(chapters, {}))
    return normalize_raw(spark.createDataFrame(rows, RAW_FETCH_DDL))
