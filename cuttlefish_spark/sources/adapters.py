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


def normalize_meetup(raw: DataFrame) -> DataFrame:
    """meetup.rkt:39-59: rename (link->url, name->title,
    utc_offset->utcOffset, venue.zip->postalCode), epoch pass-through
    (meetup.rkt:43-44), photo array transform (meetup.rkt:55-58,
    width/height null-defaulted)."""
    photos = F.transform(
        F.coalesce(F.col("photo_album.photo_sample"), F.array()),
        lambda p: F.struct(
            p["photo_link"].alias("url"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
        ),
    )
    return raw.select(
        F.col("chapter_id"),
        F.col("id").alias("event_id"),
        F.col("link").alias("url"),
        F.col("time").cast("long").alias("time"),
        F.col("utc_offset").cast("long").alias("utcOffset"),
        F.col("name").alias("title"),
        F.col("description"),
        _venue(
            F.col("venue.name"), F.col("venue.address_1"), F.col("venue.address_2"),
            F.col("venue.country"), F.col("venue.city"), F.col("venue.zip"),
            F.col("venue.lon"), F.col("venue.lat"),
        ).alias("venue"),
        photos.alias("photos"),
    )


def normalize_facebook(raw: DataFrame) -> DataFrame:
    """facebook.rkt:35-55: ISO8601+-HHMM parse + offset split
    (facebook.rkt:22-28), url synthesis (facebook.rkt:41), markdown
    description -> HTML (facebook.rkt:30-32,45), photos always null
    (facebook.rkt:55)."""
    ts = F.to_timestamp(F.col("start_time"), "yyyy-MM-dd'T'HH:mm:ssxx")
    sign = F.when(F.regexp_extract("start_time", r"([+-])\d{4}$", 1) == "-", -1).otherwise(1)
    off_h = F.regexp_extract("start_time", r"[+-](\d{2})(\d{2})$", 1).cast("long")
    off_m = F.regexp_extract("start_time", r"[+-](\d{2})(\d{2})$", 2).cast("long")
    offset_ms = sign * (off_h * 3600 + off_m * 60) * 1000
    return raw.select(
        F.col("chapter_id"),
        F.col("id").alias("event_id"),
        F.concat(F.lit("https://facebook.com/"), F.col("id")).alias("url"),
        F.unix_millis(ts).alias("time"),
        offset_ms.cast("long").alias("utcOffset"),
        F.col("name").alias("title"),
        markdown_to_html(F.col("description")).alias("description"),
        _venue(
            F.col("place.name"), F.col("place.location.street"),
            F.lit(None).cast("string"), F.col("place.location.country"),
            F.col("place.location.city"), F.col("place.location.zip"),
            F.col("place.location.longitude"), F.col("place.location.latitude"),
        ).alias("venue"),
        F.lit(None).cast(T.ArrayType(PHOTO_SCHEMA)).alias("photos"),
    )


def normalize_eventbrite(raw: DataFrame) -> DataFrame:
    """eventbrite.rkt:51-85: naive-local + IANA zone -> DST-aware UTC
    epoch millis and offset (eventbrite.rkt:54-66); stringified lat/lon
    cast to double; keyed by event_id (NOT by timestamp — divergence
    from the eventbrite.rkt:68 collision bug, see module docstring)."""
    local_ts = F.to_timestamp(F.col("start.local"))
    utc_ts = F.to_utc_timestamp(local_ts, F.col("start.timezone"))
    return raw.select(
        F.col("chapter_id"),
        F.col("id").alias("event_id"),
        F.col("url"),
        F.unix_millis(utc_ts).alias("time"),
        (F.unix_millis(local_ts) - F.unix_millis(utc_ts)).cast("long").alias("utcOffset"),
        F.col("name.text").alias("title"),
        F.col("description.text").alias("description"),
        _venue(
            F.col("venue.name"), F.col("venue.address.address_1"),
            F.col("venue.address.address_2"), F.col("venue.address.country"),
            F.col("venue.address.city"), F.col("venue.address.postal_code"),
            F.col("venue.address.longitude"), F.col("venue.address.latitude"),
        ).alias("venue"),
        F.lit(None).cast(T.ArrayType(PHOTO_SCHEMA)).alias("photos"),
    )


NORMALIZERS = {
    "meetup": normalize_meetup,
    "facebook": normalize_facebook,
    "eventbrite": normalize_eventbrite,
}


def normalize_raw(raw: DataFrame) -> DataFrame:
    """Raw fetch rows (RAW_FETCH_DDL: chapter_id/adapter/service_id/
    payload/status/error) -> nested canonical frame plus Either
    status/error columns: per-adapter from_json, the declarative
    normalizers, and the ERROR rows passed through with null event
    fields. The CONVERT half (worker-* vs convert-json in the
    reference), shared by every fetch path; the plan is one union
    branch per adapter plus one for errors, whatever the work-list
    length."""
    schemas = {
        "meetup": _MEETUP_RAW_SCHEMA,
        "facebook": _FACEBOOK_RAW_SCHEMA,
        "eventbrite": _EVENTBRITE_RAW_SCHEMA,
    }
    cols = [f.name for f in CANONICAL_SCHEMA.fields] + ["status", "error"]
    frames = []
    for adapter, schema in schemas.items():
        parsed = (
            raw.filter((F.col("adapter") == adapter) & (F.col("status") == "OK"))
            .select("chapter_id", F.from_json("payload", schema).alias("r"))
            .select("chapter_id", "r.*")
        )
        frames.append(
            NORMALIZERS[adapter](parsed)
            .withColumn("status", F.lit("OK"))
            .withColumn("error", F.lit(None).cast("string"))
            .select(cols)
        )
    err = raw.filter(F.col("status") == "ERROR").select(
        "chapter_id",
        *[
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in CANONICAL_SCHEMA.fields
            if f.name != "chapter_id"
        ],
        "status",
        "error",
    ).select(cols)
    out = frames[0]
    for fr in frames[1:] + [err]:
        out = out.unionByName(fr)
    return out


def dispatch_replay(spark: SparkSession, chapters=None) -> DataFrame:
    """The full Layer-A pipeline with the fetch on the driver: chapters
    work-list -> per-adapter dispatch -> fetch (fixture transport) ->
    normalize -> union, with Either-style status/error columns.

    The fetch body is the batch fetch's (`_fetch_rows`: throttle ->
    GET -> Either rows), run in-process instead of in fetch tasks;
    `normalize_raw` then converts the rows exactly as it does for the
    fetch tasks. `chapters` defaults to the golden fixture work-list."""
    from cuttlefish_spark.sources.datasource import RAW_FETCH_DDL, _fetch_rows

    if chapters is None:
        chapters = fixtures.CHAPTERS
    rows = list(_fetch_rows(chapters, {}))
    return normalize_raw(spark.createDataFrame(rows, RAW_FETCH_DDL))
