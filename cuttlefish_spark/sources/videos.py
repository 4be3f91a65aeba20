"""Videos-table ingestion: the one documented reference surface its
code never ingests.

The reference documents a canonical videos store
(/root/reference/private/data/data_formats.md:46-74 — id-keyed map of
{embedUrl, published, title, description, thumbnails{default, medium,
high}{url, width, height}}) but ships no reader for it; the engine
closes that gap with a declarative map->rows explode: one wholetext
read, from_json with an explicit payload schema, map_entries explode,
nested-struct flatten. Missing thumbnails degrade to null
columns (hash.rkt:30-35 lenient-access semantics); `published` is an
ISO-8601 UTC instant and is emitted as epoch milliseconds
(unix_millis), which is session-timezone-independent in both engines.

Scale: a videos.json file is config-sized in the reference, but the
plan is a plain JSON scan -> project — pointing the same reader at a
directory of line-delimited payloads distributes without change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_THUMB_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
    ]
)

VIDEO_PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("embedUrl", T.StringType()),
        T.StructField("published", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField(
            "thumbnails",
            T.StructType(
                [
                    T.StructField("default", _THUMB_SCHEMA),
                    T.StructField("medium", _THUMB_SCHEMA),
                    T.StructField("high", _THUMB_SCHEMA),
                ]
            ),
        ),
    ]
)

# Replay fixture mirroring data_formats.md:46-74 — synthetic content,
# real structure. video B omits `medium` + description (lenient-access
# nulls); video C carries a fractional-second publish instant.
VIDEOS_RAW = {
    "fB2UrqbfV-4": {
        "embedUrl": "https://www.youtube.com/embed/fB2UrqbfV-4",
        "published": "2017-01-24T05:56:27.000Z",
        "title": "PwL Remote #2 - Definitional Interpreters",
        "description": "This talk was given on October 18th.",
        "thumbnails": {
            "default": {
                "url": "https://i.ytimg.com/vi/fB2UrqbfV-4/default.jpg",
                "width": 120,
                "height": 90,
            },
            "medium": {
                "url": "https://i.ytimg.com/vi/fB2UrqbfV-4/mqdefault.jpg",
                "width": 320,
                "height": 180,
            },
            "high": {
                "url": "https://i.ytimg.com/vi/fB2UrqbfV-4/hqdefault.jpg",
                "width": 480,
                "height": 360,
            },
        },
    },
    "aa11bb22cc3": {
        "embedUrl": "https://www.youtube.com/embed/aa11bb22cc3",
        "published": "2018-03-02T17:10:05.000Z",
        "title": "PWL NYC: Chord",
        "description": None,
        "thumbnails": {
            "default": {
                "url": "https://i.ytimg.com/vi/aa11bb22cc3/default.jpg",
                "width": 120,
                "height": 90,
            }
        },
    },
    "zz99yy88xx7": {
        "embedUrl": "https://www.youtube.com/embed/zz99yy88xx7",
        "published": "2016-11-30T23:59:59.500Z",
        "title": "PWL SF: Paxos Made Live",
        "description": "Paxos in production.",
        "thumbnails": {
            "default": {
                "url": "https://i.ytimg.com/vi/zz99yy88xx7/default.jpg",
                "width": 120,
                "height": 90,
            },
            "medium": {
                "url": "https://i.ytimg.com/vi/zz99yy88xx7/mqdefault.jpg",
                "width": 320,
                "height": 180,
            },
            "high": None,
        },
    },
}


def read_videos_json(spark: SparkSession, path: str) -> DataFrame:
    """Read a videos.json file (id-keyed map) into the canonical flat
    videos frame: wholetext -> from_json(map<string, payload>) ->
    map_entries explode -> project.
    """
    doc = spark.read.text(path, wholetext=True)
    entries = doc.select(
        F.explode(
            F.map_entries(
                F.from_json(
                    F.col("value"),
                    T.MapType(T.StringType(), VIDEO_PAYLOAD_SCHEMA),
                )
            )
        ).alias("e")
    )
    return normalize_videos(
        entries.select(F.col("e.key").alias("video_id"), F.col("e.value").alias("r"))
    )


def normalize_videos(keyed: DataFrame) -> DataFrame:
    """[video_id, r:payload-struct] -> canonical flat videos schema.
    `published` becomes epoch ms via unix_millis(cast-to-timestamp):
    the ISO-Z string pins the instant, so the result is independent of
    the session timezone (driver runs a vanilla JVM-TZ session)."""
    thumb_cols = []
    for size in ("default", "medium", "high"):
        for field in ("url", "width", "height"):
            thumb_cols.append(
                F.col(f"r.thumbnails.{size}.{field}").alias(f"thumb_{size}_{field}")
            )
    return keyed.select(
        "video_id",
        F.col("r.embedUrl").alias("embed_url"),
        F.unix_millis(F.col("r.published").cast("timestamp")).alias("published_ms"),
        F.col("r.title").alias("title"),
        F.col("r.description").alias("description"),
        *thumb_cols,
    )
