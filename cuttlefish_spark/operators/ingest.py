"""Ingestion queries: the reference's end-to-end pipeline and the
markdown pandas_udf.

The three pipeline queries share one fetch body
(`datasource._fetch_rows`, which normalizes each payload in the task
that fetched it into a canonical record dict) and one convert
(`adapters.flat_record`); they differ only in where the fetch runs: on
the driver (ingest_normalize), in batch fetch tasks
(ingest_datasource), or in microbatches of the streaming reader
(streaming_datasource_ingest). Each builds its frame once, from flat
records under FLAT_DDL, where the fetch ran: the records cross into
the JVM once, as `run.run_pipeline`'s do. The fetch's one throttle is
the reference's header backoff (`throttle.Throttle`, no fixed rate);
live transport runs one chapter per fetch task, so there that backoff
never delays a second request.
All three are checked against one GOLDEN oracle: the fixture inputs
are fixed, so the exact expected output is stated as a SQL VALUES
block (the reference's own test strategy — golden capture,
eventbrite.rkt:123-146). Any regression in an adapter's rename map,
timestamp/offset math, markdown rendering, photo transform, or error
routing changes a cell and fails the hash. markdown_html uses the same
strategy over its own committed fixture corpus (MD_FIXTURE), exporting
md5(html) so the golden stays inlineable.
"""

from __future__ import annotations

from pyspark import RDD
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuttlefish_spark.io import load_table
from cuttlefish_spark.registry import query
from cuttlefish_spark.sources import fixtures
from cuttlefish_spark.sources.adapters import FLAT_DDL, flat_record


# Golden expected output of all three pipeline queries (driver-side
# fetch, batch fetch tasks, streaming reader) — generated from the
# verified run, asserted cell-exact.
_INGEST_GOLDEN_SQL = """
    SELECT CAST(chapter_id AS VARCHAR) AS chapter_id,
           CAST(event_id AS VARCHAR) AS event_id,
           CAST(url AS VARCHAR) AS url,
           CAST(time AS DOUBLE) AS time,
           CAST(utc_offset AS DOUBLE) AS utc_offset,
           CAST(title AS VARCHAR) AS title,
           CAST(description AS VARCHAR) AS description,
           CAST(venue_city AS VARCHAR) AS venue_city,
           CAST(venue_postal AS VARCHAR) AS venue_postal,
           CAST(venue_lon AS DOUBLE) AS venue_lon,
           CAST(venue_lat AS DOUBLE) AS venue_lat,
           CAST(n_photos AS INTEGER) AS n_photos,
           CAST(status AS VARCHAR) AS status,
           CAST(error AS VARCHAR) AS error
    FROM (VALUES
        ('atlantis', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, 0, 'ERROR', 'No adapter found: carrierpigeon'),
        ('london', '44544109937', 'https://www.eventbrite.co.uk/e/papers-we-love-london-44544109937', 1520533800000, 0, 'PWL London: Spanner', 'Globally-distributed database.', 'London', 'EC2M 7EB', -0.0886, 51.5229, 0, 'OK', NULL),
        ('london', '44544109938', 'https://www.eventbrite.co.uk/e/papers-we-love-london-44544109938', 1523554200000, 3600000, 'PWL London: Calvin', NULL, NULL, NULL, NULL, NULL, 0, 'OK', NULL),
        ('london', '44544109939', 'https://www.eventbrite.co.uk/e/papers-we-love-london-44544109939', 1520791200000, -14400000, 'PWL London: FLP', 'Impossibility result.', 'New York', NULL, -74.0, 40.7, 0, 'OK', NULL),
        ('newyork', 'qxw9yzl3', 'https://www.meetup.com/papers-we-love/events/qxw9yzl3/', 1529017200000, -14400000, 'PWL #51: CRDTs', NULL, NULL, NULL, NULL, NULL, 0, 'OK', NULL),
        ('newyork', 'zvbxrpl2', 'https://www.meetup.com/papers-we-love/events/zvbxrpl2/', 1526425200000, -14400000, 'PWL #50: Sketching Algorithms', 'Count-Min Sketch and friends.', 'New York', '10013', -74.005, 40.723, 2, 'OK', NULL),
        ('stlouis', '186112975332637', 'https://facebook.com/186112975332637', 1526428800000, -18000000, 'Papers We Love STL: Raft', '<div class="event-api-content"><p>We will read <strong>In Search of an Understandable Consensus Algorithm</strong>.</p>' || chr(10) || '<p>Bring questions!</p></div>', 'St. Louis', '63110', -90.245, 38.632, 0, 'OK', NULL),
        ('stlouis', '201198900259786', 'https://facebook.com/201198900259786', 1529452800000, -18000000, 'Papers We Love STL: Paxos', '<div class="event-api-content"><p>Classic <em>Lamport</em>.</p></div>', NULL, NULL, NULL, NULL, 0, 'OK', NULL)
    ) AS t(chapter_id, event_id, url, time, utc_offset, title, description, venue_city, venue_postal, venue_lon, venue_lat, n_photos, status, error)
"""


@query("ingest_normalize", layer="A", oracle=_INGEST_GOLDEN_SQL)
def ingest_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole pipeline with the fetch on the driver:
    chapters work-list -> adapter dispatch -> fetch (fixture transport)
    -> per-source normalization to the canonical event schema, with
    the Either status split (SURVEY.md §3.1 restatement). The driver-side
    twin of ingest_datasource: the same fetch body and convert, no
    fetch tasks.

    Ignores sf_dir: inputs are the inline golden fixtures
    (sources.fixtures), mirroring eventbrite.rkt:123-146."""
    from cuttlefish_spark.sources.datasource import _fetch_rows

    rows = _fetch_rows(fixtures.CHAPTERS, "replay", None)
    return spark.createDataFrame([flat_record(r) for r in rows], FLAT_DDL)


@query("ingest_datasource", layer="A", oracle=_INGEST_GOLDEN_SQL)
def ingest_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same pipeline as ingest_normalize, but the fetch runs in Spark
    tasks on executors, one per work-list chunk (fetch_records), so Spark's
    scheduler owns the fan-out the reference hand-built as a 3-thread
    pool (api-runner.rkt:118-168; SURVEY.md §4 custom-work item 1).
    Each task normalizes the payloads it fetched, as the reference's
    worker does."""
    return datasource_canonical(spark)


def chapter_chunks(items: list[tuple], transport: str, parallelism: int) -> list[list[tuple]]:
    """Split the work-list into fetch-task chunks — the reference's
    chunk-list (chunk-list.rkt:6-18), balanced by count. A fetch task
    costs ~0.12 core-seconds of scheduling and Python setup (measured
    on replay, ROADMAP item 4), so the chunk size depends on the
    transport:
      - live HTTP: 1 chapter per task, so a slow or failing endpoint
        never stalls a batch of unrelated chapters and the scheduler
        owns retry at item granularity;
      - replay: ceil(n / parallelism), one chunk per core, so the
        whole work-list runs in one wave and each core pays the task
        setup once."""
    if transport == "live":
        per = 1
    else:
        per = max(1, -(-len(items) // parallelism))
    return [items[i : i + per] for i in range(0, len(items), per)]


def fetch_records(
    spark: SparkSession,
    chapters_path: str | None = None,
    transport: str = "replay",
    config: dict | None = None,
) -> RDD:
    """The chapter fetch as a lazy RDD of canonical record dicts with
    the Either `status`/`error`: the work-list at `chapters_path` (the
    golden fixture chapters without one) is split by `chapter_chunks`,
    and each chunk is one partition running `_fetch_rows` (fetch, then
    normalize) with its own Throttle and the run's `config` (the API
    tokens). Every chapter's rows stay in its chunk's partition, and
    the fetch runs inside the job of whatever reads the RDD, so read it
    once (the reference likewise fetches once per chapter,
    api-runner.rkt:129-143)."""
    from cuttlefish_spark.sources.chapters import load_chapters
    from cuttlefish_spark.sources.datasource import _fetch_rows

    sc = spark.sparkContext
    chunks = chapter_chunks(load_chapters(chapters_path), transport, sc.defaultParallelism)
    return sc.parallelize(chunks, max(1, len(chunks))).flatMap(
        lambda chunk: _fetch_rows(chunk, transport, config)
    )


def datasource_canonical(spark: SparkSession) -> DataFrame:
    """The golden fixture work-list through the replay batch fetch
    (fetch_records, one chunk per core), each fetch task converting its
    rows with `flat_record`, as a lazy frame under FLAT_DDL — the body
    of ingest_datasource."""
    return spark.createDataFrame(fetch_records(spark).map(flat_record), FLAT_DDL)


@query("streaming_datasource_ingest", layer="A", oracle=_INGEST_GOLDEN_SQL)
def streaming_datasource_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chapter fetch as a STREAMING Python DataSource (r12 VERDICT
    item 7 — the one extension rung the ladder didn't touch: Spark 4's
    simpleStreamReader): the same `cuttlefish_replay` source read via
    readStream, the chapter work-list served as a rate-limited stream
    of one chapter per microbatch (offset = index into the list,
    checkpointed by the engine; recovery replays readBetweenOffsets
    over the deterministic fixture transport). Its rows are the flat
    records of the batch fetch, converted by the same `flat_record` as
    ingest_datasource — same golden oracle, so the driver hash holds
    the streaming source to the batch fetch.

    Engine contract, measured: availableNow on a simple stream reader
    drains exactly ONE read() slice, so the drain uses the default
    microbatch trigger + processAllAvailable, which advances offsets
    read()-by-read() until the source reports no new data — the
    multi-batch offset walk is the thing this rung exercises (4
    fixture chapters at 1/batch = 4 non-empty microbatches). Scale
    posture: the simple API prefetches each slice DRIVER-side, bounded
    at one chapter — the rate-limit contract of a polling ingest; bulk
    backfills use the batch fetch's executor-side tasks
    (ingest_datasource)."""
    return streaming_ingest_canonical(spark)


def streaming_ingest_canonical(spark: SparkSession) -> DataFrame:
    """readStream(cuttlefish_replay) -> drain (default trigger +
    processAllAvailable — the multi-batch offset walk, one fixture
    chapter per microbatch) -> the drained flat records: the body of
    streaming_datasource_ingest."""
    import shutil
    import tempfile
    import uuid

    from cuttlefish_spark.sources.datasource import register

    register(spark)
    name = f"stream_ds_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="cuttlefish_stream_ds_ckpt_")
    try:
        q = (
            spark.readStream.format("cuttlefish_replay")
            .load()
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        rows = spark.table(name).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return rows


_VIDEOS_GOLDEN_SQL = """
    SELECT CAST(video_id AS VARCHAR) AS video_id,
           CAST(embed_url AS VARCHAR) AS embed_url,
           CAST(published_ms AS BIGINT) AS published_ms,
           CAST(title AS VARCHAR) AS title,
           CAST(description AS VARCHAR) AS description,
           CAST(thumb_default_url AS VARCHAR) AS thumb_default_url,
           CAST(thumb_default_width AS BIGINT) AS thumb_default_width,
           CAST(thumb_default_height AS BIGINT) AS thumb_default_height,
           CAST(thumb_medium_url AS VARCHAR) AS thumb_medium_url,
           CAST(thumb_medium_width AS BIGINT) AS thumb_medium_width,
           CAST(thumb_medium_height AS BIGINT) AS thumb_medium_height,
           CAST(thumb_high_url AS VARCHAR) AS thumb_high_url,
           CAST(thumb_high_width AS BIGINT) AS thumb_high_width,
           CAST(thumb_high_height AS BIGINT) AS thumb_high_height
    FROM (VALUES
        ('fB2UrqbfV-4', 'https://www.youtube.com/embed/fB2UrqbfV-4', 1485237387000, 'PwL Remote #2 - Definitional Interpreters', 'This talk was given on October 18th.', 'https://i.ytimg.com/vi/fB2UrqbfV-4/default.jpg', 120, 90, 'https://i.ytimg.com/vi/fB2UrqbfV-4/mqdefault.jpg', 320, 180, 'https://i.ytimg.com/vi/fB2UrqbfV-4/hqdefault.jpg', 480, 360),
        ('aa11bb22cc3', 'https://www.youtube.com/embed/aa11bb22cc3', 1520010605000, 'PWL NYC: Chord', NULL, 'https://i.ytimg.com/vi/aa11bb22cc3/default.jpg', 120, 90, NULL, NULL, NULL, NULL, NULL, NULL),
        ('zz99yy88xx7', 'https://www.youtube.com/embed/zz99yy88xx7', 1480550399500, 'PWL SF: Paxos Made Live', 'Paxos in production.', 'https://i.ytimg.com/vi/zz99yy88xx7/default.jpg', 120, 90, 'https://i.ytimg.com/vi/zz99yy88xx7/mqdefault.jpg', 320, 180, NULL, NULL, NULL)
    ) AS t(video_id, embed_url, published_ms, title, description,
           thumb_default_url, thumb_default_width, thumb_default_height,
           thumb_medium_url, thumb_medium_width, thumb_medium_height,
           thumb_high_url, thumb_high_width, thumb_high_height)
"""


@query("videos_normalize", layer="A", oracle=_VIDEOS_GOLDEN_SQL)
def videos_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize the reference's documented-but-never-ingested videos
    store (data_formats.md:46-74: id-keyed map with a nested
    thumbnails{default,medium,high} struct) into the canonical flat
    videos table — the last documented reference surface
    (VERDICT r4 "What's missing" item 1).

    File -> map_entries explode -> nested-struct flatten, the same
    declarative shape as the chapters config scan (A1); missing
    thumbnail sizes / descriptions degrade to nulls (lenient access,
    hash.rkt:30-35), and `published` is emitted as epoch ms so the
    value is independent of session timezone in both engines. Golden
    VALUES oracle, cell-exact like the ingest pipeline queries.
    Ignores sf_dir: input is the inline fixture (sources.videos)."""
    import json
    import os
    import tempfile

    from cuttlefish_spark.sources.videos import VIDEOS_RAW, read_videos_json

    d = tempfile.mkdtemp(prefix="cuttlefish_videos_")
    path = os.path.join(d, "videos.json")
    with open(path, "w") as f:
        json.dump(VIDEOS_RAW, f)
    out = read_videos_json(spark, path).localCheckpoint(eager=True)
    import shutil

    shutil.rmtree(d, ignore_errors=True)
    return out


# Golden (doc_id, md5(html), length(html)) for MD_FIXTURE, generated
# from the verified renderer run and hand-reviewed against the
# minimal-renderer spec (headings only when the whole block is one
# heading line; regex-order tag interleave on ***both***; lenient
# unterminated markers; empty/whitespace-only -> bare wrapper div;
# NULL propagates). md5 is over the UTF-8 bytes in both engines.
_MD_GOLDEN_SQL = """
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(html_md5 AS VARCHAR) AS html_md5,
           CAST(n_html_chars AS BIGINT) AS n_html_chars
    FROM (VALUES
        (1, 'bdc78e5d9611c3612597a60fba13cf94', 118),
        (2, '78476adac5b0d4acc4e7562783a3ae80', 123),
        (3, '668d2e859a611568bba9695dec4bc599', 117),
        (4, 'f310d5db09af76ce1b43113cf860892f', 37),
        (5, NULL, NULL),
        (6, 'b02e36a904600f834e4b27abb14a988b', 150),
        (7, 'aa48ebe83902744afd19beefad568dd0', 74),
        (8, '96a3a5a44f4337c9acb6a46783d8f59d', 108),
        (9, '6d35bde766387f47f38a74acad062e2c', 82),
        (10, '8771e1ae25fa2e13ebd58b9f398f02e5', 130),
        (11, 'f310d5db09af76ce1b43113cf860892f', 37),
        (12, '3219967e2833b49f9334c76538a29ff1', 89)
    ) AS t(doc_id, html_md5, n_html_chars)
"""


@query("markdown_html", layer="A", oracle=_MD_GOLDEN_SQL)
def markdown_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown -> HTML via the vectorized pandas_udf (facebook.rkt:
    30-32 parity; Arrow-batched, not per-row), run over the committed
    MD_FIXTURE corpus and exported as (doc_id, md5(html),
    length(html)) against a committed golden table — the hash-level
    check this query lacked while rows-only (r5 VERDICT item 2: the
    renderer is parity-critical for Facebook-source descriptions).
    Ignores sf_dir (fixture input, like videos_normalize); the
    renderer's sf-scale behavior is identical because render_markdown
    is a pure per-row scalar — corpus size changes nothing but batch
    count. md5 is computed over explicit UTF-8 bytes on both engines
    (Spark encode(); DuckDB md5() hashes the string's UTF-8), and
    length() counts codepoints in both, so the unicode doc pins the
    byte-vs-char distinction too. Uses the _minimal UDF explicitly so
    the golden table stays valid even if the optional `markdown`
    package appears in the driver image (r6 ADVICE item 1)."""
    from cuttlefish_spark.functions.markdown import (
        MD_FIXTURE,
        markdown_to_html_minimal,
    )

    docs = spark.createDataFrame(MD_FIXTURE, "doc_id long, text string")
    html = markdown_to_html_minimal(F.col("text"))
    return docs.select(
        "doc_id",
        F.md5(F.encode(html, "UTF-8")).alias("html_md5"),
        F.length(html).cast("long").alias("n_html_chars"),
    )
