"""The chapter-fetch body and the streaming `cuttlefish_replay` source.

The reference's fetch layer is a worker pool: chapters are chunked,
each worker thread dispatches on the adapter key and performs an HTTPS
GET (api-runner.rkt:118-148, meetup.rkt:83-84). Here the work items are
Spark tasks, so Spark's scheduler — not a bespoke thread pool (A5) —
owns fan-out, retry and locality.

`_fetch_rows` fetches and converts in one pass, as the reference's
worker does the GET and normalizes what it got back (meetup.rkt:39-59,
83-84): each event goes through its adapter's normalizer
(`adapters.ADAPTERS`) in the task that fetched it, and the body yields
canonical records as dicts, with the Either-style `status`/`error`
(README.md:30-42). Each call owns one `Throttle`, the reference's
header backoff (meetup.rkt:9-26), shared by every request it makes:
one per task, not a global lock. On live transport a task holds one
chapter, so the backoff a response asks for never delays another
request until several requests run in one task.

Both transports run the SAME fetch body (sources.fetch.fetch_events:
header backoff -> GET -> header-driven throttle update -> Either
errors). "replay" (every caller but a live `run_pipeline`) answers
from the golden fixtures through HTTP-shaped responses (the
reference's own test strategy, eventbrite.rkt:123-146); "live"
performs the real urllib GET against the worker APIs
(meetup.rkt:83-84, facebook.rkt:82-83, eventbrite.rkt:114).

Three callers share `_fetch_rows`, and each turns its dicts into the
flat record (`adapters.flat_record`) once, where it fetched them:
- the batch pipeline (`operators.ingest.fetch_records`, behind
  `run.run_pipeline` and `datasource_canonical`) splits the work-list
  with `chapter_chunks` and runs one fetch task per chunk over
  `sparkContext.parallelize`;
- the registered `cuttlefish_replay` format, a stream-only source of
  flat records (FLAT_DDL) for `readStream`
  (`streaming_datasource_ingest`). It has no batch reader, so
  `spark.read.format("cuttlefish_replay")` fails at analysis;
- `ingest_normalize`, which runs the fetch on the driver, without
  fetch tasks.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import StructType

from cuttlefish_spark.sources.adapters import ADAPTERS, FLAT_DDL, flat_record
from cuttlefish_spark.sources.chapters import load_chapters


def _error_row(chapter_id: str, error: str) -> dict:
    """A chapter's one ERROR row: no event fields, which every reader
    (`flat_record`, the sink) takes as null."""
    return {"chapter_id": chapter_id, "status": "ERROR", "error": error}


def _fetch_rows(chapters: list[tuple], transport: str, config: dict | None) -> Iterator[dict]:
    """The shared fetch body (backoff -> GET -> normalize -> Either rows
    as canonical record dicts) over `transport` ("live" or "replay"),
    with one Throttle for every request of the call (a batch fetch
    task, a microbatch slice for the streaming reader, the whole
    work-list for ingest_normalize) — the reference's adaptive
    throttle placed per worker (meetup.rkt:9-26). `config` is the
    run's config, whose API tokens go into each request
    (build_request)."""
    from cuttlefish_spark.sources.fetch import (
        FixtureTransport,
        fetch_events,
        http_transport,
    )
    from cuttlefish_spark.sources.throttle import Throttle

    throttle = Throttle()
    get = http_transport if transport == "live" else FixtureTransport()
    for chapter in chapters:
        chapter_id, _title, adapter, service_id, organization = chapter
        normalize = ADAPTERS.get(adapter)
        if normalize is None:
            # No request is made, so the throttle is not consulted.
            yield _error_row(chapter_id, f"No adapter found: {adapter}")
            continue
        events, error = fetch_events(
            adapter,
            service_id,
            organization or service_id,
            transport=get,
            throttle=throttle,
            config=config,
        )
        if error is not None:
            yield _error_row(chapter_id, error)
            continue
        for event in events:
            yield {"chapter_id": chapter_id, **normalize(event), "status": "OK", "error": None}


class ChapterReplayStreamReader(SimpleDataSourceStreamReader):
    """The chapter-fetch DataSource's reader (Spark 4
    simpleStreamReader): the golden fixture work-list becomes a
    RATE-LIMITED stream, each microbatch serving the next work item
    (offset = index into the list). This is the production
    shape of a polling ingest: a bounded slice of the upstream work
    per trigger, offsets checkpointed by the engine, recovery replay
    via readBetweenOffsets over the same deterministic fetch body
    (fixture replay IS deterministic — the reference's own test
    strategy, eventbrite.rkt:123-146).

    The simple API prefetches each slice DRIVER-side by design —
    bounded at one chapter, which is exactly the rate-limit
    contract of a polling source; bulk backfills use the batch
    fetch's executor-side tasks (operators.ingest.fetch_records) instead.
    An exhausted list returns an empty slice at a fixed offset, so
    processAllAvailable terminates (availableNow on simple readers
    drains only ONE read() call — measured; the
    streaming_datasource_ingest query documents and works this engine
    contract)."""

    def __init__(self):
        self._items = load_chapters()

    def initialOffset(self) -> dict:
        return {"index": 0}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        i = int(start["index"])
        if i >= len(self._items):
            return iter([]), {"index": i}
        return self._rows(i, i + 1), {"index": i + 1}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        return self._rows(int(start["index"]), int(end["index"]))

    def _rows(self, i: int, j: int) -> Iterator[tuple]:
        """Work items i..j fetched as flat record tuples (`flat_record`
        keeps FLAT_DDL's column order). A list-iterator, not a
        generator: the engine's prefetch cache copy.copy()s the
        iterator it is handed, and generators don't copy."""
        rows = _fetch_rows(self._items[i:j], "replay", None)
        return iter([tuple(flat_record(r).values()) for r in rows])

    def commit(self, end: dict) -> None:
        pass


class ChapterReplayDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "cuttlefish_replay"

    def schema(self) -> str:
        return FLAT_DDL

    def simpleStreamReader(self, schema: StructType) -> ChapterReplayStreamReader:
        return ChapterReplayStreamReader()


def register(spark) -> None:
    spark.dataSource.register(ChapterReplayDataSource)
