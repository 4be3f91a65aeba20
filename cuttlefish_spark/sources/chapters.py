"""Chapters work-list ingestion: the reference's JSON config-table read
and map->rows explode.

Parity anchors (/root/reference/private):
- A2 JSON table read, crash-out on missing path  api-runner.rkt:171-178
- A3 id-keyed hash -> list of (id, payload) rows api-runner.rkt:152-155
- chapters file shape (36 rows, id -> {title, dataService:{adapter,
  id[, organization]}})                          data/chapters.json:1-255,
                                                 data/data_formats.md:1-13
- lenient nested access                          hash.rkt:30-35

The chapters file is *config*, not data (36 rows in the shipped
reference file), and is keyed by dynamic chapter ids. `load_chapters`
reads it on the driver into the work-list tuples
(chapter_id, title, adapter, service_id, organization) that every
fetch path takes: the batch fetch's chunks, the streaming
reader's offset space, and ingest_normalize's driver-side fetch. Driver
residency mirrors the reference broadcasting config to its workers
(api-runner.rkt:196-199).
"""

from __future__ import annotations

import json


def load_chapters(path: str | None = None) -> list[tuple]:
    """The chapter work-list of the chapters.json file at `path`; with
    no path, the golden fixture chapters.

    A missing file raises FileNotFoundError, and a file that is not
    JSON or whose top level is not an object raises ValueError naming
    the file — the reference aborts the run on an unreadable chapters
    table (api-runner.rkt:174-178). A chapter
    whose payload or `dataService` is not an object reads as null
    fields (hash.rkt:30-35), so it becomes one `No adapter found: None`
    ERROR row instead of failing the run."""
    if not path:
        from cuttlefish_spark.sources import fixtures

        return list(fixtures.CHAPTERS)
    with open(path, encoding="utf-8") as fh:
        try:
            doc = json.load(fh)
        except ValueError as e:  # not JSON, or not UTF-8
            raise ValueError(f"chapters file {path} is not JSON: {e}") from e
    if not isinstance(doc, dict):
        raise ValueError(f"chapters file {path} must hold a JSON object")
    items = []
    for cid, payload in doc.items():
        payload = payload if isinstance(payload, dict) else {}
        svc = payload.get("dataService")
        svc = svc if isinstance(svc, dict) else {}
        items.append((cid, payload.get("title"), svc.get("adapter"),
                      svc.get("id"), svc.get("organization")))
    return items
