"""Spark 4 Python DataSource for paginated JSON endpoints.

The driver-side ingest util (``http_ingest``) fetches pages in a loop —
correct, but serial. At scale (hundreds of endpoint-years) ingest
should be *distributed*: this DataSource makes each year one Spark
input partition, so a 1000-executor cluster fetches 1000 years/
endpoints concurrently while pagination inside a year stays sequential
(the API's ``next``-link contract, reference ``etl/http.py:106-121``).

Source shape mirrors the raw layer (reference ``etl/raw_io.py:16-26``):
one output row per page: (year, page_number, source_url, payload,
record_count) — ``payload`` is the canonical JSON array text
(``http_ingest.canonical_payload``), ready to hash and land with
``raw.write_pages``.

Every page is fetched through ``http_ingest.get_with_retries``, with its
retries, timeout and ``User-Agent`` from ``config.Settings``, and a
missing page ends the year. ``base_url=http(s)://...`` addresses page N
as ``{base_url}/{path_template}?page=N``; ``base_url=file:///dir``, the
offline fixture mode tests use, as ``{dir}/{path_template}page{N}.json``.

Usage:

    spark.dataSource.register(PaginatedJsonDataSource)
    df = (spark.read.format("paginated_json")
          .option("base_url", "file:///fixtures")
          .option("path_template", "ipeds/directory/{year}/")
          .option("year_start", "2019").option("year_end", "2021")
          .load())

The source runs in Python workers, which need not import this package:
the module and what it calls there ship by value (bottom of the file).
"""

from __future__ import annotations

import logging
import sys

from pyspark import cloudpickle
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from ipeds_etl_spark import config
from ipeds_etl_spark.sources import catalog, http_ingest
from ipeds_etl_spark.sources.http_ingest import (
    canonical_payload,
    endpoint_url,
    get_with_retries,
    parse_page,
)

SCHEMA = (
    "year int, page_number int, source_url string, payload string, record_count int"
)

log = logging.getLogger(__name__)


class YearPartition(InputPartition):
    def __init__(self, year: int):
        self.year = year


class PaginatedJsonDataSource(DataSource):
    """format name: ``paginated_json``."""

    @classmethod
    def name(cls) -> str:
        return "paginated_json"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> "PaginatedJsonReader":
        return PaginatedJsonReader(self.options)

    def simpleStreamReader(self, schema) -> "PaginatedJsonStreamReader":
        return PaginatedJsonStreamReader(self.options)


class PaginatedJsonReader(DataSourceReader):
    def __init__(self, options: dict):
        self.base_url = options.get("base_url", "")
        self.path_template = options.get("path_template", "{year}/")
        self.year_start = int(options.get("year_start", "0"))
        self.year_end = int(options.get("year_end", str(self.year_start)))
        # a 404/missing file on page 1 of a year is indistinguishable
        # from "this year has no data" at the transport level — but a
        # typo'd base_url/path_template 404s EVERY page-1 and would
        # silently yield an empty dataset. Default: loud warning per
        # empty year; strict_404=true upgrades page-1 misses to errors
        # for endpoints known to have data for every requested year.
        self.strict_404 = options.get("strict_404", "false").lower() == "true"

    def _empty_year(self, year: int) -> None:
        msg = (
            f"paginated_json: year {year} terminated on page 1 ({self._url(year, 1)}) — "
            "empty year, or a misconfigured base_url/path_template. "
            "Set strict_404=true to make this an error."
        )
        if self.strict_404:
            raise IOError(msg)
        log.warning(msg)

    def partitions(self):
        return [YearPartition(y) for y in range(self.year_start, self.year_end + 1)]

    def _url(self, year: int, page: int) -> str:
        url = endpoint_url(self.base_url, self.path_template, year)
        # a fixture directory holds one file per page; an API takes the
        # page as a query
        if self.base_url.startswith("file:"):
            return f"{url}page{page}.json"
        return f"{url}?page={page}"

    def page(self, year: int, page: int) -> tuple[tuple | None, bool]:
        """Fetch one page → ``(row | None, has_next)``.

        ``row`` is None when the page does not exist (HTTP 404 or a
        missing fixture file): end-of-data, not an error. ``has_next``
        honors the API's ``next`` link — a 200 response without one
        TERMINATES the year, so a live endpoint that answers empty
        pages forever cannot trap a reader in an endless loop."""
        url = self._url(year, page)
        body = get_with_retries(url, missing_ok=True)
        if body is None:
            return None, False
        records, nxt = parse_page(body)
        return (year, page, url, canonical_payload(records), len(records)), nxt is not None

    def read(self, partition: YearPartition):
        year, page = partition.year, 1
        while True:
            row, has_next = self.page(year, page)
            if row is None:
                if page == 1:
                    self._empty_year(year)
                return
            yield row
            if not has_next:
                return
            page += 1


# ---------------------------------------------------------------------------
# Streaming form: pages arrive as a stream (one page per poll)
# ---------------------------------------------------------------------------
class PaginatedJsonStreamReader(SimpleDataSourceStreamReader):
    """Streaming twin of the batch reader: the paginated endpoint
    becomes an unbounded source whose OFFSET is ``{"year": y, "page":
    p}`` — the next page to fetch. Each poll drains everything
    available past the offset (the SimpleStreamReader contract: read()
    returns ALL available rows + the resume offset), so a poll against
    a live endpoint picks up whatever published since the last one; a
    caught-up poll returns an empty batch with the offset unchanged.
    Spark checkpoints the offset dict, so restart resumes at the
    exact page — the incremental-ingest contract the reference's
    year-loop (``etl/http.py:106-121``) cannot express: its driver
    loop restarts from page 1. ``readBetweenOffsets`` replays a
    committed range deterministically for exactly-once sinks.

    Pairs with ``streaming.incremental_load.incremental_core_load``:
    raw pages stream in, foreachBatch merges them into core — ingest
    to serving with no full reload anywhere."""

    def __init__(self, options: dict):
        self._r = PaginatedJsonReader(options)
        # misconfiguration warnings fire once per year, not per poll
        self._warned_years: set[int] = set()
        # live-year hold warnings fire once per (year, page), not per
        # poll — a permanently missing page > 1 must leave a log signal
        self._warned_holds: set[tuple[int, int]] = set()

    def initialOffset(self) -> dict:
        return {"year": self._r.year_start, "page": 1}

    def read(self, start: dict):
        # contract: return ALL currently-available rows after `start`
        # plus the offset the next poll resumes from — on a live
        # endpoint each poll picks up newly published pages
        year, page = start["year"], start["page"]
        out: list[tuple] = []
        while year <= self._r.year_end:
            row, has_next = self._r.page(year, page)
            if row is None and year >= self._r.year_end:
                # LIVE (newest) year: HOLD the offset for ANY missing
                # page, not just page 1 — if a page > 1 transiently
                # 404s while its predecessor advertised a `next` link,
                # rolling over would skip the rest of the live year
                # permanently (ADVICE r7). The next poll retries the
                # same page; only the server's own no-`next` terminator
                # rolls the live year over. "No page 1 yet" is the
                # normal transient state of a live year.
                if page > 1 and (year, page) not in self._warned_holds:
                    # a server that advertised `next` and then truncated
                    # the chain would otherwise stall ingestion with no
                    # log signal at all (ADVICE r8) — warn once per held
                    # (year, page)
                    self._warned_holds.add((year, page))
                    log.warning(
                        f"paginated_json stream: holding offset at "
                        f"year {year} page {page} — predecessor "
                        "advertised `next` but the page is missing; "
                        "retrying every poll until it appears or "
                        "the year terminates"
                    )
                break
            if row is None and page == 1 and year not in self._warned_years:
                # misconfiguration guard (batch-reader analogue), for
                # years before the live one and once per year. Never
                # strict-raise here: an IOError would kill the stream
                # permanently over what may be a publication gap;
                # strict_404 stays a batch-reader contract.
                self._warned_years.add(year)
                log.warning(
                    f"paginated_json stream: year {year} has no page 1 "
                    f"({self._r._url(year, 1)}) — empty year, or a misconfigured "
                    "base_url/path_template."
                )
            if row is not None:
                out.append(row)
            # a missing page (404 / missing file) or a page without a
            # `next` link exhausts the year: roll over
            year, page = (year, page + 1) if has_next else (year + 1, 1)
        return iter(out), {"year": year, "page": page}

    def readBetweenOffsets(self, start: dict, end: dict):
        year, page = start["year"], start["page"]
        out = []
        while (year, page) < (end["year"], end["page"]) and year <= self._r.year_end:
            row, has_next = self._r.page(year, page)
            if row is not None:
                out.append(row)
            year, page = (year, page + 1) if has_next else (year + 1, 1)
        return iter(out)


# The source runs in Python workers, which may not be able to import
# this package (a session started from another working directory, with
# the package only on the driver's ``sys.path``): ship this module and
# what it calls there by value. ``config`` needs ``catalog`` for its
# ``mask_credentials``.
for _module in (config, catalog, http_ingest, sys.modules[__name__]):
    cloudpickle.register_pickle_by_value(_module)
