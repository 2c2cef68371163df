"""Spark 4 Python DataSource for paginated JSON endpoints.

The driver-side ingest util (``http_ingest``) fetches pages in a loop —
correct, but serial. At scale (hundreds of endpoint-years) ingest
should be *distributed*: this DataSource makes each year one Spark
input partition, so a 1000-executor cluster fetches 1000 years/
endpoints concurrently while pagination inside a year stays sequential
(the API's ``next``-link contract, reference ``etl/http.py:106-121``).

Source shape mirrors the raw layer (reference ``etl/raw_io.py:16-26``):
one output row per page: (year, page_number, source_url, payload,
record_count) — ``payload`` is the canonical JSON array text, ready to
hash and land with ``raw.write_pages``.

Transports:
* ``base_url=file:///dir`` — offline/fixture mode: reads
  ``{dir}/{year}/page{N}.json`` files until one is missing. This is how
  tests exercise the full partition-planning + read path with zero
  network.
* ``base_url=http(s)://...`` — real paginated GET with the same
  retry/backoff policy as ``http_ingest`` (3 attempts, 1s/2s/4s).

Usage:

    spark.dataSource.register(PaginatedJsonDataSource)
    df = (spark.read.format("paginated_json")
          .option("base_url", "file:///fixtures")
          .option("path_template", "ipeds/directory/{year}/")
          .option("year_start", "2019").option("year_end", "2021")
          .load())

Deployment note: Python workers must be able to import this module
(ship the package with ``--py-files`` / a cluster env, standard for
Python data sources).
"""

from __future__ import annotations

import json

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

SCHEMA = (
    "year int, page_number int, source_url string, payload string, record_count int"
)


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
        self.max_retries = int(options.get("max_retries", "3"))
        # a 404/missing file on page 1 of a year is indistinguishable
        # from "this year has no data" at the transport level — but a
        # typo'd base_url/path_template 404s EVERY page-1 and would
        # silently yield an empty dataset. Default: loud warning per
        # empty year; strict_404=true upgrades page-1 misses to errors
        # for endpoints known to have data for every requested year.
        self.strict_404 = options.get("strict_404", "false").lower() == "true"

    def _empty_year(self, year: int, url: str) -> None:
        msg = (
            f"paginated_json: year {year} terminated on page 1 ({url}) — "
            "empty year, or a misconfigured base_url/path_template. "
            "Set strict_404=true to make this an error."
        )
        if self.strict_404:
            raise IOError(msg)
        import logging

        logging.getLogger(__name__).warning(msg)

    def partitions(self):
        return [YearPartition(y) for y in range(self.year_start, self.year_end + 1)]

    # -- transports --------------------------------------------------------
    def _fetch_file(self, year: int, page: int):
        from pathlib import Path

        root = Path(self.base_url[len("file://") :])
        f = root / str(year) / f"page{page}.json"
        if not f.exists():
            return None, str(f)
        return f.read_text(), str(f)

    def _fetch_http(self, year: int, page: int):
        import time
        import urllib.error
        import urllib.request

        path = self.path_template.replace("{year}", str(year)).lstrip("/")
        url = f"{self.base_url.rstrip('/')}/{path}?page={page}"
        for attempt in range(self.max_retries):
            try:
                with urllib.request.urlopen(url, timeout=30) as r:
                    return r.read().decode("utf-8"), url
            except urllib.error.HTTPError as e:
                if e.code == 404:
                    # past-the-end page on a 404-terminating server:
                    # end-of-data, not an error — same signal as the
                    # file transport's missing page{N}.json
                    return None, url
                if attempt == self.max_retries - 1:
                    raise
                time.sleep(2**attempt)
            except Exception:
                if attempt == self.max_retries - 1:
                    raise
                time.sleep(2**attempt)
        return None, url

    # -- read --------------------------------------------------------------
    def read(self, partition: YearPartition):
        year = partition.year
        page = 1
        while True:
            if self.base_url.startswith("file://"):
                body, url = self._fetch_file(year, page)
            else:
                body, url = self._fetch_http(year, page)
            if body is None:
                if page == 1:
                    self._empty_year(year, url)
                break
            data = json.loads(body)
            records = data.get("results", [])
            payload = json.dumps(
                records, sort_keys=True, separators=(",", ":"), default=str
            )
            yield (year, page, url, payload, len(records))
            if not data.get("next"):
                break
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

    def _fetch(self, year: int, page: int):
        if self._r.base_url.startswith("file://"):
            return self._r._fetch_file(year, page)
        return self._r._fetch_http(year, page)

    def _rows_for(self, year: int, page: int):
        """Fetch one page → ``(rows_or_None, has_next)``.

        ``rows_or_None`` is None when the page does not exist (missing
        fixture file, or HTTP 404 after the transport's end-of-data
        mapping). ``has_next`` honors the API's ``next`` link exactly
        like the batch reader's ``read`` loop — a 200 response without
        ``next`` TERMINATES the year, so a live endpoint that answers
        empty pages forever cannot trap the stream in an infinite
        empty-page loop."""
        body, url = self._fetch(year, page)
        if body is None:
            if page == 1 and year < self._r.year_end:
                # misconfiguration guard (batch-reader analogue), but
                # stream-scoped (ADVICE r6): only for years strictly
                # before the newest — "no page 1 yet" is a NORMAL
                # transient state for the live year — and at most once
                # per year, not per poll. Never strict-raise here: an
                # IOError would kill the stream permanently over what
                # may be a publication gap; strict_404 stays a
                # batch-reader contract.
                if year not in self._warned_years:
                    self._warned_years.add(year)
                    import logging

                    logging.getLogger(__name__).warning(
                        f"paginated_json stream: year {year} has no page 1 "
                        f"({url}) — empty year, or a misconfigured "
                        "base_url/path_template."
                    )
            return None, False
        data = json.loads(body)
        records = data.get("results", [])
        payload = json.dumps(
            records, sort_keys=True, separators=(",", ":"), default=str
        )
        return [(year, page, url, payload, len(records))], bool(data.get("next"))

    def read(self, start: dict):
        # contract: return ALL currently-available rows after `start`
        # plus the offset the next poll resumes from — on a live
        # endpoint each poll picks up newly published pages
        year, page = start["year"], start["page"]
        out: list[tuple] = []
        while year <= self._r.year_end:
            rows, has_next = self._rows_for(year, page)
            if rows is None:
                if year >= self._r.year_end:
                    # LIVE (newest) year: HOLD the offset for ANY
                    # missing page, not just page 1 — if a page > 1
                    # transiently 404s while its predecessor advertised
                    # a `next` link, rolling over would skip the rest
                    # of the live year permanently (ADVICE r7). The
                    # next poll retries the same page; only the
                    # server's own no-`next` terminator rolls the live
                    # year over.
                    if page > 1 and (year, page) not in self._warned_holds:
                        # the once-per-year "no page 1" warning above
                        # never covers this hold (it fires only for
                        # years before the live one), so a server that
                        # advertised `next` and then truncated the
                        # chain would stall ingestion with no log
                        # signal at all (ADVICE r8) — warn once per
                        # held (year, page)
                        self._warned_holds.add((year, page))
                        import logging

                        logging.getLogger(__name__).warning(
                            f"paginated_json stream: holding offset at "
                            f"year {year} page {page} — predecessor "
                            "advertised `next` but the page is missing; "
                            "retrying every poll until it appears or "
                            "the year terminates"
                        )
                    break
                # year exhausted (404 / missing file): roll over
                year, page = year + 1, 1
                continue
            out.extend(rows)
            if not has_next:
                # year exhausted (no `next` link): roll over — the
                # server's own pagination contract terminates a year,
                # and pages past a no-`next` page are never visited
                year, page = year + 1, 1
                continue
            page += 1
        return iter(out), {"year": year, "page": page}

    def readBetweenOffsets(self, start: dict, end: dict):
        year, page = start["year"], start["page"]
        out = []
        while (year, page) < (end["year"], end["page"]) and year <= self._r.year_end:
            rows, has_next = self._rows_for(year, page)
            if rows is None:
                year, page = year + 1, 1
                continue
            out.extend(rows)
            if not has_next:
                year, page = year + 1, 1
                continue
            page += 1
        return iter(out)
