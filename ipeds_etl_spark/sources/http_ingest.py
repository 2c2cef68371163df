"""Paginated HTTP JSON ingest: the package's one GET, page parse and
payload form.

Capability parity with the reference HTTP client (reference
``etl/http.py``): GET with N retries and exponential backoff 1s/2s/4s
(``:36-79``), a page loop following ``next`` links, absolute or
relative (``:85-124``), and a ``1/rps`` sleep between page fetches
(``:120-121``). Retries, timeout, rate and ``User-Agent`` come from
``config.Settings`` (reference ``etl/config.py:124-126``).

``fetch_endpoint_pages`` is the driver-side loop: it follows ``next``
links, paces at ``1/rps`` and retries a 404 like any failure. The
``paginated_json`` DataSource (``sources.datasource``) reads pages in
Python workers through the same ``get_with_retries``, ``parse_page``
and ``canonical_payload``, takes a 404 as end-of-data and is not paced
(a per-partition sleep would not bound the rate of years read in
parallel). The transport is injectable so tests run fully offline.
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.parse
import urllib.request
from collections.abc import Callable

from ipeds_etl_spark.config import get_settings

Transport = Callable[[str], str]  # url -> response body (raises on failure)


class PageMissing(OSError):
    """The page does not exist: HTTP 404, or no file behind a ``file://`` URL."""


def _urllib_transport(url: str) -> str:
    settings = get_settings()
    request = urllib.request.Request(url, headers={"User-Agent": settings.user_agent})
    try:
        with urllib.request.urlopen(request, timeout=settings.request_timeout_seconds) as resp:  # noqa: S310
            return resp.read().decode("utf-8")
    except urllib.error.HTTPError as exc:
        if exc.code == 404:
            raise PageMissing(url) from exc
        raise
    except urllib.error.URLError as exc:
        if isinstance(exc.reason, FileNotFoundError):
            raise PageMissing(url) from exc
        raise


def get_with_retries(
    url: str,
    transport: Transport = _urllib_transport,
    max_retries: int | None = None,
    sleep: Callable[[float], None] = time.sleep,
    missing_ok: bool = False,
) -> str | None:
    """GET with exponential backoff (1s, 2s, 4s…); raises after the last
    attempt fails. With ``missing_ok`` a missing page returns None at
    once, unretried."""
    if max_retries is None:
        max_retries = get_settings().max_retries
    last_exc: Exception | None = None
    for attempt in range(max_retries):
        try:
            return transport(url)
        except Exception as exc:  # noqa: BLE001 — retry any transport failure
            if missing_ok and isinstance(exc, PageMissing):
                return None
            last_exc = exc
            if attempt < max_retries - 1:
                sleep(2.0**attempt)
    raise last_exc  # type: ignore[misc]


def endpoint_url(base_url: str, endpoint_path: str, year: int) -> str:
    """``endpoint_path`` for ``year`` (``{year}`` filled in) under ``base_url``."""
    path = endpoint_path.replace("{year}", str(year)).lstrip("/")
    return f"{base_url.rstrip('/')}/{path}"


def parse_page(body: str) -> tuple[list[dict], str | None]:
    """A page's ``results`` records and its ``next`` link (None on the last page)."""
    data = json.loads(body)
    return list(data.get("results", [])), data.get("next") or None


def canonical_payload(records: list[dict]) -> str:
    """A page's records as canonical JSON text (sorted keys, compact
    separators): what the raw layer stores and hashes, matching the
    reference's ``_stable_json_hash`` (``etl/raw_io.py:57-70``)."""
    return json.dumps(records, sort_keys=True, separators=(",", ":"), default=str)


def fetch_endpoint_pages(
    base_url: str,
    endpoint_path: str,
    year: int,
    transport: Transport = _urllib_transport,
    rps: float | None = None,
    sleep: Callable[[float], None] = time.sleep,
) -> list[list[dict]]:
    """Fetch ALL pages for one (endpoint, year); returns the per-page
    ``results`` lists (page structure preserved for the raw layer).

    Follows ``next`` links, absolute or relative; rate-limits between
    page fetches.
    """
    if rps is None:
        rps = get_settings().rate_limit_rps
    url: str | None = endpoint_url(base_url, endpoint_path, year)
    pages: list[list[dict]] = []
    while url:
        records, nxt = parse_page(get_with_retries(url, transport=transport, sleep=sleep))
        pages.append(records)
        url = urllib.parse.urljoin(url, nxt) if nxt else None
        if url:
            sleep(1.0 / rps)
    return pages
