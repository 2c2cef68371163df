"""Frozen, env-backed engine settings (M7).

Capability parity with the reference's settings module (reference
``etl/config.py:109-154``): one immutable typed object holding every
tunable, environment-variable overrides with typed casts, and a *safe*
dump that masks credentials for notebook/log display.

Differences from the reference, deliberately:

* Values are read when ``Settings.from_env()`` runs, not at import
  (the reference resolves ``_get`` in class-body defaults, freezing
  the env at import time — untestable). ``get_settings()`` caches one
  instance per process; tests construct their own from a dict.
* ``DATABASE_URL`` becomes ``WAREHOUSE_URL`` — the engine's storage is
  a filesystem/object-store warehouse root, not a DBMS. It is still
  treated as a secret-bearing URL in ``dump()``.
"""

from __future__ import annotations

import os
from collections.abc import Mapping
from dataclasses import asdict, dataclass, fields

from ipeds_etl_spark.sources.catalog import mask_credentials


@dataclass(frozen=True)
class Settings:
    """Immutable engine settings. Field name upper-cased = env var name
    (e.g. ``warehouse_url`` ⇐ ``WAREHOUSE_URL``)."""

    #: Warehouse root (bronze/silver/gold tables live under it).
    #: ≅ reference DATABASE_URL (config.py:121) — secret-bearing.
    warehouse_url: str = "file:///tmp/ipeds_warehouse"
    #: Public API base (reference URBAN_BASE_URL default, config.py:127;
    #: neutral placeholder here).
    api_base_url: str = "https://educationdata.example/api/v1"
    #: HTTP behavior (reference config.py:132-136).
    request_timeout_seconds: float = 30.0
    rate_limit_rps: float = 4.0
    max_retries: int = 3
    user_agent: str = "ipeds-etl-spark/0.2"
    #: Engine/session knobs (no reference analog — Spark-side).
    shuffle_partitions: int = 32
    spark_master: str = ""  # "" -> local[<cpus>] fallback in session.py
    #: Driver heap for engine-created sessions. The 1g JVM default is
    #: undersized for local[32]: 32 concurrent tasks through the
    #: 102-column registry projection + parquet/zstd writers OOM it
    #: (observed); in local mode the driver JVM IS the executor.
    driver_memory: str = "8g"
    #: Cap on serialized task results per job. Spark's 1g default is
    #: undersized next to the 8g heap: materializing a localCheckpoint
    #: of a large frame (the 26M-pair LSH memo at the sf10 smoke) ships
    #: ~32 partition payloads through task results in local mode and
    #: aborts at 1g. 4g keeps the guard (it still catches runaway
    #: collects) while sizing it to the configured heap.
    driver_max_result_size: str = "4g"
    #: Logging (reference config.py:140-142).
    log_level: str = "INFO"

    _CASTS = {
        "request_timeout_seconds": float,
        "rate_limit_rps": float,
        "max_retries": int,
        "shuffle_partitions": int,
    }
    _SECRET_FIELDS = ("warehouse_url",)

    @classmethod
    def from_env(cls, env: Mapping[str, str] | None = None) -> "Settings":
        """Build settings from ``env`` (default ``os.environ``).
        Unknown/absent vars keep dataclass defaults; malformed numerics
        raise (loud during setup — matches the reference's intent of
        letting the cast fail, config.py:103-105)."""
        env = os.environ if env is None else env
        kwargs = {}
        for f in fields(cls):
            if f.name.startswith("_"):
                continue
            raw = env.get(f.name.upper())
            if raw is None and f.name == "shuffle_partitions":
                raw = env.get("SPARK_GRAFT_CPUS")  # driver-contract alias
            if raw is None and f.name == "spark_master":
                raw = env.get("SPARK_MASTER")
            if raw is not None:
                kwargs[f.name] = cls._CASTS.get(f.name, str)(raw)
        return cls(**kwargs)

    def dump(self) -> dict:
        """Safe snapshot for logs/notebooks: secret-bearing URLs are
        credential-masked (≅ reference ``dump_settings``, which hides
        DATABASE_URL entirely; masking keeps the host visible for
        debugging without leaking the password)."""
        out = {k: v for k, v in asdict(self).items() if not k.startswith("_")}
        for k in self._SECRET_FIELDS:
            out[k] = mask_credentials(out[k])
        return out


_settings: Settings | None = None


def get_settings() -> Settings:
    """Process-wide cached settings (first call reads the env)."""
    global _settings
    if _settings is None:
        _settings = Settings.from_env()
    return _settings


def reset_settings() -> None:
    """Drop the cache (tests re-read a patched env on next access)."""
    global _settings
    _settings = None
