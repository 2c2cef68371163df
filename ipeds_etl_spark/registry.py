"""Endpoint catalog: declarative schema + candidate keys + PK per endpoint.

Capability parity with the reference catalog (reference
``etl/registry.py:37-167`` declares the 102-column ``directory``
schema/PK; reference ``etl/mappers/directory.py:126-238`` declares the
candidate-key fallbacks). Column names and alias lists are facts of the
public Urban Institute IPEDS API surface.

Design difference from the reference (intentional, Spark-first): the
reference splits the contract across a SQL-type dict and a hand-written
per-record Python mapper; here ONE table of ``(name, type, aliases)``
drives everything —

* ``struct_type(endpoint)``  → the typed Spark schema (≅ core DDL,
  reference ``etl/core_io.py:26-54``),
* ``mapper_columns(endpoint)`` → a generated list of cleaned/cast/
  coalesced Column expressions (≅ the row mapper, but columnar, no
  Python in the loop); ``mapper_select_stages`` is its SQL-text form,
  the one production runs,
* ``candidate_keys(endpoint)`` → the record keys the mapper reads
  (the typed parse of raw payloads),
* ``primary_key(endpoint)``  → merge/upsert conflict target.

Field type codes: ``i``=int, ``l``=bigint, ``s``=string, ``d``=double.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ipeds_etl_spark.functions.cleaning import (
    coalesce_pick,
    safe_double,
    safe_int,
    safe_long,
    safe_str,
)


@dataclass(frozen=True)
class Field:
    name: str
    type: str  # i / l / s / d
    aliases: tuple[str, ...] = ()

    @property
    def candidates(self) -> tuple[str, ...]:
        return (self.name, *self.aliases)


@dataclass(frozen=True)
class Endpoint:
    name: str
    path: str  # API path template (ingest documentation)
    fields: tuple[Field, ...]
    pk: tuple[str, ...]

    def field(self, name: str) -> Field:
        for f in self.fields:
            if f.name == name:
                return f
        raise KeyError(name)


def _f(spec: str) -> Field:
    """Parse ``"name:type"`` or ``"name:type:alias1|alias2"``."""
    parts = spec.split(":")
    aliases = tuple(parts[2].split("|")) if len(parts) > 2 else ()
    return Field(parts[0], parts[1], aliases)


# One row per institution-year from the IPEDS "directory" endpoint.
# Aliases reflect observed field drift across API vintages.
_DIRECTORY_FIELDS = tuple(
    _f(s)
    for s in [
        # primary key
        "unitid:i",
        "year:i",
        # identity / contact
        "opeid:s",
        "inst_name:s:institution_name|instnm|name",
        "inst_alias:s",
        "address:s",
        "city:s",
        "state_abbr:s:stabbr|state",
        "zip:s:zip5|zip_code",
        "phone_number:s:phone",
        "url_school:s:website|web_address",
        "url_fin_aid:s",
        "url_application:s",
        "url_netprice:s",
        "url_veterans:s",
        "url_athletes:s",
        "url_disability_services:s",
        "ein:s",
        "duns:s",
        "ueis:s",
        "chief_admin_name:s",
        "chief_admin_title:s",
        "inst_system_name:s",
        # geography
        "fips:i",
        "county_name:s",
        "county_fips:i",
        "region:i",
        "urban_centric_locale:i:locale",
        "cbsa:i",
        "cbsa_type:i",
        "csa:i",
        "necta:i",
        "congress_district_id:i",
        "latitude:d:lat",
        "longitude:d:lon|lng",
        # status / attributes
        "inst_status:i",
        "sector:i:sector_cd",
        "inst_control:i:control",
        "institution_level:i:level|iclevel",
        "inst_category:i",
        "inst_size:i",
        "degree_granting:i",
        "title_iv_indicator:i",
        "hbcu:i",
        "tribal_college:i",
        "land_grant:i",
        "hospital:i",
        "medical_degree:i",
        "open_public:i",
        "currently_active_ipeds:i",
        "postsec_public_active:i",
        "postsec_public_active_title_iv:i",
        "primarily_postsecondary:i",
        "offering_highest_degree:i",
        "offering_highest_level:i",
        "offering_undergrad:i",
        "offering_grad:i",
        "reporting_method:i",
        "inst_system_flag:i",
        "comparison_group:i",
        "comparison_group_custom:i",
        # mergers / deletions / dates
        "newid:i",
        "date_closed:s",
        "year_deleted:i",
        # Carnegie classifications
        *[f"cc_basic_{y}:i" for y in (2000, 2010, 2015, 2018, 2021)],
        *[
            f"cc_{g}_{y}:i"
            for g in ("instruc_undergrad", "instruc_grad", "undergrad", "enroll", "size_setting")
            for y in (2010, 2015, 2018, 2021)
        ],
    ]
)

# Documented-but-absent endpoints in the reference snapshot
# (reference architecture.md:42-43,53-55) — registered here so the view
# layer (enrichment joins, KPIs, completions-by-CIP) has real contracts.
_ADMISSIONS_FIELDS = tuple(
    _f(s) for s in ["unitid:i", "year:i", "applied:i", "admitted:i", "enrolled:i"]
)
_COMPLETIONS_FIELDS = tuple(
    _f(s) for s in ["unitid:i", "year:i", "cipcode:s", "award_level:i", "completions:i"]
)

REGISTRY: dict[str, Endpoint] = {
    "directory": Endpoint(
        name="directory",
        path="ipeds/directory/{year}/",
        fields=_DIRECTORY_FIELDS,
        pk=("unitid", "year"),
    ),
    "admissions": Endpoint(
        name="admissions",
        path="ipeds/admissions-enrollment/{year}/",
        fields=_ADMISSIONS_FIELDS,
        pk=("unitid", "year"),
    ),
    "completions": Endpoint(
        name="completions",
        path="ipeds/completions-cip/{year}/",
        fields=_COMPLETIONS_FIELDS,
        pk=("unitid", "year", "cipcode", "award_level"),
    ),
}

_SPARK_TYPES = {
    "i": T.IntegerType(),
    "l": T.LongType(),
    "s": T.StringType(),
    "d": T.DoubleType(),
}
_SAFE_CASTS = {"i": safe_int, "l": safe_long, "s": safe_str, "d": safe_double}


def get_endpoint(name: str) -> Endpoint:
    if name not in REGISTRY:
        raise KeyError(f"endpoint {name!r} not registered; known: {sorted(REGISTRY)}")
    return REGISTRY[name]


def list_endpoints() -> list[str]:
    return sorted(REGISTRY)


def struct_type(endpoint: str) -> T.StructType:
    """Typed Spark schema for the endpoint's core table."""
    ep = get_endpoint(endpoint)
    nullable = {f.name: f.name not in ep.pk for f in ep.fields}
    return T.StructType(
        [T.StructField(f.name, _SPARK_TYPES[f.type], nullable[f.name]) for f in ep.fields]
    )


def mapper_columns(
    endpoint: str,
    available: set[str] | None = None,
    getter: Callable[[str], Column] = F.col,
) -> list[Column]:
    """Generated normalization expressions: one aliased Column per field.

    Each output column = safe_cast(coalesce_pick(candidate columns)).
    ``available`` restricts candidates to fields actually present in the
    input (records from old API vintages lack some aliases); a field
    with no present candidate becomes a typed NULL so output schema is
    total and stable. ``getter`` maps a candidate name to a Column —
    ``F.col`` for flat records, or a map/struct item accessor for
    exploded JSON records (absent keys yield NULL, which
    ``coalesce_pick`` already skips).
    """
    ep = get_endpoint(endpoint)
    out: list[Column] = []
    for f in ep.fields:
        cands = [c for c in f.candidates if available is None or c in available]
        if cands:
            expr = _SAFE_CASTS[f.type](coalesce_pick(*[getter(c) for c in cands]))
        else:
            expr = F.lit(None).cast(_SPARK_TYPES[f.type])
        out.append(expr.alias(f.name))
    return out


_SQL_TYPES = {"i": "INT", "l": "BIGINT", "s": "STRING", "d": "DOUBLE"}


def candidate_keys(endpoint: str) -> tuple[str, ...]:
    """Every distinct candidate key of the endpoint's fields, in
    declaration order — the record keys the mapper reads.
    ``plans.core_pipeline.map_pages`` parses payloads into one string
    field per key, in this order."""
    keys = (c for f in get_endpoint(endpoint).fields for c in f.candidates)
    return tuple(dict.fromkeys(keys))


def mapper_select_stages(
    endpoint: str, getter_sql: Callable[[str], str] | None = None
) -> list[list[str]]:
    """SQL-text form of :func:`mapper_columns`, as three projections
    to run in order, one ``selectExpr`` each:

    1. ``__s<i>`` — each candidate key's value, cast to string and
       stripped, ONCE;
    2. ``__p<j>`` — each field's pick: the first candidate whose
       stripped value is not missing (already clean, see
       ``cleaning.pick_stripped_sql``);
    3. each field under its own name, guard-cast from its pick.

    Why text: the Column form costs a Py4J round trip per method call —
    ~5 s of driver time per build for the ~100-field directory mapper;
    one ``selectExpr`` is parsed JVM-side. Why stages: a candidate's
    strip is read by both its missing test and its pick, and a pick by
    every guard of its cast; a separate projection computes each once
    (CollapseProject does not duplicate non-cheap expressions into the
    projection above), and the tree Catalyst walks stays linear in the
    number of candidates. Intermediate names are positional, so keys or
    fields that differ only in case never meet the case-insensitive
    resolver. Each candidate is read once, in stage 1: a field access
    over the typed records of ``plans.core_pipeline.map_pages``, a scan
    of the record's keys over ``map<string,string>`` records.

    ``getter_sql`` maps a candidate key to a SQL expression — default
    backtick-quoted identifier; e.g. ``lambda n: f"rec['{n}']"`` for
    map-typed records. Row parity with :func:`mapper_columns` is pinned
    by ``tests/test_registry.py``.
    """
    from ipeds_etl_spark.functions.cleaning import (
        cast_stripped_sql,
        pick_stripped_sql,
        strip_sql,
    )

    if getter_sql is None:
        def getter_sql(name: str) -> str:
            return f"`{name}`"
    keys = candidate_keys(endpoint)
    stripped = {k: f"`__s{i}`" for i, k in enumerate(keys)}
    strips = [
        f"{strip_sql(f'CAST({getter_sql(k)} AS STRING)')} AS {stripped[k]}" for k in keys
    ]
    fields = get_endpoint(endpoint).fields
    picks = [
        f"{pick_stripped_sql(*[stripped[c] for c in f.candidates])} AS `__p{j}`"
        for j, f in enumerate(fields)
    ]
    casts = [
        f"{cast_stripped_sql(f'`__p{j}`', _SQL_TYPES[f.type])} AS `{f.name}`"
        for j, f in enumerate(fields)
    ]
    return [strips, picks, casts]


def drift_report(endpoint: str, incoming_fields: set[str]) -> dict[str, list[str]]:
    """Contract check (reference architecture.md:174): which incoming
    fields are unknown to the registry, and which registry fields have
    no incoming candidate. Logged by the pipeline, never fatal."""
    ep = get_endpoint(endpoint)
    known = {c for f in ep.fields for c in f.candidates}
    return {
        "unknown_incoming": sorted(incoming_fields - known),
        "missing_candidates": sorted(
            f.name for f in ep.fields if not (set(f.candidates) & incoming_fields)
        ),
    }


# ---------------------------------------------------------------------------
# Declarative endpoint config files (reference README.md:46-55 documents
# an optional ``config/endpoints.yaml``; the reference snapshot itself
# is code-declared, like this registry). A config file holds a mapping
#   {endpoint_name: {path, pk, partition_by? (["year"] only), fields:
#    ["name:type" | "name:type:alias1|alias2", ...]}}
# — the same compact field spec ``_f`` parses for the built-ins — as
# JSON (always available) or YAML (only if a yaml module is installed;
# gated behind import-try per the container's no-install policy).
# ---------------------------------------------------------------------------
def _endpoint_from_spec(name: str, spec: dict) -> Endpoint:
    for req in ("path", "pk", "fields"):
        if req not in spec:
            raise ValueError(f"endpoint {name!r}: missing required key {req!r}")
    fields = tuple(_f(s) for s in spec["fields"])
    # a typo'd type code would otherwise surface only as a bare
    # KeyError at struct_type/mapper time, far from the config
    for f in fields:
        if f.type not in _SPARK_TYPES:
            raise ValueError(
                f"endpoint {name!r}: field {f.name!r} has unknown type "
                f"code {f.type!r}; expected one of {sorted(_SPARK_TYPES)} "
                "(i=int, l=long, s=string, d=double)"
            )
    known = {f.name for f in fields}
    for k in spec["pk"]:
        if k not in known:
            raise ValueError(f"endpoint {name!r}: pk column {k!r} not in fields")
    # every table partitions by a declared ``year`` field: a config
    # asking for another layout fails here instead of being ignored
    partition_by = list(spec.get("partition_by", ["year"]))
    if partition_by != ["year"] or "year" not in known:
        k = next((k for k in partition_by if k != "year"), "year")
        raise ValueError(
            f"endpoint {name!r}: partition_by column {k!r} unsupported; "
            "tables partition by a declared 'year' field only"
        )
    return Endpoint(
        name=name,
        path=spec["path"],
        fields=fields,
        pk=tuple(spec["pk"]),
    )


def load_endpoints_config(path: str, register: bool = True) -> dict[str, Endpoint]:
    """Load endpoint declarations from a JSON or YAML config file and
    (by default) register them alongside the built-ins — the
    file-declared twin of the code-declared catalog, so deployments can
    add endpoints without shipping code. Duplicate names OVERRIDE the
    in-code declaration (deployment wins), matching the reference
    README's config-over-code intent; each override is LOGGED (ADVICE
    r6 — a silent shadow of a built-in is how a stale config hides a
    schema change)."""
    from pathlib import Path as _Path

    text = _Path(path).read_text()
    if path.endswith((".yaml", ".yml")):
        try:
            import yaml  # type: ignore
        except ImportError as e:  # pragma: no cover - no yaml in container
            raise ImportError(
                "YAML endpoint configs need a yaml module; use JSON here"
            ) from e
        raw = yaml.safe_load(text)
    else:
        import json as _json

        raw = _json.loads(text)
    if not isinstance(raw, dict):
        raise ValueError("endpoints config must be a mapping of name -> spec")
    out = {name: _endpoint_from_spec(name, spec) for name, spec in raw.items()}
    if register:
        overridden = sorted(set(out) & set(REGISTRY))
        if overridden:
            import logging

            logging.getLogger(__name__).info(
                f"endpoints config {path!r} overrides built-in endpoint(s): "
                f"{', '.join(overridden)}"
            )
        REGISTRY.update(out)
    return out


def dump_endpoints_config() -> dict:
    """Inverse of ``load_endpoints_config``: the current registry as a
    JSON-serializable mapping (round-trip pinned by test) — what a
    deployment writes out to freeze its catalog declaratively."""
    def field_spec(f: Field) -> str:
        base = f"{f.name}:{f.type}"
        return f"{base}:{'|'.join(f.aliases)}" if f.aliases else base

    return {
        ep.name: {
            "path": ep.path,
            "pk": list(ep.pk),
            "fields": [field_spec(f) for f in ep.fields],
        }
        for ep in REGISTRY.values()
    }
