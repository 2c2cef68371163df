"""The query registry's identity and its place in the layering.

The pin hashes what the driver and the oracle sweeps read: every query
name with its oracle string, and the first 63 keys of ``queries()`` in
order (the ``_GATE_PRIORITY`` window, which holds the driver's 50-slot
correctness gate). Registration order after that window is free.

The layering test walks every import under ``ipeds_etl_spark/``: no
module imports a ``_``-prefixed name from a query module other than
itself (the registry's ``_register`` decorator is the one exception),
and nothing outside the query layer imports the query layer.

The fetcher test pins one HTTP fetcher: inside the package, only
``sources/http_ingest.py`` calls ``urlopen`` or holds a retry/backoff
loop.

The literal test pins one array-constant builder: inside the package,
only ``functions.cleaning.array_lit`` turns a Python list into an array
expression (no ``lit`` of a list, no ``array(*[lit(...) ...])``, no
``from_json(lit(json.dumps(...)))`` of its own).

The ranking test pins one ranking rule for vector search: in
``operators/similarity.py`` the per-query window
``Window.partitionBy("query_id")`` is spelled only in ``_top_k``.
"""

from __future__ import annotations

import ast
import hashlib
import json
from pathlib import Path

from ipeds_etl_spark import queries as Q

PKG = Path(__file__).resolve().parents[1] / "ipeds_etl_spark"
REGISTRY = "ipeds_etl_spark.queries"

#: sha256 of json.dumps(sorted((name, oracle) for every registered query))
ORACLES_SHA256 = "f209baace49116093693dfa46a2518cfa279125df6421b95b3323c51ef5c1484"
#: sha256 of the first 63 keys of queries(), newline-joined
GATE_WINDOW_SHA256 = "d534e6f8cc0d6251e7f387aea9ba52786ca1ad009691aa63be1b7807f099f139"


def _sha256(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def test_registry_names_and_oracles_are_pinned():
    qs, oracles = Q.queries(), Q.oracle_sql()
    assert len(qs) == 269
    assert set(oracles) == set(qs)
    assert _sha256(json.dumps(sorted((n, oracles[n]) for n in qs))) == ORACLES_SHA256


def test_gate_window_order_is_pinned():
    qs, oracles = list(Q.queries()), list(Q.oracle_sql())
    assert _sha256("\n".join(qs[:63])) == GATE_WINDOW_SHA256
    assert oracles[:63] == qs[:63]


def _module_name(path: Path) -> str:
    parts = path.relative_to(PKG.parent).with_suffix("").parts
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def _in_query_layer(module: str) -> bool:
    # a module named ``queries_*`` (the former round-named layout) counts too
    return (
        module == REGISTRY
        or module.startswith(REGISTRY + ".")
        or module.startswith(REGISTRY + "_")
    )


def _is_module(module: str) -> bool:
    path = PKG.parent.joinpath(*module.split("."))
    return path.with_suffix(".py").is_file() or (path / "__init__.py").is_file()


def _layering_violations() -> list[str]:
    bad: list[str] = []
    for path in sorted(PKG.rglob("*.py")):
        me = _module_name(path)
        tree = ast.parse(path.read_text())
        # name -> query module it is bound to (``import … as``)
        module_aliases: dict[str, str] = {}

        def check(target: str, name: str | None, where: int) -> None:
            if not _in_query_layer(me):
                bad.append(f"{me}:{where} imports the query layer ({target})")
            elif (
                name is not None
                and name.startswith("_")
                and target != me
                and not (target == REGISTRY and name == "_register")
            ):
                bad.append(f"{me}:{where} imports {target}.{name}")

        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module:
                for a in node.names:
                    sub = f"{node.module}.{a.name}"
                    if _in_query_layer(node.module):
                        check(node.module, a.name, node.lineno)
                    elif _in_query_layer(sub):
                        check(sub, None, node.lineno)
                    if _in_query_layer(sub) and _is_module(sub):
                        module_aliases[a.asname or a.name] = sub
            elif isinstance(node, ast.Import):
                for a in node.names:
                    if _in_query_layer(a.name):
                        check(a.name, None, node.lineno)
                        if a.asname:
                            module_aliases[a.asname] = a.name
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id in module_aliases
            ):
                check(module_aliases[node.value.id], node.attr, node.lineno)
    return bad


def test_query_modules_share_no_private_names_and_sit_on_top():
    bad = _layering_violations()
    assert not bad, f"{len(bad)} layering violations:\n" + "\n".join(bad)


#: exception types a fetch retry catches: any transport failure
_TRANSPORT_FAILURES = {
    "Exception", "BaseException", "OSError", "IOError", "URLError", "HTTPError",
    "ConnectionError", "TimeoutError",
}


def _call_name(node: ast.Call) -> str | None:
    f = node.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def _catches_transport_failure(handler: ast.ExceptHandler) -> bool:
    if handler.type is None:  # bare except
        return True
    types = handler.type.elts if isinstance(handler.type, ast.Tuple) else [handler.type]
    return any(
        (t.attr if isinstance(t, ast.Attribute) else getattr(t, "id", None)) in _TRANSPORT_FAILURES
        for t in types
    )


def _fetchers() -> tuple[list[str], list[str]]:
    """(``urlopen`` calls, retry/backoff loops) under the package, as
    ``module:line``. A retry/backoff loop is a ``for``/``while`` that
    sleeps and catches a transport failure."""
    urlopens: list[str] = []
    retry_loops: list[str] = []
    for path in sorted(PKG.rglob("*.py")):
        me = _module_name(path)
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and _call_name(node) == "urlopen":
                urlopens.append(f"{me}:{node.lineno}")
            if isinstance(node, (ast.For, ast.While)):
                inner = list(ast.walk(node))
                sleeps = any(isinstance(n, ast.Call) and _call_name(n) == "sleep" for n in inner)
                catches = any(
                    isinstance(n, ast.ExceptHandler) and _catches_transport_failure(n) for n in inner
                )
                if sleeps and catches:
                    retry_loops.append(f"{me}:{node.lineno}")
    return urlopens, retry_loops


def test_one_fetcher_owns_urlopen_and_the_retry_loop():
    urlopens, retry_loops = _fetchers()
    fetcher = "ipeds_etl_spark.sources.http_ingest"
    assert [u.split(":")[0] for u in urlopens] == [fetcher], urlopens
    assert [r.split(":")[0] for r in retry_loops] == [fetcher], retry_loops


def _calls(node: ast.AST, name: str) -> bool:
    return any(isinstance(n, ast.Call) and _call_name(n) == name for n in ast.walk(node))


def _is_lit(node: ast.AST) -> bool:
    """``lit(x)``, possibly cast or aliased (``lit(x).cast("long")``)."""
    while (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("cast", "alias")
    ):
        node = node.func.value
    return isinstance(node, ast.Call) and _call_name(node) == "lit"


def _lits_spread(arg: ast.AST) -> bool:
    """``*[lit(x) for x in xs]``."""
    return (
        isinstance(arg, ast.Starred)
        and isinstance(arg.value, (ast.ListComp, ast.GeneratorExp))
        and _is_lit(arg.value.elt)
    )


def _array_literal_builders() -> list[str]:
    """Python-list-to-array-expression spellings under the package, as
    ``module:line``: ``lit`` of a list, ``array`` over a spread of
    ``lit`` calls, and ``from_json`` of a ``lit`` of ``json.dumps``."""
    found: list[str] = []
    for path in sorted(PKG.rglob("*.py")):
        me = _module_name(path)
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call) or not node.args:
                continue
            name, first = _call_name(node), node.args[0]
            lit_of_list = name == "lit" and isinstance(first, (ast.List, ast.ListComp, ast.Tuple))
            array_of_lits = name == "array" and any(_lits_spread(a) for a in node.args)
            json_lit = (
                name == "from_json"
                and isinstance(first, ast.Call)
                and _call_name(first) == "lit"
                and _calls(first, "dumps")
            )
            if lit_of_list or array_of_lits or json_lit:
                found.append(f"{me}:{node.lineno}")
    return found


def test_one_builder_makes_array_literals():
    sites = _array_literal_builders()
    assert [s.split(":")[0] for s in sites] == ["ipeds_etl_spark.functions.cleaning"], sites


def _query_windows(path: Path) -> list[str]:
    """The top-level functions of ``path`` that spell
    ``Window.partitionBy("query_id", ...)``, once per spelling."""
    found: list[str] = []
    for top in ast.parse(path.read_text()).body:
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "partitionBy"
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "Window"
                and any(isinstance(a, ast.Constant) and a.value == "query_id" for a in node.args)
            ):
                found.append(getattr(top, "name", f"<module>:{node.lineno}"))
    return found


def test_one_ranking_rule_for_vector_search():
    assert _query_windows(PKG / "operators" / "similarity.py") == ["_top_k"]
