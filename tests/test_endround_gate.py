"""Blast-radius correctness of the standing sf0.1 gate (VERDICT r13 #2).

The gate is insurance only if its changed-module -> affected-names
computation cannot under-run. _stale_names fails SAFE on every
anomaly (unknown head, git error, non-query file -> full pass); the
one genuine under-run risk is cross-imports between query modules:
dedup.py / extras.py use text.py's _QUALITY_EXPR, handlers4.py uses
ml.py's user_cosine_pairs, api_variants.py uses handlers4's
_COSINE_PAIRS_SQL. These tests pin that the AST dependency map sees
those edges and that the expansion closes over them transitively, so
a text.py change re-gates the dependents too.

No Spark session needed — everything here is pure file/AST work.
"""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from endround import (  # noqa: E402
    _expand_query_deps,
    _package_import_graph,
    _query_module_deps,
)

PKG = "listenbrainz_server_spark/queries"
ROOT = "listenbrainz_server_spark"


def test_dependency_map_sees_known_edges():
    deps = _query_module_deps()
    # The four real edges in the codebase today. If one disappears
    # (helper moved/inlined), update BOTH the import and this pin.
    assert f"{PKG}/text.py" in deps[f"{PKG}/dedup.py"]
    assert f"{PKG}/text.py" in deps[f"{PKG}/extras.py"]
    assert f"{PKG}/ml.py" in deps[f"{PKG}/handlers4.py"]
    assert f"{PKG}/handlers4.py" in deps[f"{PKG}/api_variants.py"]


def test_dependency_map_covers_every_query_module():
    deps = _query_module_deps()
    pkg_dir = os.path.join(os.path.dirname(__file__), "..", PKG)
    expected = {
        f"{PKG}/{fn}" for fn in os.listdir(pkg_dir)
        if fn.endswith(".py") and fn != "__init__.py"
    }
    assert set(deps) == expected
    # `from listenbrainz_server_spark.queries import register` is a
    # PACKAGE import (__init__), not a module edge — it must not
    # self-link every module to a phantom queries.py.
    for f, ms in deps.items():
        assert f not in ms
        assert all(m.startswith(PKG + "/") for m in ms)


def test_expansion_is_transitive():
    deps = {
        "q/a.py": {"q/b.py"},   # a imports from b
        "q/b.py": {"q/c.py"},   # b imports from c
        "q/c.py": set(),
        "q/d.py": set(),
    }
    # c changed -> b (imports c) and a (imports b) are stale too.
    assert _expand_query_deps({"q/c.py"}, deps) == {
        "q/a.py", "q/b.py", "q/c.py",
    }
    # d changed -> nothing else depends on it.
    assert _expand_query_deps({"q/d.py"}, deps) == {"q/d.py"}
    # Leaf-only change propagates nowhere.
    assert _expand_query_deps({"q/a.py"}, deps) == {"q/a.py"}


def test_expansion_passes_non_query_files_through():
    deps = {"q/a.py": {"q/b.py"}, "q/b.py": set()}
    # An operators/ file is not in the map: it survives the expansion
    # unchanged so the caller's unknown-file branch still forces the
    # conservative FULL pass.
    out = _expand_query_deps(
        {"listenbrainz_server_spark/operators/joins.py"}, deps
    )
    assert out == {"listenbrainz_server_spark/operators/joins.py"}


def test_real_ml_change_reaches_api_variants():
    """The two-hop chain in the real map: ml.py -> handlers4.py ->
    api_variants.py. A change to ml.py must stale all three."""
    deps = _query_module_deps()
    out = _expand_query_deps({f"{PKG}/ml.py"}, deps)
    assert f"{PKG}/handlers4.py" in out
    assert f"{PKG}/api_variants.py" in out


def test_package_graph_covers_every_module_and_known_shared_edges():
    graph = _package_import_graph()
    pkg_dir = os.path.join(os.path.dirname(__file__), "..", ROOT)
    expected = set()
    for dirpath, _dirs, fns in os.walk(pkg_dir):
        for fn in fns:
            if fn.endswith(".py"):
                rel = os.path.relpath(os.path.join(dirpath, fn),
                                      os.path.join(pkg_dir, ".."))
                expected.add(rel.replace(os.sep, "/"))
    assert set(graph) == expected
    # Shared-module edges the bounded stale-set depends on:
    assert f"{ROOT}/operators/similarity.py" in graph[f"{PKG}/similarity.py"]
    assert f"{ROOT}/catalog.py" in graph[f"{PKG}/relational.py"]
    # Importing a.b.c executes a/__init__ too — ancestor edges exist.
    assert f"{ROOT}/__init__.py" in graph[f"{PKG}/similarity.py"]
    # No self-edges anywhere.
    for f, ms in graph.items():
        assert f not in ms


def test_operator_change_stales_its_dependents_not_everything():
    """A leaf operators/ module change must reach the query modules
    that import it (directly or transitively) — and, for a genuinely
    narrow module, NOT the whole package."""
    graph = _package_import_graph()
    out = _expand_query_deps({f"{ROOT}/operators/similarity.py"}, graph)
    assert f"{PKG}/similarity.py" in out
    # tdigest is imported by a handful of modules, not everything:
    out_td = _expand_query_deps({f"{ROOT}/operators/tdigest.py"}, graph)
    assert f"{PKG}/extras.py" in out_td or f"{PKG}/windows.py" in out_td
    assert len(out_td) < len(graph)


def test_init_aggregation_is_not_an_edge_but_reexport_is():
    """queries/__init__'s load_all imports every submodule INSIDE a
    function body — pure registration aggregation. If those counted
    as edges, every query module would sit in one import cycle with
    __init__ (they all import `register` from it) and ANY
    query-module change would stale the full registry, erasing the
    bounded gate. Module-level imports in an __init__ (root
    __init__'s session re-export) are real package surface and must
    stay edges."""
    graph = _package_import_graph()
    assert f"{PKG}/windows.py" not in graph[f"{PKG}/__init__.py"]
    assert f"{ROOT}/session.py" in graph[f"{ROOT}/__init__.py"]
    # The payoff: a windows.py-only change reaches no other query
    # module (nothing imports from queries.windows today).
    out = _expand_query_deps({f"{PKG}/windows.py"}, graph)
    assert out & {f for f in graph if f.startswith(PKG + "/")} == {
        f"{PKG}/windows.py"
    }
    # And every query module still depends ON __init__ (register) —
    # a change to __init__ stales everything, by measurement.
    rev_out = _expand_query_deps({f"{PKG}/__init__.py"}, graph)
    query_mods = {f for f in graph
                  if f.startswith(PKG + "/") and not f.endswith("__init__.py")}
    assert query_mods <= rev_out


def test_shared_module_change_reaches_nearly_every_query_module():
    """catalog.py is the load path for every table — the graph must
    route a change there to (nearly) all query modules, reproducing
    the old conservative full pass by measurement."""
    graph = _package_import_graph()
    out = _expand_query_deps({f"{ROOT}/catalog.py"}, graph)
    query_mods = {f for f in graph
                  if f.startswith(PKG + "/") and not f.endswith("__init__.py")}
    assert len(out & query_mods) >= int(0.9 * len(query_mods)), (
        sorted(query_mods - out)
    )


def test_registry_files_live_in_the_queries_package():
    """_stale_names maps git-diff paths to registered names via
    inspect.getsourcefile + os.path.relpath. That only works if every
    registered query is DEFINED in the queries package (same
    coordinate system as the git paths). A registration that moves
    elsewhere would silently fall out of the file_to_names map and
    its module's changes would stop staling it."""
    import inspect

    from listenbrainz_server_spark.queries import load_all

    repo = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
    registry = load_all()
    assert len(registry) >= 294
    for name, q in registry.items():
        src = inspect.getsourcefile(q.fn)
        rel = os.path.relpath(src, repo)
        assert rel.startswith(PKG + "/"), (
            f"{name} defined outside the queries package ({rel}) — "
            "the sf0.1 gate's blast radius no longer covers it"
        )
