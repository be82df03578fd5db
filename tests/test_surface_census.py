"""Surface census: every top-level def in the package is reached from an
entry point, or is exempt with a reason.

Reachability is by module over the package AST, followed to a
fixpoint. A reached def (or module-level statement) reaches another def
only when one of its names RESOLVES to it:

- a same-module reference (``f`` where ``f`` is a top-level def of the
  same module);
- a name bound by an import (``from pkg.mod import f``; a re-export
  such as ``sinks/__init__`` is followed to the def it re-exports);
- a module attribute (``mod.f`` where ``mod`` is bound to a package
  module).

An attribute on anything else (``spark.sql``, ``df.write``) reaches
nothing, and an import line alone is a binding, not a use. The roots
are:

- every top-level def in ``plans/``, ``api.py``, ``processes.py``,
  ``session.py`` and ``functions/storage.py``;
- the module-level statements of every package module other than its
  imports (tables, constants);
- every reference ``bench.py`` or a non-test file under ``perfbench/``
  makes into the package.

A def nothing reaches must be wired into an entry point, deleted, or
listed in ``EXEMPT`` under one of two reasons:

- ``TWIN``: the named test file compares a census-reachable def against
  it (one test function calls both);
- ``REFERENCE``: it carries the semantics of the named reference file,
  which its docstring or its module docstring cites; wiring it into an
  entry point is open work.

Exempt defs count as roots, so the private helpers they call pass.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG_NAME = "pygeoapi_ingestor_spark"
PKG = os.path.join(REPO, PKG_NAME)

ENTRY_MODULES = ("api.py", "processes.py", "session.py", "functions/storage.py")

# "module::def" -> (reason, test file for TWIN / reference file for REFERENCE)
EXEMPT: dict[str, tuple[str, str]] = {
    "operators/similarity.py::md5_signature": ("TWIN", "tests/test_vector_kernel_matrix.py"),
    "operators/dedup.py::embedding_cosine_pairs": ("TWIN", "tests/test_similarity_recall.py"),
    "operators/similarity.py::nearest_centroid_classify": ("TWIN", "tests/test_shared_artifacts.py"),
    "operators/zonal.py::zonal_stats": ("TWIN", "tests/test_zonal_hist.py"),
    "operators/temporal.py::linear_interp_gaps": ("TWIN", "tests/test_operator_properties.py"),
    "sources/readers.py::read_geojsonl": ("TWIN", "tests/test_scheduler_sinks_sources.py"),
    "streaming/scheduler.py::parse_scheduler_config": ("REFERENCE", "scheduler.yaml"),
    "streaming/scheduler.py::due_jobs": ("REFERENCE", "scheduler.yaml"),
    "streaming/scheduler.py::backfill": ("REFERENCE", "scheduler.yaml"),
    "streaming/stateful.py::alert_transitions": ("REFERENCE", "ll_nl_danger_levels.py"),
    "streaming/pipeline.py::danger_levels_result_json": ("REFERENCE", "ll_nl_danger_levels.py"),
    "functions/ids.py::string_to_int_id": ("REFERENCE", "utils.py"),
    "functions/ids.py::int_id_to_string": ("REFERENCE", "utils.py"),
    "sources/external.py::ingest": ("REFERENCE", "ingestor_cds_process.py"),
    "sinks/collections.py::apply_retention": ("REFERENCE", "utils_spi.py"),
    "sinks/collections.py::schema_diff": ("REFERENCE", "utils_spi.py"),
    "sinks/collections.py::export": ("REFERENCE", "utils_spi.py"),
    "sinks/collections.py::export_geojsonl": ("REFERENCE", "ingestor_smhi_process_vector.py"),
    "sinks/collections.py::export_polygons_geojsonl": ("REFERENCE", "ingestor_knmi_evapo.py"),
    "sinks/versioned.py::write_version": ("REFERENCE", "utils_spi.py"),
    "sinks/versioned.py::read_version": ("REFERENCE", "utils_spi.py"),
    "sinks/versioned.py::rollback": ("REFERENCE", "utils_spi.py"),
    "sinks/versioned.py::prune_versions": ("REFERENCE", "utils_spi.py"),
}

_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_IMPORT = (ast.Import, ast.ImportFrom)


def _parse(path):
    with open(path) as fh:
        return ast.parse(fh.read())


def _dotted(rel: str) -> str:
    """``operators/temporal.py`` -> ``pygeoapi_ingestor_spark.operators.temporal``."""
    parts = [PKG_NAME] + rel[: -len(".py")].split("/")
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


class Model:
    """The package's modules and, for any parsed file, what its names
    resolve to. A target is ``("mod", dotted)`` for a package module or
    ``("def", rel, name)`` for a top-level def of module ``rel``."""

    def __init__(self):
        self.trees, self.rel_of, self.defs = {}, {}, {}
        self.bindings: dict[str, dict] = {}
        for dirpath, _, files in os.walk(PKG):
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(dirpath, name)
                    rel = os.path.relpath(path, PKG).replace(os.sep, "/")
                    self.add(rel, _parse(path))
                    self.rel_of[_dotted(rel)] = rel
        for rel, tree in self.trees.items():
            for top in tree.body:
                if isinstance(top, _DEF):
                    self.defs[f"{rel}::{top.name}"] = top

    def add(self, key: str, tree) -> None:
        """Parse the import bindings of one file (package or caller).
        Imports anywhere in the file bind file-wide: the package imports
        lazily inside functions."""
        self.trees[key] = tree
        binds = {}
        for n in ast.walk(tree):
            if isinstance(n, ast.Import):
                for a in n.names:
                    if a.name.split(".")[0] != PKG_NAME:
                        continue
                    if a.asname:
                        binds[a.asname] = ("mod", a.name)
                    else:
                        binds[PKG_NAME] = ("mod", PKG_NAME)
            elif isinstance(n, ast.ImportFrom) and n.level == 0 and n.module and (
                n.module.split(".")[0] == PKG_NAME
            ):
                for a in n.names:
                    full = f"{n.module}.{a.name}"
                    binds[a.asname or a.name] = (
                        ("mod", full) if self.is_module(full) else ("name", n.module, a.name)
                    )
        self.bindings[key] = binds

    def is_module(self, dotted: str) -> bool:
        if dotted == PKG_NAME:
            return True
        rel = dotted[len(PKG_NAME) + 1:].replace(".", "/")
        return os.path.isfile(os.path.join(PKG, rel + ".py")) or os.path.isfile(
            os.path.join(PKG, rel, "__init__.py")
        )

    def _canon(self, dotted: str, name: str, seen=()) -> tuple | None:
        """What ``name`` of package module ``dotted`` is: one of its
        defs, a module, or (re-export) whatever its import binds."""
        full = f"{dotted}.{name}"
        if self.is_module(full):
            return ("mod", full)
        rel = self.rel_of.get(dotted)
        if rel is None:
            return None
        if f"{rel}::{name}" in self.defs:
            return ("def", rel, name)
        bound = self.bindings[rel].get(name)
        if bound is None or (dotted, name) in seen:
            return None
        return self._target(bound, seen + ((dotted, name),))

    def _target(self, bound, seen=()):
        if bound[0] == "mod":
            return bound
        return self._canon(bound[1], bound[2], seen)

    def resolve(self, key: str, node) -> tuple | None:
        """Resolve a ``Name`` or ``Attribute`` node of file ``key``."""
        if isinstance(node, ast.Name):
            bound = self.bindings[key].get(node.id)
            if bound is not None:
                return self._target(bound)
            if f"{key}::{node.id}" in self.defs:
                return ("def", key, node.id)
            return None
        if isinstance(node, ast.Attribute):
            base = self.resolve(key, node.value)
            if base is not None and base[0] == "mod":
                return self._canon(base[1], node.attr)
        return None

    def referenced(self, key: str, node) -> set[str]:
        """The "module::def" sites a node of file ``key`` references."""
        out = set()
        for n in ast.walk(node):
            if isinstance(n, (ast.Name, ast.Attribute)):
                t = self.resolve(key, n)
                if t is not None and t[0] == "def":
                    out.add(f"{t[1]}::{t[2]}")
        return out


def caller_files() -> list[str]:
    """``bench.py`` and the non-test files under ``perfbench/``."""
    return [os.path.join(REPO, "bench.py")] + [
        os.path.join(REPO, "perfbench", f)
        for f in sorted(os.listdir(os.path.join(REPO, "perfbench")))
        if f.endswith(".py") and not f.startswith("test")
    ]


def _is_entry(site: str) -> bool:
    rel = site.split("::")[0]
    return rel.startswith("plans/") or rel in ENTRY_MODULES


def _reach(model: Model, seed: set[str], roots: set[str]) -> set[str]:
    """The defs reached from ``roots`` and ``seed``, to a fixpoint."""
    todo, reached = set(roots) | set(seed), set()
    while todo:
        site = todo.pop()
        if site in reached or site not in model.defs:
            continue
        reached.add(site)
        todo |= model.referenced(site.split("::")[0], model.defs[site])
    return reached


def _seed(model: Model) -> set[str]:
    """Module-level statements (imports aside) and the bench callers."""
    seed = set()
    for rel, tree in list(model.trees.items()):
        for top in tree.body:
            if not isinstance(top, _DEF + _IMPORT):
                seed |= model.referenced(rel, top)
    for path in caller_files():
        key = os.path.relpath(path, REPO)
        model.add(key, _parse(path))
        seed |= model.referenced(key, model.trees[key])
    return seed


def census(exempt=None):
    """(model, reached from the entry roots alone, reached once exempt
    defs are roots too)."""
    exempt = EXEMPT if exempt is None else exempt
    model = Model()
    seed = _seed(model)
    roots = {s for s in model.defs if _is_entry(s)}
    return (
        model,
        _reach(model, seed, roots),
        _reach(model, seed, roots | set(exempt)),
    )


def test_every_def_is_reached_or_exempt():
    model, _, reached = census()
    unreached = sorted(set(model.defs) - reached)
    assert not unreached, (
        "top-level defs no entry point reaches: wire each into an entry "
        "point, delete it, or list it in EXEMPT (TWIN / REFERENCE):\n  "
        + "\n  ".join(unreached)
    )


def test_exempt_entries_are_live():
    model, from_entries, _ = census()
    missing = sorted(s for s in EXEMPT if s not in model.defs)
    assert not missing, ("EXEMPT names defs that no longer exist", missing)
    wired = sorted(s for s in EXEMPT if s in from_entries)
    assert not wired, ("an entry point reaches these now: drop them from EXEMPT", wired)
    reasons = {reason for reason, _ in EXEMPT.values()}
    assert reasons <= {"TWIN", "REFERENCE"}, reasons


def test_twin_tests_compare_against_a_reachable_def():
    model, from_entries, _ = census()
    for site, (reason, test_file) in EXEMPT.items():
        if reason != "TWIN":
            continue
        model.add(test_file, _parse(os.path.join(REPO, test_file)))
        functions = [
            f for f in model.trees[test_file].body
            if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        calls = [
            {model.resolve(test_file, c.func) for c in ast.walk(f) if isinstance(c, ast.Call)}
            for f in functions
        ]
        twin = ("def",) + tuple(site.split("::"))
        reachable = {("def",) + tuple(s.split("::")) for s in from_entries}
        assert any(twin in c and c & reachable for c in calls), (
            f"{test_file} has no function that calls both {site} and a reachable def"
        )


def test_reference_exemptions_name_their_reference_file():
    model, _, _ = census()
    for site, (reason, ref_file) in EXEMPT.items():
        if reason != "REFERENCE":
            continue
        module = site.split("::")[0]
        doc = ast.get_docstring(model.defs[site]) or ""
        module_doc = ast.get_docstring(model.trees[module]) or ""
        assert ref_file in doc or ref_file in module_doc, (
            f"{site}: neither its docstring nor its module docstring "
            f"cites {ref_file}"
        )
