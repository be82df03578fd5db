"""Surface census: every top-level def in the package is reached from an
entry point, or is exempt with a reason.

Reachability is by name over the package AST — ``Name`` ids,
``Attribute`` names and import aliases — followed to a fixpoint. The
roots are:

- every top-level def in ``plans/``, ``api.py``, ``processes.py``,
  ``session.py`` and ``functions/storage.py``;
- the module-level statements of every package module (re-exports,
  tables);
- every name ``bench.py`` or a non-test file under ``perfbench/``
  references.

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
PKG = os.path.join(REPO, "pygeoapi_ingestor_spark")

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
    "sinks/collections.py::export_polygons_geojsonl": ("REFERENCE", "ingestor_knmi_evapo.py"),
    "sinks/versioned.py::write_version": ("REFERENCE", "utils_spi.py"),
    "sinks/versioned.py::read_version": ("REFERENCE", "utils_spi.py"),
    "sinks/versioned.py::rollback": ("REFERENCE", "utils_spi.py"),
    "sinks/versioned.py::prune_versions": ("REFERENCE", "utils_spi.py"),
}

_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(node) -> set[str]:
    """Every name a node references: Name ids, Attribute names and the
    dotted parts of import aliases."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
    return out


def _parse(path):
    with open(path) as fh:
        return ast.parse(fh.read())


def _package():
    """({"module::def": node}, {"module": module docstring}, names the
    module-level statements reference)."""
    defs, docs, module_names = {}, {}, set()
    for dirpath, _, files in os.walk(PKG):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            tree = _parse(path)
            docs[rel] = ast.get_docstring(tree) or ""
            for top in tree.body:
                if isinstance(top, _DEF):
                    defs[f"{rel}::{top.name}"] = top
                else:
                    module_names |= _names(top)
    return defs, docs, module_names


def _bench_names() -> set[str]:
    files = [os.path.join(REPO, "bench.py")] + [
        os.path.join(REPO, "perfbench", f)
        for f in sorted(os.listdir(os.path.join(REPO, "perfbench")))
        if f.endswith(".py") and not f.startswith("test")
    ]
    out = set()
    for path in files:
        out |= _names(_parse(path))
    return out


def _is_entry(site: str) -> bool:
    rel = site.split("::")[0]
    return rel.startswith("plans/") or rel in ENTRY_MODULES


def _reach(defs, seed_names, roots) -> set[str]:
    """The defs reached from ``roots`` and ``seed_names``, to a fixpoint."""
    names, reached = set(seed_names), set()
    changed = True
    while changed:
        changed = False
        for site, node in defs.items():
            if site not in reached and (site in roots or node.name in names):
                reached.add(site)
                names |= _names(node)
                changed = True
    return reached


def _census():
    """(defs, module docstrings, reached from the entry roots alone,
    reached once exempt defs are roots too)."""
    defs, docs, module_names = _package()
    seed = module_names | _bench_names()
    roots = {s for s in defs if _is_entry(s)}
    return (
        defs, docs,
        _reach(defs, seed, roots),
        _reach(defs, seed, roots | set(EXEMPT)),
    )


def test_every_def_is_reached_or_exempt():
    defs, _, _, reached = _census()
    unreached = sorted(set(defs) - reached)
    assert not unreached, (
        "top-level defs no entry point reaches: wire each into an entry "
        "point, delete it, or list it in EXEMPT (TWIN / REFERENCE):\n  "
        + "\n  ".join(unreached)
    )


def test_exempt_entries_are_live():
    defs, _, from_entries, _ = _census()
    missing = sorted(s for s in EXEMPT if s not in defs)
    assert not missing, ("EXEMPT names defs that no longer exist", missing)
    wired = sorted(s for s in EXEMPT if s in from_entries)
    assert not wired, ("an entry point reaches these now: drop them from EXEMPT", wired)
    reasons = {reason for reason, _ in EXEMPT.values()}
    assert reasons <= {"TWIN", "REFERENCE"}, reasons


def _called(node) -> set[str]:
    return {
        getattr(c.func, "attr", getattr(c.func, "id", None))
        for c in ast.walk(node)
        if isinstance(c, ast.Call)
    }


def test_twin_tests_compare_against_a_reachable_def():
    defs, _, from_entries, _ = _census()
    reachable = {defs[s].name for s in from_entries}
    for site, (reason, test_file) in EXEMPT.items():
        if reason != "TWIN":
            continue
        name = site.split("::")[1]
        tree = _parse(os.path.join(REPO, test_file))
        functions = [
            f for f in tree.body
            if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        assert any(
            name in calls and (calls - {name}) & reachable
            for calls in map(_called, functions)
        ), f"{test_file} has no function that calls both {name} and a reachable def"


def test_reference_exemptions_name_their_reference_file():
    defs, docs, _, _ = _census()
    for site, (reason, ref_file) in EXEMPT.items():
        if reason != "REFERENCE":
            continue
        module = site.split("::")[0]
        doc = ast.get_docstring(defs[site]) or ""
        assert ref_file in doc or ref_file in docs[module], (
            f"{site}: neither its docstring nor its module docstring "
            f"cites {ref_file}"
        )
