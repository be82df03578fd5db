"""Option census: every keyword option of the reachable surface has a
second live value, or is exempt with a reason.

Scope: every parameter with a default of a public top-level function,
and of a public method or constructor of a public class, that the
surface census (``test_surface_census``) reaches. Left out: the
modules whose options take values from outside the program
(``OUTSIDE``), the defs in the surface census's ``EXEMPT`` and private
helpers.

Calls resolve through the same module model as the surface census
(imports, module attributes, same-module names). A method call
``obj.m(...)`` has no static receiver type, so it counts as a call of
every in-scope method named ``m``. A call that passes ``**kwargs`` (or
``*args``) sets every option it could reach. A value is the default
when it is the same literal or the same expression as the default; any
other expression counts as a second value.

An option stays when one of these holds:

- a non-test caller (the package, ``bench.py``, ``tools/``, the
  non-test files of ``perfbench/``) passes it a value other than its
  default;
- a file under ``perfbench/`` passes it at all: that harness is frozen,
  so its calls must keep working;
- it is listed in ``EXEMPT`` as ``SEAM`` (the named test forces the
  other side of a choice the code makes from input size) or as
  ``REFERENCE`` (the reference takes the value as an input; the entry
  cites ``file:line`` and the def's or its module's docstring names the
  file).

Every other option is deleted: its default inlined, its dead branch and
the call-site keywords that passed the default removed.

``python tests/test_option_census.py`` prints the in-scope option count
and what the census flags.
"""

from __future__ import annotations

import ast
import functools
import os
import re

from test_surface_census import EXEMPT as SURFACE_EXEMPT
from test_surface_census import REPO, _parse, census

OUTSIDE = ("api.py", "processes.py", "session.py", "functions/storage.py")

# "module::def::option" -> (reason, "tests/file.py::test_name" for SEAM /
# "reference_file.py:line[-line]" for REFERENCE)
EXEMPT: dict[str, tuple[str, str]] = {
    "operators/similarity.py::with_best_centroid::inline_max": (
        "SEAM", "tests/test_round5_ops.py::test_argmin_table_path_matches_inline"),
    "operators/similarity.py::with_centroid_dists::inline_max": (
        "SEAM", "tests/test_round5_ops.py::test_argmin_table_path_matches_inline"),
    "operators/spatial.py::dissolve_regions::driver_threshold": (
        "SEAM", "tests/test_spatial.py::test_dissolve_driver_and_distributed_paths_equal"),
    "operators/dedup.py::simhash_near_pairs::bucket_cap": (
        "SEAM", "tests/test_round5_ops.py::test_simhash_cap_bounds_hot_bucket"),
    "operators/indices.py::spi_fit_apply_gamma::spi_ts": ("REFERENCE", "utils_spi.py:444-448"),
}


def _options(fn, skip_self: bool) -> tuple[list[str], dict[str, ast.expr]]:
    """(positional parameter names, {option: default expression})."""
    pos = fn.args.posonlyargs + fn.args.args
    defaults = dict(zip((a.arg for a in pos[len(pos) - len(fn.args.defaults):]),
                        fn.args.defaults))
    defaults.update(
        (a.arg, d) for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults) if d is not None
    )
    names = [a.arg for a in pos][1 if skip_self else 0:]
    return names, defaults


def _is_dataclass(cls) -> bool:
    return any(
        (d.id if isinstance(d, ast.Name) else getattr(d, "attr", None)) == "dataclass"
        for d in (x.func if isinstance(x, ast.Call) else x for x in cls.decorator_list)
    )


def _signatures(model, sites) -> dict[str, tuple[list[str], dict]]:
    """In-scope callable -> (positional names after self, {option: default})."""
    out = {}
    for site in sites:
        rel, name = site.split("::")
        node = model.defs[site]
        if name.startswith("_") or rel in OUTSIDE or site in SURFACE_EXEMPT:
            continue
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            out[site] = _options(node, skip_self=False)
            continue
        for item in node.body:
            if isinstance(item, (ast.FunctionDef, ast.AsyncFunctionDef)) and (
                item.name == "__init__" or not item.name.startswith("_")
            ):
                out[f"{site}.{item.name}"] = _options(item, skip_self=True)
        if _is_dataclass(node):
            fields = [f for f in node.body if isinstance(f, ast.AnnAssign)]
            out[f"{site}.__init__"] = (
                [f.target.id for f in fields],
                {f.target.id: f.value for f in fields if f.value is not None},
            )
    return out


def _literal(node):
    try:
        v = ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
        return None
    return (type(v), v)


def _is_default(value: ast.expr, default: ast.expr) -> bool:
    lit = _literal(value)
    if lit is not None:
        return lit == _literal(default)
    return ast.dump(value) == ast.dump(default)


def caller_kind(key: str) -> str:
    """``frozen`` (perfbench/), ``test`` (tests/) or ``live``."""
    if key.startswith("perfbench/"):
        return "frozen"
    return "test" if key.startswith("tests/") else "live"


def _caller_files() -> list[str]:
    out = [os.path.join(REPO, "bench.py")]
    for sub in ("tools", "perfbench", "tests"):
        d = os.path.join(REPO, sub)
        out += [os.path.join(d, f) for f in sorted(os.listdir(d)) if f.endswith(".py")]
    return out


def _targets(model, key, call, sigs, methods) -> list[str]:
    """The in-scope callables a call may reach."""
    t = model.resolve(key, call.func)
    if t is not None:
        if t[0] != "def":
            return []
        site = f"{t[1]}::{t[2]}"
        if isinstance(model.defs[site], ast.ClassDef):
            site += ".__init__"
        return [site] if site in sigs else []
    if isinstance(call.func, ast.Attribute):
        return methods.get(call.func.attr, [])
    return []


def _settings(call, sig) -> dict[str, bool]:
    """{option: passed a value other than its default} for one call."""
    names, defaults = sig
    if any(k.arg is None for k in call.keywords) or any(
        isinstance(a, ast.Starred) for a in call.args
    ):
        return dict.fromkeys(defaults, True)
    passed = dict(zip(names, call.args))
    passed.update((k.arg, k.value) for k in call.keywords)
    return {
        name: not _is_default(value, defaults[name])
        for name, value in passed.items()
        if name in defaults
    }


@functools.lru_cache(maxsize=1)
def option_census():
    """({option: {kind: set by a non-default value}}, {option: [(file, test fn)
    that set it]}, model). ``kind`` is live / test / frozen; a frozen
    caller counts whatever value it passes."""
    model, _, reached = census()
    sigs = _signatures(model, reached)
    methods: dict[str, list[str]] = {}
    for site in sigs:
        if "." in site.split("::")[1]:
            methods.setdefault(site.rsplit(".", 1)[1], []).append(site)
    options = {
        f"{site}::{name}": {"live": False, "test": False, "frozen": False}
        for site, (_, defaults) in sigs.items()
        for name in defaults
    }
    test_setters: dict[str, list[tuple[str, str]]] = {}
    files = [(rel, None) for rel in list(model.trees)] + [
        (os.path.relpath(p, REPO), p) for p in _caller_files()
    ]
    for key, path in files:
        if path is not None:
            model.add(key, _parse(path))
        kind = caller_kind(key)
        tree = model.trees[key]
        owner = {  # node -> the top-level function holding it
            id(n): f.name
            for f in tree.body if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
            for n in ast.walk(f)
        }
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            for site in _targets(model, key, call, sigs, methods):
                for name, other in _settings(call, sigs[site]).items():
                    opt = f"{site}::{name}"
                    if kind == "frozen" or other:
                        options[opt][kind] = True
                    if kind == "test" and other and id(call) in owner:
                        test_setters.setdefault(opt, []).append((key, owner[id(call)]))
    return options, test_setters, model


def kept(flags) -> bool:
    return flags["live"] or flags["frozen"]


def test_every_option_is_set_or_exempt():
    options, _, _ = option_census()
    unset = sorted(
        o for o, f in options.items() if not (kept(f) or f["test"]) and o not in EXEMPT
    )
    assert not unset, (
        "keyword options no caller sets to a second value: delete each "
        "(inline its default, drop its dead branch), or list it in EXEMPT "
        "(SEAM / REFERENCE):\n  " + "\n  ".join(unset)
    )


def test_no_option_is_set_only_by_tests():
    options, _, _ = option_census()
    test_only = sorted(
        o for o, f in options.items() if f["test"] and not kept(f) and o not in EXEMPT
    )
    assert not test_only, (
        "keyword options only tests set to a second value: delete each and "
        "move its tests onto the kept value, or list it in EXEMPT as SEAM "
        "naming the test:\n  " + "\n  ".join(test_only)
    )


def test_exempt_entries_are_live():
    options, _, _ = option_census()
    missing = sorted(o for o in EXEMPT if o not in options)
    assert not missing, ("EXEMPT names options that are gone or out of scope", missing)
    redundant = sorted(o for o in EXEMPT if kept(options[o]))
    assert not redundant, ("a non-test caller sets these now: drop them from EXEMPT", redundant)
    reasons = {reason for reason, _ in EXEMPT.values()}
    assert reasons <= {"SEAM", "REFERENCE"}, reasons


def _live_entries(reason: str):
    """The EXEMPT entries with ``reason`` that are not stale (stale ones
    fail ``test_exempt_entries_are_live`` alone)."""
    options, test_setters, model = option_census()
    for opt, (why, cite) in EXEMPT.items():
        if why == reason and opt in options and not kept(options[opt]):
            yield opt, cite, test_setters, model


def test_seam_exemptions_name_a_test_that_sets_them():
    for opt, test, test_setters, _ in _live_entries("SEAM"):
        test_file, test_name = test.split("::")
        assert (test_file, test_name) in test_setters.get(opt, []), (
            f"{opt}: {test} does not pass it a second value"
        )


def test_reference_exemptions_cite_their_reference():
    for opt, cite, _, model in _live_entries("REFERENCE"):
        m = re.fullmatch(r"([\w./]+\.\w+):\d+(-\d+)?", cite)
        assert m, f"{opt}: cite the reference as file:line, not {cite!r}"
        rel, name = opt.split("::")[:2]
        node = model.defs[f"{rel}::{name.split('.')[0]}"]
        doc = (ast.get_docstring(node) or "") + (ast.get_docstring(model.trees[rel]) or "")
        assert m.group(1) in doc, (
            f"{opt}: neither its def's docstring nor its module docstring "
            f"cites {m.group(1)}"
        )


if __name__ == "__main__":
    options, _, _ = option_census()
    unset = [o for o, f in options.items() if not (kept(f) or f["test"])]
    test_only = [o for o, f in options.items() if f["test"] and not kept(f)]
    print(f"in-scope options: {len(options)}")
    print(f"set by no caller: {len(unset)}")
    for o in sorted(unset):
        print("  ", o, "(exempt)" if o in EXEMPT else "")
    print(f"set only by tests: {len(test_only)}")
    for o in sorted(test_only):
        print("  ", o, "(exempt)" if o in EXEMPT else "")
