"""Every top-level def of the engine package is reached from a query, a
harness or the benchmark, or it is on a cited allowlist. No Spark
session: the test walks the package AST.

A def is reached when its name is used, transitively, from a root:

* a function decorated ``@query(...)`` (a ``queries()`` entry);
* a module-level statement of the package (imports and ``__all__``
  excepted, so a re-export reaches nothing);
* any name used by ``__spark_entry__.py``, ``bench.py``, ``tools/*.py``
  or ``perfbench/*.py``;
* an allowlisted def (so its private helpers need no entry).

Reachability is by name, so two defs that share a name are reached
together and the scan can miss dead code. A def reached only through
a string (``getattr``) is not seen: name it in code.

The same walk finds forks inside called defs: a parameter whose
default selects one branch and whose other branch no call in the
package or a harness selects. For a str or bool default that is the
non-default branch; for a ``None`` default tested by ``is None`` it is
the default branch, which rebuilds inline what every caller passes in.
Such a branch is a second implementation only tests reach, unless it is
allowlisted as a test's reference.
"""

from __future__ import annotations

import ast
import functools
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "sea_express_customs_etl_spark"
HARNESS = (
    ROOT / "__spark_entry__.py",
    ROOT / "bench.py",
    *sorted((ROOT / "tools").glob("*.py")),
    *sorted((ROOT / "perfbench").glob("*.py")),
)

# (a) Reference capabilities no query exercises: def -> (the SURVEY.md §2
# operator or section it implements, the reference file:line it
# re-expresses).
REFERENCE_BACKED: dict[str, tuple[str, str]] = {
    "append_jdbc": ("OP-SNK-APPEND", "src/import_xml_history.py:205"),
    "replace_jdbc_with_backup": ("OP-SNK-REPLACE", "src/batch_train.py:154-176"),
    "archive_files": ("OP-SNK-ARCHIVE", "src/import_xml_history.py:211"),
    "normalize_headers": ("OP-HDRNORM", "src/process_excel_order.py:86,203"),
    "is_empty_placeholder": ("OP-STR-EMPTYCHK", "src/process_excel_order.py:45,56"),
    "now_suffix": ("OP-DT-NOWFMT", "src/batch_train.py:161"),
    "seq_number": ("OP-WIN-SEQ", "src/process_excel_order.py:156"),
    "observed_counts": ("OP-AGG-TOTAL", "src/import_xml_history.py:184,207,218"),
    "stream_xml_history": ("§2.12", "src/import_xml_history.py:176-196"),
    "stream_manifests": ("§2.12", "src/process_excel_order.py:250-262"),
    "run_availablenow": ("§2.12", "src/import_xml_history.py:186-216"),
    # the XSD types of the reference's sample XML (SURVEY.md §1.3)
    "parse_inline_xsd": ("OP-SRC-XML", "SURVEY.md:136-141"),
    "typed_bid_heads": ("OP-SRC-XML", "SURVEY.md:136-141"),
}

# (b) References a remaining test checks a live function against:
# def -> that test.
TEST_REFERENCES: dict[str, str] = {
    "minhash_signatures": "tests/test_dedup.py::test_shingle_profiles_equal_staged_pipeline",
    "jaccard_verify": "tests/test_dedup.py::test_shingle_profiles_equal_staged_pipeline",
    "dsir_bucket_weights": "tests/test_dsir.py::test_pipeline_equals_two_step",
    "dsir_scores": "tests/test_dsir.py::test_pipeline_equals_two_step",
    "best_match": "tests/test_fuzzy.py::test_fuzzy_best_link_equals_best_match_of_fuzzy_join",
    "hll_stats": "tests/test_r10_wave4.py::test_hll_sliding_merge_equals_union_stats",
    # the float estimators that turn the live register stats into the
    # cardinalities whose accuracy the tests bound
    "hll_estimate": "tests/test_sketches.py::test_hll_estimate_within_standard_error",
    "hll_overlap_estimate": "tests/test_wave_k.py::test_hll_pair_overlap_estimate_accuracy",
}

# Unreached defs that fast-tier tests still check on their own. They are
# deleted together with those tests, a few tests per change, so each
# removal stays reviewable: def -> the tests that go with it.
DELETE_NEXT: dict[str, tuple[str, ...]] = {}

# (c) Forks (see ``_forks``) with a branch no call in the package or a
# harness selects. That branch is kept only as the reference a test
# checks the live path against: (def, parameter) -> that test (or the
# fixture that selects it).
FORK_REFERENCES: dict[tuple[str, str], str] = {
    ("kcore", "converge"): "tests/test_graph.py::test_kcore_peel_cascade_golden",
    ("profile_table", "exact_ndv"): "tests/test_profiling.py::test_profile_approx_no_expand",
    ("stratified_exact", "two_phase"): "tests/test_textstats.py::test_stratified_exact_two_phase_skew_invariance",
    # the reader's inline-string xlsx fixture
    ("write_xlsx", "inline"): "tests/test_sources.py::xlsx_dir",
}

_CITE = re.compile(r"(src/\w+\.py|SURVEY\.md):\d+(-\d+)?(,\d+(-\d+)?)*")


def _names(nodes) -> set[str]:
    """Every identifier the nodes use: names, attribute names (a
    ``module.func`` call reaches ``func``) and imported names."""
    out: set[str] = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, (ast.Import, ast.ImportFrom)):
                out.update(a.name.rsplit(".", 1)[-1] for a in n.names)
    return out


def _is_query(dec: ast.expr) -> bool:
    return isinstance(dec, ast.Call) and getattr(dec.func, "id", None) == "query"


@functools.cache
def _scan() -> tuple[dict[str, list[str]], dict[str, set[str]], set[str]]:
    """(def name -> its ``module:line`` sites, def name -> names its
    bodies use, root names)."""
    sites: dict[str, list[str]] = {}
    uses: dict[str, set[str]] = {}
    roots: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        where = path.relative_to(ROOT).as_posix()
        for stmt in ast.parse(path.read_text()).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                sites.setdefault(stmt.name, []).append(f"{where}:{stmt.lineno}")
                head = stmt.bases if isinstance(stmt, ast.ClassDef) else [stmt.args]
                uses.setdefault(stmt.name, set()).update(_names([*stmt.body, *head]))
                roots |= _names(stmt.decorator_list)  # evaluated at import
                if any(_is_query(d) for d in stmt.decorator_list):
                    roots.add(stmt.name)
            elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            elif isinstance(stmt, ast.Assign) and any(
                getattr(t, "id", None) == "__all__" for t in stmt.targets
            ):
                continue
            else:
                roots |= _names([stmt])
    for path in HARNESS:
        roots |= _names([ast.parse(path.read_text())])
    return sites, uses, roots


def _closure(uses: dict[str, set[str]], roots: set[str]) -> set[str]:
    reached: set[str] = set()
    todo = [n for n in roots if n in uses]
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            todo.extend(n for n in uses[name] if n in uses)
    return reached


def _test_def(test_id: str) -> ast.FunctionDef | None:
    """The function ``tests/<file>.py::<function>``, or None when it
    does not exist."""
    file, _, func = test_id.partition("::")
    path = ROOT / file
    if not path.is_file():
        return None
    for stmt in ast.parse(path.read_text()).body:
        if isinstance(stmt, ast.FunctionDef) and stmt.name == func:
            return stmt
    return None


def _test_uses(test_id: str) -> set[str] | None:
    """Names used by the test ``tests/<file>.py::<function>``, or None when
    it does not exist."""
    fn = _test_def(test_id)
    return None if fn is None else _names([fn])


KEPT = REFERENCE_BACKED.keys() | TEST_REFERENCES.keys() | DELETE_NEXT.keys()


def test_every_def_is_reached_or_allowlisted():
    sites, uses, roots = _scan()
    reached = _closure(uses, roots | KEPT)
    dead = sorted(
        f"{site} {name}" for name in uses.keys() - reached for site in sites[name]
    )
    assert not dead, "reached only from tests (delete, or allowlist with a reason):\n" + "\n".join(dead)


def test_allowlist_entries_exist_and_are_unreached():
    _, uses, roots = _scan()
    reached = _closure(uses, roots)
    missing = sorted(KEPT - uses.keys())
    assert not missing, f"allowlisted but no longer defined: {missing}"
    live = sorted(KEPT & reached)
    assert not live, f"allowlisted but reached without the allowlist: {live}"


def test_reference_backed_reasons_cite_survey_and_reference():
    survey = (ROOT / "SURVEY.md").read_text()
    bad = []
    for name, (anchor, cite) in REFERENCE_BACKED.items():
        anchored = (
            f"| {anchor} |" in survey
            if anchor.startswith("OP-")
            else f"### {anchor.removeprefix('§')} " in survey
        )
        if not (anchored and _CITE.fullmatch(cite)):
            bad.append(name)
    assert not bad


def test_named_tests_exist_and_use_the_def():
    named = list(TEST_REFERENCES.items())
    named += [(n, t) for n, ts in DELETE_NEXT.items() for t in ts]
    bad = [
        (name, test)
        for name, test in named
        if name not in (_test_uses(test) or set())
    ]
    assert not bad


def _params(fn) -> list[str]:
    """Positional parameter names as a call binds them (``self``/``cls``
    are bound by the attribute access)."""
    names = [a.arg for a in fn.args.posonlyargs + fn.args.args]
    return names[1:] if names[:1] in (["self"], ["cls"]) else names


def _arg_names(fn) -> set[str]:
    a = fn.args
    return {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}


def _defaults(fn) -> dict[str, object]:
    """Parameter -> its literal default."""
    a = fn.args
    pos = a.posonlyargs + a.args
    pairs = list(zip(pos[len(pos) - len(a.defaults):], a.defaults))
    pairs += [(k, d) for k, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return {p.arg: d.value for p, d in pairs if isinstance(d, ast.Constant)}


def _is_str_literal(node: ast.expr) -> bool:
    elts = node.elts if isinstance(node, (ast.Tuple, ast.List, ast.Set)) else [node]
    return bool(elts) and all(
        isinstance(e, ast.Constant) and isinstance(e.value, str) for e in elts
    )


def _forks(fn) -> dict[str, object]:
    """Parameters of ``fn`` that pick a branch, with their defaults: a
    str default compared by ``==``/``!=``/``in`` against a string
    literal, a bool default tested by an ``if`` or a conditional
    expression, or a ``None`` default tested by ``is None``/``is not
    None``."""
    out: dict[str, object] = {}
    tests = [n.test for n in ast.walk(fn) if isinstance(n, (ast.If, ast.IfExp))]
    compares = [
        (n.left, n.comparators[0], n.ops[0])
        for n in ast.walk(fn)
        if isinstance(n, ast.Compare) and len(n.ops) == 1
    ]
    for p, d in _defaults(fn).items():
        if isinstance(d, bool):
            if any(
                isinstance(x, ast.Name) and x.id == p for t in tests for x in ast.walk(t)
            ):
                out[p] = d
        elif isinstance(d, str):
            if any(
                isinstance(op, (ast.Eq, ast.NotEq, ast.In, ast.NotIn))
                and getattr(x, "id", None) == p
                and _is_str_literal(y)
                for a, b, op in compares
                for x, y in ((a, b), (b, a))
            ):
                out[p] = d
        elif d is None:
            if any(
                isinstance(op, (ast.Is, ast.IsNot))
                and getattr(x, "id", None) == p
                and _is_none(y)
                for a, b, op in compares
                for x, y in ((a, b), (b, a))
            ):
                out[p] = d
    return out


def _is_none(node: ast.expr) -> bool:
    return isinstance(node, ast.Constant) and node.value is None


def _may_be_none(node: ast.expr) -> bool:
    """The literal ``None``, or a conditional expression with a ``None``
    arm."""
    if isinstance(node, ast.IfExp):
        return _may_be_none(node.body) or _may_be_none(node.orelse)
    return _is_none(node)


@functools.cache
def _fork_scan(
    package: Path = PACKAGE, harness: tuple[Path, ...] = HARNESS
) -> tuple[dict[tuple[str, str], tuple[object, str]], set[tuple[str, str]]]:
    """((def, parameter) -> (default, ``module:line``) for every fork of
    a def that some call in the package or a harness names, the forks
    some such call selects the other branch of).

    A str or bool fork is selected by a call that passes a literal other
    than the default. A ``None`` fork is selected by a call that reaches
    its default branch: one that omits the argument (with no ``*``/``**``
    splat), passes ``None`` or a conditional with a ``None`` arm, or
    passes a local that an assignment of the enclosing function binds to
    one of those. A call that forwards a parameter of its enclosing
    function selects what that function's callers select."""
    root = package.parent
    defs: dict[str, list] = {}
    forks: dict[tuple[str, str], tuple[object, str]] = {}
    trees = []
    for path in sorted(package.rglob("*.py")):
        tree = ast.parse(path.read_text())
        trees.append(tree)
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            defs.setdefault(fn.name, []).append(fn)
            for p, d in _forks(fn).items():
                forks[(fn.name, p)] = (d, f"{path.relative_to(root).as_posix()}:{fn.lineno}")
    trees += [ast.parse(path.read_text()) for path in harness]

    called: set[str] = set()
    literals: dict[tuple[str, str], set] = {}  # (def, param) -> literals passed
    nones: set[tuple[str, str]] = set()  # (def, param) some call leaves None
    forwards: dict[tuple[str, str], set[tuple[str, str]]] = {}  # callee -> callers

    def binds_none(scope: ast.AST, local: str) -> bool:
        return any(
            isinstance(n, (ast.Assign, ast.AnnAssign))
            and n.value is not None
            and _may_be_none(n.value)
            and any(
                getattr(t, "id", None) == local
                for t in (n.targets if isinstance(n, ast.Assign) else [n.target])
            )
            for n in ast.walk(scope)
        )

    def visit(node: ast.AST, scopes: tuple) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            scopes = (*scopes, node)
        if isinstance(node, ast.Call):
            f = node.func
            name = getattr(f, "id", None) or getattr(f, "attr", None)
            called.add(name)
            splat = any(isinstance(a, ast.Starred) for a in node.args) or any(
                k.arg is None for k in node.keywords
            )
            for fn in defs.get(name, ()):
                bound = list(zip(_params(fn), node.args))
                bound += [(k.arg, k.value) for k in node.keywords if k.arg]
                if not splat:
                    passed = {p for p, _ in bound}
                    nones.update(
                        (name, p)
                        for p, d in _defaults(fn).items()
                        if d is None and p not in passed
                    )
                for p, v in bound:
                    if isinstance(v, ast.Constant):
                        literals.setdefault((name, p), set()).add(v.value)
                    if _may_be_none(v) or (
                        isinstance(v, ast.Name) and binds_none(scopes[-1] if scopes else tree, v.id)
                    ):
                        nones.add((name, p))
                    elif isinstance(v, ast.Name):
                        owner = next(
                            (s for s in reversed(scopes) if v.id in _arg_names(s)), None
                        )
                        if owner is not None and (v.id == p or _defaults(fn).get(p, 0) is None):
                            forwards.setdefault((name, p), set()).add((owner.name, v.id))
        for child in ast.iter_child_nodes(node):
            visit(child, scopes)

    for tree in trees:
        visit(tree, ())

    def selects(key: tuple[str, str], default: object, seen: frozenset) -> bool:
        if key in nones if default is None else any(
            v != default for v in literals.get(key, ())
        ):
            return True
        return any(
            selects(caller, default, seen | {key})
            for caller in forwards.get(key, ())
            if caller not in seen
        )

    forks = {k: v for k, v in forks.items() if k[0] in called}
    selected = {key for key, (d, _) in forks.items() if selects(key, d, frozenset())}
    return forks, selected


def test_every_fork_is_selected_or_allowlisted():
    """A parameter that forks its function into a second implementation
    no query, harness or benchmark selects is a parallel implementation
    only tests reach: delete the branch, or allowlist it with the test
    that uses it as the reference."""
    forks, selected = _fork_scan()
    unselected = sorted(
        f"{site} {name}({param}={default!r})"
        for (name, param), (default, site) in forks.items()
        if (name, param) not in selected and (name, param) not in FORK_REFERENCES
    )
    assert not unselected, (
        "forks no caller selects (delete the branch, or allowlist with the "
        "test that uses it as a reference):\n" + "\n".join(unselected)
    )


def test_fork_references_are_unselected_forks_their_tests_select():
    forks, selected = _fork_scan()
    stale = sorted(k for k in FORK_REFERENCES if k not in forks or k in selected)
    assert not stale, f"allowlisted but not an unselected fork: {stale}"
    bad = []
    for (name, param), test in FORK_REFERENCES.items():
        fn = _test_def(test)
        if fn is None or name not in _names([fn]) or param not in {
            k.arg for k in ast.walk(fn) if isinstance(k, ast.keyword)
        }:
            bad.append((name, param, test))
    assert not bad


_SYNTHETIC_OPS = '''
def omitted(x, cache=None):
    return x if cache is None else cache


def literal(x, cache=None):
    if cache is not None:
        return cache
    return x


def conditional(x, cache=None):
    return x if cache is None else cache


def local(x, cache=None):
    return x if cache is None else cache


def forwarded(x, cache=None):
    return x if cache is None else cache


def unreached(x, cache=None):
    return x if cache is None else cache


def uncalled(x, cache=None):
    return x if cache is None else cache


def pairs(new_b, store_banded=None):
    return new_b if store_banded is None else store_banded


def increment(new, store=None):
    store_b = None if store is None else new
    return pairs(new, store_b)
'''

_SYNTHETIC_CALLS = '''
def run(x, flag, *args, store=None, **kw):
    omitted(x)
    literal(x, None)
    conditional(x, cache=None if flag else x)
    forwarded(x, cache=store)
    unreached(x, x)
    unreached(x, cache=x)
    unreached(*args)
    unreached(x, **kw)
    cache = None
    if flag:
        cache = x
    return local(x, cache)


def entry(p1):
    run(p1, True)
    return increment(p1)
'''


def test_none_fork_guard_on_synthetic_modules(tmp_path):
    """A ``None`` default counts as selected when a call reaches its
    default branch by omission, a literal ``None``, a conditional with
    a ``None`` arm, a local bound to ``None`` (the
    ``dedup_increment(p1)`` → ``store_b = None`` →
    ``incremental_candidate_pairs`` shape) or forwarding; a splat is no
    omission, and a def that nothing calls is not scanned."""
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "ops.py").write_text(_SYNTHETIC_OPS)
    (pkg / "calls.py").write_text(_SYNTHETIC_CALLS)
    forks, selected = _fork_scan(pkg, ())
    assert {k for k, (d, _) in forks.items() if d is None} == {
        ("omitted", "cache"),
        ("literal", "cache"),
        ("conditional", "cache"),
        ("local", "cache"),
        ("forwarded", "cache"),
        ("unreached", "cache"),
        ("pairs", "store_banded"),
        ("increment", "store"),
    }
    assert forks.keys() - selected == {("unreached", "cache")}
    assert forks[("unreached", "cache")] == (None, "pkg/ops.py:24")
