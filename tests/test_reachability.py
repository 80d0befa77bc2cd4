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
DELETE_NEXT: dict[str, tuple[str, ...]] = {
    "strip_dup_substrings": (
        "tests/test_hygiene_substrings.py::test_strip_removes_merged_spans_exactly",
        "tests/test_hygiene_substrings.py::test_strip_consistent_with_stats_single_island",
        "tests/test_hygiene_substrings.py::test_strip_layout_invariant",
    ),
    "compression_ratio": (
        "tests/test_jsonl_source.py::test_compression_ratio_signal",
        "tests/test_jsonl_source.py::test_compression_ratio_separates_prose_from_spam",
    ),
    "stream_jsonl_docs": (
        "tests/test_jsonl_source.py::test_stream_jsonl_matches_batch",
        "tests/test_jsonl_source.py::test_streaming_quality_gate_matches_batch",
    ),
    "write_partitioned": ("tests/test_layout.py::test_write_partitioned_prunes",),
    "compact_parquet": ("tests/test_layout.py::test_compact_parquet",),
    "upsert_parquet": ("tests/test_layout.py::test_upsert_parquet",),
    "write_zordered": (
        "tests/test_layout.py::test_write_zordered_files_cover_disjoint_z_ranges",
    ),
    "attach_binary_metadata": ("tests/test_multimodal.py::test_attach_binary_metadata",),
    "fake_image_features": (
        "tests/test_multimodal.py::test_fake_image_features_deterministic",
    ),
    "sample_frames": ("tests/test_multimodal.py::test_sample_frames",),
    "stream_xml_history_quarantined": (
        "tests/test_sources.py::test_quarantine_reconciles_batch_and_streaming",
    ),
    "quarantine_batch_writer": (
        "tests/test_sources.py::test_quarantine_reconciles_batch_and_streaming",
    ),
    "replay_quarantined": (
        "tests/test_sources.py::test_replay_quarantined_recovers_fixable_units",
    ),
    "sessionize_stream": ("tests/test_streaming.py::test_sessionize_stream_smoke",),
    "dsir_select": ("tests/test_dsir.py::test_select_is_deterministic_topk",),
    "extract_json_field": (
        "tests/test_jsonops.py::test_extract_json_field_null_on_malformed",
    ),
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


def _test_uses(test_id: str) -> set[str] | None:
    """Names used by the test ``tests/<file>.py::<function>``, or None when
    it does not exist."""
    file, _, func = test_id.partition("::")
    path = ROOT / file
    if not path.is_file():
        return None
    for stmt in ast.parse(path.read_text()).body:
        if isinstance(stmt, ast.FunctionDef) and stmt.name == func:
            return _names([stmt])
    return None


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
