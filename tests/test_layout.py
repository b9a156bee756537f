"""The keep/cut ledger for package modules, made executable.

A module stays in the package only if an entry point reaches it or
``KEPT`` names it with a reason (DESIGN.md §18). The walk follows
``import`` and ``from ... import`` statements at any depth (module
level and inside functions), resolves relative imports, and is
transitive. Entry points: the query registry (``__spark_entry__.py``),
the bench (``bench.py``), the benchmark runner (top-level
``perfbench/*.py``) and the oracle check (``tools/oracle_check.py``).

A module that no entry point reaches and ``KEPT`` does not name fails
this test: delete it with its tests, or wire it into an entry point,
or add it to ``KEPT`` with the keep rule it meets. A ``KEPT`` module
that an entry point now reaches fails too, so the ledger never holds
stale rows.

The same ledger holds per function: a public top-level function or
class of the package that no file (package, entry points, ``tools/``,
``tests/``) references by name must be deleted or listed in
``UNREFERENCED_KEPT`` with its keep rule. A reference is a name, an
attribute, an imported name or a string constant equal to the name;
its own ``def`` and a docstring mention do not count.

A third ledger holds the functions only tests keep alive: a public
top-level function or class of a module an entry point reaches that
no package file and no entry point references must be listed in
``TEST_ONLY_KEPT`` with its keep rule. References from ``tests/`` and
from ``tools/`` other than the oracle check do not count.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "cassandra_iot_pipeline_spark"

KEPT = {
    "sources.kafka": "reference connector (Kafka source); no broker here",
    "sources.registry": "reference connector (schema registry); no registry here",
    "streaming.cassandra": "reference connector (Cassandra sink); no cluster here",
    "sources.generator": "the reference's event producer",
    "streaming.lateness": "the reference's watermark trade-off (spark_consumer.py:171-172)",
    "functions.substrings": "LLM-data dedup family: exact substring dedup",
    "functions.bloom": "LLM-data dedup family: incremental landing dedup sketch",
    "streaming.substrings": "LLM-data dedup family: continuous substring dedup",
    "functions.ann_store": "LLM-data similarity family: persisted IVFADC index",
    "streaming.ann": "LLM-data similarity family: continuous ANN ingestion",
    "functions.cleaning": "LLM-data text family: PII redaction, contamination, packing",
    "functions.curation": "LLM-data text family: end-to-end corpus curation",
    "functions.sampling": "LLM-data text family: deterministic splits and samples",
    "sources.jsonl": "LLM-data text family: JSONL corpus landing",
    "plans": "plan-pin helpers used by tests/test_plans.py and tools/dump_plans.py",
}

#: Public top-level functions and classes of the package that no file
#: references, each with the keep rule it meets.
UNREFERENCED_KEPT = {
    "sources.kafka.read_kafka_stream": "reference connector (Kafka source)",
    "sources.kafka.write_kafka_stream": "reference connector (Kafka sink)",
}

_LLM_DATA = "LLM-data family (text, similarity, multimodal, sketches, dedup)"
_SCALE_LEVER = "storage scale lever (DESIGN.md §5)"
_HEALTH = "engine health surface (ROADMAP item 6)"
_REFERENCE = (
    "reference for a kept path: streaming-equals-batch twin or oracle tier"
)
_LEGACY = (
    "deregistered registry form, oracle-pinned in test_legacy_parity.py; "
    "next prune"
)

#: Public top-level functions and classes of reached modules that only
#: tests (and tools other than the oracle check) reference, each with
#: the keep rule it meets.
TEST_ONLY_KEPT = {
    "blocks.cached_rdd_count": _HEALTH,
    "store.store_stats": _HEALTH,
    "functions.dedup.minhash_lsh_candidates": _LLM_DATA,
    "functions.multimodal.media_metadata_oracle": _LLM_DATA,
    "functions.multimodal.resize_media": _LLM_DATA,
    "functions.multimodal.extract_features": _LLM_DATA,
    "functions.similarity.pq_topk": _LLM_DATA,
    "functions.similarity.ivf_pq_topk": _LLM_DATA,
    "functions.sketches.cm_estimate": _LLM_DATA,
    "functions.sketches.frequent_tokens_oracle": _LLM_DATA,
    "functions.text.text_stats": _LLM_DATA,
    "functions.text.text_stats_oracle": _LLM_DATA,
    "functions.text.language_guess": _LLM_DATA,
    "functions.text.language_guess_oracle": _LLM_DATA,
    "functions.text.fingerprint": _LLM_DATA,
    "functions.text.fingerprint_oracle": _LLM_DATA,
    "functions.text.token_counts": _LLM_DATA,
    "functions.text.token_counts_oracle": _LLM_DATA,
    "functions.text.rolling_fingerprint": _LLM_DATA,
    "functions.text.rolling_fingerprint_reference": _LLM_DATA,
    "functions.text.word_frequencies_oracle": _LLM_DATA,
    "functions.text.quality_flags": _LLM_DATA,
    "functions.text.quality_flags_oracle": _LLM_DATA,
    "functions.text.repetition_signals_oracle": _LLM_DATA,
    "functions.text.tfidf_top_terms": _LLM_DATA,
    "functions.text.tfidf_top_terms_oracle": _LLM_DATA,
    "streaming.dedup.streaming_near_dedup": _LLM_DATA,
    "storage.write_events_table": _SCALE_LEVER,
    "storage.read_events_table": _SCALE_LEVER,
    "storage.write_bucketed": _SCALE_LEVER,
    "storage.compact_small_files": _SCALE_LEVER,
    "storage.write_index_projection": _SCALE_LEVER,
    "storage.read_by_index": _SCALE_LEVER,
    "storage.write_zordered": _SCALE_LEVER,
    "storage.expire_partitions": _SCALE_LEVER,
    "storage.rowgroup_pruning_report": _SCALE_LEVER,
    "operators.profiles.similar_devices_allpairs": _REFERENCE,
    "operators.rangejoin.conversion_pairs": _REFERENCE,
    "streaming.joins.enriched_stream_query": _REFERENCE,
    "operators.agg.rollup_by_type": _LEGACY,
    "operators.agg.rollup_by_type_oracle": _LEGACY,
    "operators.agg.global_count": _LEGACY,
    "operators.agg.global_count_oracle": _LEGACY,
    "operators.joins.forecast_revenue_oracle": _LEGACY,
    "operators.stats.orders_rollup_hierarchy": _LEGACY,
    "operators.stats.orders_rollup_hierarchy_oracle": _LEGACY,
    "operators.subqueries.priority_exists_counts": _LEGACY,
    "operators.subqueries.priority_exists_counts_oracle": _LEGACY,
    "operators.subqueries.returnflag_priority_mix": _LEGACY,
    "operators.subqueries.returnflag_priority_mix_oracle": _LEGACY,
    "operators.windows.running_user_totals": _LEGACY,
    "operators.windows.running_user_totals_oracle": _LEGACY,
    "operators.windows.event_gaps": _LEGACY,
    "operators.windows.event_gaps_oracle": _LEGACY,
    "operators.windows.session_stats": _LEGACY,
    "operators.windows.session_stats_oracle": _LEGACY,
    "operators.windows.type_unpivot": _LEGACY,
    "operators.windows.type_unpivot_oracle": _LEGACY,
    "sources.json_decode.props_bucket_rollup": _LEGACY,
    "sources.json_decode.props_bucket_rollup_oracle": _LEGACY,
    "sources.projections.raw_projection": _LEGACY,
    "sources.projections.raw_projection_oracle": _LEGACY,
}

ENTRY_POINTS = [
    REPO_ROOT / "__spark_entry__.py",
    REPO_ROOT / "bench.py",
    REPO_ROOT / "tools" / "oracle_check.py",
    *sorted((REPO_ROOT / "perfbench").glob("*.py")),
]

#: The files whose references keep a public function alive.
REFERRING_FILES = [
    *sorted((REPO_ROOT / PACKAGE).rglob("*.py")),
    *ENTRY_POINTS,
    *sorted((REPO_ROOT / "tools").glob("*.py")),
    *sorted((REPO_ROOT / "tests").glob("*.py")),
]


#: The files whose references keep a function of a reached module
#: alive without a ``TEST_ONLY_KEPT`` row.
RUNTIME_FILES = [*sorted((REPO_ROOT / PACKAGE).rglob("*.py")), *ENTRY_POINTS]


def _package_modules() -> dict[str, Path]:
    modules = {}
    for path in (REPO_ROOT / PACKAGE).rglob("*.py"):
        parts = list(path.relative_to(REPO_ROOT).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        modules[".".join(parts)] = path
    return modules


def _imported_names(path: Path, module: str | None) -> set[str]:
    """Dotted names an ``import`` anywhere in ``path`` may load: each
    imported module, plus ``module.name`` for every ``from module
    import name`` (the name may be a submodule)."""
    package = None
    if module is not None:
        package = module if path.name == "__init__.py" else module.rpartition(".")[0]
    names = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package.split(".")[: len(package.split(".")) - node.level + 1]
                target = ".".join(base + ([node.module] if node.module else []))
            else:
                target = node.module
            names.add(target)
            names.update(f"{target}.{alias.name}" for alias in node.names)
    return names


def _reached(modules: dict[str, Path]) -> set[str]:
    def loaded(name: str) -> set[str]:
        # importing a.b.c runs a, a.b and a.b.c
        parts = name.split(".")
        return {
            ".".join(parts[:i])
            for i in range(1, len(parts) + 1)
            if ".".join(parts[:i]) in modules
        }

    todo = set()
    for entry in ENTRY_POINTS:
        for name in _imported_names(entry, None):
            todo |= loaded(name)
    seen: set[str] = set()
    while todo:
        module = todo.pop()
        seen.add(module)
        for name in _imported_names(modules[module], module):
            todo |= loaded(name) - seen
    return seen


def test_unreached_modules_are_exactly_the_kept_ledger():
    assert all(reason.strip() for reason in KEPT.values())
    modules = _package_modules()
    unreached = {
        name.removeprefix(f"{PACKAGE}.")
        for name in set(modules) - _reached(modules)
    }
    assert not unreached - set(KEPT), (
        "modules no entry point reaches and KEPT does not name: delete "
        f"them or record why they stay: {sorted(unreached - set(KEPT))}"
    )
    assert not set(KEPT) - unreached, (
        "KEPT names modules an entry point reaches (or that no longer "
        f"exist): drop their rows: {sorted(set(KEPT) - unreached)}"
    )


def _referenced_names(path: Path) -> set[str]:
    names = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.alias):
            names.add(node.name.rpartition(".")[2])
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            names.add(node.value)
    return names


def _unreferenced_public_defs(
    modules: dict[str, Path], referring: list[Path]
) -> set[str]:
    """``module.name`` of every public top-level function or class in
    ``modules`` that no file in ``referring`` references."""
    referenced = set()
    for path in set(referring):
        referenced |= _referenced_names(path)
    found = set()
    for module, path in modules.items():
        for node in ast.parse(path.read_text()).body:
            if (
                isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                )
                and not node.name.startswith("_")
                and node.name not in referenced
            ):
                found.add(f"{module.removeprefix(f'{PACKAGE}.')}.{node.name}")
    return found


def test_unreferenced_public_functions_are_exactly_the_kept_ledger():
    assert all(reason.strip() for reason in UNREFERENCED_KEPT.values())
    unreferenced = _unreferenced_public_defs(_package_modules(), REFERRING_FILES)
    assert not unreferenced - set(UNREFERENCED_KEPT), (
        "public functions no file references and UNREFERENCED_KEPT does "
        "not name: delete them or record why they stay: "
        f"{sorted(unreferenced - set(UNREFERENCED_KEPT))}"
    )
    assert not set(UNREFERENCED_KEPT) - unreferenced, (
        "UNREFERENCED_KEPT names functions that are referenced (or no "
        "longer exist): drop their rows: "
        f"{sorted(set(UNREFERENCED_KEPT) - unreferenced)}"
    )


def test_test_only_public_functions_are_exactly_the_kept_ledger():
    assert all(reason.strip() for reason in TEST_ONLY_KEPT.values())
    modules = _package_modules()
    reached = {name: modules[name] for name in _reached(modules)}
    test_only = _unreferenced_public_defs(reached, RUNTIME_FILES)
    assert not test_only - set(TEST_ONLY_KEPT), (
        "public functions of reached modules that only tests or tools "
        "reference and TEST_ONLY_KEPT does not name: delete them with "
        "their tests or record why they stay: "
        f"{sorted(test_only - set(TEST_ONLY_KEPT))}"
    )
    assert not set(TEST_ONLY_KEPT) - test_only, (
        "TEST_ONLY_KEPT names functions that the package or an entry "
        "point references (or that no longer exist): drop their rows: "
        f"{sorted(set(TEST_ONLY_KEPT) - test_only)}"
    )
