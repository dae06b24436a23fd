"""Ratchet on driver frames built from Python rows.

`spark.createDataFrame(<list>)` pickles its rows through a `PythonRDD`
(`RDD._reserialize` adds a `map`), so every action that reads such a frame
starts Python workers. A frame built from a `pyarrow.Table` (as
`operators/cc.py` does) plans a LocalTableScan and starts none. The sites
below are the list-built frames in the package; the list may only shrink.
A site counts unless the data argument is a call (`pa.table(...)`).
"""

from __future__ import annotations

import ast
import collections
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "supabase_etl_spark"

# "<module path>::<enclosing function>": number of list-built frames there
ALLOWED = {
    "io/delta_log.py::read_delta": 1,
    "io/delta_log.py::write_checkpoint": 1,
    "queries/aggregates.py::agg_count_min_sketch": 1,
    "queries/analytics.py::events_hurst_rs": 1,
    "queries/analytics.py::graph_rich_club": 1,
    "queries/dq.py::dq_observe_metrics": 1,
    "queries/dq.py::dq_quarantine_split": 1,
    "queries/io_roundtrip.py::io_manifest_file_stats": 1,
    "queries/io_roundtrip.py::io_manifest_metadata_count": 1,
    "queries/io_roundtrip.py::io_parquet_codecs": 1,
    "queries/joins.py::join_null_safe_eq": 1,
    "queries/llm_dedup.py::dedup_cosine_threshold_sweep": 1,
    "queries/llm_sampling.py::sample_data_constrained_epochs": 1,
    "queries/llm_similarity.py::embedding_farthest_first_init": 1,
    "queries/llm_text.py::text_bpe_train_merges": 1,
    "queries/ml_eval.py::ml_eval_pass_at_k": 1,
    "queries/ml_eval.py::ml_eval_permutation_importance": 1,
    "queries/ml_eval.py::ml_eval_propensity_matching": 1,
    "queries/ml_train.py::ml_logreg_gd": 1,
    "queries/ml_train.py::ml_quantile_regression_grid": 1,
    "queries/ml_train.py::ml_svm_hinge_gd": 1,
    "queries/relational.py::sql_ddl_managed_table": 1,
    "queries/relational.py::sql_ddl_views": 1,
}


def _list_built_sites() -> collections.Counter:
    sites = collections.Counter()

    def visit(node, key):
        for child in ast.iter_child_nodes(node):
            child_key = key
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                child_key = f"{key.split('::')[0]}::{child.name}"
            elif (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "createDataFrame"
                and not (child.args and isinstance(child.args[0], ast.Call))
            ):
                sites[key] += 1
            visit(child, child_key)

    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        visit(ast.parse(path.read_text(), filename=str(path)), f"{rel}::<module>")
    return sites


def test_list_built_frames_only_shrink():
    found = _list_built_sites()
    new = {k: n for k, n in found.items() if n > ALLOWED.get(k, 0)}
    assert not new, (
        f"new createDataFrame(<list>) sites {new}: build the frame from a "
        "pyarrow.Table so it plans a LocalTableScan instead of a PythonRDD"
    )
    gone = {k: n for k, n in ALLOWED.items() if found.get(k, 0) < n}
    assert not gone, f"sites {gone} no longer build from a list: lower ALLOWED"

