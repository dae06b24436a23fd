"""Query registry — the engine's declared operator surface.

Every operator from SURVEY.md §2.2 is exposed here as a named query:
a callable ``(spark, sf_dir) -> DataFrame`` plus (where SQL-expressible)
a DuckDB oracle SQL string over the same parquet tables. The driver's
correctness harness and the local ``scripts/check_correctness.py`` both
consume this registry; ``__spark_entry__.py`` is a thin adapter.

Determinism discipline (SURVEY.md §4.3):
  * every query ends in a total-order ORDER BY;
  * float aggregates run through exact decimal(18,6) sums and are cast
    back to double, so Spark's parallel summation order and DuckDB's
    sequential order produce bit-identical doubles;
  * per-row double arithmetic is IEEE-identical across engines and needs
    no canonicalization;
  * column names are aliased identically in Spark and oracle SQL.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None  # DuckDB SQL; None => driver does rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    bench: bool = False  # include in bench.py headline set
    # Bench adjudication basis (VERDICT r9 task 3). "ratio": the DuckDB
    # oracle does equivalent work, so spark/oracle wall ratios are fair.
    # "absolute": the engine decodes real container bytes (WAV/Y4M/BMP)
    # while the oracle replays the fixture's pixel/sample SYNTHESIS in
    # SQL without touching a byte — a ratio would measure the oracle's
    # exemption, so bench.py gates these on absolute wall + the SCALE.md
    # blowup curve instead and keeps the oracle time as a diagnostic.
    basis: str = "ratio"
    # Sanctioned unpartitioned windows: one justification string per
    # single-partition WindowExec in the physical plan whose input is
    # bounded (grid / group-domain / island-spine tables) but not
    # mechanically provable from the plan. The registry-wide lint
    # (tests/test_window_lint_registry.py) fails any query whose
    # unaccounted single-partition window count exceeds len(uwin) —
    # windows over TakeOrdered/limit results and the distributed-prefix
    # offset tables are auto-recognized and need no entry.
    uwin: tuple[str, ...] = field(default_factory=tuple)
    # Sanctioned parquet-scan leaves beyond the default budget
    # (#distinct paths + 1). The registry-wide scan-leaf lint
    # (tests/test_scan_leaf_lint.py) mechanizes the unpinned-shared-
    # lineage audit that caught dedup_incremental_ingest (r10, 48
    # leaves) and the two r11 debuts (5 and 3 leaves over 1 table):
    # every FileSourceScanExec beyond the budget must be sanctioned by
    # one justification string here — a genuine multi-pass over the
    # source (self-join, bounds probe, second pass at a different
    # granularity), never silent lineage recompute, which is fixed by
    # pinning the shared frame instead (pinning.pin).
    scans: tuple[str, ...] = field(default_factory=tuple)
    # Sanctioned parquet-scan leaves INSIDE pinned builder frames
    # (VERDICT r12 task 3 — the scan-leaf lint's blind spot: a pin
    # truncates its subtree to a LogicalRDD, so recompute inside the
    # pin's one-time materialization is invisible to the consumer-plan
    # lint). tests/test_pin_interior_lint.py spies on every pin the
    # query makes and audits each
    # BUILDER frame's own physical plan with the same
    # distinct-paths + 1 budget; the query's total builder excess must
    # be <= len(pin_scans), one justification string per sanctioned
    # extra leaf — a genuine multi-pass in the builder, never recompute.
    pin_scans: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}

# Submodules that register queries on import.
_QUERY_MODULES = [
    "supabase_etl_spark.queries.relational",
    "supabase_etl_spark.queries.joins",
    "supabase_etl_spark.queries.tpch",
    "supabase_etl_spark.queries.aggregates",
    "supabase_etl_spark.queries.windows",
    "supabase_etl_spark.queries.setops",
    "supabase_etl_spark.queries.reference_parity",
    "supabase_etl_spark.queries.udfs",
    "supabase_etl_spark.queries.llm_text",
    "supabase_etl_spark.queries.llm_dedup",
    "supabase_etl_spark.queries.llm_similarity",
    "supabase_etl_spark.queries.llm_multimodal",
    "supabase_etl_spark.queries.llm_ml",
    "supabase_etl_spark.queries.ml_eval",
    "supabase_etl_spark.queries.llm_sampling",
    "supabase_etl_spark.queries.llm_curation",
    "supabase_etl_spark.queries.ml_train",
    "supabase_etl_spark.queries.scale_levers",
    "supabase_etl_spark.queries.sessions",
    "supabase_etl_spark.queries.analytics",
    "supabase_etl_spark.queries.dq",
    "supabase_etl_spark.queries.io_roundtrip",
    "supabase_etl_spark.queries.streaming",
]


def query(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    bench: bool = False,
    uwin: tuple[str, ...] = (),
    basis: str = "ratio",
    scans: tuple[str, ...] = (),
    pin_scans: tuple[str, ...] = (),
):
    """Decorator: register a query under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        if basis not in ("ratio", "absolute"):
            raise ValueError(f"unknown bench basis: {basis}")
        REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, tags=tags, bench=bench, uwin=uwin,
            basis=basis, scans=scans, pin_scans=pin_scans,
        )
        return fn

    return deco


# The driver's independent oracle samples the FIRST 50 registry entries.
# Those slots ROTATE every round (VERDICT r6 task 1): the window is computed
# from the committed CORRECTNESS_r*.json driver artifacts — the first 50
# oracle-bearing registry names that have NEVER appeared in a prior
# driver run, allocated across the least-verified families by quota.
# Once every query has been driver-verified, the window cycles back to
# the least-recently-verified names. The r1–r6 hand-picked window below
# is kept as the deterministic fallback when no artifacts are readable
# (fresh clone without round history).
_STATIC_PRIORITY: tuple[str, ...] = (
    # dedup family
    "dedup_exact", "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "dedup_semantic", "dedup_containment", "dedup_incremental_ingest",
    "dedup_sorted_neighborhood", "dedup_clusters", "er_record_linkage",
    "corpus_curate", "split_leakage_safe",
    # similarity / embeddings
    "sim_topk_bruteforce", "sim_ivf_probe", "sim_topk_sq_int8",
    "sim_maxsim_late_interaction", "sim_topk_gemm_blocked", "embedding_pca_power",
    "embedding_kmeans_assign", "embedding_centroid_outliers",
    # text analysis
    "text_lang_id", "text_source_kl_divergence",
    "text_gopher_filter", "events_dtw_alignment",
    "text_clf_inference_broadcast", "text_bpe_pair_counts",
    "text_bm25_search",
    # sampling / curation
    "sample_dsir", "sample_domain_mixture",
    "decontaminate_bloom", "io_delta_log_roundtrip",
    # model evaluation
    "ml_eval_auc_pr", "ml_eval_ranking_ndcg",
    # multimodal
    "multimodal_codec_roundtrip", "multimodal_image_phash_dedup",
    "multimodal_video_frame_stats",
    # lake maintenance
    "io_manifest_time_travel", "io_manifest_table_changes",
    "io_manifest_merge_upsert", "io_manifest_delete_where",
    "io_manifest_mor_delete",
    # streaming
    "stream_append_pipeline", "stream_tumbling_window",
    "stream_session_window", "stream_stateful_dedup",
    "stream_stream_interval_join", "stream_stateful_sessions_timeout",
    "stream_foreach_batch_sink", "stream_pyds_replay",
    "stream_pyds_sink_roundtrip", "stream_cdc_merge_manifest",
)

# Family quotas for the rotated window, in fill order. Six under-verified
# families × 6-12 slots = 50. When a family runs dry (fully verified in
# prior rounds) its unused slots backfill from the remaining candidates
# in registry order, so the window always holds 50 names while any
# unverified oracle-bearing query exists. Re-aimed each round at the
# LARGEST never-verified families (r12: events 54, text 24, agg 21,
# dq 17, ml 14, io 13 never-verified at r12 start — VERDICT r11 task 1
# names analytics/events, ml_eval/ml_train, io/manifest explicitly).
_ROTATION_QUOTAS: tuple[tuple[str, int], ...] = (
    # pin the r13 debuts into the window (every new operator gets a
    # driver-verification slot — the r8-r12 pattern): the LSH banding
    # planner and the Z-order clustering/pruning ledger.
    ("dedup_lsh_band_planner", 1),
    ("io_zorder_clustering_prune", 1),
    # family quotas re-aimed at the LARGEST never-verified families as
    # computed from the committed artifacts at r13 start (events 37,
    # text 14, sample 13, dq 11, udf 10, sim 9, sql 9 of 201 total —
    # VERDICT r12 task 2); 1 active re-pin + 2 debut pins + 47 quota
    # slots = 50
    ("events_", 16),
    ("text_", 8),
    ("sample_", 7),
    ("dq_", 6),
    ("udf_", 4),
    ("sim_", 4),
    ("sql_", 2),
)
_WINDOW_SIZE = 50

# Repaired-or-rewritten queries forced back into the window even though
# an OLD driver artifact already verified them (VERDICT r11 task 6):
# driver_verified_names() keeps them out of the candidate pool, but the
# post-rewrite code deserves fresh driver-contract proof the way
# text_vocab_ids' repair got it in r11. Each entry is
# ``(name, last_stale_round)``: the repair postdates every driver
# artifact up to and including ``last_stale_round``, and the re-pin
# EXPIRES automatically once a driver artifact from a LATER round
# verifies the name (ADVICE r12: a standing allowlist with no expiry
# would lead the window forever, displacing never-verified names).
# agg_levene_brown_forsythe: integer-units rewrite landed r13 (its
# round(,3) formulation diverged at sf0.1 — SCALE.md r12 post-close),
# so artifacts ≤ r12 are stale. dedup_cdc_chunks /
# sample_length_histogram_match: repaired r11→r12, re-verified by the
# r12 driver artifact — kept here as the (now-expired) record.
_REPIN: tuple[tuple[str, int], ...] = (
    ("agg_levene_brown_forsythe", 12),
    ("dedup_cdc_chunks", 11),
    ("sample_length_histogram_match", 11),
)


def active_repin_names(verified_rounds: "dict[str, int] | None" = None) -> tuple[str, ...]:
    """_REPIN entries whose repair is NOT yet covered by a driver
    artifact newer than the repair round — these lead the window."""
    if verified_rounds is None:
        verified_rounds = driver_verified_rounds()
    return tuple(
        n for n, stale in _REPIN if verified_rounds.get(n, -1) <= stale
    )

# Computed on first load_all(); falls back to _STATIC_PRIORITY.
DRIVER_PRIORITY: tuple[str, ...] = ()


def driver_verified_rounds(root: "str | None" = None) -> dict[str, int]:
    """Query name → LATEST round whose committed driver artifact
    verified it.

    Reads ``CORRECTNESS_r*.json`` at the repo root (NOT the builder's
    ``CORRECTNESS_local_*`` artifacts — only independent driver runs
    retire a name from the rotation). The round number feeds _REPIN
    expiry: a repair is proven once an artifact NEWER than the repair
    verifies the name.
    """
    import json
    import re
    from pathlib import Path

    base = Path(root) if root else Path(__file__).resolve().parents[2]
    seen: dict[str, int] = {}
    for p in sorted(base.glob("CORRECTNESS_r[0-9]*.json")):
        m = re.search(r"_r(\d+)\.json$", p.name)
        rnd = int(m.group(1)) if m else 0
        try:
            data = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        if isinstance(data, dict):
            # only entries the driver actually VERIFIED retire a name: a
            # row with err/null matches (r10's text_vocab_ids — the
            # driver's pandas canon crashed on its then-list column)
            # must rotate back into the window after the fix, not count
            # as covered.
            for k, v in data.items():
                if isinstance(v, dict) and (
                    v.get("hash_match") or v.get("rows_match")
                ):
                    seen[k] = max(seen.get(k, 0), rnd)
    return seen


def driver_verified_names(root: "str | None" = None) -> set[str]:
    """Query names green in any committed driver artifact."""
    return set(driver_verified_rounds(root))


def compute_driver_priority(registry: dict[str, QuerySpec], seen: set[str]) -> tuple[str, ...]:
    """The 50-slot driver window: never-driver-verified, oracle-bearing
    names first, allocated by family quota then backfilled in registry
    order; if fewer than 50 unverified names remain, the oldest-verified
    names cycle back in (registry order) to keep re-checking coverage.
    Active ``_REPIN`` names lead the window regardless of verification
    state — they carry a repair/rewrite that postdates their last
    driver run; once a LATER artifact re-verifies them they expire back
    into the ordinary pool (ADVICE r12)."""
    candidates = [n for n, s in registry.items() if s.oracle is not None and n not in seen]
    window: list[str] = [
        n
        for n in active_repin_names()
        if n in registry and registry[n].oracle is not None
    ]
    for prefix, quota in _ROTATION_QUOTAS:
        fam = [n for n in candidates if n.startswith(prefix) and n not in window]
        window.extend(fam[:quota])
    for n in candidates:  # backfill unused quota slots
        if len(window) >= _WINDOW_SIZE:
            break
        if n not in window:
            window.append(n)
    if len(window) < _WINDOW_SIZE:  # everything verified: cycle oracle names again
        for n, s in registry.items():
            if len(window) >= _WINDOW_SIZE:
                break
            if s.oracle is not None and n not in window:
                window.append(n)
    return tuple(window[:_WINDOW_SIZE])


def load_all() -> dict[str, QuerySpec]:
    """Import every query module (idempotent) and return the registry.

    The returned dict is reordered so the rotated driver window comes
    first (the driver's correctness gate samples the first 50 entries).
    """
    global DRIVER_PRIORITY
    for mod in _QUERY_MODULES:
        try:
            importlib.import_module(mod)
        except ModuleNotFoundError as e:
            # Only tolerate the query submodule itself being absent
            # (incremental rounds); a missing transitive dependency must
            # fail loudly or the registry silently shrinks (ADVICE r1).
            if e.name != mod:
                raise
    seen = driver_verified_names()
    priority = compute_driver_priority(REGISTRY, seen) if seen else _STATIC_PRIORITY
    missing = [n for n in priority if n not in REGISTRY]
    if missing:
        raise ValueError(f"DRIVER_PRIORITY names not in registry: {missing}")
    DRIVER_PRIORITY = tuple(priority)
    ordered = {n: REGISTRY[n] for n in DRIVER_PRIORITY}
    ordered.update({n: s for n, s in REGISTRY.items() if n not in ordered})
    return ordered
