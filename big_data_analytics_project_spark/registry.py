"""Query registry — the single source of truth for the verification surface.

Every operator in SURVEY §2 (plus the large-scale extension operators) is
registered here as a named ``QuerySpec``: a Spark callable
``(spark, sf_dir) -> DataFrame`` and, when SQL-expressible, the equivalent
DuckDB oracle SQL.  ``verify.py`` runs both and compares row count,
column names and order-insensitive values; ``tests/test_oracle_parity.py``
does the same for every oracle-backed query at sf0.001.

Determinism rules for oracle-checked queries (see ``docs/determinism.md``):
 - alias every computed column identically in Spark and SQL;
 - integer-valued computed columns cast to BIGINT on both sides;
 - high-cardinality float aggregates use exact decimal sums divided in
   double (bit-reproducible across engines); low-cardinality ones may use
   ``round(x, n)``;
 - ties broken by a unique key wherever ranking/top-k is involved;
 - no seeded-random / approximate operators in oracle queries (rows-only).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: SparkQuery
    sql: str | None = None  # DuckDB oracle; None → rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, sql: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn: SparkQuery) -> SparkQuery:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # The caller owns the session; pin runtime confs that affect
            # cross-engine determinism (UTC timestamps).
            from .session import tune_for_oracle

            tune_for_oracle(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        REGISTRY[name] = QuerySpec(
            name=name, fn=wrapped, sql=sql, doc=fn.__doc__ or "", tags=tuple(tags)
        )
        return fn

    return deco


_LOADED = False

# Terminal rows-only status (VERDICT r8 item 5): every sql=None query must
# either be lifted to an oracle (contract pattern — ml_als_quality_contract
# is the template; round 9 lifted streaming_fanout_dual_sink and
# maintenance_compact_files that way) or carry a one-line justification
# here for why rows-only is SEMANTICALLY final, not merely unfinished.
# tests/test_registry_counts.py enforces exact-key correspondence, so a
# new rows-only query without a verdict here (or a lift that forgets to
# delete its entry) fails the suite.
ROWS_ONLY_FINAL: dict[str, str] = {
    "dedup_simhash": (
        "emits the full near-dup pair set at a Hamming radius; DuckDB has no"
        " 64-bit popcount-over-XOR, and quality (precision/recall vs exact"
        " Jaccard) is pinned in tests/test_dedup.py — the banded-pairs"
        " variant dedup_simhash_pairs IS oracle-checked"
    ),
    "ml_intent_rf_metrics": (
        "RF probabilities/AUC are artifacts of MLlib's distributed tree"
        " training, not SQL-recomputable; the checkable surface (split"
        " shape, schema, metric floors) is oracle-checked by"
        " ml_rf_quality_contract"
    ),
    "ml_feature_importances": (
        "Gini importances are internal tree state — no relational dual"
        " exists even in principle; sanity floors pinned in tests/test_ml.py"
    ),
    "ml_als_recommendations": (
        "top-5 rec lists rank latent-factor scores from the block-solver"
        " fit; the oracle-checked dual is ml_als_quality_contract (split"
        " shape + factor completeness + Recall@10 floor)"
    ),
    "ml_intent_tuning_grid": (
        "grid-point validation AUCs are seeded-model artifacts; the"
        " oracle-checked dual is ml_tuning_grid_contract (grid shape,"
        " best-flag argmax consistency, per-point AUC floors)"
    ),
    "sample_seeded": (
        "Spark's XORShift sample() is engine-defined — DuckDB cannot"
        " reproduce the draw; the hash-deterministic dual sample_hash_bucket"
        " is oracle-checked"
    ),
    "random_split": (
        "randomSplit seeding is engine-defined (per-partition XORShift);"
        " the deterministic dual split_hash_deterministic is oracle-checked"
    ),
    "shuffle_seeded": (
        "rand(seed)-ordered permutation is engine-defined; permutation-ness"
        " (count/key preservation) is property-tested in"
        " tests/test_properties.py"
    ),
    "streaming_online_scoring": (
        "per-batch model metrics depend on the micro-batch trajectory:"
        " batch N is scored by the model AFTER batches <N's partial_fits,"
        " so every surface (proba means, rolling accuracy) shifts with"
        " where Spark cuts the batches; the oracle-checked duals are"
        " streaming_tumbling_append (the feature aggregation) and"
        " streaming_frozen_scoring (the same features scored by the model"
        " frozen into a Column on the stream and drained through the"
        " replay-safe file writer — boundary-invariant, r13)"
    ),
    "pyds_clickstream_gen_agg": (
        "source connector over container-generated synthetic events —"
        " DuckDB sees no table to recompute from; generator determinism is"
        " pinned in tests/test_eventgen.py"
    ),
    "pyds_clickstream_stream_agg": (
        "same generated-source rationale as pyds_clickstream_gen_agg, via"
        " the streaming path"
    ),
}


def load_all() -> dict[str, QuerySpec]:
    """Import every module that registers queries, once, and return the
    registry in registration order."""
    global _LOADED
    if not _LOADED:
        from .plans import (  # noqa: F401
            curation_queries,
            dedup_queries,
            eda_queries,
            extras_queries,
            flagship,
            funnel_queries,
            graph_queries,
            ml_queries,
            multimodal_queries,
            relational,
            scalar_queries,
            similarity_queries,
            stats_queries,
            streaming_queries,
            temporal_queries,
            text_queries,
            tpch_queries,
        )

        _LOADED = True
    return REGISTRY
