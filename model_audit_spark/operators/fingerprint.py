"""LLMmap fingerprinting as grouped aggregation + pairwise cosine comparison.

Reference semantics (methods/llmmap.py:70-146, 383-404):
- A1: per model, the 18-dim fingerprint vector = mean of 8 numeric features,
  true-fraction of 5 boolean features, mean of 5 marker-category scores —
  one hash aggregate over the per-response feature projection.
- V1: fixed-range min-max normalization of the 8 numeric dims.
- V2: cosine similarity over the normalized 18-dim vectors (0 if either norm
  is 0). README calls it "Pearson"; the code is cosine — we implement the code.
- V7: is_derived = similarity >= 0.85; confidence = min(|sim-0.85|/0.15, 1).

Scale notes: the aggregate is a single shuffle on the grouping key with
map-side partial aggregation; the pairwise compare runs on the *aggregated*
relation (one row per model), which is broadcast-joined — no O(N²) over rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from model_audit_spark.catalogs import (
    BOOL_FEATURES,
    FEATURE_RANGES,
    FINGERPRINT_DIMS,
    MARKER_CATEGORIES,
    NUMERIC_FEATURES,
)
from model_audit_spark.functions.text import with_llmmap_features

LLMMAP_THRESHOLD = 0.85
LLMMAP_CONFIDENCE_K = 0.15


def fingerprint_vectors(
    df: DataFrame, group_col: str = "model_id", text_col: str = "text"
) -> DataFrame:
    """A1: (group, 18 fingerprint columns), one row per group."""
    feats = with_llmmap_features(df, text_col)
    aggs = (
        [F.avg(k).alias(f"avg_{k}") for k in NUMERIC_FEATURES]
        + [
            F.avg(F.col(k).cast("double")).alias(f"ratio_{k}")
            for k in BOOL_FEATURES
        ]
        + [F.avg(f"style_{c}").alias(f"style_{c}") for c in MARKER_CATEGORIES]
    )
    return feats.groupBy(group_col).agg(*aggs)


def normalize_dim(name: str, col: Column | None = None) -> Column:
    """V1: clamp (v - lo)/(hi - lo) into [0,1] for ranged dims, pass others."""
    c = col if col is not None else F.col(name)
    if name in FEATURE_RANGES:
        lo, hi = FEATURE_RANGES[name]
        return F.greatest(
            F.lit(0.0), F.least(F.lit(1.0), (c - lo) / (hi - lo))
        )
    return c


def with_normalized_dims(fp: DataFrame, prefix: str = "n_") -> DataFrame:
    cols = [normalize_dim(d).alias(f"{prefix}{d}") for d in FINGERPRINT_DIMS]
    return fp.select("*", *cols)


def cosine_compare(
    fp: DataFrame,
    group_col: str = "model_id",
    threshold: float = LLMMAP_THRESHOLD,
    confidence_k: float = LLMMAP_CONFIDENCE_K,
) -> DataFrame:
    """V2+V7: pairwise normalized-cosine between every pair of fingerprints.

    Input: output of fingerprint_vectors. Output one row per unordered pair
    (model_a < model_b): similarity, is_derived, threshold, confidence.

    The fingerprint relation (one row per model) is persisted: it is
    referenced from both sides of the pair join, and without the persist
    each side re-runs the corpus-wide feature aggregation beneath it.
    It is tracked, so persistence.release_all frees it.
    """
    from model_audit_spark.persistence import track

    norm = track(with_normalized_dims(fp).persist())
    a = norm.select(
        F.col(group_col).alias("model_a"),
        *[F.col(f"n_{d}").alias(f"a_{d}") for d in FINGERPRINT_DIMS],
    )
    b = norm.select(
        F.col(group_col).alias("model_b"),
        *[F.col(f"n_{d}").alias(f"b_{d}") for d in FINGERPRINT_DIMS],
    )
    pairs = a.join(F.broadcast(b), F.col("model_a") < F.col("model_b"))

    dot = sum(
        (F.col(f"a_{d}") * F.col(f"b_{d}") for d in FINGERPRINT_DIMS),
        F.lit(0.0),
    )
    na = F.sqrt(
        sum((F.col(f"a_{d}") * F.col(f"a_{d}") for d in FINGERPRINT_DIMS), F.lit(0.0))
    )
    nb = F.sqrt(
        sum((F.col(f"b_{d}") * F.col(f"b_{d}") for d in FINGERPRINT_DIMS), F.lit(0.0))
    )
    sim = F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(dot / (na * nb))
    return pairs.select(
        "model_a",
        "model_b",
        sim.alias("similarity"),
        (sim >= threshold).alias("is_derived"),
        F.lit(threshold).alias("threshold"),
        F.least(F.abs(sim - threshold) / confidence_k, F.lit(1.0)).alias(
            "confidence"
        ),
    )


def fingerprint_hash(fp: DataFrame, group_col: str = "model_id") -> DataFrame:
    """F22-analog: 16-hex digest of the canonical vector encoding.

    The reference hashes Python's json.dumps(vector, sort_keys=True)
    (llmmap.py:368); Python float repr is not portably reproducible in SQL,
    so our canonical form is `dim:printf('%.6f')` joined with '|' over
    alphabetically sorted dims — fixed-width decimal renders identically in
    Spark (java.util.Formatter) and DuckDB (printf), making the digest a
    cross-engine contract. Divergence from the reference's exact digest is
    documented per SURVEY.md §7.4 (same equality semantics, different
    canonicalization).
    """
    canon = F.concat_ws(
        "|",
        *[
            F.concat_ws(
                ":", F.lit(d), F.format_string("%.6f", F.col(d))
            )
            for d in sorted(FINGERPRINT_DIMS)
        ],
    )
    return fp.select(
        "*", F.substring(F.md5(canon), 1, 16).alias("fp_hash")
    )
