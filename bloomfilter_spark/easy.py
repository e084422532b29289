"""One-call convenience API — the engine's analog of the reference's
Data.BloomFilter.Easy module (easyList / suggestSizing, Easy.hs:41-92).

Like ``easyList``, the fit functions derive capacity from the data when not
supplied — which costs an extra counting pass, exactly as the reference
walks its input list twice (Easy.hs:48-52); pass ``capacity=`` to skip it.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame

from .agg import build_sketch, with_membership
from .config import DEFAULT_FPR, DEFAULT_SEED
from .sizing import suggest_sizing
from .sketches import KLL, BloomFilter, HyperLogLog, TDigest


def bloom_fit(df: DataFrame, cols, fpr: float = DEFAULT_FPR,
              capacity: int | None = None, seed: int = DEFAULT_SEED) -> BloomFilter:
    """easyList equivalent: size from the data (or `capacity`) and build.

    Warns when the sized filter exceeds the broadcast budget — a driver
    object that big should be the DISTRIBUTED filter instead
    (operators.sharded.build_sharded_bloom; plans.plan_bloom decides)."""
    if capacity is None:
        capacity = df.count()
    m, k = suggest_sizing(max(capacity, 1), fpr)
    _warn_if_beyond_broadcast(m)
    return build_sketch(df, cols, lambda: BloomFilter(m, k), seed=seed)


def _warn_if_beyond_broadcast(m_bits: int) -> None:
    from .config import BROADCAST_BUDGET_BYTES
    if m_bits // 8 > BROADCAST_BUDGET_BYTES:
        import warnings
        warnings.warn(
            f"sized filter is {m_bits // 8 >> 20} MiB — beyond the "
            f"{BROADCAST_BUDGET_BYTES >> 20} MiB broadcast budget; use "
            "operators.sharded.build_sharded_bloom / sharded_bloom_semi_join "
            "(see plans.plan_bloom)", RuntimeWarning, stacklevel=3)


def bloom_membership(df: DataFrame, bloom: BloomFilter, cols,
                     out_col: str = "is_member",
                     seed: int = DEFAULT_SEED) -> DataFrame:
    """B.elem equivalent as a DataFrame column."""
    return with_membership(df, bloom, cols, out_col=out_col, seed=seed)


def approx_distinct(df: DataFrame, cols, p: int = 14,
                    seed: int = DEFAULT_SEED) -> float:
    """Distributed HLL distinct-count estimate."""
    return build_sketch(df, cols, lambda: HyperLogLog(p), seed=seed).estimate()


def approx_quantiles(df: DataFrame, col, qs: Sequence[float],
                     method: str = "tdigest") -> list[float]:
    factory = (lambda: TDigest(200)) if method == "tdigest" else (lambda: KLL(200))
    sk = build_sketch(df, [col], factory)
    return [float(sk.quantile(q)) for q in qs]
