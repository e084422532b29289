"""In-process timings of the numpy ``sketches`` kernels on seeded arrays.

These are the numbers the numpy-kernel layer is judged by: no Spark, no
Arrow, just the per-batch work a Python worker does. Geometries match the
build workload (8 MiB Bloom sized for 4M keys at fpr 0.01, HLL p=14, CMS at the
library's default eps/delta, KLL k=200): updates are timed on ``N_KEYS``
keys in Arrow-batch-sized slices, and merge / serialization on a filter
filled to the build workload's load. Each figure is the median of
``REPS`` repetitions.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from bloomfilter_spark.sketches.bloom import BloomFilter
from bloomfilter_spark.sketches.cms import CountMinSketch
from bloomfilter_spark.sketches.hll import HyperLogLog
from bloomfilter_spark.sketches.kll import KLL

REPS = 3
N_KEYS = 1 << 19
BATCH = 262_144               # spark.sql.execution.arrow.maxRecordsPerBatch


def _median_s(fn, setup=lambda: None) -> float:
    times = []
    for _ in range(REPS):
        arg = setup()
        t0 = time.perf_counter()
        fn(arg)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _batched(update, values):
    for i in range(0, values.size, BATCH):
        update(values[i:i + BATCH])


def kernel_metrics(seed: int, capacity: int, n_keys: int, fpr: float) -> dict[str, float]:
    """Kernel timings for a Bloom sized for ``capacity`` keys at ``fpr`` and
    filled with ``n_keys`` keys."""
    rng = np.random.default_rng([seed, 2])
    u64 = lambda n: rng.integers(0, np.iinfo(np.uint64).max, n,  # noqa: E731
                                 dtype=np.uint64, endpoint=True)
    h, probes, load = u64(N_KEYS), u64(N_KEYS), u64(n_keys)
    lengths = np.exp(rng.normal(np.log(40.0), 0.7, N_KEYS))
    per_key = lambda s: s / N_KEYS * 1e9  # noqa: E731

    out = {}
    new_bloom = lambda: BloomFilter.for_capacity(capacity, fpr)  # noqa: E731
    out["sketches.bloom.update_ns"] = per_key(
        _median_s(lambda bf: _batched(bf.update, h), new_bloom))
    full = new_bloom()
    full.update(load)
    out["sketches.bloom.contains_ns"] = per_key(_median_s(lambda _: full.contains(probes)))
    other = new_bloom()
    other.update(h)
    out["sketches.bloom.merge_ms"] = 1e3 * _median_s(
        lambda bf: bf.merge(other), lambda: BloomFilter.from_bytes(full.to_bytes()))
    blob = full.to_bytes()
    out["sketches.bloom.to_bytes_ms"] = 1e3 * _median_s(lambda _: full.to_bytes())
    out["sketches.bloom.from_bytes_ms"] = 1e3 * _median_s(
        lambda _: BloomFilter.from_bytes(blob))

    out["sketches.hll.update_ns"] = per_key(
        _median_s(lambda sk: _batched(sk.update, h), lambda: HyperLogLog(14)))
    out["sketches.cms.update_ns"] = per_key(
        _median_s(lambda sk: _batched(sk.update, h), CountMinSketch))
    cms = CountMinSketch()
    cms.update(h)
    out["sketches.cms.query_ns"] = per_key(_median_s(lambda _: cms.query(probes)))
    out["sketches.kll.update_ns"] = per_key(
        _median_s(lambda sk: (_batched(sk.update, lengths), sk.quantile(0.5)), KLL))
    return out
