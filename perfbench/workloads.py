"""The benchmark's workloads, driven through the library's public API.

One client thread issues each call and waits for its answer (a closed
loop with one client). Every answer is checked against ground truth from
the generator; a wrong answer or an exception counts as a failed
operation. ``Bench.call`` times one call, releases whatever it left
cached (outside the timed region, as a caller would) and records the
check.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from bloomfilter_spark import agg, jvm_build
from bloomfilter_spark.config import DEFAULT_SEED
from bloomfilter_spark.operators import sharded
from bloomfilter_spark.sizing import analytic_fpr, suggest_sizing
from bloomfilter_spark.sketches.bloom import BloomFilter
from bloomfilter_spark.sketches.cms import CountMinSketch
from bloomfilter_spark.sketches.hll import HyperLogLog
from bloomfilter_spark.sketches.kll import KLL
from bloomfilter_spark.sql import register_sketch_sql
from bloomfilter_spark.streaming.dedup_stream import BloomDedupStream
from bloomfilter_spark.util import to_u64

import corpus as gen
from tracing import persistent_rdds, release_cached

# The corpus-wide Blooms must exceed agg.sketch_df's 4 MiB state threshold
# so that the chunked-OR merge runs, as it does at scale. They are sized for
# 4M keys at fpr 0.01 (an 8 MiB state; 2M and 3M keys give exactly 4 MiB),
# the capacity a filter provisioned ahead of its stream has; the corpus
# fills an eighth of it. The merge cost follows the state size, not the
# fill, so the chunked OR does its full work on the smaller corpus.
N_TURNS = 500_000
BLOOM_CAPACITY = 4_000_000
CORPUS_FPR = 0.01
N_CONVS = 2_000
KEY = ["conv_id", "text"]
FPR = 0.01                    # per-tool tables and the dedup stream
N_SHARDS = 64
HLL_P = 14
GROUPED_HLL_P = 10
TOOL_EPS, TOOL_DELTA = 0.01, 0.01
N_PROBES = 40_000
N_SQL_PROBES = 8_000          # each row carries two blobs through Arrow
BATCH_ROWS = 50_000
STREAM_BATCHES = 10
STREAM_ROWS = STREAM_BATCHES * BATCH_ROWS
SIZE_AFTER_BATCHES = 5        # dedup sketch_bytes: state after this batch
Z = 4.0                       # slack of the statistical checks, in sigmas


# ---------------------------------------------------------------- checks

def binomial_ok(observed: float, p: float, n: int) -> bool:
    return observed <= p + Z * math.sqrt(max(p * (1 - p), 1e-12) / n) + 1.0 / n


def fpr_check(hits: np.ndarray, expected: np.ndarray | float) -> tuple[bool, float, float]:
    """Observed false-positive rate against the analytic one plus slack."""
    p = float(np.mean(expected))
    obs = float(hits.mean())
    return binomial_ok(obs, p, hits.size), obs, p


def cms_check(est: np.ndarray, exact: np.ndarray, sk: CountMinSketch, n: int) -> bool:
    """Never below the exact count; over by more than eps*N at most for a
    delta share of the keys (plus slack)."""
    if (est < exact).any():
        return False
    eps, delta = math.e / sk.width, math.exp(-sk.depth)
    over = (est - exact) > eps * n
    return binomial_ok(float(over.mean()), delta, over.size)


def hll_group_check(est: np.ndarray, exact: np.ndarray, p: int) -> bool:
    """Per-key estimates: the share outside 3 sigma stays binomial. Sigma
    is floored at one item: a small set is estimated by linear counting,
    whose error is a whole number of register collisions."""
    sigma = 1.04 / math.sqrt(1 << p)
    out = np.abs(est - exact) > 3 * np.maximum(sigma * exact, 1.0)
    return binomial_ok(float(out.mean()), 0.0027, out.size)


@dataclass
class Truth:
    """Exact answers from the generator, plus the engine's hashes of the
    probe keys (computed once in set-up with ``agg.hash_col``)."""
    c: gen.Corpus
    p: gen.Probes
    probe_key_h: np.ndarray = None     # uint64 hash of (conv_id, text)
    probe_conv_h: np.ndarray = None    # uint64 hash of conv_id
    conv_h: np.ndarray = None          # uint64 hash of every conv name

    def __post_init__(self):
        c = self.c
        kid_u, first = np.unique(c.kid, return_index=True)
        self.n_keys = kid_u.size
        self.conv_counts = np.bincount(c.conv, minlength=c.n_convs)
        self.conv_keys = np.bincount(c.conv[first], minlength=c.n_convs)
        t = c.tool >= 0
        self.tool_conv = np.bincount(
            c.tool[t].astype(np.int64) * c.n_convs + c.conv[t],
            minlength=gen.N_TOOLS * c.n_convs).reshape(gen.N_TOOLS, c.n_convs)
        self.sorted_len = np.sort(c.length)

    def hash_with(self, spark):
        """Hash every conv name and probe key as the sketch builds do, in one
        job (the conv names ride as rows with a NULL text); returns the
        probe DataFrame."""
        table = gen.probe_table(self.p).to_pandas()
        names = pd.DataFrame({"conv_id": gen.conv_names(self.c.n_convs), "text": None})
        both = spark.createDataFrame(pd.concat([table[KEY], names], ignore_index=True),
                                     schema="conv_id string, text string")
        pdf = both.select(agg.hash_col(KEY).alias("k"),
                          agg.hash_col("conv_id").alias("c")).toPandas()
        n = len(table)
        self.probe_key_h = to_u64(pdf["k"].to_numpy()[:n])
        self.probe_conv_h = to_u64(pdf["c"].to_numpy()[:n])
        self.conv_h = to_u64(pdf["c"].to_numpy()[n:])
        return spark.createDataFrame(table)

    # -- per-sketch checks; some also return their error-bound utilisation
    def bloom(self, bf: BloomFilter) -> tuple[bool, float]:
        m = self.p.is_member
        if not bf.contains(self.probe_key_h[m]).all():
            return False, 1.0
        ok, obs, p = fpr_check(bf.contains(self.probe_key_h[~m]),
                               analytic_fpr(bf.num_bits, bf.num_hashes, self.n_keys))
        return ok, obs / p

    def shards(self, rows) -> tuple[bool, float]:
        if not rows:
            return False, 1.0
        n_shards = int(rows[0]["n_shards"])
        blooms = {int(r["shard"]): BloomFilter.from_bytes(bytes(r["sketch"])) for r in rows}
        proto = next(iter(blooms.values()))

        def contains(h):
            sh = sharded.shard_of(h, n_shards)
            hit = np.zeros(h.size, bool)
            for s, bf in blooms.items():
                sel = sh == s
                hit[sel] = bf.contains(h[sel])
            return hit

        m = self.p.is_member
        if not contains(self.probe_key_h[m]).all():
            return False, 1.0
        load = self.n_keys / n_shards
        ok, obs, p = fpr_check(contains(self.probe_key_h[~m]),
                               analytic_fpr(proto.num_bits, proto.num_hashes, load))
        return ok, obs / p

    def hll(self, sk: HyperLogLog) -> tuple[bool, float]:
        rel = abs(sk.estimate() - self.n_keys) / self.n_keys
        # one estimate per call: 4 sigma keeps a correct sketch from
        # failing one run in ~370 by chance
        return rel <= 4 * sk.rse(), rel / sk.rse()

    def cms(self, sk: CountMinSketch) -> bool:
        m = self.p.is_member
        est = np.concatenate((sk.query(self.conv_h), sk.query(self.probe_conv_h[~m])))
        exact = np.concatenate((self.conv_counts, np.zeros((~m).sum(), np.int64)))
        return cms_check(est, exact, sk, self.c.n)

    def kll(self, sk: KLL) -> bool:
        qs = np.linspace(0.01, 0.99, 99)
        xs = sk.quantile(qs)
        n = self.sorted_len.size
        lo = np.searchsorted(self.sorted_len, xs, "left") / n
        hi = np.searchsorted(self.sorted_len, xs, "right") / n
        eps = sk.rank_error_bound()
        return bool(((qs >= lo - eps) & (qs <= hi + eps)).all())

    def conv_hll(self, rows) -> bool:
        est = np.zeros(self.c.n_convs)
        for r in rows:
            est[int(r["conv_id"][4:])] = HyperLogLog.from_bytes(bytes(r["sketch"])).estimate()
        seen = self.conv_keys > 0
        return len(rows) == seen.sum() and hll_group_check(
            est[seen], self.conv_keys[seen], GROUPED_HLL_P)

    def _tool_rows(self, rows, cls) -> dict:
        return {gen.TOOL_NAMES.index(r["tool"]): cls.from_bytes(bytes(r["sketch"]))
                for r in rows}

    def tool_bloom(self, rows) -> tuple[bool, float]:
        blooms = self._tool_rows(rows, BloomFilter)
        present = self.tool_conv > 0
        if set(blooms) != set(np.flatnonzero(present.any(axis=1))):
            return False, 1.0
        nonmember = self.probe_conv_h[~self.p.is_member]
        hits, expected = [], []
        for t, bf in blooms.items():
            if not bf.contains(self.conv_h[present[t]]).all():
                return False, 1.0
            hits.append(bf.contains(nonmember))
            expected.append(analytic_fpr(bf.num_bits, bf.num_hashes, int(present[t].sum())))
        ok, obs, p = fpr_check(np.concatenate(hits), np.repeat(expected, nonmember.size))
        return ok, obs / p

    def tool_cms(self, rows) -> bool:
        sks = self._tool_rows(rows, CountMinSketch)
        nonmember = self.probe_conv_h[~self.p.is_member]
        for t, sk in sks.items():
            est = np.concatenate((sk.query(self.conv_h), sk.query(nonmember)))
            exact = np.concatenate((self.tool_conv[t], np.zeros(nonmember.size, np.int64)))
            if not cms_check(est, exact, sk, int(self.tool_conv[t].sum())):
                return False
        return len(sks) == int((self.tool_conv.sum(axis=1) > 0).sum())


# ---------------------------------------------------------------- harness

@dataclass
class Checks:
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    fpr_util: list = field(default_factory=list)
    hll_util: list = field(default_factory=list)

    def op(self, ok: bool, name: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(name)


class Bench:
    def __init__(self, spark, tracer, truth: Truth, df, probes, work: str):
        self.spark = spark
        self.tracer = tracer
        self.t = truth
        self.df = df
        self.probe_df = probes
        self.n = truth.c.n
        self.work = work
        self.checks = Checks()
        self.times: dict[str, list[float]] = defaultdict(list)
        self.rows: dict[str, int] = {}
        self.keep: set[int] = persistent_rdds(spark)
        self.sizes: dict[str, int] = {}

    def pin(self) -> None:
        """What is cached now belongs to set-up and stays cached."""
        self.keep = persistent_rdds(self.spark)

    def call(self, name: str, fn, check=None, rows: int = 0, record: bool = True):
        """Run ``fn`` (returns ``(value, dataframe_or_None)``) as one timed
        operation over ``rows`` input rows and check its value; returns the
        value, or None if the call raised or the answer was wrong."""
        rows = rows or self.n
        with self.tracer.span(name, rows) as rec:
            try:
                value, handle = fn()
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, the run goes on
                rec["error"] = repr(exc)
                value = handle = None
        left = release_cached(self.spark, self.keep, handle)
        if self.tracer.enabled:
            rec["cached_rdds_left"] = left
        if not record:
            return value
        try:
            ok = "error" not in rec and (check is None or check(value))
        except Exception as exc:  # noqa: BLE001 - a malformed answer is a wrong one
            rec["error"] = repr(exc)
            ok = False
        self.checks.op(bool(ok), name)
        self.times[name].append(rec["wall_s"])
        self.rows[name] = rows
        return value if ok else None

    def op_ms_p50(self) -> float:
        """Median over the call types of each type's median latency, so a
        workload that mixes fast and slow calls does not report whichever
        sample falls in the gap between them."""
        return 1e3 * statistics.median(statistics.median(v) for v in self.times.values())


def collected(df):
    return df.collect(), df


# ---------------------------------------------------------------- build

def bloom_factory():
    return lambda: BloomFilter.for_capacity(BLOOM_CAPACITY, CORPUS_FPR)


def global_calls(b: Bench, src, record: bool = True) -> list:
    """The global sketch family over ``src``, sized for the full corpus: one
    ``(key, name, call)`` per sketch; each call runs, checks and returns it."""
    t = b.t

    def hll_ok(sk):
        ok, util = t.hll(sk)
        b.checks.hll_util.append(util)
        return ok

    def op(key, name, fn, check):
        return key, name, lambda: b.call(name, fn, check, record=record)

    return [
        op("bloom", "agg.build_sketch.bloom",
           lambda: (agg.build_sketch(src, KEY, bloom_factory()), None),
           lambda bf: t.bloom(bf)[0]),
        op("shards", "operators.sharded.build_sharded_bloom",
           lambda: collected(sharded.build_sharded_bloom(
               src, KEY, capacity=BLOOM_CAPACITY, fpr=CORPUS_FPR, n_shards=N_SHARDS)),
           lambda rows: t.shards(rows)[0]),
        op("hll", "jvm_build.hll_build_jvm",
           lambda: (jvm_build.hll_build_jvm(src, KEY, p=HLL_P), None), hll_ok),
        op("cms", "jvm_build.cms_build_jvm",
           lambda: (jvm_build.cms_build_jvm(src, "conv_id"), None), t.cms),
        op("kll", "agg.build_sketch.kll",
           lambda: (agg.build_sketch(src, F.length("text"), KLL), None), t.kll),
    ]


def grouped_calls(b: Bench, src, record: bool = True) -> list:
    """The grouped family: per-conversation HLL, per-tool CMS and Bloom."""
    t = b.t
    tools = src.where(F.col("tool").isNotNull())

    def tool_bloom_ok(rows):
        # the per-tool filters' ~1M non-member probes measure the
        # false-positive rate precisely; the corpus Bloom's is ~1e-9
        ok, util = t.tool_bloom(rows)
        b.checks.fpr_util.append(util)
        return ok

    def op(key, name, fn, check):
        return key, name, lambda: b.call(name, lambda: collected(fn()), check, record=record)

    return [
        op("conv_hll", "jvm_build.hll_grouped_build_jvm",
           lambda: jvm_build.hll_grouped_build_jvm(src, "conv_id", "text", p=GROUPED_HLL_P),
           t.conv_hll),
        op("tool_cms", "jvm_build.cms_grouped_build_jvm",
           lambda: jvm_build.cms_grouped_build_jvm(
               tools, "tool", "conv_id", eps=TOOL_EPS, delta=TOOL_DELTA),
           t.tool_cms),
        op("tool_bloom", "jvm_build.bloom_grouped_build_jvm",
           lambda: jvm_build.bloom_grouped_build_jvm(
               tools, "tool", "conv_id", capacity=N_CONVS, fpr=FPR),
           tool_bloom_ok),
    ]


def run_all(calls: list) -> dict:
    return {key: fn() for key, _, fn in calls}


def run_rounds(calls: list, seconds: float) -> tuple[list, int]:
    """Run whole rounds of ``calls`` (thunks) until ``seconds`` pass, at
    least one, so that every call type has as many samples; returns the
    first round's values and the round count."""
    t0 = time.perf_counter()
    first = [fn() for fn in calls]
    rounds = 1
    while time.perf_counter() - t0 < seconds:
        for fn in calls:
            fn()
        rounds += 1
    return first, rounds


def scan_hash(b: Bench, src, record: bool = True) -> None:
    """The scan + codegen hashing layer alone: ``agg.prepare_input``'s
    projection, reduced JVM-side so nothing crosses into Python."""
    proto = bloom_factory()()
    b.call("agg.prepare_input",
           lambda: (agg.prepare_input(src, KEY, proto).agg(F.max("__v")).collect(), None),
           record=record)


def family_bytes(out: dict) -> int:
    rows = lambda key: sum(len(r["sketch"]) for r in out[key] or [])  # noqa: E731
    objs = sum(len(out[k].to_bytes()) for k in ("bloom", "hll", "cms", "kll") if out.get(k))
    return objs + sum(rows(k) for k in ("shards", "conv_hll", "tool_cms", "tool_bloom")
                      if k in out)


def build_setup(b: Bench) -> None:
    """Warm every call with one untimed pass over the whole corpus: a small
    sample costs as much (the fixed per-call costs dominate it) and leaves
    the next pass ~40% slow, because the JIT has not yet seen the volume."""
    if bloom_factory()().state_nbytes <= 4 << 20:
        raise RuntimeError("the corpus Bloom no longer exceeds agg.sketch_df's "
                           "4 MiB threshold; resize BLOOM_CAPACITY or CORPUS_FPR")
    run_all(global_calls(b, b.df, record=False) + grouped_calls(b, b.df, record=False))


def build_run(b: Bench, seconds: float) -> dict:
    """Whole passes over the family's calls for ``seconds``. Throughputs use
    each call's median time: one pass of the family at median call times
    reads the corpus once per call."""
    glob, grouped = global_calls(b, b.df), grouped_calls(b, b.df)
    calls = glob + grouped
    first, passes = run_rounds([fn for _, _, fn in calls], seconds)
    out = {key: value for (key, _, _), value in zip(calls, first)}
    glob_s, grouped_s = (sum(statistics.median(b.times[name]) for _, name, _ in family)
                         for family in (glob, grouped))
    return {
        "rows_per_s": b.n * len(calls) / (glob_s + grouped_s),
        "op_ms_p50": b.op_ms_p50(),
        "sketch_bytes": family_bytes(out),
        "detail": {"build_turns_per_s": b.n / glob_s, "grouped_turns_per_s": b.n / grouped_s,
                   "passes": passes},
    }


# ---------------------------------------------------------------- probe

def probe_setup(b: Bench) -> None:
    """Build the sketches the queries read, register the per-tool sketch
    tables for SQL, and warm every query once."""
    spark, t = b.spark, b.t
    b.probe_df = b.probe_df.persist()
    b.probe_df.count()
    b.bloom = agg.build_sketch(b.df, KEY, bloom_factory())
    b.cms = jvm_build.cms_build_jvm(b.df, "conv_id")
    b.shard_table = sharded.build_sharded_bloom(
        b.df, KEY, capacity=BLOOM_CAPACITY, fpr=CORPUS_FPR, n_shards=N_SHARDS).persist()
    shard_rows = b.shard_table.collect()
    tools = b.df.where(F.col("tool").isNotNull())
    bloom_by_tool = jvm_build.bloom_grouped_build_jvm(
        tools, "tool", "conv_id", capacity=N_CONVS, fpr=FPR)
    cms_by_tool = jvm_build.cms_grouped_build_jvm(
        tools, "tool", "conv_id", eps=TOOL_EPS, delta=TOOL_DELTA)
    bloom_by_tool.createOrReplaceTempView("bloom_by_tool")
    cms_by_tool.createOrReplaceTempView("cms_by_tool")
    register_sketch_sql(spark)
    # the SQL probe set: the first members and non-members that have a tool
    p = t.p
    has_tool = np.flatnonzero(p.tool >= 0)
    half = N_SQL_PROBES // 2
    sql_pids = np.concatenate((has_tool[p.is_member[has_tool]][:half],
                               has_tool[~p.is_member[has_tool]][:half]))
    b.sql_pids = sql_pids
    rows = gen.probe_table(p).take(sql_pids).to_pandas()
    b.sql_df = spark.createDataFrame(rows).persist()
    b.sql_df.count()
    b.sql_df.createOrReplaceTempView("probes")
    tool_blooms, tool_cms = bloom_by_tool.collect(), cms_by_tool.collect()
    ok = (t.bloom(b.bloom)[0] and t.cms(b.cms) and t.shards(shard_rows)[0]
          and t.tool_bloom(tool_blooms)[0] and t.tool_cms(tool_cms))
    b.checks.op(ok, "probe.setup_sketches")
    b.sizes["probe"] = (len(b.bloom.to_bytes()) + len(b.cms.to_bytes())
                        + sum(len(r["sketch"]) for r in shard_rows + tool_blooms + tool_cms))
    b.pin()
    for q in probe_queries(b):
        q(record=False)


SQL_PROBE = f"""
SELECT p.pid,
       bloom_contains(b.sketch, xxhash64(CAST({DEFAULT_SEED} AS BIGINT), p.conv_id)) AS used,
       cms_count(c.sketch, xxhash64(CAST({DEFAULT_SEED} AS BIGINT), p.conv_id)) AS calls
FROM probes p
JOIN bloom_by_tool b ON p.tool = b.tool
JOIN cms_by_tool c ON p.tool = c.tool
"""


def probe_queries(b: Bench) -> list:
    t, p = b.t, b.t.p
    n_probes = len(p.conv_id)
    member = p.is_member

    def by_pid(pdf, col):
        out = np.zeros(n_probes, pdf[col].dtype)
        out[pdf["pid"].to_numpy()] = pdf[col].to_numpy()
        return out

    def membership_ok(pdf):
        hit = by_pid(pdf, "is_member")
        ok = len(pdf) == n_probes and hit[member].all()
        expected = analytic_fpr(b.bloom.num_bits, b.bloom.num_hashes, t.n_keys)
        return ok and fpr_check(hit[~member], expected)[0]

    def shard_ok(pdf):
        hit = by_pid(pdf, "is_member")
        if len(pdf) != n_probes or not hit[member].all():
            return False
        m, k = sharded.shard_geometry(BLOOM_CAPACITY, CORPUS_FPR, N_SHARDS)
        return fpr_check(hit[~member], analytic_fpr(m, k, t.n_keys / N_SHARDS))[0]

    def cms_ok(pdf):
        est = by_pid(pdf, "est_count")
        exact = np.where(member, t.conv_counts[np.maximum(p.conv, 0)], 0)
        return len(pdf) == n_probes and cms_check(est, exact, b.cms, b.n)

    def sql_ok(pdf):
        pid = pdf["pid"].to_numpy()
        if len(pdf) != len(b.sql_pids) or set(pid) != set(b.sql_pids):
            return False
        used, calls = pdf["used"].to_numpy(bool), pdf["calls"].to_numpy()
        mem = member[pid]
        exact = np.where(mem, t.tool_conv[p.tool[pid], np.maximum(p.conv[pid], 0)], 0)
        if not used[mem].all() or (calls < exact).any():
            return False
        m, k = suggest_sizing(N_CONVS, FPR)
        m = BloomFilter(m, k).num_bits
        loads = (t.tool_conv > 0).sum(axis=1)[p.tool[pid][~mem]]
        expected = [analytic_fpr(m, k, int(x)) for x in loads]
        return fpr_check(used[~mem], np.asarray(expected))[0]

    def query(name, fn, check, rows):
        return lambda record=True: b.call(name, lambda: (fn().toPandas(), None),
                                          check, rows=rows, record=record)

    return [
        query("agg.with_membership",
              lambda: agg.with_membership(b.probe_df, b.bloom, KEY).select("pid", "is_member"),
              membership_ok, n_probes),
        query("agg.with_cms_count",
              lambda: agg.with_cms_count(b.probe_df, b.cms, "conv_id").select("pid", "est_count"),
              cms_ok, n_probes),
        query("operators.sharded.sharded_membership",
              lambda: sharded.sharded_membership(b.probe_df, b.shard_table, KEY)
              .select("pid", "is_member"),
              shard_ok, n_probes),
        query("sql.probe_query", lambda: b.spark.sql(SQL_PROBE), sql_ok, len(b.sql_pids)),
    ]


def probe_run(b: Bench, seconds: float) -> dict:
    """Whole rounds of the queries for ``seconds``. Throughput: the probe
    keys of one round of every query over that round's time at median query
    latencies."""
    _, rounds = run_rounds(probe_queries(b), seconds)
    med = {k: statistics.median(v) for k, v in b.times.items()}
    keys_per_s = sum(b.rows[k] for k in med) / sum(med.values())
    return {
        "rows_per_s": keys_per_s,
        "op_ms_p50": b.op_ms_p50(),
        "sketch_bytes": b.sizes["probe"],
        "detail": {"probe_keys_per_s": keys_per_s,
                   "membership_ms_p50": 1e3 * med["agg.with_membership"],
                   "cms_count_ms_p50": 1e3 * med["agg.with_cms_count"],
                   "sharded_probe_ms_p50": 1e3 * med["operators.sharded.sharded_membership"],
                   "sql_probe_ms_p50": 1e3 * med["sql.probe_query"],
                   "rounds": rounds},
    }


# ---------------------------------------------------------------- dedup_stream

def dedup_setup(b: Bench) -> None:
    b.stream_df = b.df.where(F.col("rid") < STREAM_ROWS).persist()
    b.stream_df.count()
    b.pin()
    stream_kid = b.t.c.kid[:STREAM_ROWS]
    _, first = np.unique(stream_kid, return_index=True)
    b.new_per_batch = [stream_kid[first[(first >= i * BATCH_ROWS) & (first < (i + 1) * BATCH_ROWS)]]
                       for i in range(STREAM_BATCHES)]
    # warm-up on a throw-away stream over the last batches
    dedup_pass(b, 2, first_batch=STREAM_BATCHES - 2, record=False)


def batch_df(b: Bench, i: int):
    lo = i * BATCH_ROWS
    return b.stream_df.where((F.col("rid") >= lo) & (F.col("rid") < lo + BATCH_ROWS))


def dedup_pass(b: Bench, max_batches: int, seconds: float = 0.0, first_batch: int = 0,
               record: bool = True) -> dict:
    """Feed batches to one fresh BloomDedupStream until ``seconds`` pass
    (and at least SIZE_AFTER_BATCHES ran) or ``max_batches`` ran; a warm-up
    (``record=False``) runs all ``max_batches``."""
    state = os.path.join(b.work, f"dedup-state-{time.monotonic_ns()}")
    emitted: list[np.ndarray] = []

    def sink(df, epoch):
        emitted.append(df.select("kid").toPandas()["kid"].to_numpy())

    stream = BloomDedupStream(KEY, capacity=STREAM_ROWS, fpr=FPR,
                              sink=sink, state_dir=state)
    m, k = stream.filter.num_bits, stream.filter.num_hashes
    inserted, expected_drops, drops = 0, 0.0, 0
    state_bytes = None
    t0 = time.perf_counter()
    done = 0
    for i in range(first_batch, first_batch + max_batches):
        emitted.clear()
        expect = b.new_per_batch[i]
        fpr_now = analytic_fpr(m, k, inserted)

        def check(_):
            nonlocal drops, expected_drops
            got = np.concatenate(emitted) if emitted else np.zeros(0, np.int64)
            uniq = np.unique(got)
            if uniq.size != got.size or not np.isin(uniq, expect).all():
                return False       # duplicate emitted, or a key seen before
            drops += expect.size - uniq.size
            expected_drops += expect.size * fpr_now
            return drops <= expected_drops + Z * math.sqrt(expected_drops) + 1

        b.call("streaming.dedup_stream.BloomDedupStream",
               lambda: (stream(batch_df(b, i), i), None), check, rows=BATCH_ROWS,
               record=record)
        inserted += sum(e.size for e in emitted)
        done += 1
        if done == SIZE_AFTER_BATCHES:
            state_bytes = os.path.getsize(os.path.join(state, "dedup_state.bin"))
        if record and done >= SIZE_AFTER_BATCHES and time.perf_counter() - t0 >= seconds:
            break
    shutil.rmtree(state, ignore_errors=True)
    return {"batches": done, "state_bytes": state_bytes}


def dedup_run(b: Bench, seconds: float) -> dict:
    info = dedup_pass(b, STREAM_BATCHES, seconds)
    ms = sorted(1e3 * w for w in b.times["streaming.dedup_stream.BloomDedupStream"])
    tail_q, tail = tail_percentile(ms)
    rows_per_s = BATCH_ROWS / (statistics.median(ms) / 1e3)
    return {
        "rows_per_s": rows_per_s,
        "op_ms_p50": b.op_ms_p50(),
        "sketch_bytes": info["state_bytes"],
        "detail": {"dedup_rows_per_s": rows_per_s,
                   "dedup_batch_ms_p50": statistics.median(ms),
                   "dedup_batch_ms_tail": tail, "tail_percentile": tail_q,
                   "batches": len(ms)},
    }


def tail_percentile(sorted_ms: list[float]) -> tuple[float | None, float | None]:
    """Highest percentile with at least ten samples beyond it."""
    n = len(sorted_ms)
    if n < 11:
        return None, None
    q = math.floor(100 * (n - 10) / n)
    return q, sorted_ms[min(n - 1, math.ceil(q / 100 * n) - 1)]


#: workload -> (set-up, timed run)
WORKLOADS = {"build": (build_setup, build_run), "probe": (probe_setup, probe_run),
             "dedup_stream": (dedup_setup, dedup_run)}
