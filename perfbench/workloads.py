"""The benchmark's workloads: seeded inputs, the timed operation, the exact
answers it is checked against, and the traced per-layer decomposition.

Every workload drives only the library's public API. Inputs are generated
in the driver from the seed and materialized as parquet files during set-up;
exact answers are computed from the materialized files, outside the timed
region.
"""

from __future__ import annotations

import glob
import math
import os
import time
from typing import Dict, List, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from t_digest_spark.core import TDigest
from t_digest_spark.functions import cdf_udf, quantiles_udf
from t_digest_spark.operators.aggregation import (tdigest_merge,
                                                  tdigest_partial_build,
                                                  tdigest_quantile_aggregate)
from t_digest_spark.operators.checkpoint import (read_checkpoint,
                                                 resume_aggregate,
                                                 write_checkpoint)
from t_digest_spark.serde import digest_from_cells
from t_digest_spark.sketches.frequency import CountMinSketch
from t_digest_spark.sketches.frequent import FrequentItemsSketch
from t_digest_spark.sketches.kll import KllSketch
from t_digest_spark.sketches.spark import (countmin_aggregate,
                                           frequent_aggregate, kll_aggregate,
                                           theta_aggregate)
from t_digest_spark.sketches.theta import ThetaSketch
from t_digest_spark.sources.synthetic import generate_pdf

from perfbench.sparkstats import plan_metrics, task_count
from perfbench.trace import Tracer

# The quantiles the tests check, held to the tests' bound, and a dense grid
# held to twice that bound; the mean error over the dense grid is steadier
# across seeds than any single quantile's.
QS = (0.001, 0.01, 0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99, 0.999)
QS_DENSE = tuple(sorted(set(QS) | {i / 100 for i in range(1, 100)}))
QCOLS = {f"q{i}": q for i, q in enumerate(QS)}
CDF_X = 1.0
# rank-error bounds the repository's tests use on merged sketches:
# t-digest merge bound (tests/test_spark_aggregation.py) and twice the
# published KLL k=200 bound (tests/test_sketches.py, merge tolerance)
TDIGEST_BOUND = 0.015
KLL_BOUND = 2 * 0.0165


class CheckFailed(Exception):
    """An output of the program disagreed with the exact answer."""


def rank_error(sorted_vals: np.ndarray, est: float, q: float) -> float:
    """Distance from q to the rank interval of ``est`` in the exact data,
    less the 1/n granularity of an n-point group (clipped at 0)."""
    n = sorted_vals.size
    lo = np.searchsorted(sorted_vals, est, side="left") / n
    hi = np.searchsorted(sorted_vals, est, side="right") / n
    return max(lo - q - 1.0 / n, q - hi - 1.0 / n, 0.0)


def _check_ranks(sorted_vals, estimates, qs, bound, what) -> List[float]:
    """The bound plus one point more than the granularity rank_error already
    allows: groups below a digest's capacity merge into 1-2 point clusters."""
    errs = [rank_error(sorted_vals, est, q) for est, q in zip(estimates, qs)]
    for err, q in zip(errs, qs):
        limit = (bound if q in QS else 2 * bound) + 1.0 / sorted_vals.size
        if not err <= limit:
            raise CheckFailed(f"{what}: q={q} rank error {err:.4f} > {limit}")
    return errs


def _per_call_us(fn, items: Sequence, min_calls: int = 200) -> float:
    """Mean wall time of ``fn(item)`` over the items, cycled to min_calls."""
    reps = max(1, math.ceil(min_calls / max(len(items), 1)))
    t0 = time.perf_counter()
    for _ in range(reps):
        for it in items:
            fn(it)
    return (time.perf_counter() - t0) / (reps * len(items)) * 1e6


def _du_mb(path: str) -> float:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "*"))
               if os.path.isfile(p)) / (1 << 20)


class Workload:
    name = ""
    rows = 0     # input rows, known after prepare()
    groups = 0   # groups the operation aggregates into

    def generate(self, path: str, seed: int) -> None:
        """Generate the seeded input and materialize it at ``path``."""
        raise NotImplementedError

    def prepare(self, spark: SparkSession, path: str, seed: int) -> None:
        """Load the input and compute exact answers (not timed)."""
        raise NotImplementedError

    def op(self):
        """One timed operation; returns what ``check`` needs."""
        raise NotImplementedError

    def check(self, result) -> List[float]:
        """Raise CheckFailed on a wrong answer; return the rank error of
        every checked quantile."""
        raise NotImplementedError

    def traced(self, spark: SparkSession, tracer: Tracer, path: str,
               seed: int) -> Dict[str, float]:
        """Run the operation once, layer by layer, inside spans."""
        raise NotImplementedError


def _write_parts(path: str, parts) -> None:
    """One parquet file per part, in part order."""
    os.makedirs(path)
    for i, table in enumerate(parts):
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


# ------------------------------------------------------------ t-digest inputs

class _TDigestWorkload(Workload):
    group_cols: List[str] = []
    parts = 8
    qcols = QCOLS

    def generate(self, path, seed):
        _write_parts(path, (self._part(seed, np.random.default_rng([seed, i]))
                            for i in range(self.parts)))

    def prepare(self, spark, path, seed):
        self.df = spark.read.parquet(path)
        table = pq.read_table(path)
        self.raw = table.column("x").to_numpy()
        self.rows = self.raw.size
        self._prepare_exact(table, seed)

    def op(self):
        out = tdigest_quantile_aggregate(self.df, "x", self.group_cols,
                                         quantiles=self.qcols, cdfs={"cdf": CDF_X})
        self.last_df = out
        return out.collect()

    def _kernels(self, merged_rows, partial_rows) -> Dict[str, float]:
        """Single-threaded driver timings of core and serde on this
        workload's own values, partial digests and merged digests."""
        m: Dict[str, float] = {}
        vals = self.raw[:1_000_000]
        t0 = time.perf_counter()
        TDigest.from_values(vals)
        m["core.build_ns_per_pt"] = (time.perf_counter() - t0) / vals.size * 1e9
        cells = [(r["means"], r["weights"], r["dmin"], r["dmax"]) for r in merged_rows]
        m["serde.from_cells_us"] = _per_call_us(
            lambda c: digest_from_cells(*c, 100.0, "k2"), cells)
        digests = [digest_from_cells(*c, 100.0, "k2") for c in cells]
        m["core.centroids_per_digest"] = float(np.mean([d.means.size for d in digests]))
        m["core.quantile_us"] = _per_call_us(
            lambda d: d.quantile(0.5), digests, min_calls=2000)
        sizes = [len(d.to_bytes()) for d in digests]
        m["serde.bytes_per_digest"] = float(np.mean(sizes))
        m["serde.to_bytes_us"] = _per_call_us(lambda d: d.to_bytes(), digests)
        by_group: Dict[tuple, list] = {}
        for r in partial_rows:
            key = tuple(r[c] for c in self.group_cols)
            by_group.setdefault(key, []).append(
                digest_from_cells(r["means"], r["weights"], r["dmin"], r["dmax"],
                                  100.0, "k2"))
        centroids = sum(d.means.size for ds in by_group.values() for d in ds)
        t0 = time.perf_counter()
        for ds in by_group.values():
            TDigest.merge_all(ds)
        m["core.merge_ns_per_centroid"] = (time.perf_counter() - t0) / max(centroids, 1) * 1e9
        return m

    def traced(self, spark, tracer, path, seed):
        m: Dict[str, float] = {}
        sc = spark.sparkContext
        with tracer.span("job.fused"):
            sc.setJobGroup("fused", "fused operation")
            result = self.op()
        self.check(result)
        with tracer.span("bench.plan_walk"):
            pm = plan_metrics(self.last_df)
            m["spark.tasks"] = task_count(sc, "fused")
        pm.pop("rows_into_groups", None)
        pm.pop("rows_into_map", None)
        m.update(pm)
        sc.setJobGroup("traced", "layer by layer")
        with tracer.span("job.traced") as job:
            with tracer.span("aggregation.partial_build"):
                partials = tdigest_partial_build(self.df, "x", self.group_cols).persist()
                m["aggregation.partial_rows"] = partials.count()
            with tracer.span("bench.inspect_partials"):
                partial_rows = partials.collect()
            with tracer.span("aggregation.merge"):
                merged = tdigest_merge(partials, self.group_cols).persist()
                merged_rows = merged.collect()
            with tracer.span("core.query"):
                self.check(self._answers_from_digests(merged_rows))
        per_group: Dict[tuple, int] = {}
        for r in partial_rows:
            key = tuple(r[c] for c in self.group_cols)
            per_group[key] = per_group.get(key, 0) + 1
        m["aggregation.partials_per_group_max"] = max(per_group.values())
        m["aggregation.partial_mb"] = sum(
            16 * len(r["means"]) for r in partial_rows) / (1 << 20)
        m["aggregation.partial_s"] = tracer.total("aggregation.partial_build")
        m["aggregation.merge_s"] = tracer.total("aggregation.merge")
        m["aggregation.merge_calls"] = len(merged_rows)
        with tracer.span("kernels"):
            m.update(self._kernels(merged_rows, partial_rows))
        self._traced_extra(spark, tracer, path, seed, merged, m)
        merged.unpersist()
        partials.unpersist()
        m["trace.unattributed_s"] = tracer.self_time(job)
        return m

    def _answers_from_digests(self, merged_rows):
        """Rows shaped like the fused result, computed from digest rows."""
        out = []
        for r in merged_rows:
            d = digest_from_cells(r["means"], r["weights"], r["dmin"], r["dmax"],
                                  100.0, "k2")
            row = {c: r[c] for c in self.group_cols}
            row.update(count=d.count, cdf=d.cdf(CDF_X),
                       **{name: d.quantile(q) for name, q in self.qcols.items()})
            out.append(row)
        return out

    def _traced_extra(self, spark, tracer, path, seed, merged, m):
        pass


class GlobalKernel(_TDigestWorkload):
    """One heavy-tailed double column, one group: the per-row kernel and the
    Arrow boundary do the work; group dispatch and the merge stage do little."""
    name = "global_kernel"
    rows_per_part = 500_000
    outlier_share = 1e-4
    qcols = {f"q{i}": q for i, q in enumerate(QS_DENSE)}

    def _part(self, seed, rng):
        x = rng.lognormal(0.0, 1.5, self.rows_per_part)
        hit = rng.random(x.size) < self.outlier_share
        x[hit] = np.where(rng.random(int(hit.sum())) < 0.5, -1e12, 1e12)
        return pa.table({"x": x})

    def _prepare_exact(self, table, seed):
        self.sorted = np.sort(self.raw)
        self.groups = 1

    def check(self, result):
        if len(result) != 1:
            raise CheckFailed(f"expected one row, got {len(result)}")
        row = result[0]
        if row["count"] != self.rows:
            raise CheckFailed(f"count {row['count']} != {self.rows}")
        errs = _check_ranks(self.sorted, [row[c] for c in self.qcols],
                            QS_DENSE, TDIGEST_BOUND, "global")
        exact_cdf = np.searchsorted(self.sorted, CDF_X, side="right") / self.rows
        if abs(row["cdf"] - exact_cdf) > TDIGEST_BOUND:
            raise CheckFailed(f"cdf({CDF_X}) {row['cdf']} vs {exact_cdf}")
        return errs


class GroupedHighCard(_TDigestWorkload):
    """Zipf-skewed string keys: a hot head with many rows per key and a tail
    with fewer rows than one digest holds. Per-group dispatch on both sides
    of the shuffle dominates, the kernel does little.

    Checked against exact order statistics: the hottest keys, where the
    tests' rank-error bound applies, and a seeded sample of tail keys small
    enough to stay (almost) exact. Mid-size groups of a few hundred rows
    hold multi-point clusters whose rank error exceeds that bound by design;
    every group's count is checked."""
    name = "grouped_highcard"
    group_cols = ["key"]
    keys = 300
    zipf = 1.5
    rows_per_part = 62_500
    hot_checked = 16
    tail_checked = 24
    tail_rows = 50
    qcols = {f"q{i}": q for i, q in
             enumerate(sorted(set(QS) | {i / 20 for i in range(1, 20)}))}

    def _key_space(self, seed):
        rng = np.random.default_rng([seed, 1 << 20])
        probs = np.arange(1, self.keys + 1, dtype=np.float64) ** -self.zipf
        probs /= probs.sum()
        names = np.array([f"k{i:05d}" for i in rng.permutation(self.keys)])
        return names, probs, rng.uniform(0.0, 4.0, self.keys)

    def _part(self, seed, rng):
        names, probs, mus = self._key_space(seed)
        k = rng.choice(names.size, self.rows_per_part, p=probs)
        return pa.table({"key": names[k], "x": rng.lognormal(mus[k], 1.0)})

    def _prepare_exact(self, table, seed):
        keys = table.column("key").to_numpy(zero_copy_only=False).astype(str)
        order = np.lexsort((self.raw, keys))
        ks, xs = keys[order], self.raw[order]
        uniq, starts, counts = np.unique(ks, return_index=True, return_counts=True)
        self.counts = dict(zip(uniq, counts))
        self.groups = len(self.counts)
        self.values = {k: xs[s:s + c] for k, s, c in zip(uniq, starts, counts)}
        by_size = sorted(uniq, key=lambda k: -self.counts[k])
        tail = [k for k in by_size if self.counts[k] <= self.tail_rows]
        rng = np.random.default_rng([seed, 2])
        picked = rng.choice(len(tail), min(self.tail_checked, len(tail)), replace=False)
        self.checked = by_size[:self.hot_checked] + [tail[i] for i in picked]

    def check(self, result):
        got = {r["key"]: r for r in result}
        if len(got) != len(self.counts):
            raise CheckFailed(f"{len(got)} groups, expected {len(self.counts)}")
        for k, n in self.counts.items():
            if k not in got or got[k]["count"] != n:
                raise CheckFailed(f"group {k}: count mismatch")
        errs = []
        for k in self.checked:
            vals, row = self.values[k], got[k]
            errs += _check_ranks(vals, [row[c] for c in self.qcols],
                                 self.qcols.values(), TDIGEST_BOUND, f"key {k}")
            exact = np.searchsorted(vals, CDF_X, side="right") / vals.size
            if abs(row["cdf"] - exact) > TDIGEST_BOUND + 2.0 / vals.size:
                raise CheckFailed(f"key {k}: cdf {row['cdf']} vs {exact}")
        return errs

    def _traced_extra(self, spark, tracer, path, seed, merged, m):
        """Same-window reference timing of Spark's percentile_approx, and a
        checkpoint round trip of this workload's digests: write, resume with
        one input file more, read, and query every group."""
        with tracer.span("spark.percentile_approx"):
            (self.df.groupBy("key")
             .agg(F.percentile_approx("x", list(QS)).alias("qs")).collect())
        m["spark.percentile_approx_s"] = tracer.total("spark.percentile_approx")
        extra = os.path.join(path, "part-00000.parquet")
        ck_a, ck_b = path + "_ckpt_a", path + "_ckpt_b"
        with tracer.span("checkpoint"):
            with tracer.span("checkpoint.write"):
                write_checkpoint(merged, ck_a)
            with tracer.span("checkpoint.resume"):
                resume_aggregate(spark.read.parquet(extra), ck_a, "x", ["key"],
                                 out_checkpoint_path=ck_b)
            with tracer.span("checkpoint.read"):
                read_checkpoint(spark, ck_b).write.format("noop").mode("overwrite").save()
            with tracer.span("functions.query"):
                state = read_checkpoint(spark, ck_b)
                rows = state.select(
                    "key", "n_updates",
                    quantiles_udf(QS)("means", "weights", "dmin", "dmax").alias("qs"),
                    cdf_udf(CDF_X)("means", "weights", "dmin", "dmax").alias("cdf"),
                ).collect()
        self._check_resumed(rows, pq.read_table(extra))
        m["checkpoint.write_s"] = tracer.total("checkpoint.write")
        m["checkpoint.resume_s"] = tracer.total("checkpoint.resume")
        m["checkpoint.read_s"] = tracer.total("checkpoint.read")
        m["checkpoint.bytes_written_mb"] = _du_mb(ck_b)
        m["functions.query_s"] = tracer.total("functions.query")
        m["functions.digests_per_s"] = len(rows) / m["functions.query_s"]

    def _check_resumed(self, rows, extra_table):
        """The resumed state counts every row of A and B, and its quantiles
        agree with the exact order statistics of A and B together."""
        ek = extra_table.column("key").to_numpy(zero_copy_only=False).astype(str)
        ex = extra_table.column("x").to_numpy()
        got = {r["key"]: r for r in rows}
        for k, n in self.counts.items():
            if got[k]["n_updates"] != n + int((ek == k).sum()):
                raise CheckFailed(f"resumed {k}: n_updates {got[k]['n_updates']}")
        for k in self.checked:
            vals = np.sort(np.concatenate([self.values[k], ex[ek == k]]))
            _check_ranks(vals, got[k]["qs"], QS, TDIGEST_BOUND, f"resumed {k}")


# ------------------------------------------------------------- sketch family

class SketchFamily(Workload):
    """The source-code table grouped by lang (6 groups): KLL over
    length(content); count-min and Misra-Gries over repo; theta over path.
    Low cardinality, so the sketch kernels and their row-wise merges work."""
    name = "sketch_family"
    source_rows = 60_000
    parts = 8
    SKETCHES = ("kll", "countmin", "theta", "frequent")

    def generate(self, path, seed):
        # The generator behind source_code_table, called on a seeded id
        # range: source_code_table itself always numbers rows from 0.
        base = (seed % (1 << 20)) << 32
        ids = np.arange(base, base + self.source_rows, dtype=np.int64)
        _write_parts(path, (pa.Table.from_pandas(generate_pdf(chunk),
                                                 preserve_index=False)
                            for chunk in np.array_split(ids, self.parts)))

    def prepare(self, spark, path, seed):
        self.df = spark.read.parquet(path).select(
            "lang", "repo", "path", F.length("content").alias("len"))
        t = pq.read_table(path, columns=["lang", "repo", "path", "content"])
        pdf = pd.DataFrame({
            "lang": t.column("lang").to_numpy(zero_copy_only=False),
            "repo": t.column("repo").to_numpy(zero_copy_only=False),
            "path": t.column("path").to_numpy(zero_copy_only=False),
            "len": pc.utf8_length(t.column("content")).to_numpy().astype(np.float64)})
        self.rows = len(pdf)
        self.n = pdf.groupby("lang").size().to_dict()
        self.groups = len(self.n)
        self.lens = {g: np.sort(s.to_numpy()) for g, s in pdf.groupby("lang")["len"]}
        self.repo_counts = {g: s.value_counts() for g, s in pdf.groupby("lang")["repo"]}
        self.distinct_paths = pdf.groupby("lang")["path"].nunique().to_dict()
        hashes = (self.df.select("repo").distinct()
                  .select("repo", F.xxhash64("repo").alias("h")).collect())
        self.repo_hash = {r["repo"]: r["h"] for r in hashes}

    def _jobs(self):
        x = self.df
        return {"kll": lambda: kll_aggregate(x, "len", ["lang"]),
                "countmin": lambda: countmin_aggregate(x, "repo", ["lang"]),
                "theta": lambda: theta_aggregate(x, "path", ["lang"]),
                "frequent": lambda: frequent_aggregate(x, "repo", ["lang"])}

    def op(self):
        return {name: job().collect() for name, job in self._jobs().items()}

    def check(self, result):
        for name in self.SKETCHES:
            if {r["lang"] for r in result[name]} != set(self.n):
                raise CheckFailed(f"{name}: wrong set of groups")
        errs = []
        for r in result["kll"]:
            g = r["lang"]
            s = KllSketch.from_row(r["items"], r["offsets"], r["kmin"], r["kmax"], r["count"])
            if s.n != self.n[g]:
                raise CheckFailed(f"kll {g}: n {s.n} != {self.n[g]}")
            errs += _check_ranks(self.lens[g], s.quantiles(QS_DENSE), QS_DENSE,
                                 KLL_BOUND, f"kll {g}")
        for r in result["countmin"]:
            g, true = r["lang"], self.repo_counts[r["lang"]]
            s = CountMinSketch.from_row(r["counts"], r["d"], r["w"], r["n"])
            est = s.estimate_hashes([self.repo_hash[k] for k in true.index])
            if s.n != self.n[g] or (est < true.to_numpy()).any():
                raise CheckFailed(f"count-min {g}: undercount or wrong n")
            # eps*N holds per key with probability 1 - e^-d
            over = np.mean(est - true.to_numpy() > math.e / s.w * s.n)
            if over > math.exp(-s.d):
                raise CheckFailed(f"count-min {g}: {over:.4f} of keys beyond eps*N")
        for r in result["theta"]:
            g = r["lang"]
            s = ThetaSketch.from_row(r["retained"], r["theta"], r["k"])
            if not s.lower_bound(3.0) <= self.distinct_paths[g] <= s.upper_bound(3.0):
                raise CheckFailed(f"theta {g}: {s.estimate()} vs {self.distinct_paths[g]}")
        for r in result["frequent"]:
            g, true = r["lang"], self.repo_counts[r["lang"]]
            s = FrequentItemsSketch.from_row(r["keys"], r["counts"], r["max_error"],
                                             r["n"], r["k"])
            for key in set(true.index) | set(s.counters):
                est, n = s.estimate(key), int(true.get(key, 0))
                if not est <= n <= est + s.max_error:
                    raise CheckFailed(f"misra-gries {g}/{key}: {est} vs {n}")
        return errs

    def traced(self, spark, tracer, path, seed):
        m: Dict[str, float] = {"sketches.partial_rows": 0.0}
        sc = spark.sparkContext
        result = {}
        with tracer.span("job.traced") as job:
            for name, job_df in self._jobs().items():
                group = f"sketch-{name}"
                sc.setJobGroup(group, name)
                with tracer.span(f"sketches.{name}"):
                    df = job_df()
                    result[name] = df.collect()
                with tracer.span("bench.plan_walk"):
                    pm = plan_metrics(df)
                    m["spark.tasks"] = m.get("spark.tasks", 0) + task_count(sc, group)
                m["sketches.partial_rows"] += pm.pop("rows_into_map", 0.0)
                pm.pop("rows_into_groups", None)
                for k, v in pm.items():
                    m[k] = m.get(k, 0.0) + v
                m[f"sketches.{name}_s"] = tracer.total(f"sketches.{name}")
        self.check(result)
        m["trace.unattributed_s"] = tracer.self_time(job)
        return m


WORKLOADS = {w.name: w for w in (GlobalKernel, GroupedHighCard, SketchFamily)}
