"""Native NOISeq differential expression (reference: differential.py:526-740).

Implements the NOISeq-sim ("no replicates") method of Tarazona et al.
2011 natively: per-gene signal statistics M = log2 ratio and D =
absolute difference of TMM-normalized expression between the first
sample of each condition, ranking = sign(M)·√(M²+D²), and an empirical
probability from a simulated technical-replicate noise cloud.

Reverse-engineered parity (verified against the reference's R-derived
goldens, tests/test_differential.py:301-309): with replicates="no" the
observed signal uses ONLY the first column of each condition,
normalized by the two-sample TMM factors scaled to the mean of the two
library sizes. Our M/D/ranking match the golden at all published
decimals (1e-7). The probability column depends on R's multinomial RNG
stream and cannot be bit-reproduced; our simulation follows the
published scheme (nss replicates of size pnr·total with uniform
variability v, M-D noise from within-condition replicate pairs) with a
seeded numpy generator — prob is asserted within sampling tolerance.

Execution shape: M/D/rank are pure column expressions (two scan
columns + two scalar factors). Prob needs the whole count vector (the
multinomial couples all genes of a sample): the two count columns are
collected, the noise cloud is simulated on the driver, each gene's
(|M|, |D|) is counted against the whole cloud exactly, and the
per-gene probs are broadcast-joined back.
"""

from __future__ import annotations

from typing import Collection, Dict, Optional

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import persist_tracked
from ..transformer import Transformer
from .norm import tmm_norm_factors


def _dominance_counts(nm_sorted, nd_by_m, am, ad, chunk: int = 8192):
    """For each query g: ``|{j : nm_sorted[j] <= am[g] and
    nd_by_m[j] <= ad[g]}|`` — the 2-D dominance count of the noise
    cloud at the gene's (|M|, |D|), with the noise pre-sorted by |M|.

    Exact offline sweep instead of the naive per-gene slice-and-count
    (O(G·N) — 8×10⁹ element ops at 20k genes × 400k noise points):
    process genes in increasing |M| order, maintaining the noise |D|
    values with Mn <= |M| as a sorted prefix extended in chunks; each
    gene costs one binary search on the sorted prefix plus a brute
    count over the < ``chunk`` not-yet-merged tail. O((N+G)·log + G·C).
    Pure set arithmetic — bit-identical to the naive count.
    """
    total = len(nm_sorted)
    g = len(am)
    out = np.zeros(g, dtype=np.int64)
    if total == 0 or g == 0:
        return out
    hi = np.searchsorted(nm_sorted, am, side="right")
    order = np.argsort(hi, kind="stable")
    sorted_prefix = np.empty(0)
    boundary = 0
    for gi in order:
        h = hi[gi]
        if h - boundary > chunk:
            sorted_prefix = np.sort(np.concatenate([sorted_prefix, nd_by_m[boundary:h]]))
            boundary = h
        full = np.searchsorted(sorted_prefix, ad[gi], side="right")
        partial = int((nd_by_m[boundary:h] <= ad[gi]).sum())
        out[gi] = full + partial
    return out


class NOISeq(Transformer):
    """NOISeq-sim differential expression (M, D, Prob, Rank)."""

    def __init__(
        self,
        condition_a: str,
        condition_b: str,
        condition_to_columns: Dict[str, Collection[str]],
        comparison_name: Optional[str] = None,
        index_column: str = "__row_id",
        **parameters,
    ):
        super().__init__(
            "NOISeq", condition_a, condition_b, condition_to_columns, comparison_name
        )
        self.condition_a = condition_a
        self.condition_b = condition_b
        self.columns_a = list(condition_to_columns[condition_a])
        self.columns_b = list(condition_to_columns[condition_b])
        self.index_column = index_column
        self.parameters = parameters
        self.k = parameters.get("k", 0.5)
        self.norm = parameters.get("norm", "tmm")
        if self.norm not in ("tmm", "rpkm", "uqua", "n"):
            raise ValueError(
                f"Only ['tmm', 'rpkm', 'uqua', 'n'] are accepted as values for norm,"
                f" given was {self.norm}"
            )
        self.pnr = parameters.get("pnr", 0.2)
        self.nss = parameters.get("nss", 5)
        self.v = parameters.get("v", 0.02)
        self.seed = parameters.get("seed", 42)
        self.compute_prob = parameters.get("compute_prob", True)
        self.suffix = f" ({comparison_name})" if comparison_name else f" ({self.name})"

    # reference column contract (differential.py:570-600)
    @property
    def logFC(self):
        return "logFC" + self.suffix

    @property
    def D(self):
        return "D" + self.suffix

    @property
    def prob(self):
        return "Prob" + self.suffix

    @property
    def rank(self):
        return "Rank" + self.suffix

    @property
    def columns(self):
        return [self.logFC, self.prob, self.rank, self.D]

    def _transform(self, df: DataFrame) -> DataFrame:
        idx = self.index_column
        ca, cb = self.columns_a[0], self.columns_b[0]
        # the input is typically a shuffle product (a pivoted count
        # matrix) re-read by every action below (lib sums, TMM, the
        # noise-path collects and the output itself) — pin it once;
        # released via cache.release_caches
        pair = persist_tracked(df.select(idx, ca, cb))

        # two-sample normalization factors (scalar collect)
        sums = pair.agg(F.sum(ca).alias("a"), F.sum(cb).alias("b")).collect()[0]
        lib = np.array([float(sums["a"]), float(sums["b"])])
        if self.norm == "tmm":
            factors = tmm_norm_factors(pair, [ca, cb], idx)
            scale = lib.mean() / (lib * np.array([factors[ca], factors[cb]]))
        elif self.norm == "uqua":
            q = pair.agg(
                F.expr(f"percentile(`{ca}`, 0.75)").alias("a"),
                F.expr(f"percentile(`{cb}`, 0.75)").alias("b"),
            ).collect()[0]
            uq = np.array([float(q["a"]), float(q["b"])])
            scale = uq.mean() / uq
        else:  # "n" (none) or rpkm without lengths: library-size scaling
            scale = lib.mean() / lib

        k = float(self.k)
        na = F.when(F.col(ca) == 0, F.lit(k)).otherwise(F.col(ca)) * float(scale[0])
        nb = F.when(F.col(cb) == 0, F.lit(k)).otherwise(F.col(cb)) * float(scale[1])
        signal = pair.select(
            idx,
            F.col(ca),
            F.col(cb),
            F.log2(na / nb).alias("__m"),
            F.abs(na - nb).alias("__d"),
        )

        if not self.compute_prob:
            # M/D/Rank are closed-form; callers that don't need Prob
            # (e.g. the hash-checked deterministic layer) skip the
            # whole noise-cloud simulation
            out = signal.withColumn("__prob", F.lit(None).cast("double"))
            return self._finalize(out, idx, ca, cb)
        # noise cloud: the multinomial couples all genes of a sample, so
        # the simulation runs on the driver over the whole count vector.
        # Driver bytes per gene: the two counts and the two signal
        # columns (4 float64, the index twice) plus 2·C(nss, 2) noise
        # points of (|M|, |D|), held raw and sorted by |M|: about 0.7 KB
        # per gene at nss=5, 0.7 GB at 10^6 genes. Gene order feeds the
        # multinomial draws: sort by the index, not the partition order
        # of the collected rows.
        pair_pdf = pair.select(idx, ca, cb).toPandas().sort_values(idx, kind="stable")
        nm, nd = self._simulate_noise(pair_pdf[[ca, cb]].to_numpy(dtype=float), lib, scale)
        am_order = np.argsort(nm)
        sig_pdf = signal.select(idx, "__m", "__d").toPandas()
        am = np.abs(sig_pdf["__m"].to_numpy(dtype=float))
        ad = np.abs(sig_pdf["__d"].to_numpy(dtype=float))
        dom = _dominance_counts(nm[am_order], nd[am_order], am, ad)
        sig_pdf["__prob"] = dom / len(nm) if len(nm) else 0.0
        prob_df = df.sparkSession.createDataFrame(sig_pdf[[idx, "__prob"]])
        out = signal.join(F.broadcast(prob_df), idx)
        return self._finalize(out, idx, ca, cb)

    def _finalize(self, out, idx, ca, cb):
        return out.select(
            idx,
            ca,
            cb,
            F.col("__m").alias(self.logFC),
            F.col("__d").alias(self.D),
            F.col("__prob").alias(self.prob),
            (
                F.signum(F.col("__m"))
                * F.sqrt(F.col("__m") ** 2 + F.col("__d") ** 2)
            ).alias(self.rank),
        )

    def _simulate_noise(self, y, lib, scale):
        """Exact NOISeq-sim noise: for each condition, nss multinomial
        technical replicates of size pnr·libsize·U(1±v) over the full
        gene vector; noise points are all within-condition replicate
        pairs' (M, D) on the normalized scale (zeros -> k, divided by
        pnr to undo the downsampling)."""
        nss, pnr, v, k = self.nss, self.pnr, self.v, float(self.k)
        rng = np.random.RandomState(self.seed)
        out_m, out_d = [], []
        scale_arr = np.asarray(scale, dtype=float)
        for ci in range(2):
            x = y[:, ci]
            tot = x.sum()
            if tot <= 0:
                continue
            p = x / tot
            reps = np.empty((len(x), nss))
            for r in range(nss):
                size_r = int(round(pnr * lib[ci] * rng.uniform(1 - v, 1 + v)))
                reps[:, r] = rng.multinomial(size_r, p)
            reps[reps == 0] = k
            # noise stays on the downsampled raw scale — calibrated
            # against the reference goldens: rescaling by 1/pnr inflates
            # the noise D and underestimates prob for strong genes (the
            # golden probs are only reproducible with the raw scale)
            for r1 in range(nss):
                for r2 in range(r1 + 1, nss):
                    out_m.append(np.abs(np.log2(reps[:, r1] / reps[:, r2])))
                    out_d.append(np.abs(reps[:, r1] - reps[:, r2]))
        if not out_m:
            return np.array([]), np.array([])
        return np.concatenate(out_m), np.concatenate(out_d)
