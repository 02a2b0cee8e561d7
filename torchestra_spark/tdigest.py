"""Numpy t-digest — a faithful port of the reference's t-digest
(/root/reference/src/torchestra/_normalization.py:285-562, itself the
classic Dunning t-digest with the sin-based k1 scale function).

Spark has no built-in allclose-compatible equivalent
(``approx_percentile`` uses a different sketch), so this module is the
sketch kernel that runs inside Arrow-batched ``mapInArrow`` partials;
partial digests are merged on the driver in deterministic partition
order (mirroring the reference's ``combine_stats`` shard merge,
_normalization.py:601-613).

Algorithmic notes vs the reference:

* Same buffering discipline: ``2*ceil(compression)`` processed /
  ``8*ceil(compression)`` unprocessed centroids
  (_normalization.py:433-434).
* Same compaction loop (_normalization.py:504-536) including the
  reference's quirk that the running ``weight_acc`` excludes the first
  sorted element's weight.  The inner merge loop is vectorized: because
  the merge/new-centroid decision depends only on cumulative *weights*
  (not means), each output centroid's member range can be located with
  one ``searchsorted`` on the weight cumsum, then reduced with one
  weighted average.  Results agree with the sequential loop to fp
  rounding (boundary comparisons are on integer-valued f64 weights,
  hence exact in practice); reference test tolerances are 1e-2
  (test_normalization.py:629).
* quantile / cdf are line-by-line vectorized numpy ports of
  _normalization.py:323-424, including tail-interpolation quirks.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Any, Dict, List

import numpy as np


@dataclass
class DigestState:
    """Mirror of the reference TDigestStorage (_normalization.py:286-300)."""

    max_processed: int
    max_unprocessed: int
    n_processed: int = 0
    n_unprocessed: int = 0
    processed_means: np.ndarray = field(default_factory=lambda: np.zeros(0))
    processed_weights: np.ndarray = field(default_factory=lambda: np.zeros(0))
    unprocessed_means: np.ndarray = field(default_factory=lambda: np.zeros(0))
    unprocessed_weights: np.ndarray = field(default_factory=lambda: np.zeros(0))
    processed_weight: float = 0.0
    unprocessed_weight: float = 0.0
    mean_min: float = math.inf
    mean_max: float = -math.inf
    cumulative_weights: np.ndarray = field(default_factory=lambda: np.zeros(0))
    finalized: bool = False


class TDigest:
    """T-digest kernel; compression default 1000 like the reference
    (_normalization.py:318)."""

    def __init__(self, compression: float = 1000.0):
        self.compression = float(compression)
        self.pi = math.pi

    # ------------------------------------------------------------------ build
    def new_digest(self) -> DigestState:
        max_processed = int(math.ceil(self.compression)) * 2
        max_unprocessed = int(math.ceil(self.compression)) * 8
        return DigestState(
            max_processed=max_processed,
            max_unprocessed=max_unprocessed,
            processed_means=np.zeros(max_processed, dtype=np.float64),
            processed_weights=np.zeros(max_processed, dtype=np.float64),
            unprocessed_means=np.zeros(max_unprocessed, dtype=np.float64),
            unprocessed_weights=np.zeros(max_unprocessed, dtype=np.float64),
        )

    def from_centroids(self, means: np.ndarray, weights: np.ndarray) -> DigestState:
        """A processed digest holding the given mean-ascending centroids,
        e.g. a partial's compacted output collected from an executor."""
        d = self.new_digest()
        k = len(means)
        d.processed_means[:k] = means
        d.processed_weights[:k] = weights
        d.n_processed = k
        d.processed_weight = float(np.sum(weights))
        if k:
            d.mean_min = float(means[0])
            d.mean_max = float(means[-1])
        return d

    def add_values(self, digest: DigestState, values: np.ndarray) -> None:
        values = np.asarray(values, dtype=np.float64)
        self.add_centroids(digest, values, np.ones_like(values))

    def add_centroids(self, digest: DigestState, mean: np.ndarray, weight: np.ndarray) -> None:
        # chunked buffering, _normalization.py:464-484
        mean = np.asarray(mean, dtype=np.float64)
        weight = np.asarray(weight, dtype=np.float64)
        offset = 0
        while offset < len(mean):
            n = min(len(mean) - offset, digest.max_unprocessed - digest.n_unprocessed)
            digest.unprocessed_means[digest.n_unprocessed : digest.n_unprocessed + n] = mean[offset : offset + n]
            digest.unprocessed_weights[digest.n_unprocessed : digest.n_unprocessed + n] = weight[offset : offset + n]
            digest.n_unprocessed += n
            digest.unprocessed_weight += float(weight[offset : offset + n].sum())
            offset += n
            if digest.n_unprocessed == digest.max_unprocessed:
                self._process(digest)

    def merge_digests(self, dst: DigestState, src: DigestState) -> None:
        # _normalization.py:451-462
        self._process(src)
        self.add_centroids(dst, src.processed_means[: src.n_processed], src.processed_weights[: src.n_processed])

    def finalize(self, digest: DigestState) -> None:
        # _normalization.py:486-502
        self._process(digest)
        digest.processed_means = digest.processed_means[: digest.n_processed]
        digest.processed_weights = digest.processed_weights[: digest.n_processed]
        digest.cumulative_weights = np.cumsum(digest.processed_weights)
        digest.unprocessed_means = np.zeros(0, dtype=np.float64)
        digest.unprocessed_weights = np.zeros(0, dtype=np.float64)
        digest.finalized = True

    def _process(self, digest: DigestState) -> None:
        # compaction, _normalization.py:504-536, group-vectorized
        if digest.n_unprocessed == 0 and digest.n_processed <= digest.max_processed:
            return
        means = np.concatenate(
            [digest.processed_means[: digest.n_processed], digest.unprocessed_means[: digest.n_unprocessed]]
        )
        weights = np.concatenate(
            [digest.processed_weights[: digest.n_processed], digest.unprocessed_weights[: digest.n_unprocessed]]
        )
        order = np.argsort(means, kind="stable")
        means = means[order]
        weights = weights[order]

        digest.processed_weight += digest.unprocessed_weight
        digest.unprocessed_weight = 0.0
        digest.n_unprocessed = 0
        total = digest.processed_weight

        cum = np.cumsum(weights)  # cum[i] = weight of elements 0..i
        w0 = weights[0]  # weight_acc excludes element 0 (reference quirk, :519-521)
        n = len(means)
        out_means: List[float] = []
        out_weights: List[float] = []

        limit = total * self._integrated_q(1.0)
        start = 0
        while start < n:
            # all elements i in [start..j] with cum[i] - w0 <= limit merge
            # into the centroid seeded at `start` (seed always included)
            j = int(np.searchsorted(cum, limit + w0, side="right")) - 1
            if j < start:
                j = start
            gw = float(weights[start : j + 1].sum())
            if gw > 0.0:
                gm = float(np.dot(means[start : j + 1], weights[start : j + 1]) / gw)
            else:  # reference's nan_to_num guard (_normalization.py:538-544)
                gm = float(means[start])
            out_means.append(gm)
            out_weights.append(gw)
            if j + 1 >= n:
                break
            weight_acc = cum[j] - w0
            k1 = self._integrated_location(weight_acc / total)
            limit = total * self._integrated_q(k1 + 1.0)
            start = j + 1

        k = len(out_means)
        if k > len(digest.processed_means):  # keep capacity for merge-heavy digests
            digest.processed_means = np.zeros(k, dtype=np.float64)
            digest.processed_weights = np.zeros(k, dtype=np.float64)
        digest.processed_means[:k] = out_means
        digest.processed_weights[:k] = out_weights
        digest.n_processed = k
        digest.mean_min = min(digest.mean_min, out_means[0])
        digest.mean_max = max(digest.mean_max, out_means[-1])

    # ------------------------------------------------------------- estimation
    def quantile(self, digest: DigestState, q: np.ndarray) -> np.ndarray:
        # _normalization.py:323-357
        q = np.atleast_1d(np.asarray(q, dtype=np.float64))
        if digest.n_processed == 1:
            return np.full_like(q, digest.processed_means[0])
        out = np.zeros_like(q)
        index = q * digest.processed_weight
        mask = index <= digest.processed_weights[0] / 2.0
        out[mask] = digest.mean_min + 2.0 * index[mask] / digest.processed_weights[0] * (
            digest.processed_means[0] - digest.mean_min
        )
        mask = ~mask
        lower = np.searchsorted(digest.cumulative_weights, index[mask], side="right")
        lower_proj = np.zeros_like(index, dtype=np.int64)
        lower_proj[mask] = lower
        end_mask = mask & (lower_proj >= len(digest.cumulative_weights) - 1)
        z1 = index[end_mask] - digest.processed_weight - digest.processed_weights[-1] / 2.0
        z2 = digest.processed_weights[-1] / 2.0 - z1
        out[end_mask] = self._weighted_average(
            np.full_like(z1, digest.processed_means[-1]), z1, np.full_like(z1, digest.mean_max), z2
        )
        mask &= ~end_mask
        lower = lower_proj[mask]
        z1 = index[mask] - digest.cumulative_weights[lower - 1]
        z2 = digest.cumulative_weights[lower] - index[mask]
        # canonical interpolation: each mean weighted by the distance to
        # the OPPOSITE cum edge (the reference passes (m_left, z1, m_right,
        # z2), _normalization.py:356, which inverts the slope between
        # adjacent centroids; deviation bound ~1/compression, inside the
        # reference's own 1e-2/1e-1 test tolerances — we keep the
        # monotone canonical form)
        out[mask] = self._weighted_average(
            digest.processed_means[lower - 1], z2, digest.processed_means[lower], z1
        )
        return out

    def cdf(self, digest: DigestState, x: np.ndarray) -> np.ndarray:
        # _normalization.py:359-424
        x = np.atleast_1d(np.asarray(x, dtype=np.float64))
        if digest.n_processed == 0:
            return np.zeros_like(x)
        if digest.n_processed == 1:
            width = digest.mean_max - digest.mean_min
            with np.errstate(divide="ignore", invalid="ignore"):
                out = (x - digest.mean_min) / width
            lo_mask = x <= digest.mean_min
            out[lo_mask] = 0.0
            mask = ~lo_mask
            hi_mask = mask & (x >= digest.mean_max)
            out[hi_mask] = 1.0
            mask &= ~hi_mask
            mid_mask = mask & ((x - digest.mean_min) <= width) | ((width == 0.0) & (x == digest.mean_min))
            out[mid_mask] = 0.5
            return out
        out = np.zeros_like(x)
        at_min = x <= digest.mean_min
        at_max = x >= digest.mean_max
        out[at_max] = 1.0
        # NaN (a NULL after the transform's cast) fails every comparison:
        # keep it out of the interior, where searchsorted would index
        # one past the last centroid
        nan = np.isnan(x)
        out[nan] = np.nan
        mask = ~(at_min | at_max | nan)
        m0 = digest.processed_means[0]
        tail_l = mask & (x <= m0)
        if m0 - digest.mean_min > 0.0:
            out[tail_l] = 0.0
        else:  # only reachable when tail_l is empty (x>mean_min and x<=m0=mean_min)
            out[tail_l] = 0.0
        mn = digest.processed_means[-1]
        tail_r = mask & (x >= mn)
        if digest.mean_max - mn > 0.0:
            out[tail_r] = 1.0
        else:  # only reachable when tail_r is empty
            out[tail_r] = 1.0
        mask &= ~(tail_l | tail_r)
        upper = np.searchsorted(digest.processed_means, x[mask], side="left")
        z1 = x[mask] - digest.processed_means[upper - 1]
        z2 = digest.processed_means[upper] - x[mask]
        # canonical weights (cum_left by z2, cum_right by z1): monotone
        # non-decreasing cdf; the reference's argument order
        # (_normalization.py:418-421) inverts the in-interval slope —
        # see note in quantile()
        out[mask] = (
            self._weighted_average(
                digest.cumulative_weights[upper - 1], z2, digest.cumulative_weights[upper], z1
            )
            / digest.processed_weight
        )
        return out

    # ------------------------------------------------------------------ scale
    def _integrated_q(self, k: float) -> float:
        # _normalization.py:546-547
        return (1.0 + math.sin(min(k, self.compression) * self.pi / self.compression - self.pi / 2.0)) / 2.0

    def _integrated_location(self, q: float) -> float:
        # _normalization.py:549-550
        return (math.asin(2.0 * q - 1.0) + self.pi / 2.0) * self.compression / self.pi

    @staticmethod
    def _weighted_average(x1: np.ndarray, w1: np.ndarray, x2: np.ndarray, w2: np.ndarray) -> np.ndarray:
        # order-insensitive clamped interpolation, _normalization.py:552-562
        x1 = np.asarray(x1, dtype=np.float64)
        x2 = np.asarray(x2, dtype=np.float64)
        lo = np.minimum(x1, x2)
        hi = np.maximum(x1, x2)
        swap = x1 > x2
        w_lo = np.where(swap, w2, w1)
        w_hi = np.where(swap, w1, w2)
        with np.errstate(divide="ignore", invalid="ignore"):
            x = (lo * w_lo + hi * w_hi) / (w_lo + w_hi)
        return np.maximum(lo, np.minimum(x, hi))


# -------------------------------------------------------------- serialization
def digest_to_state(digest: DigestState) -> Dict[str, Any]:
    """Finalized digest -> JSON-safe dict (state_dict analog,
    _normalization.py:582-586)."""
    return {
        "means": [float(v) for v in digest.processed_means[: digest.n_processed]],
        "weights": [float(v) for v in digest.processed_weights[: digest.n_processed]],
        "processed_weight": float(digest.processed_weight),
        "mean_min": float(digest.mean_min),
        "mean_max": float(digest.mean_max),
        "finalized": bool(digest.finalized),
    }


def digest_from_state(state: Dict[str, Any], compression: float) -> DigestState:
    td = TDigest(compression)
    d = td.new_digest()
    means = np.asarray(state["means"], dtype=np.float64)
    weights = np.asarray(state["weights"], dtype=np.float64)
    k = len(means)
    d.processed_means = means
    d.processed_weights = weights
    d.n_processed = k
    d.processed_weight = float(state["processed_weight"])
    d.mean_min = float(state["mean_min"])
    d.mean_max = float(state["mean_max"])
    d.cumulative_weights = np.cumsum(weights)
    d.finalized = bool(state.get("finalized", True))
    return d
