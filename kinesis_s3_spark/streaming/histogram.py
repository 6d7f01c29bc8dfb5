"""Streaming record-size histogram on the loader path — the second
loader-maintained sketch after streaming/cms.py, and the streaming
twin of operators/sketches.py's histogram quantile estimator.

What it answers for an operator of the reference's job: "what is the
p50/p99 record size flowing through the loader?" — the number that
sizes the byte-limit buffer (O4) and predicts object roll cadence.
A full sort per micro-batch is absurd for that; a fixed-bin count
histogram is mergeable by addition, so the stream maintains it
incrementally with ≤ B rows collected per batch.

Fixed ABSOLUTE bins (64 × 64 B, overflow clamped into the top bin)
rather than the batch operator's observed-range bins: a stream cannot
two-pass for min/max, and fixed bins are what make slices mergeable
across batches and restarts. State persists through
streaming/replay_state.py, like CountMinAccumulator's.

Quantile read-off mirrors the batch operator: right edge of the bin
holding rank ceil(q·n) — one-sided error ≤ one bin width (64 B).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kinesis_s3_spark.streaming.replay_state import ReplayState

HIST_BINS = 64
BIN_WIDTH = 64  # bytes per bin; range [0, 4096), overflow -> top bin

STATE_FILE = "size_histogram.json"


def size_bins(batch_df: DataFrame, value_col=None, bin_width: float = BIN_WIDTH) -> DataFrame:
    """(value) frame → (bin, cnt) histogram cells. Default bins the
    record SIZE in bytes; pass ``value_col`` (a numeric Column over the
    payload, e.g. a TSV field) to bin a payload VALUE instead — same
    fixed-absolute-bin mergeability, NULLs (malformed payloads)
    dropped. NEGATIVE values are CLAMPED into bin 0 (the
    ``greatest(·, 0)`` below), not dropped — so a sign-flip/offset
    fault upstream shows up as bin-0 mass, and a value domain that
    legitimately includes negatives needs a shifted ``value_col``
    (ADVICE r8: documented clamp, not silent). The per-batch
    aggregation is distributed and map-side combined — at most
    HIST_BINS rows cross the shuffle regardless of batch size."""
    if value_col is None:
        # octet_length: this is a record-SIZE (bytes) histogram —
        # F.length counts characters and undercounts multi-byte
        # UTF-8 payloads (ADVICE r5)
        value_col = F.octet_length(F.col("value").cast("string"))
    return (
        batch_df.select(
            F.least(
                F.greatest((value_col / bin_width).try_cast("int"), F.lit(0)),
                F.lit(HIST_BINS - 1),
            ).alias("bin")
        )
        .where(F.col("bin").isNotNull())
        .groupBy("bin")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


class SizeHistogramAccumulator:
    """Cross-batch record-size histogram with persisted, replay-safe
    state. ``update(batch_df, batch_id)`` is wired into run_loader's
    foreachBatch after emit; ``bins`` maps bin → count and equals the
    one-pass histogram over every applied batch's payloads.

    Pass ``value_col``/``bin_width``/``state_file`` to maintain a
    payload-VALUE histogram instead (e.g. a numeric TSV field) — the
    shards the value-KS drift gauge reads (ValueDriftReporter)."""

    def __init__(
        self,
        state_dir: str,
        value_col=None,
        bin_width: float = BIN_WIDTH,
        state_file: str = STATE_FILE,
    ) -> None:
        self._state = ReplayState(state_dir, state_file)
        self._value_col = value_col
        self._bin_width = bin_width
        self.bins: dict[int, int] = {
            int(b): int(c) for b, c in self._state.loaded.get("bins", [])
        }

    @property
    def last_batch_id(self) -> int:
        return self._state.last_batch_id

    def update(self, batch_df: DataFrame, batch_id: int) -> None:
        """Fold one micro-batch's record sizes into the histogram."""
        if self._state.seen(batch_id):
            return
        rows = size_bins(batch_df, self._value_col, self._bin_width).collect()
        for row in rows:  # ≤ HIST_BINS rows
            b = int(row["bin"])
            self.bins[b] = self.bins.get(b, 0) + int(row["cnt"])
        self._state.commit(
            batch_id, {"bins": [[b, c] for b, c in sorted(self.bins.items())]}
        )

    def psi_against(self, ref_bins: dict[int, int]) -> float:
        """Population Stability Index of THIS histogram against a
        reference histogram over the same fixed bins (e.g. yesterday's
        persisted accumulator) — the streaming form of
        events_drift_psi, possible precisely because the bins are
        fixed/absolute rather than observed-range. Laplace-smoothed
        over the union of occupied bins; > 0.2 is the conventional
        alert threshold for record-size mix shift (a producer change,
        a new payload schema)."""
        import math as _math

        bins = sorted(set(self.bins) | set(ref_bins))
        n_cur = sum(self.bins.values())
        n_ref = sum(ref_bins.values())
        if n_cur == 0 or n_ref == 0:
            return 0.0
        psi = 0.0
        k = len(bins)
        for b in bins:
            p_cur = (self.bins.get(b, 0) + 1) / (n_cur + k)
            p_ref = (ref_bins.get(b, 0) + 1) / (n_ref + k)
            psi += (p_cur - p_ref) * _math.log(p_cur / p_ref)
        return psi

    def ks_against(self, ref_bins: dict[int, int]) -> tuple[float, float]:
        """Two-sample Kolmogorov-Smirnov of THIS histogram against a
        reference over the same fixed bins: (D, D_crit). D is the max
        CDF gap over bin edges — EXACT for binned data (both empirical
        CDFs are step functions constant inside a bin); D_crit is the
        alpha=0.05 critical line 1.358·√((n1+n2)/(n1·n2)), the same
        coefficient as the batch events_drift_ks operator. KS sees
        SHAPE drift (variance/location) that the PSI mix-shift gauge
        can under-weight, and vice versa — the monitoring surface
        reports both."""
        n_cur = sum(self.bins.values())
        n_ref = sum(ref_bins.values())
        if n_cur == 0 or n_ref == 0:
            return 0.0, float("inf")
        d = 0.0
        cum_cur = cum_ref = 0
        for b in sorted(set(self.bins) | set(ref_bins)):
            cum_cur += self.bins.get(b, 0)
            cum_ref += ref_bins.get(b, 0)
            d = max(d, abs(cum_cur / n_cur - cum_ref / n_ref))
        d_crit = 1.358 * math.sqrt((n_cur + n_ref) / (n_cur * n_ref))
        return d, d_crit

    def quantile(self, q: float) -> int:
        """Estimated q-quantile of record size in bytes: right edge of
        the bin holding rank ceil(q·n). Guarantee (same as the batch
        operator): estimate ∈ [true, true + BIN_WIDTH] for in-range
        sizes."""
        n = sum(self.bins.values())
        if n == 0:
            return 0
        target = math.ceil(q * n)
        cum = 0
        for b in sorted(self.bins):
            cum += self.bins[b]
            if cum >= target:
                return (b + 1) * BIN_WIDTH
        return HIST_BINS * BIN_WIDTH
