"""Streaming EMBEDDING-drift accumulator — the loader-side twin of the
batch ``emb_drift_mmd`` operator (VERDICT r10 next #7).

The drift suite's streaming arm covers record-size mix (PSI gauge),
payload-value shape (value-KS gauge) and the KS twin; this adds the
vector-space leg: per-batch accumulation of the per-dimension mean /
second moment of an embedding column, folded into dim-bounded state
(the HLL-shard pattern — ≤ dim rows collected per micro-batch, 2·dim
decimals + a count persisted), from which the SAME linear-kernel MMD²
statistic the batch operator computes — ‖μ_A − μ_B‖² against its null
expectation Σ_d (σ²_d/n_A + σ²_d/n_B), alert at 2× null (Gretton et
al. 2012, linear-time MMD) — is read off per flush against a pinned
reference-moments snapshot (yesterday's accumulator state).

Exactness: the accumulator keeps EXACT decimal sums (Σx at
DECIMAL(38,12), Σround(x², 10) at DECIMAL(28,10) — the batch
operator's casts), merged across batches with Python ``decimal`` (same
associative exact addition Spark's decimal SUM performs), so the
streaming statistic is bit-equal to the batch operator run over
(reference slice) ∪ (stream so far) — tests/test_streaming.py gates
the two arms against each other on the same data, alert tranche
included.

State persists through streaming/replay_state.py, like
CountMinAccumulator's and SizeHistogramAccumulator's.
"""

from __future__ import annotations

import math
from decimal import Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kinesis_s3_spark.streaming.replay_state import ReplayState

STATE_FILE = "embedding_moments.json"

_DEC_SUM = "decimal(38,12)"  # Σx — the batch operator's mean cast
_DEC_SQ = "decimal(28,10)"  # Σ round(x², 10) — the second-moment cast


def _round_half_up(x: float, nd: int) -> float:
    """java BigDecimal HALF_UP = DuckDB/Spark ROUND (Python's round()
    banks to even) — the registry's shared rounding twin."""
    s = 10.0**nd
    return math.trunc(x * s + math.copysign(0.5, x)) / s


def default_embed_col(field: int = 2, sep: str = ","):
    """Payload → array<double>: TSV field ``field`` (1-based) split on
    ``sep`` — the dev-harness shape where an embedding rides the record
    as a comma-joined float list. Malformed payloads yield NULL and are
    dropped by update()'s explode."""
    return F.transform(
        F.split(F.try_element_at(F.split(F.col("value").cast("string"), "\t"), F.lit(field)), sep),
        lambda s: s.try_cast("double"),
    )


class EmbeddingMomentAccumulator:
    """Cross-batch per-dimension moment state (n, Σx_d, Σx²_d) over an
    embedding column, with persisted, replay-safe state.
    ``update(batch_df, batch_id)`` wires into run_loader's
    ``accumulators=`` hook; ``moments`` maps dim → (count,
    decimal-sum-str, decimal-sqsum-str) and equals the one-pass decimal
    sums over every applied batch's vectors."""

    def __init__(self, state_dir: str, embed_col=None, state_file: str = STATE_FILE) -> None:
        self._state = ReplayState(state_dir, state_file)
        self._embed_col = embed_col if embed_col is not None else default_embed_col()
        # pos -> [n, Decimal Σx, Decimal Σround(x²,10)]
        self.moments: dict[int, list] = {
            int(p): [int(n), Decimal(s), Decimal(s2)]
            for p, n, s, s2 in self._state.loaded.get("moments", [])
        }

    @property
    def last_batch_id(self) -> int:
        return self._state.last_batch_id

    def update(self, batch_df: DataFrame, batch_id: int) -> None:
        """Fold one micro-batch's vectors into the per-dim decimal
        sums. The per-batch aggregation is distributed and map-side
        combined — at most dim rows cross the shuffle and reach the
        driver."""
        if self._state.seen(batch_id):
            return
        f = batch_df.select(F.posexplode(self._embed_col).alias("pos", "x")).where(
            F.col("x").isNotNull()
        )
        rows = f.groupBy("pos").agg(
            F.count("*").alias("n"),
            F.sum(F.col("x").cast(_DEC_SUM)).alias("s"),
            F.sum(F.round(F.col("x") * F.col("x"), 10).cast(_DEC_SQ)).alias("s2"),
        ).collect()
        for row in rows:  # ≤ dim rows
            p = int(row["pos"])
            cur = self.moments.setdefault(p, [0, Decimal(0), Decimal(0)])
            cur[0] += int(row["n"])
            cur[1] += Decimal(row["s"])
            cur[2] += Decimal(row["s2"])
        self._state.commit(
            batch_id,
            {
                "moments": [
                    [p, n, str(s), str(s2)] for p, (n, s, s2) in sorted(self.moments.items())
                ]
            },
        )

    def snapshot(self) -> dict[int, list]:
        """A reference-moments copy (pin yesterday's state as today's
        null hypothesis)."""
        return {p: [n, Decimal(s), Decimal(s2)] for p, (n, s, s2) in self.moments.items()}

    def mmd2_against(self, ref: dict[int, list]) -> tuple[float, float, bool]:
        """(mmd2, null_scale, drifted) of THIS accumulator (sample B)
        against reference moments (sample A) — term-for-term the batch
        ``emb_drift_mmd`` arithmetic: μ rounded at 6 dp, per-dim
        squared-gap and variances rounded at 10 dp, decimal-summed,
        outputs at 8 dp, drifted ⇔ mmd2 > 2·null on the UNROUNDED
        decimal sums. Driver-held dim-sized arithmetic per flush — no
        extra Spark work.

        Dim-set mismatch forces drifted=True (ADVICE r11): a dimension
        populated on only one side means the embedding space itself
        changed (encoder swap / truncation) — the very event the gauge
        exists to catch. Intersect-and-ignore would shrink the
        statistic TOWARD zero exactly then, so the mismatch alerts
        instead, regardless of the intersection's mmd2."""
        dims_ref = {p for p, (n, _s, _s2) in ref.items() if n > 0}
        dims_cur = {p for p, (n, _s, _s2) in self.moments.items() if n > 0}
        dim_mismatch = bool(dims_ref) and bool(dims_cur) and dims_ref != dims_cur
        dd_sum = Decimal(0)
        null_sum = Decimal(0)
        any_dim = False
        for p, (nb, sb, sb2) in sorted(self.moments.items()):
            if p not in ref:
                continue
            na, sa, sa2 = ref[p]
            if na == 0 or nb == 0:
                continue
            any_dim = True
            mu_a = _round_half_up(float(sa) / na, 6)
            mu_b = _round_half_up(float(sb) / nb, 6)
            m2_a = float(sa2) / na
            m2_b = float(sb2) / nb
            dd = _round_half_up((mu_a - mu_b) * (mu_a - mu_b), 10)
            va = _round_half_up(m2_a - mu_a * mu_a, 10)
            vb = _round_half_up(m2_b - mu_b * mu_b, 10)
            dd_sum += Decimal(f"{dd:.10f}")
            null_sum += Decimal(f"{_round_half_up(va / na + vb / nb, 10):.10f}")
        if not any_dim:
            return 0.0, float("inf"), dim_mismatch
        mmd2 = float(dd_sum)
        null_scale = float(null_sum)
        return (
            _round_half_up(mmd2, 8),
            _round_half_up(null_scale, 8),
            dim_mismatch or mmd2 > 2 * null_scale,
        )
