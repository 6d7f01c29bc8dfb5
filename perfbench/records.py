"""Seeded loader input: self-describing JSON records of mixed size.

Every record carries a unique integer id, so a read-back can prove that
each record landed exactly once. The mix:

- 14 row types (7 vendors x 2 event names, plus a second schema version
  that shares the first one's model), Zipf-weighted so a few row types
  hold most records;
- about 10% non-JSON lines, which the loader files as ``unpartitioned``;
- about 1% NULL payloads, which the loader dead-letters as bad rows.

Record sizes are log-uniform from about 100 B to 2 KB. The padding is
sliced from a seeded word stream, so it compresses like text does.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROW_TYPES = [
    (f"com.acme{v}", f"event_{n}", model)
    for v in range(7)
    for n, model in ((0, 1), (1, 2))
]
NON_JSON_SHARE = 0.10
NULL_SHARE = 0.01
MIN_BYTES, MAX_BYTES = 100, 2000

_WORDS = (
    "page view click user session cart order item price search query "
    "result banner video play pause stop load error retry mobile web "
    "device browser locale region country city referrer campaign source "
    "medium content term product category brand checkout payment refund"
).split()


class RecordGen:
    """Deterministic record stream: ids are dense from 0, so batch k of
    size n holds ids [k*n, (k+1)*n) whatever the seed."""

    def __init__(self, seed: int) -> None:
        self.rng = np.random.default_rng(seed)
        words = self.rng.choice(_WORDS, size=400_000)
        self.blob = " ".join(words.tolist())
        weights = 1.0 / np.arange(1, len(ROW_TYPES) + 1) ** 0.8
        self.type_p = weights / weights.sum()
        self.next_id = 0

    def batch(self, n: int) -> tuple[list[str | None], Counter]:
        """``n`` records and the count the loader should file under each
        row type (``unpartitioned`` for non-JSON, ``None`` for bad rows)."""
        rng = self.rng
        kind = rng.random(n)
        types = rng.choice(len(ROW_TYPES), size=n, p=self.type_p)
        revision = rng.integers(0, 2, size=n)
        sizes = np.exp(rng.uniform(np.log(MIN_BYTES), np.log(MAX_BYTES), size=n)).astype(int)
        offsets = rng.integers(0, len(self.blob) - MAX_BYTES, size=n)
        values: list[str | None] = []
        expected: Counter = Counter()
        for i in range(n):
            rid = self.next_id + i
            pad = self.blob[offsets[i] : offsets[i] + max(1, sizes[i] - 90)]
            if kind[i] < NULL_SHARE:
                values.append(None)
                expected[None] += 1
            elif kind[i] < NULL_SHARE + NON_JSON_SHARE:
                values.append(f"plain id={rid} {pad}")
                expected["unpartitioned"] += 1
            else:
                vendor, name, model = ROW_TYPES[types[i]]
                values.append(
                    f'{{"schema":"iglu:{vendor}/{name}/jsonschema/{model}-0-{revision[i]}",'
                    f'"data":{{"id":{rid},"text":"{pad}"}}}}'
                )
                expected[f"{vendor}.{name}/jsonschema-{model}"] += 1
        self.next_id += n
        return values, expected


def write_parquet(values: list[str | None], path: str) -> None:
    """One input file with the single nullable ``value`` column the
    loader's sources expect."""
    pq.write_table(pa.table({"value": pa.array(values, pa.string())}), path)


ID_REGEX = r'(?:"id":|id=)([0-9]+)'
