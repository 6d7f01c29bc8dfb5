"""Run/batch metadata sidecar next to the streaming checkpoint.

Two replay-safety properties the emitter's per-batch overwrite needs
(both found as defects in round-2 review):

1. **Stable batch time** — ``output.s3.date_format`` decorates the
   output prefix with a timestamp. If that timestamp is wall-clock at
   emit time, a crash-replay of batch N lands in a *different*
   date-decorated directory and the old partial output survives as
   duplicates. Recording the first-seen time per batch id makes the
   decoration replay-stable, so overwrite hits the same directory.

2. **Run-unique output namespace** — if the checkpoint is wiped but the
   output path is kept, batch ids restart at 0 and per-batch overwrite
   would silently DELETE previously committed ``batch_id=N`` dirs. A
   run id minted once per checkpoint lifetime and embedded in the
   batch directory (``run=<id>/batch_id=<n>``) makes that impossible:
   a fresh checkpoint gets a fresh namespace.

Files live under ``{checkpoint}/emitter_meta/`` and are read/written
through the Hadoop FileSystem API of the active session, so the same
code works for local paths in tests and s3a://.../hdfs:// checkpoints
on a cluster. The reference has no analogue (its KCL sequence-number
checkpointing is at-least-once by design, S3Loader.scala:35-69); this
is the price of the stronger effectively-exactly-once file sink.
"""

from __future__ import annotations

import json
import re
import uuid
from datetime import datetime, timezone

from pyspark.sql import SparkSession

# keep only a recent window of batch-time files; replay only ever
# touches the latest uncommitted batch, so anything this far back is
# garbage from the checkpoint's point of view
_BATCH_TIME_RETENTION = 100

# What Spark's partition discovery reads as a number, over the hex
# alphabet: integers, and Java floating literals such as ``12e5``,
# ``7d`` or ``3e4f`` (Double.parseDouble takes a d/f suffix). A run id
# like that turns ``run=<id>`` into a numeric column that drops leading
# zeros, and a long exponent stalls the discovery for minutes.
_NUMERIC = re.compile(r"[0-9]+(e[0-9]+)?[df]?")


def _mint_run_id() -> str:
    """12 hex digits of a uuid4 that contain a letter and do not parse
    as a number."""
    while True:
        run_id = uuid.uuid4().hex[:12]
        if not _NUMERIC.fullmatch(run_id):
            return run_id


class RunMeta:
    """Sidecar accessor bound to one checkpoint location."""

    def __init__(self, spark: SparkSession, checkpoint_location: str):
        jvm = spark._jvm
        self._Path = jvm.org.apache.hadoop.fs.Path
        self._base = self._Path(checkpoint_location.rstrip("/") + "/emitter_meta")
        self._fs = self._base.getFileSystem(spark._jsc.hadoopConfiguration())
        self._ioutils = jvm.org.apache.commons.io.IOUtils
        self._fs.mkdirs(self._base)
        self.run_id = self._load_or_mint_run_id()

    # -- small json-file helpers over Hadoop FS ---------------------------

    def _read(self, path) -> dict | None:
        if not self._fs.exists(path):
            return None
        stream = self._fs.open(path)
        try:
            text = self._ioutils.toString(stream, "UTF-8")
        finally:
            stream.close()
        return json.loads(text)

    def _write(self, path, payload: dict) -> None:
        out = self._fs.create(path, True)
        try:
            out.write(bytearray(json.dumps(payload).encode("utf-8")))
        finally:
            out.close()

    # -- run id ------------------------------------------------------------

    def _load_or_mint_run_id(self) -> str:
        p = self._Path(self._base, "run.json")
        existing = self._read(p)
        if existing is not None:
            return existing["run_id"]
        run_id = _mint_run_id()
        self._write(
            p, {"run_id": run_id, "created_at": datetime.now(timezone.utc).isoformat()}
        )
        return run_id

    # -- per-batch stable time --------------------------------------------

    def batch_time(self, batch_id: int) -> datetime:
        """First-seen UTC time of this batch id: recorded on first call,
        read back verbatim on replay (→ identical date decoration)."""
        p = self._Path(self._base, f"batch_{batch_id}.json")
        existing = self._read(p)
        if existing is not None:
            return datetime.fromisoformat(existing["ts"])
        now = datetime.now(timezone.utc)
        self._write(p, {"ts": now.isoformat()})
        old = self._Path(self._base, f"batch_{batch_id - _BATCH_TIME_RETENTION}.json")
        if self._fs.exists(old):
            self._fs.delete(old, False)
        return now
