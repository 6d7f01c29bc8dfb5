"""CLI entry point (reference Main.scala:28-46 + S3Loader.run).

    python -m kinesis_s3_spark --config config/config.sample.json

Loads the config (decode errors print human-readable messages and
exit 1, matching Main.scala:39-45), builds the session, wires
monitoring, starts the loader, and blocks on awaitTermination like
the reference's executor.run() (S3Loader.scala:63-68).
"""

from __future__ import annotations

import argparse
import logging
import sys

from kinesis_s3_spark.config import ConfigError, load
from kinesis_s3_spark.session import get_spark
from kinesis_s3_spark.streaming.loader import run_loader
from kinesis_s3_spark.streaming.monitoring import (
    LoaderListener,
    StatsDClient,
    capture_error,
)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="kinesis-s3-spark")
    parser.add_argument("--config", required=True, help="path to JSON config")
    parser.add_argument(
        "--dedupe-watermark",
        default=None,
        metavar="DELAY",
        help="drop duplicate payloads seen within this event-time window "
        '(e.g. "1 hour") via checkpointed streaming state; off by default',
    )
    parser.add_argument(
        "--countmin-state",
        default=None,
        metavar="DIR",
        help="maintain a Count-Min word-frequency sketch over emitted "
        "payloads, persisted (replay-safe) under this directory; off by "
        "default",
    )
    args = parser.parse_args(argv)

    logging.basicConfig(level=logging.INFO)
    try:
        cfg = load(args.config)
    except ConfigError as e:
        print(f"configuration error: {e}", file=sys.stderr)
        return 1

    spark = get_spark(app_name=f"kinesis-s3-spark:{cfg.input.stream_name}")
    statsd = StatsDClient(cfg.monitoring)
    listener = LoaderListener(statsd=statsd)
    spark.streams.addListener(listener)

    def on_flush(meta) -> None:
        statsd.report(meta)

    accumulators = ()
    if args.countmin_state:
        from kinesis_s3_spark.streaming.cms import CountMinAccumulator

        accumulators = (CountMinAccumulator(args.countmin_state),)

    try:
        query = run_loader(
            spark,
            cfg,
            on_flush=on_flush,
            dedupe_watermark=args.dedupe_watermark,
            accumulators=accumulators,
        )
        query.awaitTermination()
    except Exception as e:  # noqa: BLE001 — top-level crash reporting (O20)
        # the one Sentry capture: a startup error, or the failed query's
        # exception re-raised by awaitTermination (no listener reports it)
        capture_error(e)
        raise
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
