"""Config decode tests (ConfigSpec.scala:27-140 analogue): full decode,
defaults, and human-readable errors on invalid input."""

from __future__ import annotations

import ast
import json
import logging
from pathlib import Path

import pytest

from kinesis_s3_spark.config import (
    BadOutputConfig,
    Compression,
    ConfigError,
    InitialPosition,
    Purpose,
    from_dict,
    load,
)

FULL = {
    "purpose": "SELF_DESCRIBING",
    "input": {
        "stream_name": "raw-stream",
        "kind": "kinesis",
        "region": "eu-central-1",
        "position": "TRIM_HORIZON",
        "max_records": 10,
    },
    "output": {
        "s3": {
            "path": "s3a://bucket/prefix",
            "compression": "GZIP",
            "date_format": "{YYYY}/{MM}/{dd}",
        },
        "bad_path": "s3a://bucket/bad",
    },
    "buffer": {"byte_limit": 2048, "time_limit_ms": 5000},
    "monitoring": {
        "statsd_host": "localhost",
        "statsd_port": 8125,
        "statsd_prefix": "snowplow.monitoring",
        "statsd_tags": {"app": "s3-loader"},
    },
    "checkpoint_location": "/tmp/ckpt",
}


def test_full_decode():
    cfg = from_dict(FULL)
    assert cfg.purpose is Purpose.SELF_DESCRIBING
    assert cfg.input.position is InitialPosition.TRIM_HORIZON
    assert cfg.input.max_records == 10
    assert cfg.output.s3.compression is Compression.GZIP
    assert cfg.output.s3.date_format == "{YYYY}/{MM}/{dd}"
    assert cfg.output.bad == BadOutputConfig(kind="file", path="s3a://bucket/bad")
    assert cfg.buffer.byte_limit == 2048
    assert cfg.monitoring.statsd_tags == {"app": "s3-loader"}


def test_defaults():
    cfg = from_dict(
        {
            "purpose": "raw",
            "input": {"stream_name": "s"},
            "output": {"s3": {"path": "/tmp/out"}},
        }
    )
    assert cfg.purpose is Purpose.RAW
    assert cfg.buffer.time_limit_ms == 5000
    assert cfg.monitoring.statsd_host is None


@pytest.mark.parametrize(
    "mutate,needle",
    [
        (lambda d: d.pop("purpose"), "config.purpose"),
        (lambda d: d["input"].pop("stream_name"), "config.input.stream_name"),
        (lambda d: d["output"]["s3"].pop("path"), "config.output.s3.path"),
        (lambda d: d.update(purpose="WAT"), "purpose 'WAT'"),
        (lambda d: d["output"]["s3"].update(compression="LZ4"), "compression"),
        (lambda d: d["input"].update(position="MIDDLE"), "position"),
        # bad output is mandatory for purposes that can fail records
        # (reference Config.scala: Output(s3, bad) is not optional)
        (lambda d: d["output"].pop("bad_path"), "bad_path"),
    ],
)
def test_invalid_config_messages(mutate, needle):
    d = json.loads(json.dumps(FULL))
    mutate(d)
    with pytest.raises(ConfigError) as e:
        from_dict(d)
    assert needle.lower() in str(e.value).lower()


def test_load_file(tmp_path):
    p = tmp_path / "config.json"
    p.write_text(json.dumps(FULL))
    assert load(p).purpose is Purpose.SELF_DESCRIBING

    bad = tmp_path / "bad.json"
    bad.write_text("{not json")
    with pytest.raises(ConfigError, match="not valid JSON"):
        load(bad)

    with pytest.raises(ConfigError, match="does not exist"):
        load(tmp_path / "missing.json")


def test_unread_key_is_warned(caplog):
    d = json.loads(json.dumps(FULL))
    d["buffer"]["byte_limt"] = 1024
    with caplog.at_level(logging.WARNING):
        cfg = from_dict(d)
    (warning,) = [r for r in caplog.records if r.levelno >= logging.WARNING]
    assert "buffer.byte_limt" in warning.getMessage()
    assert "statsd_tags" not in warning.getMessage()  # read whole
    assert cfg.buffer.byte_limit == 2048


def _bench_configs() -> list[dict]:
    """The mapping literal of every from_dict call in the benchmark's
    workloads, evaluated with a stand-in (a path, a port, a trigger
    interval) for each name it reads at run time."""

    class Stand(int):
        def __getitem__(self, _):
            return self

        def __getattr__(self, _):
            return self

    class Names(dict):
        def __missing__(self, _):
            return Stand(1)

    root = Path(__file__).resolve().parents[1] / "perfbench"
    found = []
    for name in ("emit_batch.py", "stream_open_loop.py"):
        for node in ast.walk(ast.parse((root / name).read_text())):
            if isinstance(node, ast.Call) and getattr(node.func, "id", None) == "from_dict":
                code = compile(ast.Expression(node.args[0]), name, "eval")
                found.append(eval(code, {"__builtins__": {}}, Names()))
    assert len(found) == 2
    return found


def test_shipped_configs_load_without_warning(caplog):
    sample = Path(__file__).resolve().parents[1] / "config" / "config.sample.json"
    with caplog.at_level(logging.WARNING):
        load(sample)
        for d in _bench_configs():
            from_dict(d)
    assert not [r for r in caplog.records if r.levelno >= logging.WARNING]


def test_cli_bad_config_exits_1(tmp_path, capsys):
    """python -m kinesis_s3_spark with a broken config must print a
    human-readable error and return 1 (Main.scala:39-45 behavior),
    never start a session."""
    from kinesis_s3_spark.__main__ import main

    bad = tmp_path / "bad.json"
    bad.write_text('{"purpose": "NOT_A_PURPOSE"}')
    rc = main(["--config", str(bad)])
    assert rc == 1
    assert "configuration error" in capsys.readouterr().err


def test_cli_countmin_flag_builds_accumulator(tmp_path, monkeypatch):
    """--countmin-state DIR must construct a persisted CountMin
    accumulator rooted at DIR and hand it to run_loader (alongside the
    dedupe watermark passthrough)."""
    import kinesis_s3_spark.__main__ as cli
    from kinesis_s3_spark.streaming.cms import CountMinAccumulator

    cfgp = tmp_path / "cfg.json"
    cfgp.write_text(
        '{"purpose": "RAW", "input": {"stream_name": "s", "kind": "file",'
        ' "path": "/tmp/x", "format": "text"},'
        ' "output": {"s3": {"path": "/tmp/o", "compression": "GZIP"}}}'
    )
    seen = {}

    class FakeQuery:
        def awaitTermination(self):
            return None

    def fake_run_loader(spark, cfg, **kw):
        seen.update(kw)
        return FakeQuery()

    monkeypatch.setattr(cli, "run_loader", fake_run_loader)
    monkeypatch.setattr(cli, "get_spark", lambda app_name: __import__("types").SimpleNamespace(
        streams=__import__("types").SimpleNamespace(addListener=lambda lsn: None)
    ))
    state = tmp_path / "cms"
    rc = cli.main(
        ["--config", str(cfgp), "--countmin-state", str(state), "--dedupe-watermark", "2 hours"]
    )
    assert rc == 0
    (cms,) = seen["accumulators"]
    assert isinstance(cms, CountMinAccumulator)
    assert cms._state.path.startswith(str(state))
    assert seen["dedupe_watermark"] == "2 hours"


def test_every_config_field_is_read():
    """Each field of the config dataclasses is read, by name, as an
    attribute somewhere in the package outside the config modules: a
    field that nothing reads is accepted from a config file and then
    silently ignored. Spark-free (parses the sources)."""
    import ast
    import dataclasses
    from pathlib import Path

    import kinesis_s3_spark.config as config

    pkg = Path(config.__file__).parent
    config_modules = {pkg / "config.py", pkg / "config_hocon.py"}
    read: set[str] = set()
    for path in pkg.rglob("*.py"):
        if path in config_modules:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                read.add(node.attr)
    unread = [
        f"{cls.__name__}.{f.name}"
        for cls in vars(config).values()
        if dataclasses.is_dataclass(cls) and cls.__module__ == config.__name__
        for f in dataclasses.fields(cls)
        if f.name not in read
    ]
    assert not unread, f"config fields that nothing reads: {unread}"
