"""HOCON-subset reader for drop-in use of the reference's config files
(reference O21: Config.load parses HOCON via pureconfig,
Config.scala:51-60; shipped sample at config/config.hocon.sample).

Scope — exactly the subset the reference's sample and ConfigSpec.scala
exercise, so a user can point this engine at their existing file:

- ``#`` and ``//`` comments (outside strings);
- optional commas: newline separates members (the shipped sample
  itself omits a comma after the ``sentry`` block);
- trailing commas (ConfigSpec's parseString example has one);
- unquoted keys and simple unquoted string values;
- ``:`` or ``=`` key separators, nested objects, arrays;
- ``${VAR}`` substitution from the process environment (the sample
  documents env-var resolution for statsd tags).

NOT implemented (absent from the reference's own configs): includes,
object merging/duplicate-key concatenation, multi-line strings,
``+=``. Files using those fail with a clear ConfigError.

``reference_dict_to_native`` then maps the reference's camelCase
layout (streamName, byteLimit, output.bad.streamName, ...) onto the
engine's snake_case schema so ``config.load`` accepts either format
from one entry point. Reference keys with no analogue here
(``REFERENCE_KEYS_WITHOUT_ANALOGUE``) are dropped with one warning.
"""

from __future__ import annotations

import logging
import os
import re
from typing import Any

from kinesis_s3_spark.config import ConfigError

_ENV_RE = re.compile(r"\$\{(\w+)\}")

log = logging.getLogger(__name__)

# Reference keys (Config.scala:42-236) with no analogue here, each with
# the reason. reference_dict_to_native drops them and logs one warning
# naming those present, so a reference file loads without looking as
# if they took effect.
REFERENCE_KEYS_WITHOUT_ANALOGUE = {
    "input.appName": "the KCL lease table; checkpoint_location holds the offsets",
    "output.s3.filenamePrefix": "the emitter writes Spark part files, which take no prefix",
    "output.s3.maxTimeout": "Spark task retries and query restarts own S3 write failures",
    "buffer.recordLimit": "the processingTime trigger and input.max_records own batching",
    "monitoring.metrics.cloudWatch": "no KCL or AWS SDK metrics client runs here",
}


class _Parser:
    def __init__(self, text: str):
        self.s = text
        self.i = 0
        self.n = len(text)

    def error(self, msg: str) -> ConfigError:
        line = self.s.count("\n", 0, self.i) + 1
        return ConfigError(f"HOCON parse error at line {line}: {msg}")

    # -- lexing helpers ----------------------------------------------------

    def _skip_ws_and_comments(self, *, stop_at_newline: bool = False) -> None:
        while self.i < self.n:
            c = self.s[self.i]
            if c == "\n" and stop_at_newline:
                return
            if c.isspace():
                self.i += 1
            elif c == "#" or self.s.startswith("//", self.i):
                while self.i < self.n and self.s[self.i] != "\n":
                    self.i += 1
            else:
                return

    def _peek(self) -> str:
        return self.s[self.i] if self.i < self.n else ""

    # -- values ------------------------------------------------------------

    def parse(self) -> dict:
        self._skip_ws_and_comments()
        if self._peek() == "{":
            obj = self._object()
        else:  # root braces are optional in HOCON
            obj = self._members(root=True)
        self._skip_ws_and_comments()
        if self.i < self.n:
            raise self.error(f"unexpected trailing content {self.s[self.i:self.i+20]!r}")
        return obj

    def _object(self) -> dict:
        assert self._peek() == "{"
        self.i += 1
        obj = self._members(root=False)
        if self._peek() != "}":
            raise self.error("expected '}'")
        self.i += 1
        return obj

    def _members(self, root: bool) -> dict:
        obj: dict[str, Any] = {}
        while True:
            self._skip_ws_and_comments()
            if self.i >= self.n:
                if root:
                    return obj
                raise self.error("unexpected end of input inside object")
            if self._peek() == "}":
                if root:
                    raise self.error("unexpected '}' at root")
                return obj
            key = self._key()
            self._skip_ws_and_comments()
            if self._peek() in (":", "="):
                self.i += 1
                self._skip_ws_and_comments()
            elif self._peek() != "{":
                raise self.error(f"expected ':', '=' or '{{' after key {key!r}")
            obj[key] = self._value()
            self._skip_ws_and_comments(stop_at_newline=True)
            if self._peek() == ",":
                self.i += 1
        return obj

    def _key(self) -> str:
        if self._peek() == '"':
            return self._quoted()
        m = re.match(r"[A-Za-z0-9_.-]+", self.s[self.i :])
        if not m:
            raise self.error("expected a key")
        self.i += m.end()
        return m.group(0)

    def _value(self) -> Any:
        c = self._peek()
        if c == "{":
            return self._object()
        if c == "[":
            return self._array()
        if c == '"':
            return self._substitute(self._quoted())
        if c == "$":
            m = _ENV_RE.match(self.s, self.i)
            if m:
                self.i = m.end()
                return os.environ.get(m.group(1), "")
            raise self.error("malformed ${...} substitution")
        # unquoted scalar: read until a structural char or end of line;
        # a " //" begins a comment (but not the "//" inside an unquoted
        # URL like http://host, which has no preceding whitespace)
        m = re.match(r"[^,\n\]}#]+", self.s[self.i :])
        if not m:
            raise self.error("expected a value")
        raw = re.split(r"\s//", m.group(0))[0].strip()
        if not raw:
            raise self.error("expected a value")
        self.i += len(m.group(0))
        return self._scalar(raw)

    def _array(self) -> list:
        assert self._peek() == "["
        self.i += 1
        out: list[Any] = []
        while True:
            self._skip_ws_and_comments()
            if self._peek() == "]":
                self.i += 1
                return out
            if self.i >= self.n:
                raise self.error("unexpected end of input inside array")
            out.append(self._value())
            self._skip_ws_and_comments()
            if self._peek() == ",":
                self.i += 1

    def _quoted(self) -> str:
        assert self._peek() == '"'
        self.i += 1
        out = []
        while self.i < self.n and self.s[self.i] != '"':
            c = self.s[self.i]
            if c == "\\" and self.i + 1 < self.n:
                self.i += 1
                c = {"n": "\n", "t": "\t", '"': '"', "\\": "\\"}.get(
                    self.s[self.i], self.s[self.i]
                )
            out.append(c)
            self.i += 1
        if self.i >= self.n:
            raise self.error("unterminated string")
        self.i += 1
        return "".join(out)

    @staticmethod
    def _scalar(raw: str) -> Any:
        low = raw.lower()
        if low == "true":
            return True
        if low == "false":
            return False
        if low == "null":
            return None
        try:
            return int(raw)
        except ValueError:
            pass
        try:
            return float(raw)
        except ValueError:
            pass
        return _Parser._substitute(raw)

    @staticmethod
    def _substitute(s: str) -> str:
        return _ENV_RE.sub(lambda m: os.environ.get(m.group(1), ""), s)


def parse_hocon(text: str) -> dict:
    """Parse the HOCON subset documented in the module docstring."""
    return _Parser(text).parse()


def looks_like_reference_layout(d: dict) -> bool:
    """camelCase markers that only the reference's schema uses."""
    inp = d.get("input") or {}
    out_s3 = (d.get("output") or {}).get("s3") or {}
    buf = d.get("buffer") or {}
    return any(
        k in section
        for section, keys in (
            (inp, ("streamName", "appName", "maxRecords")),
            (out_s3, ("dateFormat", "filenamePrefix", "maxTimeout")),
            (buf, ("byteLimit", "recordLimit", "timeLimit")),
        )
        for k in keys
    )


def _has_key(d: dict, dotted: str) -> bool:
    *parents, leaf = dotted.split(".")
    for k in parents:
        d = d.get(k) if isinstance(d, dict) else None
    return isinstance(d, dict) and leaf in d


def reference_dict_to_native(d: dict) -> dict:
    """Map the reference's camelCase HOCON layout onto the engine's
    snake_case schema (Config.scala:42-236 field-by-field). Keys in
    REFERENCE_KEYS_WITHOUT_ANALOGUE are dropped with one warning."""
    ignored = [k for k in REFERENCE_KEYS_WITHOUT_ANALOGUE if _has_key(d, k)]
    if ignored:
        log.warning(
            "ignoring reference config keys with no analogue: %s",
            "; ".join(f"{k} ({REFERENCE_KEYS_WITHOUT_ANALOGUE[k]})" for k in ignored),
        )
    inp = d.get("input") or {}
    out = d.get("output") or {}
    s3 = out.get("s3") or {}
    bad = out.get("bad") or {}
    buf = d.get("buffer") or {}
    mon = d.get("monitoring") or {}
    statsd = (mon.get("metrics") or {}).get("statsd") or {}
    snowplow = mon.get("snowplow") or {}

    compression = str(s3.get("compression", "GZIP")).upper()
    if compression == "LZO":
        # documented substitution (O11, SURVEY §7 risk 4): splittable
        # output via parquet+zstd instead of LZO+index
        compression = "PARQUET"

    native: dict[str, Any] = {
        "purpose": d.get("purpose"),
        "input": {
            k: v
            for k, v in {
                "kind": "kinesis",  # the reference reads Kinesis, always
                "stream_name": inp.get("streamName"),
                "region": d.get("region"),
                "position": inp.get("position", "LATEST"),
                "position_timestamp": inp.get("timestamp"),
                "max_records": inp.get("maxRecords", 10_000),
                "custom_endpoint": inp.get("customEndpoint"),
            }.items()
            if v is not None
        },
        "output": {
            "s3": {
                k: v
                for k, v in {
                    "path": s3.get("path"),
                    "compression": compression,
                    "date_format": s3.get("dateFormat"),
                    "custom_endpoint": s3.get("customEndpoint"),
                }.items()
                if v is not None
            },
        },
        "buffer": {
            k: v
            for k, v in {
                "byte_limit": buf.get("byteLimit"),
                "time_limit_ms": buf.get("timeLimit"),
            }.items()
            if v is not None
        },
    }
    if bad.get("streamName"):
        native["output"]["bad"] = {
            "kind": "kinesis",
            "stream_name": bad["streamName"],
            "region": bad.get("region", d.get("region")),
        }
    monitoring: dict[str, Any] = {}
    if snowplow:
        monitoring["snowplow"] = {
            "collector": snowplow.get("collector"),
            "app_id": snowplow.get("appId", "kinesis-s3-spark"),
        }
    if statsd:
        monitoring.update(
            {
                "statsd_host": statsd.get("hostname"),
                "statsd_port": statsd.get("port", 8125),
                "statsd_prefix": statsd.get("prefix", "snowplow.s3loader"),
                "statsd_tags": statsd.get("tags", {}),
            }
        )
    # Config.scala:180 Sentry(dsn: URI) — monitoring.sentry.dsn in the
    # shipped sample (config.hocon.sample:64-66); initialized at loader
    # startup (Monitoring.scala:75-77 analogue)
    if (mon.get("sentry") or {}).get("dsn"):
        monitoring["sentry_dsn"] = mon["sentry"]["dsn"]
    if monitoring:
        native["monitoring"] = monitoring
    return native
