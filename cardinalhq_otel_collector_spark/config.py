"""Declarative pipeline configuration + validation.

The reference's "query language" is its collector YAML: parsed by confmap,
validated per component ``Config.Validate()`` (e.g. interval ≥ 1s,
aggregationprocessor/config.go:33-47; compression whitelist,
awss3exporter/config.go:148-153). This module is the analogue: a plain
dataclass a user can build from a dict/YAML, validated before any Spark
job is constructed (EP1 in SURVEY.md §3).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .operators.redact import DEFAULT_PII_PATTERNS

__all__ = ["PipelineConfig", "parse_duration_seconds"]

_DURATION_UNITS = {
    "second": 1, "seconds": 1,
    "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600,
    "day": 86400, "days": 86400,
    "week": 604800, "weeks": 604800,
}


def parse_duration_seconds(interval: str) -> int:
    """Parse a Spark interval string ('1 hour', '10 seconds') to seconds.

    The same grammar F.window accepts for tumbling windows — validated here
    so a bad interval fails at config time, not inside a running Spark job
    (aggregationprocessor/config.go:33-47 validates Interval the same way).
    """
    import re

    m = re.fullmatch(r"\s*(\d+)\s*([a-zA-Z]+)\s*", interval or "")
    if not m or m.group(2).lower() not in _DURATION_UNITS:
        raise ValueError(
            f"bad interval {interval!r}: expected '<n> <unit>' with unit in "
            f"{sorted(set(_DURATION_UNITS))}"
        )
    return int(m.group(1)) * _DURATION_UNITS[m.group(2).lower()]


@dataclass
class PipelineConfig:
    # S1 parse: logfmt fields → cast type
    parse_fields: dict[str, str] = field(
        default_factory=lambda: {
            "level": "string",
            "code": "int",
            "latency_ms": "int",
            "service": "string",
        }
    )
    # S3 redaction pattern table: (name, regex, mask)
    pii_patterns: list[tuple[str, str, str]] = field(
        default_factory=lambda: list(DEFAULT_PII_PATTERNS)
    )
    # S5 routing rule table: {rule_id, predicate, sink}
    rules: list[dict] = field(default_factory=list)
    default_sink: str = "default"
    # S7 aggregation (single source of truth; parsed + validated below)
    agg_interval: str = "1 hour"
    # S6 fan-out
    partition_granularity: str = "day"  # day|hour|minute (partition.go default: minute)
    salt_partitions: int = 0  # >0 → salted repartition before write (hot convs)
    # S6m sink-boundary marshal: sink label → wire format (exporter.go:48-66
    # marshal→partition→upload; format selection marshaler.go:42-71). Empty
    # = stage skipped; sinks that consume parquet directly need no marshal.
    marshal_sinks: dict[str, str] = field(default_factory=dict)

    def validate(self) -> "PipelineConfig":
        # aggregationprocessor/config.go:42-44: interval must be ≥ 1s —
        # parse the actual string the pipeline hands to F.window, so an
        # invalid interval fails here, not at Spark runtime.
        if parse_duration_seconds(self.agg_interval) < 1:
            raise ValueError("agg_interval must be >= 1 second")
        if self.partition_granularity not in ("day", "hour", "minute"):
            raise ValueError("partition_granularity must be day|hour|minute")
        known_sinks = {r.get("sink") for r in self.rules} | {self.default_sink}
        for sink, fmt in self.marshal_sinks.items():
            # import here: config must stay importable without the plans pkg
            from .plans.pipeline import MARSHAL_FORMATS

            if fmt not in MARSHAL_FORMATS:
                raise ValueError(
                    f"marshal format {fmt!r} for sink {sink!r}: use {MARSHAL_FORMATS}"
                )
            if sink not in known_sinks:
                raise ValueError(
                    f"marshal_sinks names unknown sink {sink!r}; known: {sorted(known_sinks)}"
                )
        seen_ids = set()
        for r in self.rules:
            if not {"rule_id", "predicate", "sink"} <= set(r):
                raise ValueError(f"rule missing keys: {r}")
            if r["rule_id"] in seen_ids:
                raise ValueError(f"duplicate rule_id {r['rule_id']}")
            seen_ids.add(r["rule_id"])
            if r["sink"] == "":
                raise ValueError("rule sink must be non-empty")
        import re

        compiled = []
        for name, regex, _mask in self.pii_patterns:
            try:
                compiled.append((name, re.compile(regex)))
            except re.error as e:
                raise ValueError(f"bad pii pattern {name}: {e}") from e
        # redact() derives has_pii from "masking changed the text", which is
        # only equivalent to "a pattern matched" when no mask can itself
        # match any configured pattern (else the flag / routing / the
        # idempotence invariant silently break). Enforce that assumption.
        for _, _, mask in self.pii_patterns:
            for pname, pre in compiled:
                if pre.search(mask):
                    raise ValueError(
                        f"pii mask {mask!r} matches pattern {pname!r}: masks "
                        "must not match any configured pattern (has_pii and "
                        "redaction idempotence rely on it)"
                    )
        return self
