import pytest

from cardinalhq_otel_collector_spark.config import PipelineConfig, parse_duration_seconds


def _rules():
    return [{"rule_id": 1, "predicate": "x > 1", "sink": "a"}]


def test_valid_config():
    cfg = PipelineConfig(rules=_rules()).validate()
    assert cfg.default_sink == "default"


def test_interval_minimum():
    """aggregationprocessor/config.go:42-44: interval must be >= 1s."""
    with pytest.raises(ValueError, match=">= 1 second"):
        PipelineConfig(rules=_rules(), agg_interval="0 seconds").validate()


def test_interval_string_is_validated():
    """The interval actually used by F.window is the string — a bad string
    must fail at config time, not inside a running Spark job."""
    with pytest.raises(ValueError, match="bad interval"):
        PipelineConfig(rules=_rules(), agg_interval="one hour").validate()
    with pytest.raises(ValueError, match="bad interval"):
        PipelineConfig(rules=_rules(), agg_interval="5 fortnights").validate()
    cfg = PipelineConfig(rules=_rules(), agg_interval="90 seconds").validate()
    assert parse_duration_seconds(cfg.agg_interval) == 90


def test_mask_must_not_match_any_pattern():
    """has_pii is derived from 'masking changed the text' — only valid when
    no mask can itself match a configured pattern."""
    with pytest.raises(ValueError, match="must not match"):
        PipelineConfig(
            rules=_rules(),
            pii_patterns=[("digits", r"\d+", "got 1 digit")],
        ).validate()


def test_duplicate_rule_ids():
    rules = _rules() + [{"rule_id": 1, "predicate": "x < 1", "sink": "b"}]
    with pytest.raises(ValueError, match="duplicate rule_id"):
        PipelineConfig(rules=rules).validate()


def test_rule_missing_keys():
    with pytest.raises(ValueError, match="missing keys"):
        PipelineConfig(rules=[{"rule_id": 2, "sink": "a"}]).validate()


def test_empty_sink():
    with pytest.raises(ValueError, match="non-empty"):
        PipelineConfig(rules=[{"rule_id": 1, "predicate": "x>1", "sink": ""}]).validate()


def test_bad_regex():
    with pytest.raises(ValueError, match="bad pii pattern"):
        PipelineConfig(rules=_rules(), pii_patterns=[("broken", "([", "<X>")]).validate()


def test_bad_granularity():
    with pytest.raises(ValueError, match="granularity"):
        PipelineConfig(rules=_rules(), partition_granularity="week").validate()


def test_marshal_sinks_validation():
    import pytest

    from cardinalhq_otel_collector_spark.datagen import routing_rules

    PipelineConfig(
        rules=routing_rules(), marshal_sinks={"errors": "sumo_ic"}
    ).validate()
    with pytest.raises(ValueError, match="marshal format"):
        PipelineConfig(
            rules=routing_rules(), marshal_sinks={"errors": "csv"}
        ).validate()
    with pytest.raises(ValueError, match="unknown sink"):
        PipelineConfig(
            rules=routing_rules(), marshal_sinks={"nope": "body"}
        ).validate()
