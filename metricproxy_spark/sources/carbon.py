"""Carbon/Graphite protocol: line parse, metric deconstructors, line
serialization (SURVEY §3 rows S1, C1, C4, C5, C7, C8, K2).

Reference semantics [P: protocol/carbon/carbon.go — NewCarbonDatapoint]:
a line is ``"<name> <value> <unix_ts>"`` (exactly 3 space-separated
fields); value is tried as int, then float, then kept as a string;
timestamp is integer unix seconds; the metric type is Gauge; the raw
line is preserved in ``Meta`` so a carbon→carbon pipeline re-emits the
original bytes [P: carbonforwarder.go]. Invalid lines are counted and
dropped, never fail the stream [P: carbonlistener.go — invalidDatapoints].

Everything here is ANSI-mode-safe Catalyst expressions: ``F.get`` for
array access (null, never error, when a field is missing), ``try_cast``
for value/ts parsing. No UDFs — the parse stays inside whole-stage
codegen and scales linearly with input splits (no shuffle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CARBON_RAW_META_KEY = "carbon_raw"


def parse_carbon_lines(
    df: DataFrame, line_col: str = "line", drop_invalid: bool = True
) -> DataFrame:
    """C1: parse carbon plaintext lines into datapoint columns.

    Output columns: metric, value (DOUBLE, null when non-numeric),
    value_str (STRING, null when numeric — the int|float|string union
    as two columns), epoch_s (BIGINT), ts (TIMESTAMP), metric_type,
    meta (raw-line passthrough, C7). Invalid rows (field count != 3,
    empty name, unparseable timestamp) are dropped when
    ``drop_invalid`` else kept with ``is_valid = false`` for counting.
    One trailing ``\\r`` (a CRLF line end) is stripped first.
    """
    line = F.col(line_col)
    line = F.when(
        line.endswith("\r"), line.substr(F.lit(1), F.length(line) - 1)
    ).otherwise(line)
    parts = F.split(line, " ")
    name = F.get(parts, 0)
    raw_value = F.get(parts, 1)
    raw_ts = F.get(parts, 2)

    value_num = raw_value.try_cast("double")
    epoch_s = raw_ts.try_cast("bigint")
    is_valid = (
        (F.size(parts) == 3)
        & (name.isNotNull() & (name != F.lit("")))
        & epoch_s.isNotNull()
    )

    out = df.withColumns(
        {
            "metric": name,
            "value": value_num,
            "value_str": F.when(value_num.isNull(), raw_value),
            "epoch_s": epoch_s,
            "ts": F.timestamp_seconds(epoch_s),
            "metric_type": F.lit("gauge"),
            "meta": F.create_map(F.lit(CARBON_RAW_META_KEY), line),
            "is_valid": is_valid,
        }
    )
    if drop_invalid:
        out = out.filter("is_valid").drop("is_valid")
    return out


def count_invalid(df: DataFrame, line_col: str = "line") -> DataFrame:
    """A1 analog: attach an observed metric counting invalid lines.

    Use on streaming or batch reads; metrics surface via
    ``df.observe``/StreamingQueryProgress, mirroring the listener's
    invalid-line counter without failing or filtering the batch here.
    """
    parsed = parse_carbon_lines(df, line_col, drop_invalid=False)
    return parsed.observe(
        "carbon_parse",
        F.count(F.lit(1)).alias("total_lines"),
        F.sum(F.when(~F.col("is_valid"), 1).otherwise(0)).alias("invalid_lines"),
    )


# --- metric deconstructors [P: protocol/carbon/metricdeconstructor/] ---


def identity_deconstruct(df: DataFrame, metric_col: str = "metric") -> DataFrame:
    """C4: passthrough — metric unchanged, empty dimensions."""
    return df.withColumn(
        "dimensions", F.create_map().cast("map<string,string>")
    )


def commakeys_deconstruct(df: DataFrame, metric_col: str = "metric") -> DataFrame:
    """C5: parse ``name[k1=v1,k2=v2]`` into base metric + dimensions map.

    Names without a trailing ``[...]`` block pass through with empty
    dimensions (identity fallback).
    """
    metric = F.col(metric_col)
    base = F.regexp_extract(metric, r"^([^\[]+)", 1)
    inner = F.regexp_extract(metric, r"\[(.*)\]$", 1)
    return df.withColumns(
        {
            metric_col: base,
            "dimensions": F.when(
                inner != F.lit(""), F.str_to_map(inner, F.lit(","), F.lit("="))
            ).otherwise(F.create_map().cast("map<string,string>")),
        }
    )


def delimiter_deconstruct(
    df: DataFrame,
    rules: list[dict],
    metric_col: str = "metric",
    delimiter: str = ".",
) -> DataFrame:
    """C8: rule-table-driven "metricized" deconstructor.

    Reference semantics [P: metricdeconstructor/delimitermetricdeconstructor.go]:
    split the dotted name, match it against glob-ish ``MetricPath``
    rules where ``%`` matches one path component; a matching rule picks
    one component as the metric name, maps other components to named
    dimensions, adds static extra dimensions, and may override the
    metric type. First matching rule wins; no match ⇒ identity.

    ``rules``: list of dicts with keys ``pattern`` (list of components,
    ``"%"`` = wildcard), ``metric_part`` (index), ``dim_parts``
    ({dim_name: index}), ``extra_dims`` ({k: v}), ``metric_type``.

    Compiled to a single nested CASE cascade — one projection, no
    shuffle, rule count only affects expression size (fine for the
    handful of rules real configs carry).
    """
    metric = F.col(metric_col)
    parts = F.split(metric, "[" + delimiter + "]")

    def rule_matches(rule: dict) -> Column:
        pat = rule["pattern"]
        cond = F.size(parts) == len(pat)
        for i, comp in enumerate(pat):
            if comp != "%":
                cond = cond & (F.get(parts, i) == F.lit(comp))
        return cond

    def rule_outputs(rule: dict) -> dict[str, Column]:
        dim_entries: list[Column] = []
        for dim_name, idx in rule.get("dim_parts", {}).items():
            dim_entries += [F.lit(dim_name), F.get(parts, idx)]
        for k, v in rule.get("extra_dims", {}).items():
            dim_entries += [F.lit(k), F.lit(v)]
        return {
            "metric": F.get(parts, rule["metric_part"]),
            "dimensions": F.create_map(*dim_entries)
            if dim_entries
            else F.create_map().cast("map<string,string>"),
            "metric_type": F.lit(rule.get("metric_type", "gauge")),
        }

    out_metric = metric
    out_dims = F.create_map().cast("map<string,string>")
    out_type = F.lit("gauge")
    # Build the cascade back-to-front so the FIRST rule wins.
    for rule in reversed(rules):
        cond = rule_matches(rule)
        outs = rule_outputs(rule)
        out_metric = F.when(cond, outs["metric"]).otherwise(out_metric)
        out_dims = F.when(cond, outs["dimensions"]).otherwise(out_dims)
        out_type = F.when(cond, outs["metric_type"]).otherwise(out_type)

    return df.withColumns(
        {metric_col: out_metric, "dimensions": out_dims, "metric_type": out_type}
    )


# --- forwarder-side serialization [P: carbonforwarder.go] ---


def to_carbon_lines(
    df: DataFrame,
    metric_col: Column | str = "metric",
    value_col: Column | str = "value",
    value_str_col: Column | str = "value_str",
    epoch_col: Column | str = "epoch_s",
    meta_col: Column | str | None = "meta",
) -> Column:
    """K2/C7: rebuild the graphite wire line, echoing the original raw
    line byte-identically when the point came from carbon (Meta
    passthrough), else serializing ``metric value ts``. Each input is a
    column name or a Column expression."""

    def col(c: Column | str) -> Column:
        return F.col(c) if isinstance(c, str) else c

    value_text = F.coalesce(
        col(value_str_col),
        col(value_col).cast("decimal(27,6)").cast("string"),
    )
    rebuilt = F.concat_ws(
        " ", col(metric_col), value_text, col(epoch_col).cast("string")
    )
    if meta_col is None:
        return rebuilt
    return F.coalesce(
        F.try_element_at(col(meta_col), F.lit(CARBON_RAW_META_KEY)), rebuilt
    )
