"""spanprocessor: span rename from/to attributes + status update.

Reference `processor/spanprocessor/span.go`:
- ``from_attributes`` (:96-155): span name := the attribute values joined
  by ``separator`` — only when EVERY listed key is present, else the name
  is untouched.
- ``to_attributes`` (:158-222): rules applied sequentially on the evolving
  name; each rule's named-capture submatches become attributes AND the
  matched group text is replaced in the name by ``{group_name}``
  placeholders (text between/around groups is preserved);
  ``keep_original_name`` skips the rewrite, ``break_after_match`` stops at
  the first matching rule.
- ``set_status`` (:225-241): ok/unset clear the message, error sets the
  configured description.

Spark: from_attributes and set_status are pure Column programs. The
to_attributes rewrite needs leftmost-single-match group-span surgery that
Java ``regexp_replace`` (replace-ALL) can't express generically, so it
runs as an Arrow-batched pandas UDF — a faithful port of the reference's
FindStringSubmatchIndex loop. It is a config-driven enrichment over the
(matched subset of) spans, not the hot aggregation path; the UDF is
vectorized per batch and keeps the name+attributes surgery in one pass.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..ottl.functions import go_regex


def rename_from_attributes(
    df: DataFrame,
    from_attributes: list[str],
    separator: str = "",
    name_col: str = "span_name",
    attrs_col: str = "attributes",
) -> DataFrame:
    """span.go:96-155 — all-or-nothing name rebuild from attribute values."""
    vals = [F.element_at(F.col(attrs_col), k) for k in from_attributes]
    all_present = None
    for v in vals:
        c = v.isNotNull()
        all_present = c if all_present is None else (all_present & c)
    joined = F.concat_ws(separator, *vals)
    return df.withColumn(
        name_col, F.when(all_present, joined).otherwise(F.col(name_col))
    )


def rename_to_attributes(
    df: DataFrame,
    rules: list[str],
    keep_original_name: bool = False,
    break_after_match: bool = False,
    name_col: str = "span_name",
    attrs_col: str = "attributes",
) -> DataFrame:
    """span.go:158-222 — sequential rule application with {group}
    placeholder rewrite; unmatched rules leave the row untouched. Rules
    are Go regexes, ``(?P<name>...)`` or ``(?<name>...)``."""
    compiled = [(re.compile(plain), groups) for plain, groups in map(go_regex, rules)]

    out_type = T.StructType(
        [
            T.StructField("name", T.StringType()),
            T.StructField(
                "attrs", T.MapType(T.StringType(), T.StringType())
            ),
        ]
    )

    @F.pandas_udf(out_type)
    def apply_rules(name_s: pd.Series, attrs_s: pd.Series) -> pd.DataFrame:
        out_names, out_attrs = [], []
        for name, attrs in zip(name_s, attrs_s):
            attrs = dict(attrs) if attrs is not None else {}
            if name:
                for rx, groups in compiled:
                    m = rx.search(name)
                    if m is None:
                        continue
                    parts, last = [], 0
                    for gname, i in groups.items():
                        sub = m.group(i)
                        attrs[gname] = sub if sub is not None else ""
                        if m.start(i) >= 0:
                            parts.append(name[last : m.start(i)] + "{" + gname + "}")
                            last = m.end(i)
                    new = "".join(parts) + name[last:]
                    if not keep_original_name:
                        name = new
                    if break_after_match:
                        break
            out_names.append(name)
            out_attrs.append(attrs)
        return pd.DataFrame({"name": out_names, "attrs": out_attrs})

    res = df.withColumn("__r", apply_rules(F.col(name_col), F.col(attrs_col)))
    return (
        res.withColumn(name_col, F.col("__r.name"))
        .withColumn(attrs_col, F.col("__r.attrs"))
        .drop("__r")
    )


def set_status(
    df: DataFrame,
    code: str,
    description: str = "",
    where: Column | None = None,
    code_col: str = "status_code",
    message_col: str = "status_message",
) -> DataFrame:
    """span.go:225-241 — ok/unset clear the message, error sets it. The
    optional ``where`` plays the processor's include/exclude MatchConfig
    (filterspan skip expression) role."""
    codes = {"unset": 0, "ok": 1, "error": 2}
    if code not in codes:
        raise ValueError(f"unknown status code {code!r}")
    gate = F.lit(True) if where is None else F.coalesce(where, F.lit(False))
    msg = F.lit(description if code == "error" else "")
    return df.withColumns(
        {
            code_col: F.when(gate, F.lit(codes[code])).otherwise(
                F.col(code_col) if code_col in df.columns else F.lit(0)
            ),
            message_col: F.when(gate, msg).otherwise(
                F.col(message_col) if message_col in df.columns else F.lit("")
            ),
        }
    )
