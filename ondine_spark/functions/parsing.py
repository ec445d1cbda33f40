"""Response parsers: raw / JSON / regex / output-column mapping.

Re-expresses the reference's parser strategies
(reference: ondine/stages/response_parser_stage.py:32-149 and the
output-column mapping at :225-267) as Spark column operations.

Design: the fallback-heavy JSON path (markdown-fence extraction, "output"
key fallback, first-value fallback, nested ``items[0].result`` unwrap) is
ported as a pure-Python function applied inside ONE Arrow-batched pandas
UDF that returns all output columns as a struct — exact behavioral parity,
one Python hop. The raw and regex parsers are pure JVM expressions
(``regexp_replace`` / ``regexp_extract``).
"""

from __future__ import annotations

import json
import re
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ondine_spark.core.specs import SKIPPED

# ---------------------------------------------------------------- raw (F5)

_CHAT_PREFIX = r"^(?i:(assistant|user|system):)\s*"


def parse_raw(col: Column) -> Column:
    """Strip whitespace and a single leading chat-role prefix
    (reference: response_parser_stage.py:32-45). Pure JVM."""
    return F.regexp_replace(F.trim(col), _CHAT_PREFIX, "")


# -------------------------------------------------------------- regex (F8)

def parse_regex(col: Column, patterns: dict[str, str]) -> list[Column]:
    """Extract one column per named pattern; group 1 if the pattern has a
    group, else the whole match; null when no match
    (reference: response_parser_stage.py:118-149). Pure JVM."""
    out = []
    for name, pat in patterns.items():
        group = 1 if re.compile(pat).groups else 0
        ex = F.regexp_extract(col, pat, group)
        # regexp_extract returns '' for no match; reference returns None
        matched = col.rlike(pat)
        out.append(F.when(matched, ex).otherwise(F.lit(None)).alias(name))
    return out


# --------------------------------------------------- JSON + mapping (F6/F9)

def _extract_json(response: str) -> Any:
    """JSON parse with the reference's markdown-fence fallbacks
    (response_parser_stage.py:48-80). Returns a Python object or
    {'output': raw} when unparseable."""
    s = response.strip()
    try:
        return json.loads(s)
    except json.JSONDecodeError:
        pass
    if "```json" in response:
        start = response.find("```json") + 7
        end = response.find("```", start)
        try:
            return json.loads(response[start:end].strip())
        except json.JSONDecodeError:
            pass
    if "```" in response:
        start = response.find("```") + 3
        end = response.find("```", start)
        try:
            return json.loads(response[start:end].strip())
        except (json.JSONDecodeError, ValueError):
            pass
    return {"output": s}


def map_output_columns(parsed: Any, output_cols: list[str]) -> list:
    """The reference's output-column mapping ladder
    (response_parser_stage.py:225-267):

    single column: exact key → "output" key → first dict value → scalar.
    multi column: top-level keys, else unwrap {"items":[{..,"result":{}}]}
    or {"result": {...}} then .get per column.
    """
    if parsed is None:
        return [None] * len(output_cols)
    if len(output_cols) == 1:
        col = output_cols[0]
        if isinstance(parsed, dict):
            if col in parsed:
                v = parsed[col]
            elif "output" in parsed:
                v = parsed["output"]
            elif parsed:
                v = next(iter(parsed.values()))
            else:
                v = None
        else:
            v = parsed
        return [_to_str(v)]
    source = parsed if isinstance(parsed, dict) else {}
    if not any(c in source for c in output_cols):
        if "items" in source and isinstance(source["items"], list):
            item = source["items"][0] if source["items"] else {}
            if isinstance(item, dict):
                source = item.get("result", item)
        elif "result" in source and isinstance(source["result"], dict):
            source = source["result"]
        if not isinstance(source, dict):
            source = {}
    return [_to_str(source.get(c)) for c in output_cols]


def _to_str(v: Any) -> str | None:
    if v is None:
        return None
    if isinstance(v, str):
        return v
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (dict, list)):
        return json.dumps(v, separators=(",", ":"))
    return str(v)


def parse_json_udf(output_cols: list[str]) -> Column:
    """Pandas UDF: response text → struct of output columns (all string;
    callers cast typed columns afterwards). Exact reference fallback
    semantics, one Arrow hop."""
    cols = list(output_cols)
    schema = T.StructType([T.StructField(c, T.StringType()) for c in cols])

    @F.pandas_udf(schema)
    def parse(s: pd.Series) -> pd.DataFrame:
        rows = []
        for text in s:
            if text is None or text == SKIPPED:
                rows.append([None] * len(cols))
                continue
            try:
                rows.append(map_output_columns(_extract_json(text), cols))
            except Exception:
                rows.append([None] * len(cols))
        return pd.DataFrame(rows, columns=cols)

    return parse(F.col("response_text"))


def apply_parser(
    df: DataFrame,
    output_cols: list[str],
    response_format: str = "raw",
    regex_patterns: dict[str, str] | None = None,
    response_col: str = "response_text",
    output_schema=None,
) -> DataFrame:
    """Append parsed output columns to ``df``.

    raw → single output col = cleaned text (errors/SKIPPED → null);
    json → F6+F9 ladder; regex → per-pattern extraction.
    """
    col = F.col(response_col)
    not_skipped = col.isNotNull() & (col != SKIPPED)
    if response_format == "raw":
        if len(output_cols) != 1:
            raise ValueError("raw parser supports exactly one output column")
        value = F.when(not_skipped, parse_raw(col))
        return df.withColumn(output_cols[0], value)
    if response_format == "regex":
        if not regex_patterns:
            raise ValueError("regex parser requires regex_patterns")
        exprs = parse_regex(col, {c: regex_patterns[c] for c in output_cols})
        out = df
        for c, e in zip(output_cols, exprs):
            out = out.withColumn(c, F.when(not_skipped, e))
        return out
    if response_format == "json":
        struct = parse_json_udf(output_cols)
        out = df.withColumn("_parsed", F.when(not_skipped, struct))
        for c in output_cols:
            out = out.withColumn(c, F.col(f"_parsed.{c}"))
        return out.drop("_parsed")
    if response_format == "schema":
        if output_schema is None:
            raise ValueError("schema parser requires output_schema")
        return apply_schema_parser(df, output_cols, output_schema, response_col)
    raise ValueError(f"unknown response_format: {response_format}")


def normalize_schema(schema) -> "T.StructType":
    """StructType | DDL string | {field: ddl_type} dict → StructType
    (the Spark analog of the reference's Pydantic output models,
    ondine/api/pipeline_builder.py:1410)."""
    from pyspark.sql import types as T

    if isinstance(schema, T.StructType):
        return schema
    if isinstance(schema, str):
        parsed = T._parse_datatype_string(schema)
        if not isinstance(parsed, T.StructType):
            raise ValueError("DDL schema must describe a struct")
        return parsed
    if isinstance(schema, dict):
        return T.StructType([
            T.StructField(k, T._parse_datatype_string(v)) for k, v in schema.items()
        ])
    raise ValueError(f"unsupported schema spec: {type(schema)}")


def apply_schema_parser(
    df: DataFrame,
    output_cols: list[str],
    schema,
    response_col: str = "response_text",
) -> DataFrame:
    """L3/F7: validated structured output, entirely JVM-side.

    Markdown-fence strip (F6 pre-pass) → ``from_json`` with the declared
    StructType (Catalyst JSON parser, codegen) → typed output columns +
    ``_parse_error`` flagging rows whose response didn't validate
    (from_json null / missing required fields). The reference re-validates
    with Pydantic per row in Python; the declarative schema gives the same
    contract without leaving the JVM.

    Top-level numeric fields are read as text and coerced with
    ``try_cast``, like Pydantic's lax mode: ``"4"``, ``4`` and ``"4.5e0"``
    all validate, and a value that is present but not a number (``"abc"``)
    is null with ``_parse_error`` set instead of silently lost."""
    st = normalize_schema(schema)
    missing = [c for c in output_cols if c not in st.fieldNames()]
    if missing:
        raise ValueError(f"output columns {missing} not in output_schema")
    numeric = {
        f.name: f.dataType for f in st.fields
        if isinstance(f.dataType, T.NumericType)
    }
    lax = T.StructType([
        T.StructField(f.name, T.StringType(), f.nullable)
        if f.name in numeric else f
        for f in st.fields
    ])
    col = F.col(response_col)
    not_skipped = col.isNotNull() & (col != SKIPPED)
    # strip ```json fences and take the outermost {...}
    cleaned = F.regexp_replace(col, r"(?s)^\s*```(?:json)?\s*|\s*```\s*$", "")
    cleaned = F.regexp_extract(cleaned, r"(?s)(\{.*\})", 1)
    out = df.withColumn("_raw", F.when(not_skipped, F.from_json(cleaned, lax)))
    out = out.withColumn("_parsed", F.when(F.col("_raw").isNotNull(), F.struct(*[
        F.col(f"_raw.{c}").try_cast(numeric[c]).alias(c) if c in numeric
        else F.col(f"_raw.{c}")
        for c in st.fieldNames()
    ])))
    for c in output_cols:
        out = out.withColumn(c, F.col(f"_parsed.{c}"))
    any_field_set = F.lit(False)
    for c in st.fieldNames():
        any_field_set = any_field_set | F.col(f"_parsed.{c}").isNotNull()
    uncoerced = F.lit(False)
    for c in numeric:
        uncoerced = uncoerced | (
            F.col(f"_raw.{c}").isNotNull() & F.col(f"_parsed.{c}").isNull()
        )
    out = out.withColumn(
        "_parse_error",
        not_skipped & (F.col("_parsed").isNull() | ~any_field_set | uncoerced),
    )
    return out.drop("_raw", "_parsed")
