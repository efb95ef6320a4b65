"""DataFrame validation gate: `apply_gate` / `gate_filter`.

Mirrors the reference entry points (validate -> issue|nothing,
src/validation.jl:68-72) as a DataFrame transform:

    out = apply_gate(df, schema)          # typed-column mode
    out = apply_gate(df, schema, json_col="props")   # dynamic JSON mode

adds two columns:
    issue   : struct(path, instance, reason, value) — NULL when valid
    isvalid : boolean = issue IS NULL

Backend selection (the pushable/residual split, SURVEY §4.2):
  1. typed mode + fully native-translatable schema -> pure Column expressions
     (whole-stage codegen, pushdown-capable, zero Python);
  2. otherwise -> one Arrow-batched pandas UDF running the dict-tree
     validator (exact reference semantics).  Typed rows are serialized via
     to_json(struct(*)) — Spark drops NULL fields, which realizes the
     documented null==absent narrowing for typed columns.
`gate_filter` additionally pushes the derivable native necessary-condition
ahead of the UDF so the scan prunes rows before they reach Python.
"""

from __future__ import annotations

import json
from typing import Any, Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F, types as T

from jsonschema_jl_spark.gate.schema import Schema
from jsonschema_jl_spark.gate.validator import _validate
from jsonschema_jl_spark.gate.compiler import (
    ISSUE_TYPE,
    NotNativelyCompilable,
    checks_to_issue_column,
    compile_native_checks,
    necessary_condition,
)

_ISSUE_FIELDS = ["path", "instance", "reason", "value"]


def _issue_record(x: Any, schema_data: Any) -> dict | None:
    issue = _validate(x, schema_data, "")
    if issue is None:
        return None
    return {
        "path": issue.path,
        "instance": json.dumps(issue.x, default=str),
        "reason": issue.reason,
        "value": json.dumps(issue.val, default=str),
    }


# placeholder issue for rows the screen proved invalid without computing
# the exact first failure — only ever emitted in verdict-only mode, where
# the caller drops the issue struct (gate_filter)
_SCREEN_ISSUE = {
    "path": "",
    "instance": "",
    "reason": "screen",
    "value": "certainly-invalid (columnar screen, verdict-only)",
}


class GateMetrics:
    """Screen/walk coverage counters for the dynamic (UDF-backed) gate.

    Spark accumulators, so counts aggregate across all executors and ship
    back with task results — zero extra actions, negligible overhead.  Pass
    an instance to `apply_gate`/`gate_filter` via `metrics=`, run an action,
    then read `as_dict()`:

        m = GateMetrics(spark)
        gate_filter(df, schema, json_col="props", metrics=m).count()
        m.as_dict()  # {'screened_valid': ..., 'screened_invalid': ...,
                     #  'walked': ..., 'fallback_rows': ..., 'isolated': ...,
                     #  'screen_rate': ...}

    screened_valid / screened_invalid are rows the columnar screen decided
    without the per-row dict walk (invalid only counts in verdict-only
    consumers like gate_filter); walked are rows that ran the exact walk;
    fallback_rows are rows of batches the screen refused entirely (a subset
    of walked); isolated are rows the screen left out of the columnar parse
    of a batch it did screen — non-object or multi-line rows, and rows its
    raw-text probe set aside so the rest of the batch could parse (a subset
    of walked, disjoint from fallback_rows).  A batch sliding back to the
    whole-batch fallback moves its rows from isolated/screened into
    fallback_rows.  The native typed-column gate has no Python stage, so these
    counters stay zero there — the screen is the DYNAMIC gate's multiplier
    and this is the regression signal for it (VERDICT round-3 ask #4).

    NOTE: one Spark ACTION may evaluate the UDF more than once (e.g. a
    query that both filters and counts the same stage twice without a
    cache); treat ratios, not absolute counts, as the stable signal.
    """

    def __init__(self, spark_or_sc):
        sc = getattr(spark_or_sc, "sparkContext", spark_or_sc)
        self.screened_valid = sc.accumulator(0)
        self.screened_invalid = sc.accumulator(0)
        self.walked = sc.accumulator(0)
        self.fallback_rows = sc.accumulator(0)
        self.isolated = sc.accumulator(0)

    def as_dict(self) -> dict:
        sv = self.screened_valid.value
        si = self.screened_invalid.value
        w = self.walked.value
        total = sv + si + w
        return {
            "screened_valid": sv,
            "screened_invalid": si,
            "walked": w,
            "fallback_rows": self.fallback_rows.value,
            "isolated": self.isolated.value,
            "screen_rate": round((sv + si) / total, 4) if total else None,
        }


def _gate_rows(
    s: pd.Series, schema_data: Any, plan, verdict_only: bool = False,
    metrics: "GateMetrics | None" = None,
) -> pd.DataFrame:
    """One batch of JSON texts -> issue records.  When the schema has a
    columnar screening plan, the batch is parsed once by pyarrow and rows
    proven CERTAINLY VALID skip the per-row walk entirely; with
    verdict_only=True (gate_filter: the issue struct is dropped), rows
    proven CERTAINLY INVALID skip it too, receiving a placeholder issue.
    All remaining rows — those the screen left undecided or set aside from
    its parse, and whole batches it cannot vouch for — run the exact
    dict-tree walk; see gate/columnar.py for the two-sided soundness
    contract."""
    import numpy as np

    from jsonschema_jl_spark.gate.columnar import _screen_batch

    masks = _screen_batch(s, plan) if plan is not None else None
    n = len(s)
    vals = s.to_numpy(dtype=object)
    cols = {f: np.full(n, None, dtype=object) for f in _ISSUE_FIELDS}
    if masks is None:
        walk_idx = range(n)
        if metrics is not None:
            metrics.fallback_rows.add(n)
            metrics.walked.add(n)
    else:
        certainly_valid, certainly_invalid, parsed = masks
        if verdict_only:
            walk_idx = np.flatnonzero(~(certainly_valid | certainly_invalid))
            for i in np.flatnonzero(certainly_invalid):
                for f in _ISSUE_FIELDS:
                    cols[f][i] = _SCREEN_ISSUE[f]
            if metrics is not None:
                metrics.screened_invalid.add(int(certainly_invalid.sum()))
        else:
            walk_idx = np.flatnonzero(~certainly_valid)
        if metrics is not None:
            metrics.screened_valid.add(int(certainly_valid.sum()))
            metrics.walked.add(int(len(walk_idx)))
            metrics.isolated.add(int(n - parsed.sum()))
    for i in walk_idx:
        raw = vals[i]
        if raw is None:
            rec = _issue_record(None, schema_data)
        else:
            try:
                rec = _issue_record(json.loads(raw), schema_data)
            except (json.JSONDecodeError, TypeError):
                rec = {
                    "path": "",
                    "instance": str(raw)[:256],
                    "reason": "json",
                    "value": "malformed JSON",
                }
        if rec is not None:
            for f in _ISSUE_FIELDS:
                cols[f][i] = rec[f]
    return pd.DataFrame(cols)


def _make_gate_udf(
    schema_data: Any, verdict_only: bool = False, metrics: GateMetrics | None = None
):
    """Arrow-batched scalar pandas UDF: JSON text -> issue struct.

    The compiled schema dict (and its columnar screening plan, when one
    exists) is captured by closure and shipped once per task via the
    pickled UDF (broadcast-equivalent in local mode).  Absent keys stay
    absent (json.loads dict), so required/absent-vs-null semantics match
    the reference exactly (src/validation.jl:755-766).  `metrics`
    accumulators (also closure-captured; accumulators pickle as ids and
    ship worker-side updates back with task results) count the
    screen/walk split per batch."""
    from jsonschema_jl_spark.gate.columnar import plan_screen_conj

    plan = plan_screen_conj(schema_data)

    @F.pandas_udf(ISSUE_TYPE)
    def gate_udf(batch_iter: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for s in batch_iter:
            yield _gate_rows(
                s, schema_data, plan, verdict_only=verdict_only, metrics=metrics
            )

    return gate_udf


def compile_issue_column(
    df: DataFrame,
    schema: Schema | dict | bool | str,
    json_col: str | None = None,
    verdict_only: bool = False,
    metrics: GateMetrics | None = None,
) -> tuple[Column, bool]:
    """Return (issue Column, used_native).  verdict_only allows the columnar
    screen to short-circuit certainly-invalid rows with a placeholder issue
    (callers that drop the issue struct, i.e. gate_filter)."""
    if not isinstance(schema, Schema):
        schema = Schema(schema)
    if json_col is not None:
        udf = _make_gate_udf(schema.data, verdict_only=verdict_only, metrics=metrics)
        return udf(F.col(json_col)), False
    try:
        checks = compile_native_checks(schema, df.schema)
        return checks_to_issue_column(checks), True
    except NotNativelyCompilable:
        udf = _make_gate_udf(schema.data, verdict_only=verdict_only, metrics=metrics)
        return udf(F.to_json(F.struct(*[F.col(c) for c in df.columns]))), False


def apply_gate(
    df: DataFrame,
    schema: Schema | dict | bool | str,
    json_col: str | None = None,
    issue_col: str = "issue",
    valid_col: str = "isvalid",
    _verdict_only: bool = False,
    metrics: GateMetrics | None = None,
) -> DataFrame:
    """Annotate every row with its first validation issue (or NULL).
    `metrics` (optional GateMetrics) counts the columnar-screen/dict-walk
    split when the dynamic UDF backend runs; the native typed backend has
    no Python stage and leaves it untouched."""
    issue, used_native = compile_issue_column(
        df, schema, json_col, verdict_only=_verdict_only, metrics=metrics
    )
    if not used_native:
        # UDF returns a struct of NULL fields for valid rows; normalize to a
        # truly-NULL struct so `issue IS NULL` <=> valid (SURVEY §1.2)
        issue = F.when(issue["reason"].isNotNull(), issue).otherwise(
            F.lit(None).cast(ISSUE_TYPE)
        )
    out = df.withColumn(issue_col, issue)
    return out.withColumn(valid_col, F.col(issue_col).isNull())


def gate_filter(
    df: DataFrame,
    schema: Schema | dict | bool | str,
    json_col: str | None = None,
    metrics: GateMetrics | None = None,
    dynamic_native: bool = False,
) -> DataFrame:
    """Keep only valid rows.  Native schemas become plain pushdown-capable
    predicates; residual schemas get a native necessary-condition prefilter
    before the pandas-UDF verdict.

    Dynamic mode (`json_col`) runs the columnar screen by default
    (gate/columnar.py): each Arrow batch is parsed once by pyarrow, and rows
    it proves valid or invalid skip the per-row walk.  Rows pyarrow cannot
    parse together with the rest of their batch — malformed JSON, a value
    whose kind differs from the batch's for a schema key, NaN / Infinity
    literals, duplicate keys — are set aside to the exact walk on their
    own; only a batch whose remainder still fails to parse walks whole.
    Integers beyond 2^53 (even beyond int64) screen under `type`, and send
    their batch to the walk only under keywords that compare magnitudes.

    `dynamic_native=True` opts into the
    zero-Python variant backend (gate/dynamic_native.py) for flat scalar
    object schemas — `try_parse_json` + variant keyword predicates entirely
    in Catalyst, with only variant-refused rows (malformed / duplicate-key
    JSON, >2^53 integers under comparisons) routed to the exact walk UDF.
    It is an OPT-IN, not the default, on measurement: JVM variant parse
    runs ~3 us/row/core vs ~1.5 us/row/core for the pyarrow screen's
    simdjson-class read_json (0.66 s vs 0.43 s on the 100k-row bench
    shape, 32 partitions), so the screen path is CPU-optimal whenever it
    covers the schema; the variant path is the choice when Python workers
    are unwanted (no IPC, no python worker memory, plan composability) and
    is the only dynamic backend that judges absent-vs-null exactly.

    `metrics` caveat under `dynamic_native=True`: the counters are threaded
    only into the refused-row WALK lane (the native lane has no Python
    stage to count), so rows/screen_rate describe the variant-refused
    minority — typically a handful of malformed/huge-integer rows — NOT
    the corpus-wide screen/walk split the default dynamic path reports.
    Read them as "what the residual lane did", or count the native lane
    separately (e.g. a filter-count on the returned frame)."""
    if not isinstance(schema, Schema):
        schema = Schema(schema)
    if json_col is not None and dynamic_native:
        from jsonschema_jl_spark.gate.dynamic_native import (
            gate_filter_native,
            plan_dynamic,
        )

        plan = plan_dynamic(schema.data)
        if plan is not None:
            sch = schema

            def walk_filter(sub_df: DataFrame, walk_col: str) -> DataFrame:
                return gate_filter(
                    sub_df, sch, json_col=walk_col, metrics=metrics,
                    dynamic_native=False,
                )

            return gate_filter_native(df, plan, json_col, walk_filter)
    if json_col is None:
        try:
            checks = compile_native_checks(schema, df.schema)
            cond = None
            for chk in checks:
                c = ~chk.fail  # never NULL (GateCheck invariant) => pushable
                cond = c if cond is None else (cond & c)
            return df if cond is None else df.filter(cond)
        except NotNativelyCompilable:
            pre = necessary_condition(schema, df.schema)
            if pre is not None:
                df = df.filter(pre)
    gated = apply_gate(
        df, schema, json_col=json_col, issue_col="__issue", valid_col="__ok",
        _verdict_only=True,  # issue struct dropped below: the columnar
        metrics=metrics,     # screen may fast-reject certainly-invalid rows
    )
    return gated.filter(F.col("__ok")).drop("__issue", "__ok")
