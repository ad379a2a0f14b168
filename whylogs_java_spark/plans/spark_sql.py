"""Spark-SQL text generator: the one Spark-side definition of the profile.

Every Spark plan that computes profile atoms or finalizes them is built
from the fragments here — the batch profile (``build_atoms_sql``), the
melt path, the windowed streaming profile (``_ColumnSql`` fragments via
``selectExpr``/``F.expr``), ``finalize_select_sql``, and the small numeric
suites of the model/charpos/cube operators (``numeric_projection_sql`` +
``numeric_aggs_sql``). The sketch aggregates (``sketch_aggs_sql``), the
exact top-k (``frequent_items_sql``) and the executor wire sink's input
(``wire_rows_sql``) are defined here too.

Why text instead of Column trees: building the ~400 expressions of a wide
profile through the PySpark Column API costs seconds of py4j round trips
per query (measured 2.4 s for an 11-column profile — comparable to the
whole cluster-side execution at sf0.1). Emitting one SQL statement makes
plan construction a single JVM call; Catalyst sees the identical logical
plan.

The finalizers / type-inference CASE tree / token count are shared with
the DuckDB oracle generator (same SQL in both dialects); only the null
predicate (isinf spelling), tokenizer (split vs str_split) and identifier
quoting differ and are parameterized here.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import types as T

from ..constants import FREQUENT_ITEMS_K, HLL_LGK, KLL_K, STRING_LENGTH_MAX
from ..functions.inference import inferred_type_sql
from ..functions.metrics import ATOM_METRICS, numeric_final_sql
from ..functions.predicates import BOOLEAN_RE, FRACTIONAL_RE, INTEGRAL_RE

INTEGRAL = "integral"
FRACTIONAL = "fractional"
STRING = "string"
BOOLEAN = "boolean"
UNKNOWN = "unknown"


def kind_of(dt: T.DataType) -> str:
    if isinstance(dt, T.BooleanType):
        return BOOLEAN
    if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return INTEGRAL
    if isinstance(dt, (T.DoubleType, T.FloatType, T.DecimalType)):
        return FRACTIONAL
    if isinstance(dt, T.StringType):
        return STRING
    return UNKNOWN


def _q(name: str) -> str:
    return f"`{name}`"


def _token_count_sql(m: str, size_fn: str = "size(split({t}, ' '))") -> str:
    """Token count with Java String.split(" ") semantics
    (StringTracker.java:25): trailing empty tokens drop, '' counts 1,
    all-delimiter strings count 0, inner empties are kept. ``size_fn``
    parameterizes the dialect (Spark size/split vs DuckDB len/str_split).

    BRANCH-FREE on purpose: this expression is inlined into all 8 atom
    projections of the tok suite, and a CASE around it blocks Catalyst
    subexpression elimination (measured 10x on the flagship profile — the
    regexp variant pushed profile_lineitem from 2.3 s to 24 s at sf0.1).
    rtrim handles the trailing-delimiter drop; the subtraction handles the
    all-delimiter -> 0 edge ('' stays 1 because m != '' fails).
    """
    t = f"rtrim({m})"
    sz = size_fn.format(t=t)
    return f"(CAST({sz} AS DOUBLE) - CAST(({t} = '') AND ({m} != '') AS INT))"


def _null_pred(col: str, kind: str, null_strings: Sequence[str]) -> str:
    preds = [f"{col} IS NULL"]
    if kind == FRACTIONAL:
        preds.append(f"isnan({col})")
        preds.append(f"abs({col}) = CAST('Infinity' AS DOUBLE)")
    if kind == STRING and null_strings:
        inlist = ", ".join("'" + s.replace("'", "''") + "'" for s in null_strings)
        preds.append(f"{col} IN ({inlist})")
    return " OR ".join(preds)


# Magnitude-tiered exact summation
# --------------------------------
# Goal: Σx and Σx² that are (a) order/partitioning-independent — so results
# are bit-reproducible across engines and runs — and (b) never silently
# wrong at scale (a naive Σ floor(x²) AS BIGINT wraps for |x|~1e6 columns
# in the hundreds of millions of rows, and errors outright for id/epoch
# magnitudes).
#
# Per value, chosen by the VALUE (not data order, so determinism holds):
# - |x| < 2^31 ("small"): exact integer path.
#   Σx:  floor(x) as LONG (|term| < 2^31 -> safe to ~4.3e9 rows/group) +
#        1e-6-quantized fraction as LONG (safe to ~9.2e12 rows/group).
#   Σx²: p = floor(x²) < 2^62 splits base-2^31 into (p DIV 2^31, p MOD
#        2^31) — two LONG sums, each term < 2^31, safe to ~4.3e9
#        rows/group — plus the quantized fraction.
# - |x| >= 2^31 ("big": ids, epoch-nanos...): accumulate x and x² in
#   DOUBLE sums. These are order-dependent in the last ulp, but such
#   magnitudes exceed exact double range anyway; columns without big
#   values keep full determinism.
#
# Variance tier (r12): the raw-moment formula (Σx² − (Σx)²/n)/(n−1) over
# the double sum2_big accumulator cancels ~log10(x²/var) digits once the
# big tier engages — at epoch-millis magnitude only ~4 digits survive,
# and epoch-nanos variance collapses to pure noise. The reference is
# precision-correct at any magnitude (Welford update + Chan merge,
# core/.../VarianceTracker.java:21-69). We therefore also carry an
# ``_m2`` atom — the central second moment Σ(x−μ)², computed by the
# engine's NATIVE stable variance aggregate (Spark/DuckDB var_samp, both
# Welford/Chan-based) — and finalize variance from m2 WHENEVER the big
# tier engaged (sum2_big ≠ 0, see metrics.numeric_final_sql). Small-tier
# groups keep the exact-integer raw-moment path, bit-reproducible across
# engines; big-tier variance is order-dependent in the last ulp
# (documented deviation — such columns already have order-dependent
# double sums).
#
# All accumulators are LONG/DOUBLE -> whole-stage codegen (~10x faster
# than DECIMAL(38,_) aggregation, measured on the sf0.1 flagship).


def numeric_projection_sql(d: str, prefix: str) -> list[str]:
    """Row-level pieces of one numeric suite over the DOUBLE expression
    ``d`` (already null-masked), aggregated by ``numeric_aggs_sql``.

    Branch-minimized: the value is CLAMPED to 0 outside the small range
    (``dc``), so floor/shift run unguarded (overflow-safe) and Catalyst's
    subexpression elimination shares them across the output columns — a
    CASE around each piece (as in the DuckDB-only metrics.numeric_atom_sql)
    would block CSE and re-evaluate d² per column (measured 4x slower).
    Big values contribute 0 through the integer path and flow through the
    two ``big`` doubles. NULL values yield NULL pieces (skipped by SUM).
    The quantized fractions use floor(y+0.5): identical to ROUND half-up
    for y >= 0 but pure double arithmetic (Spark's Round on doubles goes
    through BigDecimal — measured 8x slower per row); p >= 0, so
    shiftright/bitand give exact (p DIV 2^31, p MOD 2^31).
    """
    small = f"ABS({d}) < 2147483648.0"
    dc = f"(CASE WHEN {small} THEN {d} ELSE 0.0 END)"
    dc2 = f"({dc} * {dc})"
    p = f"CAST(FLOOR({dc2}) AS BIGINT)"
    return [
        f"{d} AS {prefix}_v",
        f"FLOOR({dc}) AS {prefix}_hi",
        f"FLOOR(({dc} - FLOOR({dc})) * 1000000.0 + 0.5) AS {prefix}_lo",
        f"CASE WHEN {small} THEN 0.0 ELSE {d} END AS {prefix}_big",
        f"SHIFTRIGHT({p}, 31) AS {prefix}_a31",
        f"({p} & 2147483647) AS {prefix}_b31",
        f"FLOOR(({dc2} - {p}) * 1000000.0 + 0.5) AS {prefix}_lo2",
        f"CASE WHEN {small} THEN 0.0 ELSE {d} * {d} END AS {prefix}_big2",
    ]


def numeric_aggs_sql(in_prefix: str, out_prefix: str) -> list[str]:
    """Aggregates of the ``numeric_projection_sql`` pieces named
    ``in_prefix``: the atom suite ``{out_prefix}_n .. {out_prefix}_m2``
    that metrics.numeric_final_sql finalizes."""
    v = f"{in_prefix}_v"
    return [
        f"COUNT({v}) AS {out_prefix}_n",
        f"MIN({v}) AS {out_prefix}_min",
        f"MAX({v}) AS {out_prefix}_max",
        f"SUM({in_prefix}_hi) AS {out_prefix}_sum_hi",
        f"SUM({in_prefix}_lo) AS {out_prefix}_sum_lo",
        f"SUM({in_prefix}_big) AS {out_prefix}_sum_big",
        f"SUM({in_prefix}_a31) AS {out_prefix}_sum2_a",
        f"SUM({in_prefix}_b31) AS {out_prefix}_sum2_b",
        f"SUM({in_prefix}_lo2) AS {out_prefix}_sum2_lo",
        f"SUM({in_prefix}_big2) AS {out_prefix}_sum2_big",
        # stable central moment for the big-magnitude variance tier
        # (variance-tier note above); n<=1 -> 0.0
        f"COALESCE(VAR_SAMP({v}) * (COUNT({v}) - 1), 0.0) AS {out_prefix}_m2",
    ]


def _null_num_aggs(prefix: str) -> list[str]:
    return [
        f"CAST(0 AS BIGINT) AS {prefix}_n",
        f"CAST(NULL AS DOUBLE) AS {prefix}_min",
        f"CAST(NULL AS DOUBLE) AS {prefix}_max",
        f"CAST(NULL AS BIGINT) AS {prefix}_sum_hi",
        f"CAST(NULL AS BIGINT) AS {prefix}_sum_lo",
        f"CAST(NULL AS DOUBLE) AS {prefix}_sum_big",
        f"CAST(NULL AS BIGINT) AS {prefix}_sum2_a",
        f"CAST(NULL AS BIGINT) AS {prefix}_sum2_b",
        f"CAST(NULL AS BIGINT) AS {prefix}_sum2_lo",
        f"CAST(NULL AS DOUBLE) AS {prefix}_sum2_big",
        f"CAST(NULL AS DOUBLE) AS {prefix}_m2",
    ]


class _ColumnSql:
    """Per-column SQL fragments (projection, aggregation, struct fields).

    Mirrors ColumnProfile.track's per-type dispatch
    (core/.../ColumnProfile.java:76-117): counters always update; numeric
    values feed the NumberTracker suite; strings feed the StringTracker
    (length + token-count suites); booleans feed trueCount. Because Spark
    columns are statically typed, the per-value type dispatch collapses to a
    per-column choice of which suites are non-trivial — the same
    simplification the reference's Spark layer gets from typed Datasets.
    """

    def __init__(
        self,
        name: str,
        dt: T.DataType,
        null_strings: Sequence[str],
        coerce_strings: bool,
    ) -> None:
        self.name = name
        self.kind = kind_of(dt)
        self.null_strings = null_strings
        self.coerce = coerce_strings and self.kind == STRING

    # -- projection -------------------------------------------------------
    #
    # TWO layers on purpose. Layer 1 (raw_projection) computes each
    # suite's per-row VALUE (mask, length, token count, coercion parse)
    # exactly once; layer 2 (piece_projection) derives the 8 atom pieces
    # from those plain attributes. Inlining the value into the pieces
    # re-evaluates it up to ~12x per row — CASE-wrapped pieces block
    # Catalyst subexpression elimination (measured 2-10x on the flagship
    # profile depending on how heavy the value expression is). Catalyst
    # keeps the layers apart because CollapseProject refuses to duplicate
    # non-cheap aliases referenced more than once.

    def raw_projection(self) -> list[str]:
        c = _q(self.name)
        k = self.kind
        p = self.name
        np = _null_pred(c, k, self.null_strings)
        m = f"CASE WHEN NOT ({np}) THEN {c} END"
        out = [f"CAST(({np}) AS INT) AS {p}__isnull"]
        if k == BOOLEAN:
            out.append(f"CAST(({m}) = TRUE AS INT) AS {p}__true")
        if k in (INTEGRAL, FRACTIONAL):
            out.append(f"CAST({m} AS DOUBLE) AS {p}__numv")
        if k == STRING:
            if self.coerce:
                # TypedDataConverter.java:62-84: coerced values feed the
                # tracker of their coerced type — parsed numerics into the
                # numeric suite, 'true' into trueCount; only unmatched
                # values reach the length/token suites.
                # Spark SQL string literals process backslash escapes:
                # regexes must double them to survive parsing
                i_re, f_re, b_re = (
                    r.replace("\\", "\\\\")
                    for r in (INTEGRAL_RE, FRACTIONAL_RE, BOOLEAN_RE)
                )
                i_p = f"(({m}) RLIKE '{i_re}')"
                f_p = f"(({m}) RLIKE '{f_re}')"
                b_p = f"(({m}) RLIKE '{b_re}')"
                cleaned = (
                    f"regexp_replace(regexp_replace({m}, '^[+] ', '+'), '^[-] ', '-')"
                )
                num_m = f"CASE WHEN {i_p} OR {f_p} THEN CAST({cleaned} AS DOUBLE) END"
                str_m = (
                    f"CASE WHEN NOT COALESCE({i_p} OR {f_p} OR {b_p}, FALSE) "
                    f"THEN {m} END"
                )
                out.append(f"{num_m} AS {p}__numv")
                out.append(f"CAST(LOWER({m}) = 'true' AS INT) AS {p}__true")
                out.append(f"CAST(LENGTH({str_m}) AS DOUBLE) AS {p}__lenv")
                out.append(
                    f"{_token_count_sql(f'({str_m})')} AS {p}__tokv"
                )
                out += [
                    f"CAST({i_p} AS INT) AS {p}__is_int",
                    f"CAST({f_p} AS INT) AS {p}__is_frac",
                    f"CAST({b_p} AS INT) AS {p}__is_bool",
                ]
            else:
                out.append(f"CAST(LENGTH({m}) AS DOUBLE) AS {p}__lenv")
                out.append(f"{_token_count_sql(f'({m})')} AS {p}__tokv")
        return out

    def piece_projection(self) -> list[str]:
        k = self.kind
        p = self.name
        out = [f"{p}__isnull"]
        if k == BOOLEAN or self.coerce:
            out.append(f"{p}__true")
        if k in (INTEGRAL, FRACTIONAL) or self.coerce:
            out += numeric_projection_sql(f"{p}__numv", f"{p}__num")
        if k == STRING:
            out += numeric_projection_sql(f"{p}__lenv", f"{p}__len")
            out += numeric_projection_sql(f"{p}__tokv", f"{p}__tok")
            if self.coerce:
                out += [f"{p}__is_int", f"{p}__is_frac", f"{p}__is_bool"]
        return out

    # -- aggregation ------------------------------------------------------
    def aggs(self) -> list[str]:
        p = self.name
        k = self.kind
        cnt = "COUNT(1)"
        nullc = f"SUM({p}__isnull)"
        nn = f"CAST({cnt} - {nullc} AS BIGINT)"
        zero = "CAST(0 AS BIGINT)"

        out = [
            f"CAST({cnt} AS BIGINT) AS {p}_count",
            f"CAST({nullc} AS BIGINT) AS {p}_null_count",
            (
                f"CAST(SUM({p}__true) AS BIGINT) AS {p}_true_count"
                if k == BOOLEAN or self.coerce
                else f"{zero} AS {p}_true_count"
            ),
        ]
        tc = dict.fromkeys(
            ("integral", "fractional", "boolean", "string", "unknown"), zero
        )
        if self.coerce:
            tc["integral"] = f"CAST(SUM({p}__is_int) AS BIGINT)"
            tc["fractional"] = f"CAST(SUM({p}__is_frac) AS BIGINT)"
            tc["boolean"] = f"CAST(SUM({p}__is_bool) AS BIGINT)"
            tc["string"] = (
                f"CAST({cnt} - {nullc} - SUM({p}__is_int) - SUM({p}__is_frac)"
                f" - SUM({p}__is_bool) AS BIGINT)"
            )
        elif k in tc:
            tc[k] = nn
        for key in ("integral", "fractional", "boolean", "string", "unknown"):
            out.append(f"{tc[key]} AS {p}_{key}_count")

        if k in (INTEGRAL, FRACTIONAL) or self.coerce:
            out += numeric_aggs_sql(f"{p}__num", f"{p}_num")
        else:
            out += _null_num_aggs(f"{p}_num")
        if k == STRING:
            out += numeric_aggs_sql(f"{p}__len", f"{p}_len")
            out += numeric_aggs_sql(f"{p}__tok", f"{p}_tok")
        else:
            out += _null_num_aggs(f"{p}_len")
            out += _null_num_aggs(f"{p}_tok")
        return out

    # -- long-format struct ----------------------------------------------
    def struct_sql(self) -> str:
        fields = [f"'column_name', '{self.name}'"]
        for fname, _ in ATOM_METRICS:
            fields.append(f"'{fname}', {self.name}_{fname}")
        return f"named_struct({', '.join(fields)})"


_DATE_GRAINS = {"day", "week", "month", "quarter", "year"}


def build_atoms_sql(
    view: str,
    schema: dict[str, T.DataType],
    group_by: Sequence[str] = (),
    time_column: str | None = None,
    time_granularity: str | None = "day",
    columns: Sequence[str] | None = None,
    null_strings: Sequence[str] = (),
    coerce_strings: bool = False,
) -> tuple[str, list[str]]:
    """One Spark-SQL statement producing long-format profile atoms.

    Returns (sql, key_names). Shape:
    projection -> wide hash-agg -> inline(array(named_struct...)) explode.
    """
    key_exprs = [f"{_q(c)}" for c in group_by]
    key_names = list(group_by)
    if time_column is not None:
        grain = time_granularity or "day"
        b = f"date_trunc('{grain}', {_q(time_column)})"
        if grain in _DATE_GRAINS:
            b = f"CAST({b} AS DATE)"
        key_exprs.append(f"{b} AS dataset_timestamp")
        key_names.append("dataset_timestamp")

    excluded = set(group_by) | ({time_column} if time_column else set())
    profiled = [c for c in (columns or schema) if c not in excluded]
    if not profiled:
        raise ValueError(
            "no columns to profile (all columns are group/time keys or the "
            "columns list is empty)"
        )
    specs = [
        _ColumnSql(c, schema[c], null_strings, coerce_strings) for c in profiled
    ]

    keys_sel = (", ".join(_q(k) for k in key_names) + ",") if key_names else ""
    raw = ",\n      ".join(key_exprs + [e for s in specs for e in s.raw_projection()])
    pieces = ",\n      ".join(
        ([_q(k) for k in key_names] if key_names else [])
        + [e for s in specs for e in s.piece_projection()]
    )
    aggs = ",\n      ".join(e for s in specs for e in s.aggs())
    structs = ",\n        ".join(s.struct_sql() for s in specs)
    group_clause = (
        "GROUP BY " + ", ".join(_q(k) for k in key_names) if key_names else ""
    )
    sql = f"""
    SELECT {keys_sel} inline(array(
        {structs}
    ))
    FROM (
      SELECT {keys_sel} {aggs}
      FROM (
        SELECT {pieces}
        FROM (SELECT {raw} FROM {view}) __wjs_raw
      ) __wjs_proj
      {group_clause}
    ) __wjs_agg
    """
    return sql, key_names


def build_melted_atoms_sql(
    view: str,
    schema: dict[str, T.DataType],
    group_by: Sequence[str] = (),
    time_column: str | None = None,
    time_granularity: str | None = "day",
    columns: Sequence[str] | None = None,
    null_strings: Sequence[str] = (),
) -> tuple[str, list[str]]:
    """Melt-path profile atoms for very wide tables (1000s of columns).

    The wide path's plan/codegen size grows with column count (~30
    aggregates per column); past a few thousand columns analyzer and
    codegen costs dominate — the reason the reference batches 100 columns
    per pass (WhyLogs.scala:146-176). Spark-first alternative: melt each
    row into (keys, column_name, kind, value) entries via one
    ``inline(array(...))`` generate, then run ONE generic metric suite
    grouped by (keys, column_name). Plan size is O(1) in width (the melt
    array is data, not operators); the shuffle carries rows x columns
    entries reduced by map-side partial aggregation to
    groups x columns atom rows.

    Output schema == the wide path's atom schema, so finalize/merge are
    shared. String coercion is not supported on this path.
    """
    key_exprs = [f"{_q(c)}" for c in group_by]
    key_names = list(group_by)
    if time_column is not None:
        grain = time_granularity or "day"
        b = f"date_trunc('{grain}', {_q(time_column)})"
        if grain in _DATE_GRAINS:
            b = f"CAST({b} AS DATE)"
        key_exprs.append(f"{b} AS dataset_timestamp")
        key_names.append("dataset_timestamp")

    excluded = set(group_by) | ({time_column} if time_column else set())
    profiled = [c for c in (columns or schema) if c not in excluded]

    entries = []
    for c in profiled:
        kind = kind_of(schema[c])
        qc = _q(c)
        np = _null_pred(qc, kind, null_strings)
        m = f"CASE WHEN NOT ({np}) THEN {qc} END"
        num_v = f"CAST({m} AS DOUBLE)" if kind in (INTEGRAL, FRACTIONAL) else "CAST(NULL AS DOUBLE)"
        str_v = m if kind == STRING else "CAST(NULL AS STRING)"
        is_true = (
            f"CAST(({m}) = TRUE AS INT)" if kind == BOOLEAN else "CAST(0 AS INT)"
        )
        entries.append(
            f"named_struct('column_name', '{c}', 'kind', '{kind}', "
            f"'isnull', CAST(({np}) AS INT), 'num_v', {num_v}, "
            f"'str_v', {str_v}, 'is_true', {is_true})"
        )

    keys_sel = (", ".join(_q(k) for k in key_names) + ",") if key_names else ""
    melt = f"""SELECT {keys_sel} inline(array(
        {", ".join(entries)}
    )) FROM {view}"""

    # generic per-entry suite projection (shared across all columns)
    proj_pieces = (
        numeric_projection_sql("num_v", "gnum")
        + numeric_projection_sql("CAST(LENGTH(str_v) AS DOUBLE)", "glen")
        + numeric_projection_sql(_token_count_sql("str_v"), "gtok")
    )
    keysel2 = (", ".join(_q(k) for k in key_names) + ",") if key_names else ""
    proj = f"""SELECT {keysel2} column_name, kind, isnull, is_true,
        {", ".join(proj_pieces)}
    FROM ({melt}) __wjs_melt"""

    def kind_count(k: str) -> str:
        return (
            f"CAST(SUM(CASE WHEN kind = '{k}' AND isnull = 0 THEN 1 ELSE 0 END) AS BIGINT)"
        )

    aggs = [
        "CAST(COUNT(1) AS BIGINT) AS `count`",
        "CAST(SUM(isnull) AS BIGINT) AS null_count",
        "CAST(SUM(is_true) AS BIGINT) AS true_count",
        f"{kind_count('integral')} AS integral_count",
        f"{kind_count('fractional')} AS fractional_count",
        f"{kind_count('boolean')} AS boolean_count",
        f"{kind_count('string')} AS string_count",
        f"{kind_count('unknown')} AS unknown_count",
    ]
    aggs += numeric_aggs_sql("gnum", "num")
    aggs += numeric_aggs_sql("glen", "len")
    aggs += numeric_aggs_sql("gtok", "tok")

    group_clause = "GROUP BY " + ", ".join(
        [_q(k) for k in key_names] + ["column_name"]
    )
    sql = f"""
    SELECT {keysel2} column_name, {", ".join(aggs)}
    FROM ({proj}) __wjs_mproj
    {group_clause}
    """
    return sql, key_names


def finalize_select_sql(key_names: Sequence[str]) -> str:
    """SELECT-list turning atom rows into the finalized summary (shared
    finalizer/type-inference SQL — identical text to the DuckDB oracle)."""
    itype = inferred_type_sql(
        "null_count", "fractional_count", "integral_count",
        "boolean_count", "string_count", "unknown_count",
    )
    keys = "".join(f"{_q(k)}, " for k in key_names)
    return (
        f"SELECT {keys}column_name, `count`, null_count, true_count, "
        f"integral_count, fractional_count, boolean_count, string_count, "
        f"unknown_count, {itype} AS inferred_type, "
        f"{numeric_final_sql('num', '')}, "
        f"{numeric_final_sql('len', 'len_')}, "
        f"{numeric_final_sql('tok', 'tok_')}"
    )


# Sketch tier and exact top-k
# ---------------------------
# The DataSketches aggregates and the frequent-items ranking are defined
# here once: ``approx.sketch_aggs`` wraps ``sketch_aggs_sql`` in F.expr,
# the driver wire sink collects ``frequent_items_sql``, and the executor
# wire sink inlines both into ``wire_rows_sql``.

_SKETCHED = ("double", "float", "long", "integer", "short", "byte")
_ITEM_TYPES = (T.NumericType, T.BooleanType, T.StringType)


def _masked_sql(c: str, dt: T.DataType, null_strings: Sequence[str] = ()) -> str:
    return f"CASE WHEN NOT ({_null_pred(c, kind_of(dt), null_strings)}) THEN {c} END"


def _text_sql(e: str) -> str:
    """String form capped at 256 chars (ColumnProfile.java:132-138)."""
    return f"substring(CAST({e} AS STRING), 1, {STRING_LENGTH_MAX})"


def sketch_aggs_sql(name: str, dt: T.DataType) -> list[str]:
    """Mergeable sketch aggregates of one column, aliased ``{name}__kll``
    / ``__theta`` / ``__hll``: numeric columns get KLL(256) quantiles and
    theta distincts over the null-masked value; every column gets
    HLL(lgK=12) over its 256-char string form (ColumnProfile.trackText).

    Kept out of the atom aggregate on purpose: a typed-imperative sketch
    aggregate turns the codegen'd HashAggregate into an
    ObjectHashAggregate."""
    c = _q(name)
    out = []
    if dt.typeName() in _SKETCHED:
        m = _masked_sql(c, dt)
        out.append(f"kll_sketch_agg_float(CAST({m} AS FLOAT), {KLL_K}) AS {_q(name + '__kll')}")
        out.append(f"theta_sketch_agg(CAST({m} AS DOUBLE)) AS {_q(name + '__theta')}")
    out.append(f"hll_sketch_agg({_text_sql(c)}, {HLL_LGK}) AS {_q(name + '__hll')}")
    return out


def frequent_items_sql(
    view: str,
    schema: dict[str, T.DataType],
    keys: Sequence[str],
    null_strings: Sequence[str],
    k: int,
) -> str | None:
    """Exact top-``k`` (keys, column_name, value, cnt) rows over the
    256-char string forms of every non-null numeric/boolean/string value
    (ColumnProfile.trackText), ranked by count desc then value. One pass:
    tracked columns melt to (keys, column_name, value), count, and rank
    within (keys, column_name) — so no window partition holds more than
    one column's distinct values per group. None when no column is
    tracked."""
    cols = [c for c, dt in schema.items() if c not in keys and isinstance(dt, _ITEM_TYPES)]
    if not cols:
        return None
    keys_sel = "".join(f"{_q(key)}, " for key in keys)
    entries = ", ".join(
        f"named_struct('column_name', '{c}', "
        f"'value', {_text_sql(_masked_sql(_q(c), schema[c], null_strings))})"
        for c in cols
    )
    part = ", ".join([_q(key) for key in keys] + ["column_name"])
    return f"""
    SELECT {keys_sel}column_name, value, cnt FROM (
      SELECT *, row_number() OVER (PARTITION BY {part} ORDER BY cnt DESC, value ASC) AS __wjs_r
      FROM (
        SELECT {keys_sel}column_name, value, COUNT(1) AS cnt
        FROM (SELECT {keys_sel}inline(array({entries})) FROM {view}) __wjs_melt
        WHERE value IS NOT NULL
        GROUP BY {part}, value
      ) __wjs_counts
    ) __wjs_ranked
    WHERE __wjs_r <= {k}
    """


def wire_rows_sql(
    view: str,
    schema: dict[str, T.DataType],
    keys: Sequence[str],
    null_strings: Sequence[str] = (),
    include_sketches: bool = True,
    frequent_items_k: int = FREQUENT_ITEMS_K,
) -> str:
    """One statement holding everything a group's wire message needs: the
    finalized profile rows (``build_atoms_sql`` + ``finalize_select_sql``)
    left-joined on (keys, column_name) with the column's sketch binaries
    (``__kll``/``__theta``/``__hll``, from their own GROUP BY keys) and
    its exact top-k (``__fi``, array of (value, cnt)). Skipped parts are
    typed NULL columns. The joins are null-safe (``<=>``) so a NULL group
    key keeps its sketches, and the statement ends in DISTRIBUTE BY / SORT
    BY keys: every group's rows are adjacent in one partition whatever
    join strategy the planner picks."""
    atoms, _ = build_atoms_sql(view, schema, keys, null_strings=null_strings)
    keys_sel = "".join(f"{_q(key)}, " for key in keys)
    by = ", ".join(_q(key) for key in keys)
    ctes = [f"__wjs_fin AS ({finalize_select_sql(keys)} FROM ({atoms}) __wjs_atoms)"]
    parts = ["__wjs_fin.*"]
    joins = []

    def join(cte: str) -> str:
        on = [f"__wjs_fin.{_q(key)} <=> {cte}.{_q(key)}" for key in keys]
        on.append(f"__wjs_fin.column_name = {cte}.column_name")
        return f"LEFT JOIN {cte} ON {' AND '.join(on)}"

    if include_sketches:
        cols = [c for c in schema if c not in keys]
        aggs = ", ".join(e for c in cols for e in sketch_aggs_sql(c, schema[c]))

        def blob(c: str, kind: str) -> str:
            if kind == "hll" or schema[c].typeName() in _SKETCHED:
                return _q(f"{c}__{kind}")
            return "CAST(NULL AS BINARY)"

        entries = ", ".join(
            f"named_struct('column_name', '{c}', 'kll', {blob(c, 'kll')}, "
            f"'theta', {blob(c, 'theta')}, 'hll', {blob(c, 'hll')})"
            for c in cols
        )
        ctes.append(
            f"__wjs_sk AS (SELECT {keys_sel}inline(array({entries})) FROM "
            f"(SELECT {keys_sel}{aggs} FROM {view} GROUP BY {by}) __wjs_skw)"
        )
        parts += ["__wjs_sk.kll AS __kll", "__wjs_sk.theta AS __theta", "__wjs_sk.hll AS __hll"]
        joins.append(join("__wjs_sk"))
    else:
        parts += [f"CAST(NULL AS BINARY) AS __{kind}" for kind in ("kll", "theta", "hll")]

    top = (
        frequent_items_sql(view, schema, keys, null_strings, frequent_items_k)
        if frequent_items_k
        else None
    )
    if top is not None:
        ctes.append(
            f"__wjs_fi AS (SELECT {keys_sel}column_name, "
            f"collect_list(named_struct('value', value, 'cnt', cnt)) AS fi "
            f"FROM ({top}) __wjs_top GROUP BY {keys_sel}column_name)"
        )
        parts.append("__wjs_fi.fi AS __fi")
        joins.append(join("__wjs_fi"))
    else:
        parts.append("CAST(NULL AS ARRAY<STRUCT<value: STRING, cnt: BIGINT>>) AS __fi")

    return (
        f"WITH {', '.join(ctes)} SELECT * FROM ("
        f"SELECT {', '.join(parts)} FROM __wjs_fin {' '.join(joins)}"
        f") __wjs_rows DISTRIBUTE BY {by} SORT BY {by}"
    )


__all__ = [
    "build_atoms_sql",
    "finalize_select_sql",
    "frequent_items_sql",
    "kind_of",
    "numeric_aggs_sql",
    "numeric_projection_sql",
    "sketch_aggs_sql",
    "wire_rows_sql",
]
