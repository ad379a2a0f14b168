"""ANSI-SQL (DuckDB) oracle generators mirroring the Spark operators.

Every profile query in ``__spark_entry__.py`` pairs with SQL generated here
so the two sides stay structurally in sync: the SQL builds the same atoms
(COUNT / MIN / MAX / exact hi-lo long sums) and applies the same
finalizers (``numeric_final_sql``) and the same type-inference CASE tree
(``inferred_type_sql``) the Spark plan uses.
"""

from __future__ import annotations

from collections.abc import Sequence

from ..functions.inference import inferred_type_sql
from ..functions.metrics import numeric_final_sql

# simplified column kinds for SQL generation
INTEGRAL = "integral"
FRACTIONAL = "fractional"
STRING = "string"
BOOLEAN = "boolean"
UNKNOWN = "unknown"  # timestamps & anything untracked (TypedData.java:54-57)

# Static schemas of the driver's testdata tables (TESTDATA.md), as kinds.
TESTDATA_KINDS: dict[str, dict[str, str]] = {
    "lineitem": {
        "l_orderkey": INTEGRAL, "l_partkey": INTEGRAL, "l_suppkey": INTEGRAL,
        "l_linenumber": INTEGRAL, "l_quantity": FRACTIONAL,
        "l_extendedprice": FRACTIONAL, "l_discount": FRACTIONAL,
        "l_tax": FRACTIONAL, "l_returnflag": STRING, "l_linestatus": STRING,
        "l_shipdate": UNKNOWN,
    },
    "orders": {
        "o_orderkey": INTEGRAL, "o_custkey": INTEGRAL, "o_orderstatus": STRING,
        "o_totalprice": FRACTIONAL, "o_orderdate": UNKNOWN,
        "o_orderpriority": STRING,
    },
    "customer": {
        "c_custkey": INTEGRAL, "c_name": STRING, "c_nationkey": INTEGRAL,
        "c_acctbal": FRACTIONAL, "c_mktsegment": STRING,
    },
    "events": {
        "event_id": INTEGRAL, "ts": UNKNOWN, "user_id": INTEGRAL,
        "event_type": STRING, "value": FRACTIONAL, "props": STRING,
    },
    "documents": {
        "doc_id": INTEGRAL, "text": STRING, "lang": STRING,
        "source": STRING, "n_chars": INTEGRAL,
    },
    "part": {
        "p_partkey": INTEGRAL, "p_name": STRING, "p_brand": STRING,
        "p_type": STRING, "p_size": INTEGRAL, "p_retailprice": FRACTIONAL,
    },
    "supplier": {
        "s_suppkey": INTEGRAL, "s_name": STRING, "s_nationkey": INTEGRAL,
        "s_acctbal": FRACTIONAL,
    },
    "nation": {"n_nationkey": INTEGRAL, "n_name": STRING, "n_regionkey": INTEGRAL},
    "region": {"r_regionkey": INTEGRAL, "r_name": STRING},
}


def _null_pred(col: str, kind: str, null_strings: Sequence[str]) -> str:
    preds = [f"{col} IS NULL"]
    if kind == FRACTIONAL:
        preds.append(f"isnan({col})")
        preds.append(f"isinf({col})")
    if kind == STRING and null_strings:
        inlist = ", ".join("'" + s.replace("'", "''") + "'" for s in null_strings)
        preds.append(f"{col} IN ({inlist})")
    return " OR ".join(preds)


def _masked(col: str, kind: str, null_strings: Sequence[str]) -> str:
    return f"CASE WHEN NOT ({_null_pred(col, kind, null_strings)}) THEN {col} END"


def _token_count_sql(m: str) -> str:
    """Java String.split(" ")-semantics token count (StringTracker.java:25),
    DuckDB dialect — mirrors plans.spark_sql._token_count_sql."""
    from .spark_sql import _token_count_sql as _spark_tok

    return _spark_tok(m, "len(str_split({t}, ' '))")


def _num_atoms(val: str, prefix: str) -> str:
    from ..functions.metrics import numeric_atom_sql

    return numeric_atom_sql(val, prefix)


def _null_atoms(prefix: str) -> str:
    return (
        f"CAST(0 AS BIGINT) AS {prefix}_n, "
        f"CAST(NULL AS DOUBLE) AS {prefix}_min, CAST(NULL AS DOUBLE) AS {prefix}_max, "
        f"CAST(NULL AS BIGINT) AS {prefix}_sum_hi, CAST(NULL AS BIGINT) AS {prefix}_sum_lo, "
        f"CAST(NULL AS DOUBLE) AS {prefix}_sum_big, "
        f"CAST(NULL AS BIGINT) AS {prefix}_sum2_a, CAST(NULL AS BIGINT) AS {prefix}_sum2_b, "
        f"CAST(NULL AS BIGINT) AS {prefix}_sum2_lo, CAST(NULL AS DOUBLE) AS {prefix}_sum2_big, "
        f"CAST(NULL AS DOUBLE) AS {prefix}_m2"
    )


def _branch(
    table: str,
    col: str,
    kind: str,
    group_cols: Sequence[str],
    time_column: str | None,
    time_granularity: str | None,
    null_strings: Sequence[str],
    coerce_strings: bool = False,
) -> str:
    np = _null_pred(col, kind, null_strings)
    m = _masked(col, kind, null_strings)
    nn = f"COUNT({m})"

    true_count = (
        f"SUM(CASE WHEN {m} = TRUE THEN 1 ELSE 0 END)" if kind == BOOLEAN else "0"
    )
    tc = {k: "CAST(0 AS BIGINT)" for k in ("integral", "fractional", "boolean", "string", "unknown")}
    coerced = kind == STRING and coerce_strings
    if coerced:
        # TypedDataConverter.java:62-84 regex coercion (anchored patterns,
        # so partial-match regexp_matches ≡ full match)
        from ..functions.predicates import BOOLEAN_RE, FRACTIONAL_RE, INTEGRAL_RE

        def re_pred(pattern: str) -> str:
            esc = pattern.replace("'", "''")
            return f"regexp_matches({m}, '{esc}')"

        def cnt_re(pattern: str) -> str:
            return f"CAST(SUM(CASE WHEN {re_pred(pattern)} THEN 1 ELSE 0 END) AS BIGINT)"

        tc["integral"] = cnt_re(INTEGRAL_RE)
        tc["fractional"] = cnt_re(FRACTIONAL_RE)
        tc["boolean"] = cnt_re(BOOLEAN_RE)
        tc["string"] = (
            f"CAST({nn} - {cnt_re(INTEGRAL_RE)} - {cnt_re(FRACTIONAL_RE)}"
            f" - {cnt_re(BOOLEAN_RE)} AS BIGINT)"
        )
    elif kind in tc:
        tc[kind] = f"CAST({nn} AS BIGINT)"

    if coerced:
        # coerced values feed the tracker of their coerced type: parsed
        # numerics -> numeric suite, 'true' -> trueCount; only unmatched
        # values reach the length/token suites
        i_p, f_p, b_p = re_pred(INTEGRAL_RE), re_pred(FRACTIONAL_RE), re_pred(BOOLEAN_RE)
        cleaned = f"regexp_replace(regexp_replace({m}, '^[+] ', '+'), '^[-] ', '-')"
        num_m = f"(CASE WHEN {i_p} OR {f_p} THEN CAST({cleaned} AS DOUBLE) END)"
        str_m = f"(CASE WHEN NOT COALESCE({i_p} OR {f_p} OR {b_p}, FALSE) THEN {m} END)"
        true_count = f"SUM(CASE WHEN LOWER({m}) = 'true' THEN 1 ELSE 0 END)"
        num = _num_atoms(num_m, "num")
        ln = _num_atoms(f"LENGTH({str_m})", "len")
        tok = _num_atoms(_token_count_sql(str_m), "tok")
    elif kind in (INTEGRAL, FRACTIONAL):
        num = _num_atoms(m, "num")
        ln, tok = _null_atoms("len"), _null_atoms("tok")
    elif kind == STRING:
        num = _null_atoms("num")
        ln = _num_atoms(f"LENGTH({m})", "len")
        tok = _num_atoms(_token_count_sql(f"({m})"), "tok")
    else:
        num = _null_atoms("num")
        ln, tok = _null_atoms("len"), _null_atoms("tok")

    keys = list(group_cols)
    key_select = list(group_cols)
    if time_column is not None:
        grain = time_granularity or "day"
        b = f"date_trunc('{grain}', {time_column})"
        if grain in {"day", "week", "month", "quarter", "year"}:
            # match the Spark plan (spark_sql._DATE_GRAINS): date-grain
            # buckets are DATE, not midnight TIMESTAMP
            b = f"CAST({b} AS DATE)"
        key_select.append(f"{b} AS dataset_timestamp")
        keys.append("dataset_timestamp")

    inner_keys = (", ".join(key_select) + ", ") if key_select else ""
    group_by = ("GROUP BY " + ", ".join(str(i + 1) for i in range(len(key_select)))) if key_select else ""

    inner = f"""SELECT {inner_keys}'{col}' AS column_name,
      CAST(COUNT(*) AS BIGINT) AS "count",
      CAST(SUM(CASE WHEN {np} THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
      CAST({true_count} AS BIGINT) AS true_count,
      {tc['integral']} AS integral_count, {tc['fractional']} AS fractional_count,
      {tc['boolean']} AS boolean_count, {tc['string']} AS string_count,
      {tc['unknown']} AS unknown_count,
      {num}, {ln}, {tok}
    FROM {table} {group_by}"""

    outer_keys = (", ".join(keys) + ", ") if keys else ""
    itype = inferred_type_sql(
        "null_count", "fractional_count", "integral_count",
        "boolean_count", "string_count", "unknown_count",
    )
    return f"""SELECT {outer_keys}column_name, "count", null_count, true_count,
      integral_count, fractional_count, boolean_count, string_count, unknown_count,
      {itype} AS inferred_type,
      {numeric_final_sql('num', '')},
      {numeric_final_sql('len', 'len_')},
      {numeric_final_sql('tok', 'tok_')}
    FROM ({inner}) atoms_{col}"""


def profile_oracle_sql(
    table: str,
    group_by: Sequence[str] = (),
    time_column: str | None = None,
    time_granularity: str | None = "day",
    columns: Sequence[str] | None = None,
    null_strings: Sequence[str] = (),
    kinds: dict[str, str] | None = None,
    coerce_strings: bool = False,
) -> str:
    """Long-format profile oracle: UNION ALL of one branch per column.

    ``table`` may be a subquery like ``(SELECT ... FROM t) d`` when paired
    with explicit ``kinds``.
    """
    kinds = kinds or TESTDATA_KINDS[table]
    excluded = set(group_by) | ({time_column} if time_column else set())
    cols = [c for c in (columns or kinds) if c not in excluded]
    branches = [
        _branch(
            table, c, kinds[c], group_by, time_column, time_granularity,
            null_strings, coerce_strings,
        )
        for c in cols
    ]
    return "\nUNION ALL\n".join(branches)
