"""Data-quality validator (SURVEY.md §2.10 V1-V9).

The reference is a dual-mode CLI (scripts/validate_table.py, 438 LoC) that
raises on the first failing gate and issues one SQL query per check per
column. Here a single declarative spec produces a pass/fail REPORT
DataFrame, and every count — per-column checks and PK uniqueness alike —
comes from ONE scan of the table (the A8 trick): without a PK gate a
single global aggregate; with one, a ``groupBy(pk)`` carrying per-key
partial counters, then one global fold that sums them and the members
of duplicated keys. One action regardless of how many checks are
configured, which is the shape you want when the table is 100 TB.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dynamic_etl_spark.session import local_df

#: V9 — identifier-safety guard (reference validate_table.py:55-65).
SAFE_IDENTIFIER = re.compile(r"^[A-Za-z0-9_$#]{1,128}$")


def safe_identifier(name: str) -> bool:
    return bool(SAFE_IDENTIFIER.match(name))


def validator_numeric_clean(c: Column) -> Column:
    """V4 — the validator's own currency cleanse before parse: strip
    thousands separators, currency symbols, and 'Rs.'/'Rs' prefixes
    (reference validate_table.py:174-184), then coerce-to-null."""
    s = F.trim(c)
    for token in (",", "₹", "$", "Rs.", "Rs"):
        s = F.replace(s, F.lit(token), F.lit(""))
    return F.nullif(F.trim(s), F.lit("")).try_cast("double")


@dataclass(frozen=True)
class CrossColumnRule:
    """Conditional cross-column domain rule — the declarative twin of the
    reference's conditional CHECK constraint (oracledb.sql:11-20:
    ``is_chain='Y' => chain_name NOT NULL, is_chain='N' => chain_name
    NULL``). A row violates the rule when ``when`` holds and ``then``
    does not (a NULL ``then`` counts as a violation, matching SQL CHECK
    semantics where the implication must evaluate TRUE)."""

    name: str
    when: Column
    then: Column
    #: columns the rule reads — presence-checked and fed to the V9
    #: identifier-safety gate like every other configured column.
    columns: tuple[str, ...] = ()


@dataclass(frozen=True)
class ValidationSpec:
    """Declarative twin of the reference CLI arguments
    (dags/retail_daily_validation_pipeline.py:23-97)."""

    min_rows: int = 1
    mandatory_columns: tuple[str, ...] = ()
    numeric_columns: tuple[str, ...] = ()
    flag_columns: tuple[str, ...] = ()
    pk_column: str | None = None
    #: (column, literal) — freshness passes when >=1 row matches (V7).
    freshness: tuple[str, Column] | None = None
    cross_column: tuple[CrossColumnRule, ...] = ()
    extra_identifiers: tuple[str, ...] = field(default_factory=tuple)


REPORT_SCHEMA = T.StructType(
    [
        T.StructField("check_name", T.StringType(), False),
        T.StructField("column_name", T.StringType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("observed", T.LongType(), True),
        T.StructField("threshold", T.LongType(), True),
    ]
)


def validate(spark: SparkSession, df: DataFrame, spec: ValidationSpec) -> DataFrame:
    """Run every configured gate; return the report DataFrame.

    Check semantics match the reference:
    - V1 row count >= min_rows;
    - V2 mandatory column present (schema check, no scan);
    - V3 zero NULLs in each mandatory column;
    - V4 zero numeric-parse failures among non-blank cells (currency junk
      stripped first);
    - V5 flag values in {Y, N}; empties/NULLs count as invalid
      (validate_table.py:199-219);
    - V6 zero rows in duplicated PK groups (keep=False semantics);
    - V7 freshness: >=1 row at the expected date;
    - V9 identifier safety for every checked column name;
    - cross-column conditional rules (reference oracledb.sql:11-20 CHECK):
      zero rows where ``when`` holds but ``then`` fails.
    """
    present = set(df.columns)
    rows: list[tuple] = []
    #: counter name -> predicate; every counter counts the rows matching it
    counters: dict[str, Column] = {}

    for c in spec.mandatory_columns:
        if c in present:
            counters[f"null__{c}"] = F.col(c).isNull()
    for c in spec.numeric_columns:
        if c in present:
            raw = F.col(c).cast("string")
            parsed = validator_numeric_clean(raw)
            blank = raw.isNull() | (F.trim(raw) == "")
            counters[f"num__{c}"] = ~blank & parsed.isNull()
    for c in spec.flag_columns:
        if c in present:
            up = F.upper(F.trim(F.col(c)))
            counters[f"flag__{c}"] = F.col(c).isNull() | ~up.isin("Y", "N")
    for i, rule in enumerate(spec.cross_column):
        if all(c in present for c in rule.columns):
            counters[f"cc__{i}"] = rule.when & ~F.coalesce(rule.then, F.lit(False))
    if spec.freshness is not None and spec.freshness[0] in present:
        fcol, fval = spec.freshness
        counters["__fresh"] = F.col(fcol) == fval

    # positional aliases: counter names embed user column names, which
    # may not be valid unquoted column references
    aliases = ["__n", *(f"__k{j}" for j in range(len(counters)))]
    counts = [F.count(F.lit(1)).alias("__n")] + [
        F.count(F.when(cond, 1)).alias(a) for a, cond in zip(aliases[1:], counters.values())
    ]
    pk_present = spec.pk_column is not None and spec.pk_column in present
    if pk_present:
        # per-key partial counters, then one fold: sum the partials and
        # the members of every duplicated key (keep=False; a NULL key is
        # a group like any other). coalesce: an empty table has no keys.
        dup = F.when(F.col("__n") > 1, F.col("__n"))
        out = (
            df.groupBy(spec.pk_column)
            .agg(*counts)
            .agg(
                *[F.coalesce(F.sum(a), F.lit(0)).alias(a) for a in aliases],
                F.coalesce(F.sum(dup), F.lit(0)).alias("__dup"),
            )
        )
    else:
        out = df.agg(*counts)
    row = out.collect()[0]
    stats = {name: row[a] for name, a in zip(["__n", *counters], aliases)}
    n = int(stats["__n"])

    rows.append(("min_rows", None, _status(n >= spec.min_rows), n, spec.min_rows))
    for c in spec.mandatory_columns:
        if c not in present:
            rows.append(("mandatory_column", c, "FAIL", None, None))
            continue
        rows.append(("mandatory_column", c, "PASS", None, None))
        nulls = int(stats[f"null__{c}"])
        rows.append(("mandatory_nulls", c, _status(nulls == 0), nulls, 0))
    for c in spec.numeric_columns:
        if c not in present:
            rows.append(("numeric_parse", c, "FAIL", None, None))
            continue
        bad = int(stats[f"num__{c}"])
        rows.append(("numeric_parse", c, _status(bad == 0), bad, 0))
    for c in spec.flag_columns:
        if c not in present:
            rows.append(("flag_domain", c, "FAIL", None, None))
            continue
        bad = int(stats[f"flag__{c}"])
        rows.append(("flag_domain", c, _status(bad == 0), bad, 0))
    for i, rule in enumerate(spec.cross_column):
        if any(c not in present for c in rule.columns):
            rows.append(("cross_column", rule.name, "FAIL", None, None))
            continue
        bad = int(stats[f"cc__{i}"])
        rows.append(("cross_column", rule.name, _status(bad == 0), bad, 0))

    if pk_present:
        dup_members = int(row["__dup"])
        rows.append(("pk_unique", spec.pk_column, _status(dup_members == 0), dup_members, 0))
    elif spec.pk_column is not None:
        rows.append(("pk_unique", spec.pk_column, "FAIL", None, None))

    if spec.freshness is not None:
        if spec.freshness[0] in present:
            fresh = int(stats["__fresh"])
            rows.append(("freshness", spec.freshness[0], _status(fresh >= 1), fresh, 1))
        else:
            # missing column degrades to a FAIL row like every other gate
            rows.append(("freshness", spec.freshness[0], "FAIL", None, None))

    checked = list(
        dict.fromkeys(
            list(spec.mandatory_columns)
            + list(spec.numeric_columns)
            + list(spec.flag_columns)
            + ([spec.pk_column] if spec.pk_column else [])
            + [c for rule in spec.cross_column for c in rule.columns]
            + list(spec.extra_identifiers)
        )
    )
    for name in checked:
        rows.append(("identifier_safe", name, _status(safe_identifier(name)), None, None))

    # report rows are driver-computed scalars; a VALUES LocalRelation skips
    # the 32-slice parallelize a createDataFrame would schedule
    return local_df(
        spark,
        rows,
        {
            "check_name": "STRING",
            "column_name": "STRING",
            "status": "STRING",
            "observed": "BIGINT",
            "threshold": "BIGINT",
        },
    )


def _status(ok: bool) -> str:
    return "PASS" if ok else "FAIL"
