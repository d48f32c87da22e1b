"""Governance scans: where does an entity live across the warehouse.

The deletion/subject-access question ("right to be forgotten": which
tables hold rows for THESE customers, and how many") is a data-catalog
capability adjacent to the reference's component catalog + dataset
components (reference demo/demo/demo_helper.py:192-206) — before a
deletion job runs, the audit enumerates the blast surface, and after
it runs, the same scan proving zero rows IS the compliance evidence.

Scale shape: the entity key set is request-sized -> broadcast to every
table scan; each table is read ONCE with a broadcast semi-join +
key rollup (no shuffle of table data), and tables union at
metadata size. Tables whose linkage is indirect (lineitem has no
customer key) are passed pre-joined through their FK path by the
caller — the operator never guesses joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ...functions.pin import pin


def entity_footprint(
    frames: list[tuple[str, DataFrame, str]], keys: DataFrame
) -> DataFrame:
    """Per (entity key, table): matching row count, one broadcast
    semi-join scan per table. ``frames`` is [(table_name, df,
    key_col)]; ``keys`` has one column ``entity_key``. Entities with
    zero rows in a table still appear (count 0) — absence is the
    compliance answer, so it must be a row, not a missing row."""
    # request-sized and read by 2 consumers PER TABLE (semi-join probe +
    # zero-fill left join) — pin it once or every union branch re-scans
    # the key source (the fd_check lesson)
    k = pin(keys.select(F.col("entity_key").cast("long").alias("entity_key")).distinct())
    parts = []
    for name, df, key_col in frames:
        counts = (
            df.select(F.col(key_col).cast("long").alias("entity_key"))
            .join(F.broadcast(k), "entity_key")
            .groupBy("entity_key")
            .agg(F.count(F.lit(1)).cast("long").alias("row_ct"))
        )
        parts.append(
            k.join(counts, "entity_key", "left").select(
                "entity_key",
                F.lit(name).alias("table_name"),
                F.coalesce("row_ct", F.lit(0)).cast("long").alias("row_ct"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("entity_key", "table_name")


def entity_footprint_sql(
    frames_sql: list[tuple[str, str, str]], keys_sql: str
) -> str:
    """DuckDB twin; ``frames_sql`` is [(table_name, relation_sql,
    key_col)], ``keys_sql`` selects one column entity_key."""
    parts = []
    for name, rel, key_col in frames_sql:
        parts.append(
            f"""
    SELECT k.entity_key, '{name}' AS table_name,
           CAST(coalesce(c.row_ct, 0) AS BIGINT) AS row_ct
    FROM ks k LEFT JOIN (
      SELECT CAST({key_col} AS BIGINT) AS entity_key, count(*) AS row_ct
      FROM {rel} JOIN ks ON CAST({key_col} AS BIGINT) = ks.entity_key
      GROUP BY 1) c ON c.entity_key = k.entity_key"""
        )
    union = "\n    UNION ALL".join(parts)
    return f"""
    WITH ks AS MATERIALIZED (
      SELECT DISTINCT CAST(entity_key AS BIGINT) AS entity_key FROM ({keys_sql}))
    {union}
    ORDER BY entity_key, table_name
    """


def pseudonymize(
    df: DataFrame, cols: list[str], salt: str = "pseudo-v1", keep_len: bool = False
) -> DataFrame:
    """Deterministic pseudonymization of identifying columns: each
    value becomes ``tok_`` + 16 hex of a salted md5 — the same value
    maps to the same token EVERYWHERE, so joins and group-bys still
    work after the scrub (the property ad-hoc masking destroys), while
    the salt keeps tokens non-invertible without it. NULLs stay NULL
    (a null is not an identity). ``keep_len=True`` pads/trims the
    token to the original length for fixed-width consumers.

    Pure map-stage codegen projection — no shuffle, applies at any
    scale as part of an export/sink. Rotating the salt re-keys the
    whole corpus (the 'crypto-shredding lite' story: forget the salt,
    lose the linkage)."""
    out = df
    for c in cols:
        tok = F.concat(
            F.lit("tok_"),
            F.substring(F.md5(F.concat(F.lit(salt), F.lit(":"), F.col(c).cast("string"))), 1, 16),
        )
        if keep_len:
            # trim/pad to the ORIGINAL value's length, entirely
            # Column-typed (Column.substr and F.repeat take Column
            # widths): no SQL interpolation at all, so a salt or
            # column name containing quotes OR backslashes can never
            # break parsing or diverge from the DuckDB twin — closes
            # the backslash gap the round-8 ADVICE found in the
            # round-7 quote-doubling fix
            orig_len = F.length(F.col(c).cast("string"))
            trimmed = tok.substr(F.lit(1), orig_len)
            tok = F.concat(
                trimmed,
                F.repeat(
                    F.lit("_"),
                    F.greatest(orig_len - F.length(trimmed), F.lit(0)),
                ),
            )
        out = out.withColumn(c, F.when(F.col(c).isNotNull(), tok))
    return out


def _sql_quote(s: str) -> str:
    """A string as a single-quoted SQL literal (quotes doubled), valid
    in both Spark SQL and DuckDB — never interpolate raw."""
    return "'" + s.replace("'", "''") + "'"


def pseudonymize_sql(table_sql: str, all_cols: list[str], cols: list[str], salt: str = "pseudo-v1") -> str:
    """DuckDB twin of :func:`pseudonymize` (keep_len=False form)."""
    sel = []
    for c in all_cols:
        if c in cols:
            sel.append(
                f"CASE WHEN {c} IS NOT NULL THEN 'tok_' ||"
                f" substr(md5({_sql_quote(salt)} || ':' || CAST({c} AS VARCHAR)), 1, 16) END AS {c}"
            )
        else:
            sel.append(c)
    return f"SELECT {', '.join(sel)} FROM {table_sql}"


def k_anonymity(df: DataFrame, quasi_cols: list[str], k: int = 5) -> DataFrame:
    """k-anonymity audit over a quasi-identifier set: the minimum
    equivalence-class size, how many rows sit in classes smaller than
    ``k`` (re-identifiable under linkage attacks), and the share in
    exact basis points — the release-gate number a privacy review asks
    for before a dataset ships. One GROUP BY on the quasi-identifiers
    (NULL combinations are classes too) + a class-sized rollup; all
    integer arithmetic."""
    classes = df.groupBy(*[F.col(c) for c in quasi_cols]).agg(
        F.count(F.lit(1)).cast("long").alias("ct")
    )
    return classes.agg(
        F.lit(",".join(quasi_cols)).alias("quasi_identifiers"),
        F.sum("ct").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("ct").cast("long").alias("min_class_size"),
        F.sum(F.when(F.col("ct") < k, F.col("ct")).otherwise(F.lit(0)))
        .cast("long")
        .alias("rows_below_k"),
    ).selectExpr(
        "quasi_identifiers",
        "n_rows",
        "n_classes",
        "min_class_size",
        "rows_below_k",
        "CAST(rows_below_k * 10000L DIV greatest(n_rows, 1L) AS BIGINT)"
        " AS below_k_bp",
        f"min_class_size >= {int(k)} AS k_anonymous",
    )


def k_anonymity_sql(table_sql: str, quasi_cols: list[str], k: int = 5) -> str:
    """DuckDB twin of :func:`k_anonymity`."""
    qc = ", ".join(quasi_cols)
    return f"""
    WITH classes AS (
      SELECT {qc}, CAST(count(*) AS BIGINT) AS ct
      FROM {table_sql} GROUP BY {qc})
    SELECT '{",".join(quasi_cols)}' AS quasi_identifiers,
           CAST(sum(ct) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(min(ct) AS BIGINT) AS min_class_size,
           CAST(sum(CASE WHEN ct < {int(k)} THEN ct ELSE 0 END) AS BIGINT)
             AS rows_below_k,
           CAST(sum(CASE WHEN ct < {int(k)} THEN ct ELSE 0 END) * 10000
                // greatest(sum(ct), 1) AS BIGINT) AS below_k_bp,
           min(ct) >= {int(k)} AS k_anonymous
    FROM classes
    """


def l_diversity(
    df: DataFrame, quasi_cols: list[str], sensitive_col: str, l: int = 2
) -> DataFrame:
    """l-diversity audit: k-anonymity's blind spot is a class whose
    members all share one sensitive value (group size 50, all
    'diagnosis=X' — anonymous, yet fully disclosing). Reports the
    minimum number of DISTINCT sensitive values per quasi-identifier
    class, the rows in classes below ``l``, and the share in exact
    basis points. NULL sensitive values don't count as a distinct
    value (an absent fact discloses nothing).

    One (quasi, sensitive)-grouped count + a class rollup — both
    shuffles bounded by class cardinality, all integer arithmetic."""
    per_sv = df.groupBy(
        *[F.col(c) for c in quasi_cols], F.col(sensitive_col).alias("_sv")
    ).agg(F.count(F.lit(1)).cast("long").alias("ct"))
    classes = per_sv.groupBy(*[F.col(c) for c in quasi_cols]).agg(
        F.sum("ct").cast("long").alias("ct"),
        F.count(F.when(F.col("_sv").isNotNull(), F.lit(1)))
        .cast("long")
        .alias("sv_ct"),
    )
    return classes.agg(
        F.lit(",".join(quasi_cols)).alias("quasi_identifiers"),
        F.lit(sensitive_col).alias("sensitive_col"),
        F.sum("ct").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("sv_ct").cast("long").alias("min_diversity"),
        F.sum(F.when(F.col("sv_ct") < l, F.col("ct")).otherwise(F.lit(0)))
        .cast("long")
        .alias("rows_below_l"),
    ).selectExpr(
        "quasi_identifiers",
        "sensitive_col",
        "n_rows",
        "n_classes",
        "min_diversity",
        "rows_below_l",
        "CAST(rows_below_l * 10000L DIV greatest(n_rows, 1L) AS BIGINT)"
        " AS below_l_bp",
        f"min_diversity >= {int(l)} AS l_diverse",
    )


def l_diversity_sql(
    table_sql: str, quasi_cols: list[str], sensitive_col: str, l: int = 2
) -> str:
    """DuckDB twin of :func:`l_diversity`."""
    qc = ", ".join(quasi_cols)
    return f"""
    WITH per_sv AS (
      SELECT {qc}, {sensitive_col} AS _sv, CAST(count(*) AS BIGINT) AS ct
      FROM {table_sql} GROUP BY {qc}, {sensitive_col}),
    classes AS (
      SELECT {qc}, CAST(sum(ct) AS BIGINT) AS ct,
             CAST(count(CASE WHEN _sv IS NOT NULL THEN 1 END) AS BIGINT) AS sv_ct
      FROM per_sv GROUP BY {qc})
    SELECT '{",".join(quasi_cols)}' AS quasi_identifiers,
           '{sensitive_col}' AS sensitive_col,
           CAST(sum(ct) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(min(sv_ct) AS BIGINT) AS min_diversity,
           CAST(sum(CASE WHEN sv_ct < {int(l)} THEN ct ELSE 0 END) AS BIGINT)
             AS rows_below_l,
           CAST(sum(CASE WHEN sv_ct < {int(l)} THEN ct ELSE 0 END) * 10000
                // greatest(sum(ct), 1) AS BIGINT) AS below_l_bp,
           min(sv_ct) >= {int(l)} AS l_diverse
    FROM classes
    """
