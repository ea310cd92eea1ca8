"""The one card composer: melt a card's section relations into a flat
(section, metric, value...) sheet, on the engine side and on the
DuckDB oracle side.

A card is a dict of section relations (or, for its oracle, of section
SQL bodies) plus a layout table — section -> (key cols, numeric cols,
string cols), e.g. pipeline.CARD_SECTIONS or health.HEALTH_SECTIONS —
and an order-by list. :func:`compose` melts each section with
:func:`melt_typed` (or :func:`melt`, the all-string face) and unions
them in layout order; :func:`compose_sql` nests each body as a
``card_<section>`` CTE and unions :func:`melt_typed_sql` over them. The
metric-name scheme is shared: the row's key values folded as
``k=v/…`` ahead of the column name (concat_ws skips NULL key values
identically in both engines). Every cell is the member card's value
unchanged, so a melt is hash-equal to its oracle whenever the members
are.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

# the typed cards' sort order (the curation card adds value_str)
TYPED_ORDER = ["section", "metric", "value_num"]


def _metric(key_cols: list[str]):
    prefix = (F.concat_ws("/", *[
        F.concat_ws("=", F.lit(k), F.col(k).cast("string"))
        for k in key_cols
    ]) if key_cols else F.lit(None))
    return (F.concat_ws("/", prefix, F.col("kv.m")) if key_cols
            else F.col("kv.m"))


def melt(df: DataFrame, section: str, key_cols: list[str]) -> DataFrame:
    """(section, metric, value) rows from a small card relation:
    metric = '<non-key col>' prefixed by the row's key values, value =
    the cell as a string. Runs on CARD relations only (|rows| bounded
    by sources/langs/stages/buckets) — the melt explode is trivial."""
    value_cols = [c for c in df.columns if c not in key_cols]
    pairs = F.array(*[
        F.struct(F.lit(c).alias("m"), F.col(c).cast("string").alias("v"))
        for c in value_cols
    ])
    return df.select(F.explode(pairs).alias("kv"), *key_cols).select(
        F.lit(section).alias("section"),
        _metric(key_cols).alias("metric"),
        F.col("kv.v").alias("value"),
    )


def melt_typed(df: DataFrame, section: str,
               key_cols: list[str]) -> DataFrame:
    """(section, metric, value_num, value_str) — the machine face of
    :func:`melt`. Numeric cells stay DOUBLE instead of being cast to
    string: float→string formatting is ENGINE-SPECIFIC (Java prints
    shortest-repr with scientific notation under 1e-3, DuckDB prints
    plain decimal; %.6f-style formats tie-break differently on x/128
    dyadics), while the doubles themselves are bit-identical across
    engines because each cell is the underlying oracle-checked card's
    value unchanged (bigint→double exact under 2^53). Key columns are
    strings/bigints only — safe to fold into the metric name."""
    fields = {f.name: f.dataType for f in df.schema.fields}
    value_cols = [c for c in df.columns if c not in key_cols]

    def cell(c):
        if isinstance(fields[c], NumericType):
            return F.struct(F.lit(c).alias("m"),
                            F.col(c).cast("double").alias("vn"),
                            F.lit(None).cast("string").alias("vs"))
        return F.struct(F.lit(c).alias("m"),
                        F.lit(None).cast("double").alias("vn"),
                        F.col(c).cast("string").alias("vs"))

    pairs = F.array(*[cell(c) for c in value_cols])
    return df.select(F.explode(pairs).alias("kv"), *key_cols).select(
        F.lit(section).alias("section"),
        _metric(key_cols).alias("metric"),
        F.col("kv.vn").alias("value_num"),
        F.col("kv.vs").alias("value_str"),
    )


def melt_typed_sql(section: str, keys: list[str], nums: list[str],
                   strs: list[str]) -> str:
    """The SQL half of :func:`melt_typed` for one section CTE named
    ``card_<section>``."""
    prefix = ("concat_ws('/', " + ", ".join(
        f"concat_ws('=', '{k}', CAST({k} AS VARCHAR))" for k in keys)
        + ")")

    def metric(c):
        return f"concat_ws('/', {prefix}, '{c}')" if keys else f"'{c}'"

    sels = [
        f"SELECT '{section}' AS section, {metric(c)} AS metric, "
        f"CAST({c} AS DOUBLE) AS value_num, "
        f"CAST(NULL AS VARCHAR) AS value_str FROM card_{section}"
        for c in nums
    ] + [
        f"SELECT '{section}', {metric(c)}, CAST(NULL AS DOUBLE), "
        f"CAST({c} AS VARCHAR) FROM card_{section}"
        for c in strs
    ]
    return "\nUNION ALL\n".join(sels)


def compose(sections: dict[str, DataFrame], layout, order_by: list[str],
            melt_fn=melt_typed) -> DataFrame:
    """The card relation: every section of ``layout`` melted (keys from
    the layout row) and unioned in layout order, then sorted."""
    parts = [melt_fn(sections[name], name, keys)
             for name, keys, _, _ in layout]
    return reduce(DataFrame.unionByName, parts).orderBy(*order_by)


def compose_sql(bodies: dict[str, str], layout, order_by: list[str]) -> str:
    """The card oracle: one statement nesting every section body as a
    ``card_<section>`` CTE and melting them per ``layout``. Always
    ``WITH RECURSIVE`` — the governance card's cluster-split body needs
    it, and DuckDB evaluates non-recursive CTEs under it unchanged."""
    ctes = ",\n".join(f"card_{s} AS (\n{bodies[s]}\n)" for s in bodies)
    melts = "\nUNION ALL\n".join(melt_typed_sql(*spec) for spec in layout)
    return (f"WITH RECURSIVE {ctes}\n"
            f"SELECT * FROM (\n{melts}\n)\n"
            f"ORDER BY {', '.join(order_by)}")
