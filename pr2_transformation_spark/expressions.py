"""Row-level expression builders.

Every builder returns a :class:`Clause` carrying (a) a Spark-SQL text
fragment and (b) an equivalent, lazily built pyspark ``Column``.  The SQL
text is the plan: every operator projects through one
``df.selectExpr(*[c.sql ...])`` call, and the same text is archived as the
SQL-audit artifact, mirroring the reference's practice of archiving every
generated query before execution (reference ``core/utils.py:54-89``).

Dialect note: the reference emits BigQuery re2 regexes with ``\\1``
backreferences (/root/reference/core/utils.py:773); Spark/Java uses ``$1``.
The patterns themselves (``\\[\\d{9}\\]`` etc.) are dialect-portable.
"""

from __future__ import annotations

from typing import Callable, Union

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import config


class Clause:
    """One output column of a composed projection.

    ``column`` is built lazily: constructing a pyspark ``Column`` costs
    several Py4J round-trips, and ultra-wide survey tables compose
    thousands of clauses — eager construction made 4k-column planning
    take ~15 s of pure socket chatter.  Builders pass a zero-arg factory;
    the Column materializes only if a caller actually needs it (wide
    operators go through ``df.selectExpr(c.sql ...)`` — one Py4J call
    total — and never touch ``.column``).
    """

    __slots__ = ("out_name", "sql", "_col")

    def __init__(
        self,
        out_name: str,
        column: Union[Column, Callable[[], Column]],
        sql: str,
    ):
        self.out_name = out_name  # the output column name (what the alias says)
        self.sql = sql            # Spark-SQL SELECT fragment (audit + selectExpr)
        self._col = column

    @property
    def column(self) -> Column:
        """Native expression, already aliased to ``out_name``."""
        if callable(self._col):
            self._col = self._col()
        return self._col

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"Clause({self.out_name!r}, sql={self.sql!r})"


def q(name: str) -> str:
    """Backtick-quote an identifier, doubling any backtick inside it."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(value: str) -> str:
    """Single-quoted Spark-SQL string literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def passthrough(name: str) -> Clause:
    """Identity projection (/root/reference/core/transformations.py:712-713)."""
    return Clause(name, lambda: F.col(name), q(name))


def rename(source: str, target: str) -> Clause:
    """``source AS target`` (/root/reference/core/transformations.py:267-268)."""
    return Clause(
        target, lambda: F.col(source).alias(target), f"{q(source)} AS {q(target)}"
    )


def coalesce(sources: list[str], target: str) -> Clause:
    """First-non-NULL across sources, aliased
    (/root/reference/core/transformations.py:271,359,499)."""
    if len(sources) == 1:
        return rename(sources[0], target)
    col = lambda: F.coalesce(*[F.col(s) for s in sources]).alias(target)
    sql = f"COALESCE({', '.join(q(s) for s in sources)}) AS {q(target)}"
    return Clause(target, col, sql)


def qualified_coalesce(parts: list, sql_parts: list[str], target: str) -> Clause:
    """COALESCE over already-qualified columns (merge path,
    /root/reference/core/transformations.py:99-105).  ``parts`` may hold
    Columns or zero-arg Column factories (lazy qualified refs)."""
    def col():
        resolved = [p() if callable(p) else p for p in parts]
        return (resolved[0] if len(resolved) == 1 else F.coalesce(*resolved)).alias(target)
    if len(sql_parts) == 1:
        sql = f"{sql_parts[0]} AS {q(target)}"
    else:
        sql = f"COALESCE({', '.join(sql_parts)}) AS {q(target)}"
    return Clause(target, col, sql)


def binary_recode(name: str) -> Clause:
    """Recode a 0/1 survey flag to Yes/No concept IDs.

    ``"1"`` -> Yes CID, ``"0"`` -> No CID, everything else (NULL, "", other
    junk) -> NULL; output keeps the column's name.  Parity:
    /root/reference/core/utils.py:437-466.
    """
    def col():
        c = F.col(name)
        return (
            F.when(c == "1", F.lit(config.YES_CID))
            .when(c == "0", F.lit(config.NO_CID))
            .otherwise(F.lit(None).cast("string"))
            .alias(name)
        )
    sql = (
        f"CASE WHEN {q(name)} = '1' THEN '{config.YES_CID}' "
        f"WHEN {q(name)} = '0' THEN '{config.NO_CID}' "
        f"ELSE NULL END AS {q(name)}"
    )
    return Clause(name, col, sql)


_BRACKETED = r"\[\d{9}\]"
_BRACKETED_CAPTURE = r"\[(\d{9})\]"


def unwrap_singleton(name: str, default_sql_literal: str = "NULL") -> Clause:
    """Unwrap a "false array" value to its bare concept ID.

    ``"[]"`` -> NULL; ``"[123456789]"`` -> ``"123456789"``; NULL -> NULL;
    anything else -> the default literal cast to string (the pipeline always
    passes ``NULL``).  Parity: /root/reference/core/utils.py:750-778 with the
    re2->Java backreference translation (``\\1`` -> ``$1``).
    """
    def col():
        c = F.col(name)
        default_col = (
            F.lit(None).cast("string")
            if default_sql_literal.upper() == "NULL"
            else F.lit(default_sql_literal.strip("'\"")).cast("string")
        )
        return (
            F.when(c == "[]", F.lit(None).cast("string"))
            .when(c.rlike(_BRACKETED), F.regexp_replace(c, _BRACKETED_CAPTURE, "$1"))
            .when(c.isNull(), F.lit(None).cast("string"))
            .otherwise(default_col)
            .alias(name)
        )
    sql = (
        f"CASE WHEN {q(name)} = '[]' THEN NULL "
        f"WHEN {q(name)} RLIKE '\\\\[\\\\d{{9}}\\\\]' "
        f"THEN REGEXP_REPLACE({q(name)}, '\\\\[(\\\\d{{9}})\\\\]', '$1') "
        f"WHEN {q(name)} IS NULL THEN NULL "
        f"ELSE CAST({default_sql_literal} AS STRING) END AS {q(name)}"
    )
    return Clause(name, col, sql)


def render_custom_transform(spec: dict) -> Clause:
    """Materialize a registry entry from :data:`config.CUSTOM_TRANSFORMS`.

    The template returns a Column already aliased to the target, so the
    target name is carried structurally — no ``AS``-regex recovery like
    /root/reference/core/transformations.py:413.
    """
    source, target = spec["source"], spec["target"]
    col = lambda: spec["transform_template"](source, target)
    sql = spec["sql_template"](source, target)
    return Clause(target, col, sql)


def render_select_sql(clauses: list[Clause], source_table: str, destination_table: str | None = None) -> str:
    """Render the audit SQL for a composed projection.

    Matches the reference's CTAS shape
    (/root/reference/core/transformations.py:613-622) in Spark dialect.
    """
    body = ",\n    ".join(c.sql for c in clauses)
    select = f"SELECT\n    {body}\nFROM {q(source_table)}"
    if destination_table:
        return (
            f"CREATE OR REPLACE TABLE {q(destination_table)} USING PARQUET AS\n{select}"
        )
    return select
