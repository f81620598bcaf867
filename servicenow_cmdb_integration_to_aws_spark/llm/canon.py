"""Id-canonicalization for at-least-once-delivered corpora (r11
`--dupids` axis, SURVEY §2-addendum round-11).

The `documents`/`embeddings` tables declare doc_id/vec_id as row
identities, but an at-least-once ingest (or a colliding upsert) can
deliver the SAME id twice with DIFFERENT payloads. Operators whose
semantics are id-keyed — pair generation ("docs A and B are near
dups"), dedup clustering, id-seeded sampling/centroids, per-id
packing — are ill-defined on such input: "document X" names two
texts, and whichever row a shuffle happens to surface first wins.
The r11 sweep measured exactly that: 14 ids diverged from their
oracles on a 10%-dup-id corpus while the 256 row-multiset operators
(wordcounts, histograms, per-row scores) stayed green.

Policy (the nullkeys lesson — decide, then encode identically in both
engines): id-keyed operators resolve duplicates FIRST. Winner = the
row with the MINIMUM payload tuple, compared ASC NULLS FIRST column
by column — a total order, so the winner is unique and deterministic
regardless of partitioning/arrival, and both engines agree on it
(Spark `asc_nulls_first` ≡ SQL `ASC NULLS FIRST`; string comparison
is bytewise in both; array/list comparison is lexicographic in both,
NaN sorting greatest in both). Row-multiset operators deliberately do
NOT canonicalize — a repeated id there is just a repeated row, and
multiset semantics already match.

100 TB notes: canonicalization is ONE window (rank ≤ 1 rewrites to
map-side WindowGroupLimit — at most one row per id leaves each map
partition, the r7 rank-window audit), keyed on the id the downstream
operator shuffles on anyway; on an id-unique corpus it keeps every
row and the limit filter is the only added work. A production ingest
would fold this into the bronze→silver upsert (SnapshotStore's
latest-per-key is the same shape with an explicit order column).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import frames, memo, scan

#: payload order for each table (every non-id column, a total order).
#: The embedding array is NOT compared raw: the two engines disagree on
#: NULL ELEMENTS inside an array comparison (Spark sorts a null element
#: FIRST, DuckDB LAST — measured on the r11 chain, where --vec-extremes
#: glitched vectors met --dupids collisions and 4/450 winners split).
#: Instead the key is (null-substituted array, null-position mask,
#: label): the substituted array has no null elements so both engines
#: compare it identically (-Inf smallest and NaN largest in BOTH), the
#: boolean mask disambiguates a real -Inf from a substituted NULL and
#: any null-arrangement difference, and two rows tying on both arrays
#: have bit-identical embeddings.
_DOC_ORDER = ["text", "lang", "source", "n_chars"]
_VEC_SUBST = (
    "transform(embedding, x -> coalesce(cast(x AS double),"
    " cast('-Infinity' AS double)))"
)
_VEC_MASK = "transform(embedding, x -> x IS NULL)"
_SQL_VEC_SUBST = (
    "list_transform(embedding, x -> coalesce(CAST(x AS DOUBLE),"
    " '-Infinity'::DOUBLE))"
)
_SQL_VEC_MASK = "list_transform(embedding, x -> x IS NULL)"


def _canon(df: DataFrame, id_col: str, order: list) -> DataFrame:
    w = Window.partitionBy(id_col).orderBy(
        *[F.expr(c).asc_nulls_first() for c in order]
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# canon rides in front of 15 id-keyed queries and its window costs
# py4j round-trips on every build (construction is the measured drain
# floor), so both fragments are memoised with scan()'s, one derivation up
def canon_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`documents` with exactly one deterministic row per doc_id."""
    return memo(
        frames(spark),
        sf_dir,
        "documents",
        lambda: _canon(scan(spark, sf_dir, "documents"), "doc_id", _DOC_ORDER),
        tag="canon",
    )


def canon_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`embeddings` with exactly one deterministic row per vec_id."""
    return memo(
        frames(spark),
        sf_dir,
        "embeddings",
        lambda: _canon(
            scan(spark, sf_dir, "embeddings"),
            "vec_id",
            [_VEC_SUBST, _VEC_MASK, "label"],
        ),
        tag="canon",
    )


def _sql_canon(table: str, id_col: str, order: list) -> str:
    ob = ", ".join(f"{c} ASC NULLS FIRST" for c in order)
    return (
        f"SELECT * EXCLUDE (__rn) FROM (SELECT *, row_number() OVER "
        f"(PARTITION BY {id_col} ORDER BY {ob}) AS __rn FROM {table}) "
        f"WHERE __rn = 1"
    )


#: the CTE shadows the view NAME, so its body must schema-qualify the
#: real view (duckdb would otherwise flag a circular CTE reference)
SQL_CANON_DOCS = _sql_canon("main.documents", "doc_id", _DOC_ORDER)
SQL_CANON_VECS = _sql_canon(
    "main.embeddings", "vec_id", [_SQL_VEC_SUBST, _SQL_VEC_MASK, "label"]
)


def canon_oracle(sql: str, docs: bool = False, vecs: bool = False) -> str:
    """Wrap an oracle so its `documents`/`embeddings` references read
    the CANONICAL table: injects a CTE that SHADOWS the view name, so
    the oracle body itself stays untouched (DuckDB resolves CTE names
    before views). Composes with oracles that already start with WITH."""
    ctes = []
    if docs:
        ctes.append(f"documents AS ({SQL_CANON_DOCS})")
    if vecs:
        ctes.append(f"embeddings AS ({SQL_CANON_VECS})")
    if not ctes:
        return sql
    prefix = ", ".join(ctes)
    # leading `--` comment lines must not hide the WITH keyword from
    # detection (j29's oracle opens with a policy note)
    lines = sql.strip().splitlines()
    head = []
    while lines and lines[0].lstrip().startswith("--"):
        head.append(lines.pop(0))
    s = "\n".join(lines).lstrip()
    comments = ("\n".join(head) + "\n") if head else ""
    if s.upper().startswith("WITH RECURSIVE"):
        rest = s[len("WITH RECURSIVE"):].lstrip()
        return f"{comments}WITH RECURSIVE {prefix}, {rest}"
    if s.upper().startswith("WITH"):
        return f"{comments}WITH {prefix}, {s[4:].lstrip()}"
    return f"{comments}WITH {prefix} {s}"
