"""User-callable similarity scalar functions — the gds.similarity.* analog.

Reference: algo/src/main/java/org/neo4j/gds/similarity/SimilaritiesFunc.java
registers gds.similarity.{cosine, euclidean, euclideanDistance, jaccard,
overlap, pearson} as user-callable scalar functions over arbitrary number
lists.  Two surfaces here, both pure JVM (no Python UDFs anywhere):

* Column functions (`cosine(colA, colB)`, ...) built from Spark higher-order
  functions — usable in any DataFrame expression and fully codegen'd.
* SQL registration via `register_similarity_functions(spark)`: Spark 4 SQL
  scalar UDFs (`CREATE TEMPORARY FUNCTION ... RETURNS DOUBLE RETURN <expr>`),
  so `SELECT gds_similarity_jaccard(a, b) FROM t` works verbatim and the
  body inlines into the caller's plan (WholeStageCodegen, not a UDF call).

Semantics follow the reference (SimilaritiesFunc.java):
  jaccard/overlap treat lists as SETS of distinct values;
  euclidean = 1 / (1 + distance) similarity, euclideanDistance = raw L2;
  cosine/pearson require equal-length vectors (zip_with truncates to the
  shorter input, matching the reference's index-bounded loops);
  pearson is the population correlation (the reference divides by n).
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def let(value, body) -> Column:
    """`body(v)` with `v` bound to `value`, which is evaluated once per row.

    Spark inlines a column expression at every place it is referenced, so a
    per-row value used more than once is computed more than once:

    * inside a higher-order lambda (`transform`, `aggregate`, ...) every
      outer expression is re-evaluated per element, so an O(d) aggregate
      such as a norm or a mean becomes O(d^2) per row;
    * projecting the value as a column first does not help: CollapseProject
      inlines an alias referenced only once, and PushDownPredicates
      substitutes aliases into filters and join conditions.

    Passing the value through a one-element `transform` makes it a lambda
    variable, which Catalyst neither inlines nor duplicates:
    `element_at(transform(array(value), v -> body(v)), 1)`.  `body` is a
    Python function of one Column, as for `F.transform`."""
    return F.element_at(F.transform(F.array(_c(value)), body), 1)


def _sum(a: Column) -> Column:
    return F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x)


def _dot(a: Column, b: Column) -> Column:
    return _sum(F.zip_with(a, b, lambda x, y: x * y))


def _sq_dist(a: Column, b: Column) -> Column:
    """Squared L2 distance."""
    return _sum(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)))


def cosine(a, b) -> Column:
    """gds.similarity.cosine — dot(a,b) / (|a| * |b|)."""
    a, b = _c(a), _c(b)
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def euclidean_distance(a, b) -> Column:
    """gds.similarity.euclideanDistance — raw L2 distance."""
    return F.sqrt(_sq_dist(_c(a), _c(b)))


def euclidean(a, b) -> Column:
    """gds.similarity.euclidean — 1 / (1 + L2 distance) similarity."""
    return F.lit(1.0) / (F.lit(1.0) + euclidean_distance(a, b))


def jaccard(a, b) -> Column:
    """gds.similarity.jaccard — |A ∩ B| / |A ∪ B| over distinct values."""
    a, b = _c(a), _c(b)
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def overlap(a, b) -> Column:
    """gds.similarity.overlap — |A ∩ B| / min(|A|, |B|) over distinct values."""
    a, b = _c(a), _c(b)
    inter = F.size(F.array_intersect(a, b)).cast("double")
    mn = F.least(F.size(F.array_distinct(a)), F.size(F.array_distinct(b))).cast(
        "double"
    )
    return F.when(mn > 0, inter / mn).otherwise(F.lit(0.0))


def pearson(a, b) -> Column:
    """gds.similarity.pearson — population Pearson correlation."""
    a, b = _c(a), _c(b)
    n = F.size(a).cast("double")

    def corr(ma, mb):
        cov = _sum(F.zip_with(a, b, lambda x, y: (x - ma) * (y - mb)))
        va = _sum(F.transform(a, lambda x: (x - ma) * (x - ma)))
        vb = _sum(F.transform(b, lambda x: (x - mb) * (x - mb)))
        return cov / (F.sqrt(va) * F.sqrt(vb))

    # bind the means: inline they are re-summed for every element
    return let(_sum(a) / n, lambda ma: let(_sum(b) / n, lambda mb: corr(ma, mb)))


# -- SQL surface ---------------------------------------------------------------

_SQL_BODIES = {
    "cosine": (
        "aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (s, x) -> s + x)"
        " / (sqrt(aggregate(a, 0D, (s, x) -> s + x * x))"
        " * sqrt(aggregate(b, 0D, (s, x) -> s + x * x)))"
    ),
    "euclideanDistance": (
        "sqrt(aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0D,"
        " (s, x) -> s + x))"
    ),
    "euclidean": (
        "1D / (1D + sqrt(aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)),"
        " 0D, (s, x) -> s + x)))"
    ),
    "jaccard": (
        "CASE WHEN size(array_union(a, b)) > 0 THEN"
        " CAST(size(array_intersect(a, b)) AS DOUBLE)"
        " / size(array_union(a, b)) ELSE 0D END"
    ),
    "overlap": (
        "CASE WHEN least(size(array_distinct(a)), size(array_distinct(b))) > 0"
        " THEN CAST(size(array_intersect(a, b)) AS DOUBLE)"
        " / least(size(array_distinct(a)), size(array_distinct(b)))"
        " ELSE 0D END"
    ),
    # the means are bound once per row, as `let` does for the Column form
    "pearson": (
        "element_at(transform(array(aggregate(a, 0D, (s, v) -> s + v) / size(a)),"
        " ma -> element_at(transform(array(aggregate(b, 0D, (s, v) -> s + v) / size(b)),"
        " mb -> aggregate(zip_with(a, b, (x, y) -> (x - ma) * (y - mb)), 0D,"
        " (s, x) -> s + x)"
        " / (sqrt(aggregate(a, 0D, (s, x) -> s + (x - ma) * (x - ma)))"
        " * sqrt(aggregate(b, 0D, (s, x) -> s + (x - mb) * (x - mb))))), 1)), 1)"
    ),
}


def register_similarity_functions(
    spark: SparkSession, prefix: str = "gds_similarity_"
) -> list[str]:
    """Register every gds.similarity.* analog as a SQL scalar function
    (`gds_similarity_cosine(a, b)`, ... — dots aren't legal in Spark SQL
    function names, so the namespace becomes a prefix).  Returns the
    registered names.  SQL UDF bodies are inlined by the analyzer, so calls
    stay inside whole-stage codegen — this is NOT a Python UDF path."""
    names = []
    for fname, body in _SQL_BODIES.items():
        qname = f"{prefix}{fname}"
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {qname}"
            f"(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) RETURNS DOUBLE RETURN {body}"
        )
        names.append(qname)
    return names
