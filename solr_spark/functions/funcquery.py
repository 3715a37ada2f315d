"""Corpus-dependent function queries: scale / recip / ms / ord / rord.

The scalar function-query families (abs/log/pow/if/concat/strdist/...) map
1:1 onto pyspark.sql.functions and are gated as plain Column expressions
(q25/q26). The four here need more than a row-local expression and so get
real operators:

  * ``scale(field, lo, hi)`` — Lucene ScaleFloatFunction
    (lucene/queries/.../function/valuesource/ScaleFloatFunction.java):
    linearly maps the field's CORPUS min/max onto [lo, hi]. One bounded
    min/max aggregation broadcast back over the scan.
  * ``recip(x, m, a, b)`` — ReciprocalFloatFunction: a / (m*x + b), the
    classic recency-boost kernel (recip(ms(NOW, date), 3.16e-11, 1, 1)).
  * ``ms(a, b)`` — millisecond difference of two date/timestamp expressions
    (DateMathParser-adjacent; function-queries doc).
  * ``ord(field)`` / ``rord(field)`` — the 1-based ordinal of the doc's
    value within the field's sorted unique values (FileFloatSource /
    OrdFieldSource). Distributed shape: a running count over the sorted
    DISTINCT-value table (evaluators.distributed_cumsum, the prefix sum
    the KS/Mann-Whitney evaluators use: range-partitioned, no single-task
    window), then join back. For near-continuous fields the distinct table
    approaches corpus size; ord() on those is as meaningless in the
    reference (every doc has its own ordinal) as it is expensive here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from solr_spark.functions.evaluators import distributed_cumsum


def scale_fq(df: DataFrame, col: str, lo: float, hi: float,
             out: str | None = None) -> DataFrame:
    """Add `out` (default scale_<col>) = corpus-min/max linear map onto
    [lo, hi]. Degenerate corpus (min == max) maps to the midpoint, the
    one-value fixpoint of the reference's formula family."""
    out = out or f"scale_{col}"
    stats = df.agg(F.min(col).alias("__fq_mn"), F.max(col).alias("__fq_mx"))
    scaled = F.when(
        F.col("__fq_mx") == F.col("__fq_mn"),
        F.lit((lo + hi) / 2.0),
    ).otherwise(
        (F.col(col) - F.col("__fq_mn"))
        / (F.col("__fq_mx") - F.col("__fq_mn"))
        * F.lit(float(hi) - float(lo)) + F.lit(float(lo)))
    return (df.crossJoin(F.broadcast(stats))
              .withColumn(out, scaled.cast("double"))
              .drop("__fq_mn", "__fq_mx"))


def recip(x: Column, m: float, a: float, b: float) -> Column:
    """ReciprocalFloatFunction: a / (m*x + b)."""
    return F.lit(float(a)) / (F.lit(float(m)) * x.cast("double")
                              + F.lit(float(b)))


def ms(a: Column | str, b: Column | str | None = None) -> Column:
    """ms(a[, b]): milliseconds of a, or a - b, as the reference's ms()
    function query (epoch-millis arithmetic over date/timestamp fields)."""
    def millis(c: Column | str) -> Column:
        c = F.col(c) if isinstance(c, str) else c
        # timestamp -> double is epoch seconds (fractional micros preserved)
        return F.round(c.cast("timestamp").cast("double") * 1000
                       ).cast("long")

    return millis(a) if b is None else millis(a) - millis(b)


def load_external_floats(spark, path: str,
                         key_type: str = "string") -> DataFrame:
    """ExternalFileField source (schema/ExternalFileField.java +
    function/FileFloatSource.java): parse `key=float` lines from the
    external_* file(s). Reference semantics preserved: malformed lines are
    SKIPPED (FileFloatSource logs and continues), the LAST occurrence of a
    duplicated key wins (the file is read top to bottom into the array),
    and keys absent from the file take the field's default at join time.

    spark.read.text distributes the parse; last-wins needs a per-key
    ordering, which file order gives via a monotonic id per line — one
    bounded shuffle on key.
    """
    from pyspark.sql import Window as W

    raw = (spark.read.text(path)
           .withColumn("__seq", F.monotonically_increasing_id()))
    kv = raw.select(
        F.regexp_extract("value", r"^([^=]+)=(.*)$", 1).alias("key"),
        F.regexp_extract("value", r"^([^=]+)=(.*)$", 2).alias("val"),
        "__seq")
    kv = (kv.where((F.col("key") != "")
                   & F.col("val").try_cast("float").isNotNull())
            .select(F.col("key").try_cast(key_type).alias("key"),
                    F.col("val").try_cast("float").alias("value"), "__seq"))
    kv = kv.where(F.col("key").isNotNull())
    w = W.partitionBy("key").orderBy(F.desc("__seq"))
    return (kv.withColumn("__rn", F.row_number().over(w))
              .where(F.col("__rn") == 1).select("key", "value"))


def with_external_field(df: DataFrame, ext: DataFrame, on: str,
                        out: str, default: float = 0.0) -> DataFrame:
    """Attach an external float field to the corpus (the function-query /
    boost use of ExternalFileField): broadcastable left join on the key,
    absent keys take `default` (the field's defVal)."""
    e = ext.select(F.col("key").alias(on), F.col("value").alias(out))
    return (df.join(F.broadcast(e), on, "left")
              .withColumn(out, F.coalesce(F.col(out), F.lit(float(default)))
                          .cast("float")))


def with_ord(df: DataFrame, col: str, reverse: bool = False,
             out: str | None = None) -> DataFrame:
    """Add `out` (default ord_<col> / rord_<col>) = the doc value's 1-based
    ordinal in the field's sorted unique values (rord counts from the top:
    rord = n_distinct + 1 - ord). Nulls get ordinal 0, matching the
    reference's missing-value ordinal."""
    out = out or (f"rord_{col}" if reverse else f"ord_{col}")
    vals = (df.select(col).where(F.col(col).isNotNull()).distinct()
            .withColumn("__fq_one", F.lit(1)))
    ordinal = F.col("cum___fq_one")  # the running count of sorted values
    if reverse:
        ordinal = F.lit(vals.count() + 1) - ordinal
    joined = df.join(distributed_cumsum(vals, col, ["__fq_one"]).select(
        col, ordinal.alias("__fq_ord")), col, "left")
    return joined.withColumn(
        out, F.coalesce(F.col("__fq_ord"), F.lit(0)).cast("long")
    ).drop("__fq_ord")


def query_scores(spark, reader, query_text: str, **bm25_kwargs) -> DataFrame:
    """``query($q)`` function query — a subquery's relevance score as a VALUE.

    Reference: search/ValueSourceParser.java:389 (QueryValueSource): the
    nested query's score per document, usable anywhere a value source is —
    ``bf=query($qq)``, ``boost(query($q), rating)``, ``fq={!frange l=0.5}
    query($q)``. Returns DataFrame(docid, qscore) over the subquery's FULL
    match set: k = n_docs in exact mode (WAND's bound pruning has nothing
    to skip when every match is collected; the posting scan stays
    term-bucket pruned, so cost is bounded by the subquery terms' postings,
    never the corpus). Pair with ``with_query_score`` for the defVal join.
    Extra bm25_kwargs (similarity=, boosts=, min_match=, ...) pass through.
    """
    from solr_spark.query.bm25 import bm25_topk

    out = bm25_topk(spark, reader, query_text, k=reader.n_docs,
                    mode="exact", **bm25_kwargs)
    return out.select("docid", F.col("score").alias("qscore"))


def with_query_score(df: DataFrame, scores: DataFrame, key: str = "docid",
                     out: str = "qscore", default: float = 0.0) -> DataFrame:
    """Attach ``query($q)`` values to a row set: left join on the docid with
    QueryValueSource's defVal (ValueSourceParser.java:395 ``fp.parseFloat()``,
    default 0.0) filling non-matching docs. The join key is the docid both
    sides share, so Catalyst plans a plain equi-join — broadcastable by AQE
    when the subquery match set is small, shuffle-join when it is not; the
    caller never materializes scores on the driver.
    """
    sc = scores
    if out != "qscore":
        sc = sc.withColumnRenamed("qscore", out)
    return (df.join(sc.select(key, out), key, "left")
              .withColumn(out, F.coalesce(F.col(out), F.lit(float(default)))))


def currency_convert(amount: Column | str, ccy: Column | str,
                     target: str, rates: dict[str, float],
                     asymmetric: dict[tuple[str, str], float] | None = None
                     ) -> Column:
    """``currency(field, TARGET)`` value source (CurrencyFieldType.java:55;
    the `currency()` parser in search/ValueSourceParser.java): convert a
    (amount, currency-code) pair into the target currency through an
    exchange-rate table.

    `rates` maps each code to its rate AGAINST a common base (the
    FileExchangeRateProvider model: amount_base = amount / rate[ccy],
    amount_target = amount_base * rate[target]); `asymmetric` optionally
    pins specific (from, to) pairs to their own rate, the currency.xml
    asymmetric-rate surface. Unknown codes yield NULL (the reference throws
    at query time; a NULL survives relational pipelines and is filterable).
    Pure Column algebra over a broadcast-literal CASE chain — the rate
    table is request metadata, never a join.
    """
    a = F.col(amount) if isinstance(amount, str) else amount
    c = F.col(ccy) if isinstance(ccy, str) else ccy
    if target not in rates:
        raise ValueError(f"target currency {target!r} not in rates "
                         f"({sorted(rates)})")
    expr = None
    for code, rate in sorted(rates.items()):
        pair = (asymmetric or {}).get((code, target))
        factor = float(pair) if pair is not None \
            else float(rates[target]) / float(rate)
        branch = a * F.lit(factor)
        expr = F.when(c == code, branch) if expr is None \
            else expr.when(c == code, branch)
    return expr
