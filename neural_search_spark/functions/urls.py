"""URL analysis for Common-Crawl-style corpora.

Web-scale training-data pipelines are organized around the URL: per-domain
quality priors, per-domain document caps (a C4/RefinedWeb-style dedup and
bias control), and host-level stats all start from parsing the page URL.
These operators keep everything JVM-side (``regexp_extract`` / string
built-ins — whole-stage codegen, no Python), so they run at scan speed on
10^12 rows, and the parse regexes are dialect-portable (plain character
classes, no lookarounds) so the driver's DuckDB oracle applies the SAME
pattern to the SAME strings.

Input is any DataFrame with a URL string column — e.g. the input-hint corpus
``(url, warc_ts, html, text, lang)`` — and the outputs are narrow columns a
table would be clustered by in a deployment (domain-clustered layout makes
the per-domain cap a partition-local window, no shuffle). pyspark is imported
inside the operators, so the serving replica reads ``RE_HOST`` without it.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

# Dialect-portable pieces (Java regex == RE2 semantics for these patterns):
# scheme = RFC 3986 ALPHA *( ALPHA / DIGIT / "+" / "-" / "." ), host = the
# authority up to the first '/', ':', '?' or '#', path = from the first '/'
# after the authority to the first '?' or '#'.
RE_SCHEME = "^([a-zA-Z][a-zA-Z0-9+.-]*)://"
RE_HOST = "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)"
RE_PATH = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)"


def url_parse(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Append (scheme, host, registered_domain, path, path_depth).

    ``registered_domain`` is the last two dot-labels of the host (example.com
    from www.blog.example.com) — the public-suffix-list refinement drops in
    as a broadcast-join lookup table without changing this plan's shape.
    ``path_depth`` counts non-empty path segments. All expressions are
    codegen'd column ops; empty-string sentinels (never NULL) keep downstream
    groupBys total.
    """
    from pyspark.sql import functions as F

    url = F.col(url_col)
    host = F.regexp_extract(url, RE_HOST, 1)
    labels = F.split(host, r"\.")
    n = F.size(labels)
    registered = F.when(
        n >= 2,
        F.concat_ws(".", F.element_at(labels, -2), F.element_at(labels, -1)),
    ).otherwise(host)
    path = F.regexp_extract(url, RE_PATH, 1)
    depth = F.size(F.filter(F.split(path, "/"), lambda s: s != ""))
    return df.select(
        "*",
        F.regexp_extract(url, RE_SCHEME, 1).alias("scheme"),
        host.alias("host"),
        registered.alias("registered_domain"),
        path.alias("path"),
        depth.cast("int").alias("path_depth"),
    )


def host_stats(
    parsed: DataFrame,
    by: str = "registered_domain",
    chars_col: str = "n_chars",
) -> DataFrame:
    """(domain, n_docs, n_hosts, total_chars, avg_path_depth): the per-domain
    profile a crawl-selection policy reads (domain frequency caps, boilerplate
    farms show up as huge n_docs with tiny char variance). ONE hash-aggregate
    shuffle keyed on the domain — scale-safe at any corpus size; skew from a
    mega-domain is bounded because partial aggregation (map-side combine)
    collapses each partition's contribution to one row per domain first.
    """
    from pyspark.sql import functions as F

    return parsed.groupBy(F.col(by).alias("domain")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("host").alias("n_hosts"),
        F.sum(F.col(chars_col)).alias("total_chars"),
        F.avg("path_depth").alias("avg_path_depth"),
    )


def cap_per_domain(
    parsed: DataFrame,
    max_docs: int,
    by: str = "registered_domain",
    order_col: str = "doc_id",
) -> DataFrame:
    """Keep at most ``max_docs`` documents per domain (deterministic: lowest
    ``order_col`` wins — pass a quality score's negation to keep the best).

    The standard anti-bias step in web-corpus curation: without it a handful
    of template-heavy domains dominate the token budget. One window over the
    domain key; with a domain-clustered table layout the window is
    partition-local (no shuffle). A rank column (``domain_rank``) is kept so
    downstream stages can re-cut at smaller caps without recomputing.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy(by).orderBy(F.asc(order_col))
    return (
        parsed.withColumn("domain_rank", F.row_number().over(w))
        .where(F.col("domain_rank") <= max_docs)
    )


def sample_per_domain(
    parsed: DataFrame,
    rates: dict[str, float],
    default_rate: float = 1.0,
    by: str = "registered_domain",
    key_col: str = "url",
) -> DataFrame:
    """Deterministic per-domain Bernoulli sampling — mixture reweighting.

    The curation step after per-domain stats: down-weight over-represented
    or low-quality domains by keeping each of their documents with a fixed
    probability. The coin is NOT ``rand()``: a document survives iff
    ``int(md5(key)[:8], 16) % 1e6 < rate * 1e6``, a pure function of the row
    key — so every re-run, resume, and cluster size draws the SAME sample
    (checkpoint-resumable pipelines break under nondeterministic sampling),
    and the oracle can verify the exact surviving set. Rates are snapped to
    integer parts-per-million driver-side so no float threshold crosses an
    engine boundary. Broadcast rates join + codegen'd filter: zero shuffle,
    scan speed at any corpus size. Keeps ``sample_bucket`` for audit.
    """
    from pyspark.sql import functions as F

    spark = parsed.sparkSession
    rows = [(d, int(round(r * 1_000_000))) for d, r in sorted(rates.items())]
    default_ppm = int(round(default_rate * 1_000_000))
    bucket = (
        F.conv(F.substring(F.md5(F.col(key_col)), 1, 8), 16, 10).cast("long")
        % 1_000_000
    )
    df = parsed
    if rows:
        rdf = spark.createDataFrame(rows, f"{by} string, keep_ppm long")
        df = df.join(F.broadcast(rdf), by, "left")
    else:
        df = df.withColumn("keep_ppm", F.lit(None).cast("long"))
    return (
        df.withColumn("sample_bucket", bucket)
        .where(F.col("sample_bucket") < F.coalesce(F.col("keep_ppm"), F.lit(default_ppm)))
        .drop("keep_ppm")
    )
