"""Sources: the driver's parquet tables + the derived web-page corpus.

`docs_table` derives the Common-Crawl-shaped input mandated by BASELINE.json
`input_hint` — (url, warc_ts, html:binary, text, lang) — deterministically
from the driver-generated `documents` parquet (TESTDATA.md), using only
native Column expressions so the DuckDB oracle (`fixtures.docs_cte`) computes
the identical relation.  At production scale this stage is simply
`spark.read.format("iceberg").load(...)`; everything downstream is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fixtures, refsem

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def small_input(sf_dir: str, name: str) -> bool:
    """True when the table's parquet is in the unambiguous tiny-input
    regime of ``scan_parallel`` (see there): the whole input is a couple of
    scan splits, so a round-robin repartition to core count is a bounded,
    always-worth-it shuffle for compute-heavy consumers.  False for
    non-local paths (no os.stat) and for anything big enough to split
    naturally."""
    import os
    try:
        size = os.path.getsize(f"{sf_dir}/{name}.parquet")
    except OSError:
        return False
    return size < 256 * 1024 * 1024


def needs_scan_floor(spark: SparkSession, sf_dir: str, name: str) -> bool:
    """True when a plain scan of the table's parquet file would run on
    fewer tasks than Spark's default parallelism: the file is tiny
    (``small_input``), or it has fewer row groups than that.  Spark splits
    a parquet scan only at row-group boundaries, so the second kind is
    read by that few tasks however large it is (pyarrow writes one row
    group per 1Mi rows by default: a 100k-page corpus above the
    ``small_input`` size took 44 s per warm pass as one row group against
    25 s with 8,192-row groups, on a 4-core host).  Reads only the footer;
    False when it cannot be read (non-local path, directory)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    if small_input(sf_dir, name):
        return True
    try:
        groups = pq.read_metadata(f"{sf_dir}/{name}.parquet").num_row_groups
    except (OSError, pa.ArrowInvalid):
        return False
    return groups < spark.sparkContext.defaultParallelism


def scan_parallel(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``load`` with a scan-parallelism floor for compute-heavy consumers.

    A parquet input smaller than one scan split (maxPartitionBytes), or
    written as fewer row groups than cores, yields fewer tasks than cores,
    serializing every downstream per-row expression onto a few cores —
    input skew, fixed by repartitioning right after the read (measured:
    the minhash/simhash chains ran 2x faster at sf0.1 once spread).  The
    round-robin repartition is gated on the file bytes and its footer
    (``needs_scan_floor``: an os.stat and a footer read, no extra query
    planning), so an input that already splits into a task per core is
    load() verbatim — never a shuffle for a marginal parallelism gain.
    Paths that cannot be read locally return the plain scan."""
    df = load(spark, sf_dir, name)
    if needs_scan_floor(spark, sf_dir, name):
        return df.repartition(spark.sparkContext.defaultParallelism)
    return df


def _sentence_case_sql() -> str:
    """Per-doc fixture sentence as ONE SQL CASE expression string.  The old
    py4j when-chain cost ~20 JVM round-trips per docs_table call (~150 ms of
    pure plan-build time paid by every docs-derived query); a single
    parsed string is one round-trip for the identical expression tree.
    The sentences contain no quote characters (asserted), so the literal
    embedding is exact."""
    n = len(fixtures.SENTENCES)
    assert all("'" not in s and "\\" not in s for s in fixtures.SENTENCES)
    branches = " ".join(
        f"WHEN doc_id % {n} = {i} THEN '{s}'"
        for i, s in enumerate(fixtures.SENTENCES))
    return f"CASE {branches} END"


def docs_table(spark: SparkSession, sf_dir: str, with_html: bool = True) -> DataFrame:
    """documents.parquet → (url, warc_ts, html, body_text, text, lang, link_lang).

    `body_text` is the page's logical text (driver text + injected fixture
    sentence + skew sentence on even doc_ids — "Berlin" becomes a hot key in
    ~50% of pages, per the north rule's skew requirement); `html` wraps it in
    deterministic boilerplate so the extract stage has real work.

    The html path applies the scan-parallelism floor (``scan_parallel``):
    its consumers run the Arrow-batched extraction UDFs, whose per-row cost
    dwarfs the one bounded shuffle when the input is a single tiny split.
    """
    src = (scan_parallel(spark, sf_dir, "documents") if with_html
           else load(spark, sf_dir, "documents"))
    return derive_docs(src, with_html=with_html)


def replicate_documents(documents: DataFrame, k: int, heavy: int = 1) -> DataFrame:
    """Deterministically scale the corpus for throughput benchmarking:
    ×k rows (each copy gets a distinct doc_id = doc_id*k + copy, preserving
    the sentence/skew injection pattern) and ×heavy text length (text
    repeated, space-joined — real web pages are KBs, the driver rows are
    ~400 B).  doc_id must stay under 10^URL_ID_DIGITS: the url template
    zero-pads to that width and lpad TRUNCATES longer ids, which would
    silently collide urls.
    """
    docs = documents
    if k > 1:
        mx = docs.agg(F.max("doc_id")).collect()[0][0]
        limit = 10 ** fixtures.URL_ID_DIGITS
        if (mx + 1) * k > limit:  # max id = (mx+1)*k - 1 must stay < limit
            raise ValueError(f"replicate k={k} with max doc_id={mx} overflows the "
                             f"{fixtures.URL_ID_DIGITS}-digit url namespace "
                             "(urls would collide)")
        docs = (docs
                .withColumn("_copy", F.explode(F.sequence(F.lit(0), F.lit(k - 1))))
                .withColumn("doc_id", F.col("doc_id") * k + F.col("_copy"))
                .drop("_copy"))
    if heavy > 1:
        docs = docs.withColumn(
            "text", F.array_join(F.array_repeat(F.col("text"), heavy), " "))
    return docs


def derive_docs(d: DataFrame, with_html: bool = True) -> DataFrame:
    # ONE selectExpr batch for all derived columns (round 8: SQL text, not
    # Column trees — each Column op is 2-5 py4j round-trips in Spark 4 and
    # this chain measured ~250-390 calls per docs_table call, pure
    # plan-build cost paid by every docs-derived query; the strings below
    # parse to the identical expression trees in ONE round trip each —
    # guide §1.2 order: this is per-call fixed overhead).
    out = d.selectExpr(
        "*",
        "concat('https://test.example/', lang, '/doc', "
        f"lpad(cast(doc_id AS string), {fixtures.URL_ID_DIGITS}, '0')) AS url",
        "timestamp'2025-01-01 00:00:00' + make_interval(0,0,0,0,0,doc_id,0)"
        " AS warc_ts",
        "concat(text, ' ', " + _sentence_case_sql() + ", "
        f"CASE WHEN doc_id % 2 = 0 THEN ' {fixtures.SKEW_SENTENCE}' "
        "ELSE '' END) AS body_text",
        "CASE WHEN lang = 'de' THEN 'de' ELSE 'en' END AS link_lang",
    )
    if with_html:
        # native mirror of refsem.render_html: minimal invertible escaping of
        # text nodes (& first), so html == render_html(body_text) byte-for-byte.
        # The replace chain is gated on one contains() probe per char:
        # replace of an absent pattern is the identity, so rows without any
        # of &<> (the overwhelmingly common case) skip all three full-string
        # COPIES and pay three scan-only probes — at the 1M-page bench
        # corpus that is ~20 GB of string churn removed from the timed
        # generation stage (guide §1.2: per-task work).  body_text is a
        # plain attribute, so its duplication across the branches is free.
        out = out.selectExpr(
            "*",
            "encode(concat('" + refsem._HTML_PRE + "', "
            "CASE WHEN contains(body_text, '&') OR contains(body_text, '<') "
            "OR contains(body_text, '>') THEN "
            "replace(replace(replace(body_text, '&', '&amp;'), "
            "'<', '&lt;'), '>', '&gt;') ELSE body_text END, '"
            + refsem._HTML_POST + "'), 'UTF-8') AS html")
    return out
