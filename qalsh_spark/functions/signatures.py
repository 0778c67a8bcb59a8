"""Arrow-batched signature UDFs — the only Python in the hot path.

Reimagines the reference's per-point LSH projection loop
(/root/reference/methods/qalsh.h:285-307: for each of m projections, dot every
point with a p-stable vector, sort, bulkload a B+-tree) as ONE vectorized
pass per document batch producing minhash/simhash/band keys; the "sorted
projection table" becomes a posexplode'd (band_id, band_key) DataFrame that
Catalyst shuffles into equality buckets — no trees, no pages.

Batch discipline: per Arrow batch (spark.sql.execution.arrow.maxRecordsPerBatch
rows) the loop over documents is Python, but all per-document math is NumPy —
each document is itself a vector op (n_shingles x 128 broadcast).  This is the
structure the input_hint mandates ("vectorized pandas/Arrow UDFs, no per-row
Python" — no per-ROW Python interpreter arithmetic).
"""

from __future__ import annotations

import re
from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from qalsh_spark import kernels as K
from qalsh_spark.config import DedupConfig

# Extraction contract (BASELINE.json input_hint: byte-identical text per url):
# text is the <p> block contents joined by a single space. Shared verbatim with
# the oracle via this module-level regex + function.
_P_BLOCK = re.compile(rb"<p>(.*?)</p>", re.DOTALL)


def extract_text_bytes(html: bytes) -> str:
    """html bytes -> extracted text. Pure function, used by UDF *and* oracle."""
    if html is None:
        return ""
    return b" ".join(_P_BLOCK.findall(html)).decode("utf-8", "replace")


@F.pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return html.map(extract_text_bytes)


def ensure_text(documents: DataFrame) -> DataFrame:
    """Guarantee a populated (non-null) `text` column, extracting from `html`
    only where needed.

    Split-union, NOT when(isNull, udf(html)): Catalyst hoists Python UDFs
    into an unconditional ArrowEvalPython node, so the `when` form ships
    EVERY html blob through the Python extractor even when every row already
    has text (measured: ~half the `prepared` stage wall at 1M docs).  The
    filters push down to the scan, each branch reads only its rows, and the
    usual corpus (text fully populated) never touches Python here.  Filter +
    union are Structured-Streaming-supported, so streaming inputs get the
    same plan shape (the former streaming path paid the full penalty)."""
    cols = set(documents.columns)
    df = documents
    if "text" not in cols and "html" in cols:
        df = df.withColumn("text", extract_text_udf(F.col("html")))
    elif "html" in cols:
        with_text = df.filter(F.col("text").isNotNull())
        needs_extract = df.filter(F.col("text").isNull()).withColumn(
            "text", extract_text_udf(F.col("html"))
        )
        df = with_text.unionByName(needs_extract)
    return df.withColumn("text", F.coalesce(F.col("text"), F.lit("")))


# Per-partition row budget for the signing stage when the caller supplies a
# row-count hint (see the repartition note in sign_documents): ~62.5k docs
# x (~2.2 KB text + ~1.5 KB signatures) ~ 250 MB of per-task state.
_SIGN_ROWS_PER_PARTITION = 62_500

_SIGNATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("lang", T.StringType()),
        T.StructField("n_tokens", T.IntegerType()),
        T.StructField("shingle_count", T.IntegerType()),
        T.StructField("minhash", T.ArrayType(T.IntegerType())),
        T.StructField("band_keys", T.ArrayType(T.LongType())),
        T.StructField("simhash", T.LongType()),
        T.StructField("simhash_keys", T.ArrayType(T.LongType())),
        T.StructField("suffix_keys", T.ArrayType(T.LongType())),
        T.StructField("suffix_checks", T.ArrayType(T.LongType())),
    ]
)


def _sign_batches(cfg: DedupConfig):
    a, b = K.minhash_params(cfg.num_perm, cfg.minhash_seed)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            out = {
                "doc_id": pdf["doc_id"].to_numpy(),
                "url": pdf["url"].to_numpy(),
                "warc_ts": pdf["warc_ts"].to_numpy(),
                "lang": pdf["lang"].to_numpy(),
                "n_tokens": np.zeros(n, np.int32),
                "shingle_count": np.zeros(n, np.int32),
                "minhash": [None] * n,
                "band_keys": [None] * n,
                "simhash": np.zeros(n, np.int64),
                "simhash_keys": [None] * n,
                "suffix_keys": [None] * n,
                "suffix_checks": [None] * n,
            }
            for i, text in enumerate(pdf["text"].to_numpy()):
                s = K.sign_document(
                    text or "",
                    a,
                    b,
                    cfg.shingle_k,
                    cfg.bands,
                    cfg.rows,
                    cfg.simhash_blocks,
                    cfg.simhash_key_blocks,
                )
                out["n_tokens"][i] = s["n_tokens"]
                out["shingle_count"][i] = len(s["shingles"])
                out["minhash"][i] = s["minhash"]
                out["band_keys"][i] = s["band_keys"]
                out["simhash"][i] = s["simhash"]
                out["simhash_keys"][i] = s["simhash_keys"]
                # suffix lane keys in the SAME text pass: one Python stage,
                # one scan, no separate repartition (the suffix lane's one
                # signing path, operators/banding.LANE_SUFFIX).  k1 buckets;
                # the aligned k2 check hash makes edge acceptance a 128-bit
                # test (kernels.suffix_key_pairs_for_text).
                k1, k2 = K.suffix_key_pairs_for_text(
                    text or "", cfg.suffix_window, cfg.suffix_gap, cfg.lcp_min
                )
                out["suffix_keys"][i] = k1
                out["suffix_checks"][i] = k2
            yield pd.DataFrame(out)

    return fn


def doc_id_expr(url_col):
    """Portable doc id = first 16 hex chars of md5(url) as signed int64,
    assembled from two 32-bit halves (conv of 16 hex chars would overflow the
    string->long cast).  Bit-identical to kernels.doc_id_from_url (Python)
    and expressible in DuckDB — the whole toolchain shares one id space
    (SURVEY.md §1.2 'point id'; no monotonically_increasing_id)."""
    hexs = F.md5(url_col.cast("string"))
    hi = F.conv(F.substring(hexs, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hexs, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def conform_documents(documents: DataFrame) -> DataFrame:
    """The document contract shared by the batch `prepared` stage and
    sign_documents: a populated `text` (ensure_text), null `warc_ts` and
    `lang` where the input lacks them, and the deterministic doc_id minted
    from the url primary key."""
    cols = set(documents.columns)
    df = ensure_text(documents)
    if "warc_ts" not in cols:
        df = df.withColumn("warc_ts", F.lit(None).cast("timestamp"))
    if "lang" not in cols:
        df = df.withColumn("lang", F.lit(None).cast("string"))
    return df.withColumn("doc_id", doc_id_expr(F.col("url")))


def sign_documents(
    documents: DataFrame, cfg: DedupConfig, rows_hint: int | None = None
) -> DataFrame:
    """documents(url, warc_ts, html?, text, lang) -> signatures table
    (FIXTURES.md §2 + suffix-lane columns).  If `text` is null/absent it is
    extracted from `html` (stage 2 'extract' of SURVEY.md §3.4).

    `rows_hint`: approximate input row count, if the caller knows it (the
    batch job counts its input anyway).  Bounds the signing stage's
    per-partition ROW budget — see the repartition note below."""
    narrow = conform_documents(documents).select(
        "doc_id", "url", "warc_ts", "lang", "text"
    )
    # The signing stage is the CPU-heaviest Python work in the pipeline; a
    # small input (few parquet splits) would otherwise cap its parallelism at
    # the split count regardless of cluster size.  Round-robin repartition to
    # the session's full parallelism; at real scale (input splits >> cores)
    # this is a no-op-sized shuffle of narrow rows vs hours of signing.
    # (Streaming inputs keep their micro-batch partitioning.)  3x
    # parallelism, not 1x: one-wave scheduling makes the stage wall the
    # SLOWEST task; finer waves smooth per-partition length skew and
    # python-worker jitter.  The trigger is the source FILE count (cheap
    # listing — no .rdd plan conversion): a big corpus arrives as many
    # files and skips the repartition entirely.
    #
    # The target is ALSO floored by a per-partition ROW budget, because a
    # core-count-only target couples per-task memory to 1/cores: the
    # pipeline persists the signing output one cache block per partition,
    # and in the batch pipeline this input is the CACHED `prepared` stage,
    # for which inputFiles() returns [] (InMemoryRelation replaces the file
    # scan), so the repartition ALWAYS fires with exactly `target`
    # partitions.  At the 4M-doc scaling leg on local[2] that meant 6
    # partitions of ~667k docs (~2 GB serialized signatures per block) and
    # a heap OOM at the per-core-fair 8g heap mid cache-write + shuffle
    # (BENCH/logs/leg2-fail-1787124371.stderr, stage 7 =
    # RoundRobinPartitioning(6) -> MapInPandas).  62.5k rows/partition keeps
    # every in-flight unit (Arrow batch chain + one cache block ~200-300 MB)
    # bounded REGARDLESS of cluster size — the same rule that keeps a
    # 3 GB/core executor safe at 100 TB.
    if not narrow.isStreaming:
        target = 3 * narrow.sparkSession.sparkContext.defaultParallelism
        if rows_hint:
            target = max(target, -(-int(rows_hint) // _SIGN_ROWS_PER_PARTITION))
        if len(narrow.inputFiles()) < target:
            narrow = narrow.repartition(target)
    return narrow.mapInPandas(_sign_batches(cfg), schema=_SIGNATURE_SCHEMA)
