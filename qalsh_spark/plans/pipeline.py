"""The end-to-end dedup pipeline DAG (SURVEY.md §3.4):

ingest -> extract -> exact-group -> sign -> bucket -> pairs -> verify
       -> cluster -> report

Each stage is a pure DataFrame -> DataFrame function; materialization +
resume is delegated to StageCatalog (checkpoint per stage, skip when a valid
manifest exists — the analog of the reference's index-reload constructor,
/root/reference/methods/qalsh.h:322-341).

The exact-group pre-pass is load-bearing for scale: byte-identical texts
(boilerplate templates, mirrored pages) form groups whose size grows with
corpus size, and while such a group is under the bucket cap its all-pairs
LSH bucket emits O(size^2) pairs — i.e. total candidate pairs grow
QUADRATICALLY with corpus size (measured: 2.5x docs -> 9x wall before this
pass).  Grouping identical texts first (one hash groupBy, fully linear),
signing only one representative per distinct text, and wiring members to
their representative with pre-verified edges removes the quadratic exactly
— the classic exact-then-near dedup staging of web-corpus pipelines.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from qalsh_spark.config import DedupConfig
from qalsh_spark.functions.signatures import conform_documents, sign_documents
from qalsh_spark.operators.banding import SUFFIX_BUCKET_CAP, explode_bands
from qalsh_spark.operators.components import (
    _CKPT_LEVEL,
    clusters_with_representatives,
    connected_components,
)
from qalsh_spark.operators.pairs import candidate_pairs_from_buckets
from qalsh_spark.operators.verify import verify_pairs
from qalsh_spark.sources.catalog import StageCatalog

# the escalation pass re-bands unmatched docs for threshold - ESCALATE_DROP
ESCALATE_DROP = 0.15


@dataclass
class DedupResult:
    signatures: DataFrame
    pairs: DataFrame
    edges: DataFrame
    clusters: DataFrame
    bucket_stats: DataFrame | None = None
    _persists: list = None  # caches created along the way (field avoids
    # mutable-default pitfalls: run() always assigns a fresh list)

    def release(self) -> None:
        """Unpersist every cache the pipeline created.  Call once the
        result DataFrames have been materialized (written/collected) —
        long-lived sessions (bench loops, repeated run()s) otherwise
        accumulate cached blocks for the session lifetime."""
        for df in self._persists or []:
            try:
                df.unpersist()
            except Exception:
                pass
        self._persists = []


class DedupPipeline:
    def __init__(
        self,
        cfg: DedupConfig | None = None,
        catalog: StageCatalog | None = None,
        enable_suffix: bool = True,
        enable_simhash: bool = True,
        escalate: bool = False,
        rows_hint: int | None = None,
    ):
        self.cfg = cfg or DedupConfig()
        # Approximate input row count if the caller knows it (jobs/dedup.py
        # counts its input anyway) — bounds the signing stage's per-partition
        # row budget (functions/signatures.py).
        self.rows_hint = rows_hint
        self.catalog = catalog
        self.enable_suffix = enable_suffix
        self.enable_simhash = enable_simhash
        # multi-band escalation (virtual-rehashing analog,
        # /root/reference/methods/qalsh.h:844-871): after the first verify,
        # re-band the still-unmatched docs' EXISTING minhash signatures at a
        # coarser (b, r) targeting threshold - ESCALATE_DROP, and verify the
        # recovered candidates.  Buys back the S-curve discovery misses just
        # above the threshold (P(miss|s=0.52) ~ 9% at the default 32x4) at
        # the cost of one extra bucket/pair/verify pass over the unmatched
        # subset only.
        self.escalate = escalate

    # -- stages ----------------------------------------------------------
    def sign(self, documents: DataFrame) -> DataFrame:
        return sign_documents(documents, self.cfg, rows_hint=self.rows_hint)

    def buckets(self, signatures: DataFrame) -> DataFrame:
        lanes = ["minhash"]
        if self.enable_simhash:
            lanes.append("simhash")
        if self.enable_suffix:
            lanes.append("suffix")
        return explode_bands(signatures, lanes)

    def candidate_pairs(
        self, signatures: DataFrame, persists: list | None = None
    ) -> tuple[DataFrame, DataFrame]:
        """All lanes (minhash + simhash bands, suffix keys — all columns of
        the signatures table, emitted by the single signing pass) explode
        into ONE bucket stream and pair-generate in a single pass — one
        shuffle schedule, one skew treatment, per-lane caps."""
        caps: dict[str, int] = {
            "minhash": self.cfg.bucket_cap,
            "simhash": self.cfg.bucket_cap,
        }
        if self.enable_suffix:
            caps["suffix"] = SUFFIX_BUCKET_CAP
        # The operator hash-exchanges the bucket stream once and persists
        # the shuffled copy at the serialized MEMORY_AND_DISK level (RAM
        # while it fits, graceful spill — see pairs.py:122-124); every
        # pair-generation consumer reads that one materialization
        # exchange-free (pairs.py module doc).
        return candidate_pairs_from_buckets(
            self.buckets(signatures), caps, persists=persists,
        )

    def verify(
        self, pairs: DataFrame, signatures: DataFrame, documents_with_id: DataFrame
    ) -> DataFrame:
        return verify_pairs(pairs, signatures, self.cfg, documents_with_id)

    def _escalation_pairs(
        self, signatures: DataFrame, edges: DataFrame, persists: list
    ) -> DataFrame:
        """Coarser-band candidate pass over docs with no accepted edge yet
        (left_anti on the matched-id set — the resume-style skip join of
        SURVEY §2.6).  Re-uses stored minhash columns; no re-signing."""
        from qalsh_spark.operators.banding import reband_minhash_udf

        target = max(0.05, self.cfg.jaccard_threshold - ESCALATE_DROP)
        b2, r2 = DedupConfig.tune_bands_prefix(target, self.cfg.num_perm)
        matched = (
            edges.select(F.col("a").alias("doc_id"))
            .unionByName(edges.select(F.col("b").alias("doc_id")))
            .distinct()
        )
        unmatched = signatures.join(matched, on="doc_id", how="left_anti")
        rebanded = unmatched.select(
            "doc_id",
            reband_minhash_udf(b2, r2)(F.col("minhash")).alias("band_keys"),
        )
        pairs2, _stats = candidate_pairs_from_buckets(
            explode_bands(rebanded, ["minhash"]), self.cfg.bucket_cap,
            persists=persists,
        )
        return pairs2

    def cluster(self, edges: DataFrame, meta: DataFrame) -> DataFrame:
        comp = connected_components(edges.select("a", "b"))
        return clusters_with_representatives(comp, meta)

    # -- end-to-end ------------------------------------------------------
    def run(
        self, documents: DataFrame, input_fingerprint: str | None = None
    ) -> DedupResult:
        """Run all stages. With a catalog attached, each stage checkpoints
        and a rerun with identical (config, input) resumes past completed
        stages."""
        fp = input_fingerprint or _plan_fingerprint(documents)
        cat = self.catalog
        persists: list = []

        def stage(name: str, make) -> DataFrame:
            if cat is not None and cat.has_valid(name, fp):
                return cat.read(documents.sparkSession, name)
            df = make()
            if cat is not None:
                df = cat.write(df, name, fp)
            else:
                # No checkpoint catalog: persist the stage boundary so the
                # many downstream consumers (verify joins signatures twice,
                # clustering reads it again) don't re-execute the whole
                # upstream plan — the in-memory analog of the catalog's
                # read-back-after-write.  SERIALIZED level (not the
                # deserialized JVM default): blocks this cache spills under
                # pressure would otherwise be re-inflated whole into the
                # memory store on every read (maybeCacheDiskValuesInMemory),
                # which OOM-killed the 24g 4M-doc scaling leg.
                df = df.persist(_CKPT_LEVEL)
                persists.append(df)
            return df

        # extract + id + exact-group key, one narrow table reused everywhere
        prepared = stage("prepared", lambda: _prepare(documents))

        # Narrow columns only for the membership edges (text never shuffles
        # here): one hash groupBy + one small join.  The group key is
        # (text_len, text_hash) — a 64-bit hash alone would silently merge
        # two different documents as "byte-identical" on a birthday
        # collision and drop one from every LSH lane; requiring equal
        # length too pushes the odds far below corpus scale.
        ids = prepared.select("text_len", "text_hash", "doc_id")
        groups = ids.groupBy("text_len", "text_hash").agg(
            F.min("doc_id").alias("rep_id")
        )
        # members wire to their group representative with pre-verified edges
        # (byte-identical text: jaccard 1, hamming 0); a<b holds since the
        # representative is the group min
        exact_edges = (
            ids.join(groups, on=["text_len", "text_hash"])
            .filter(F.col("doc_id") != F.col("rep_id"))
            .select(
                F.col("rep_id").alias("a"),
                F.col("doc_id").alias("b"),
                F.lit(1.0).alias("jaccard"),
                F.lit(0).alias("hamming"),
                F.array(F.lit("exact")).alias("lanes"),
            )
        )
        # Representative rows (the only fat shuffle of this pre-pass):
        # row_number()==1 compiles to WindowGroupLimit, which STREAMS each
        # text_hash group and keeps one row — bounded memory even for a
        # billion-member boilerplate group, unlike a collect/self-join.
        from pyspark.sql import Window

        w = Window.partitionBy("text_len", "text_hash").orderBy("doc_id")
        reps = (
            prepared.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("url", "warc_ts", "lang", "text")
        )

        signatures = stage("signatures", lambda: self.sign(reps))
        pairs_holder: dict = {}

        def make_pairs():
            p, s = self.candidate_pairs(signatures, persists=persists)
            pairs_holder["stats"] = s
            return p

        pairs = stage("pairs", make_pairs)

        def make_edges():
            verified = self.verify(pairs, signatures, prepared)
            edges_df = verified.unionByName(exact_edges)
            if self.escalate:
                # localCheckpoint (not persist): the escalation pass embeds
                # this DataFrame's tree in a left_anti join, a verify and a
                # final union — with a live logical plan, those nested
                # references compound into an exponentially large Catalyst
                # tree (plan stringification alone OOMs).  Truncating
                # lineage here keeps the second-pass plan the same size as
                # the first.  SERIALIZED level: the JVM default (deserialized
                # MEMORY_AND_DISK) re-inflates disk-spilled blocks as Java
                # objects on every read — heap OOM at leg scale (see
                # operators/components._CKPT_LEVEL).
                edges_df = edges_df.localCheckpoint(True, _CKPT_LEVEL)
                pairs2 = self._escalation_pairs(signatures, edges_df, persists)
                # endpoints of escalated pairs are all unmatched docs, so
                # the recovered edges are disjoint from the first pass
                verified2 = self.verify(pairs2, signatures, prepared)
                edges_df = edges_df.unionByName(verified2)
            return edges_df

        edges = stage("edges", make_edges)
        clusters = stage(
            "clusters",
            lambda: self.cluster(
                edges, prepared.select("doc_id", "url", "warc_ts")
            ),
        )
        return DedupResult(
            signatures, pairs, edges, clusters, pairs_holder.get("stats"),
            _persists=persists,
        )


def _prepare(documents: DataFrame) -> DataFrame:
    """Stage 'prepared': extract text (when only html is present), mint the
    deterministic doc_id, and key every row by the byte-exact
    (text_len, text_hash) pair for the exact-group pre-pass.  Output:
    (url, warc_ts, lang, text, doc_id, text_len, text_hash) — the narrow
    table every later stage joins against."""
    return conform_documents(documents).select(
        "url", "warc_ts", "lang", "text", "doc_id",
        F.length("text").alias("text_len"),
        F.xxhash64("text").alias("text_hash"),
    )


def _plan_fingerprint(df: DataFrame) -> str:
    """Cheap logical fingerprint of the input (schema + source paths). An
    Iceberg catalog would pin snapshot_id here instead."""
    try:
        files = sorted(df.inputFiles())
    except Exception:
        files = []
    payload = (df.schema.json() + "|" + "|".join(files)).encode()
    return hashlib.sha256(payload).hexdigest()[:16]


def run_dedup(
    spark: SparkSession,
    documents: DataFrame,
    cfg: DedupConfig | None = None,
    checkpoint_root: str | None = None,
    **kw,
) -> DedupResult:
    cfg = cfg or DedupConfig()
    catalog = (
        StageCatalog(checkpoint_root, cfg.config_hash()) if checkpoint_root else None
    )
    return DedupPipeline(cfg, catalog, **kw).run(documents)
