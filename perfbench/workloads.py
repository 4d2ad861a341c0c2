"""The three benchmark workloads, each as an untraced batch (the timed
end-to-end path) and a traced batch (the same public functions called
one layer at a time, each output materialised at its layer boundary).

A batch reads its inputs from ``in_dir`` and leaves its complete output
under ``out_dir``. The program is reached only through its public
modules: ``session``, ``sources``, ``operators``, ``plans`` and
``llm_queries``.
"""

from __future__ import annotations

import os
import shutil

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F

from aggregator_spark import llm_queries as LQ
from aggregator_spark.operators import aggregate, amplify, calendar, corpus, cube, dedup, repair
from aggregator_spark.plans import stage1, stage2
from aggregator_spark.schemas import COUNT
from aggregator_spark.sources import csv_sink, datapackage, logentry, manifest, minhash_index

from gen import SCAN_THRESHOLD
from spans import Tracer

DIMS = ("risk", "country", "asn")


class Materialiser:
    """Persists each layer's output at its boundary and counts its rows, so
    the span around the call holds that layer's work and nothing after."""

    def __init__(self):
        self.frames: list[DataFrame] = []

    def __call__(self, df: DataFrame, span) -> DataFrame:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self.frames.append(df)
        span.rows_out += df.count()
        return df

    def release(self) -> None:
        for df in self.frames:
            df.unpersist()
        self.frames.clear()


def _read_dims(spark: SparkSession, in_dir: str) -> dict[str, DataFrame]:
    return {
        d: datapackage.read_datapackage_resource(spark, f"{in_dir}/{d}-datapackage.json")
        for d in DIMS
    }


def _traced_dims(spark, in_dir, tr: Tracer, mat: Materialiser) -> dict[str, DataFrame]:
    out = {}
    for d in DIMS:
        with tr.span("sources.datapackage.read_datapackage_resource") as sp:
            out[d] = mat(datapackage.read_datapackage_resource(
                spark, f"{in_dir}/{d}-datapackage.json"), sp)
    return out


def _feed_paths(in_dir: str) -> list[str]:
    """The reference's COPY manifest, built from the feeds datapackage."""
    m = manifest.create_manifest(
        datapackage.load_descriptor(f"{in_dir}/feeds-datapackage.json"), in_dir)
    return manifest.manifest_paths(m)


def _read_count_csv(spark: SparkSession, path: str) -> DataFrame:
    """Stage 2's input: stage 1's headerless count.csv, read back."""
    return (spark.read.option("header", False)
            .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
            .csv(path, schema=COUNT))


def _traced_stage2(spark, fact, dims, out_dir, tr: Tracer, mat: Materialiser) -> int:
    """``run_stage2`` then ``publish_parquet``, with the calendar, cube and
    repair layers that ``run_stage2`` composes called one at a time in the
    same order inside its span. Returns the number of files published."""
    with tr.span("plans.stage2.run_stage2"):
        res = stage2.run_stage2(spark, fact, dims["risk"], dims["country"], dims["asn"])
        with tr.span("operators.calendar.derive_dim_date") as sp:
            res.dim_date = mat(calendar.derive_dim_date(res.fact_count), sp)
        for g in cube.GRANULARITIES:
            with tr.span("operators.cube.rollup_cube") as sp:
                res.cubes[g] = mat(cube.rollup_cube(res.fact_count, g), sp)
        with tr.span("operators.repair.repair_dim_country") as sp:
            res.dim_country = mat(repair.repair_dim_country(res.fact_count, dims["country"]), sp)
        with tr.span("operators.repair.repair_dim_asn") as sp:
            res.dim_asn = mat(repair.repair_dim_asn(res.fact_count, dims["asn"]), sp)
    with tr.span("plans.stage2.publish_parquet"):
        stage2.publish_parquet(res, f"{out_dir}/star")
    res.fact_count.unpersist()
    return count_files(f"{out_dir}/star")


def _data_files(path: str) -> list[str]:
    """Data files under ``path``: no checksums, no markers."""
    return [os.path.join(d, f) for d, _, files in os.walk(path)
            for f in files if not f.startswith((".", "_"))]


def count_files(path: str) -> int:
    return len(_data_files(path))


def output_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in _data_files(path))


class ScanlogNightly:
    """The reference's nightly job: Aggregator.run then LoadToRDS.run."""

    name = "scanlog_nightly"

    def prepare(self, in_dir: str) -> None:
        pass

    def batch(self, spark, in_dir, out_dir) -> None:
        dims = _read_dims(spark, in_dir)
        stage1.run_stage1(spark, _feed_paths(in_dir), dims["risk"],
                          threshold=SCAN_THRESHOLD, output_csv=f"{out_dir}/count.csv")
        fact = _read_count_csv(spark, f"{out_dir}/count.csv")
        res = stage2.run_stage2(spark, fact, dims["risk"], dims["country"], dims["asn"])
        stage2.publish_parquet(res, f"{out_dir}/star")
        res.fact_count.unpersist()

    def traced_batch(self, spark, in_dir, out_dir, tr: Tracer, mat: Materialiser) -> dict:
        """The composition of ``run_stage1`` (read → aggregate → amplify →
        ordered single CSV), then the stage-2 path. Returns ratio metrics,
        computed after the batch span closes."""
        with tr.span("batch"):
            dims = _traced_dims(spark, in_dir, tr, mat)
            paths = _feed_paths(in_dir)
            with tr.span("sources.logentry.read_logentry_csv") as sp:
                le = mat(logentry.read_logentry_csv(spark, paths), sp)
            with tr.span("operators.aggregate.aggregate_counts") as sp:
                fact = mat(aggregate.aggregate_counts(le, threshold=SCAN_THRESHOLD,
                                                      ordered=False), sp)
            with tr.span("operators.amplify.amplified_counts") as sp:
                amp = mat(amplify.amplified_counts(fact, dims["risk"]), sp)
            # the total order is planned by the aggregate layer and runs
            # inside the sink's single-partition write
            with tr.span("sources.csv_sink.write_single_csv"):
                csv_sink.write_single_csv(aggregate.ordered_fact(amp), f"{out_dir}/count.csv")
            files = _traced_stage2(spark, _read_count_csv(spark, f"{out_dir}/count.csv"),
                                   dims, out_dir, tr, mat)
        parsed = le.filter(F.col("date").isNotNull() & F.col("risk").isNotNull()
                           & F.col("asn").isNotNull()).count()
        rows = le.count()
        distinct = aggregate.dedup_observations(le).count()
        matched = amp.join(dims["risk"], amp["risk"] == dims["risk"]["id"]).count()
        return {
            "sources.logentry.parse_ok_ratio": parsed / rows,
            "operators.aggregate.distinct_ratio": distinct / rows,
            "operators.amplify.match_ratio": matched / max(amp.count(), 1),
            "plans.stage2.publish_parquet.files": files,
        }


class StarRebuild:
    """The RDS stage over a multi-year fact history."""

    name = "star_rebuild"

    def prepare(self, in_dir: str) -> None:
        pass

    def batch(self, spark, in_dir, out_dir) -> None:
        dims = _read_dims(spark, in_dir)
        fact = spark.read.parquet(f"{in_dir}/fact_history")
        res = stage2.run_stage2(spark, fact, dims["risk"], dims["country"], dims["asn"])
        stage2.publish_parquet(res, f"{out_dir}/star")
        res.fact_count.unpersist()

    def traced_batch(self, spark, in_dir, out_dir, tr: Tracer, mat: Materialiser) -> dict:
        with tr.span("batch"):
            dims = _traced_dims(spark, in_dir, tr, mat)
            fact = spark.read.parquet(f"{in_dir}/fact_history")
            files = _traced_stage2(spark, fact, dims, out_dir, tr, mat)
        return {"plans.stage2.publish_parquet.files": files}


class CorpusPrepare:
    """A cold MinHash bucket-index build, then ``corpus_prepare``."""

    name = "corpus_prepare"

    def prepare(self, in_dir: str) -> None:
        """Drop the bucket index so the batch builds it cold."""
        shutil.rmtree(minhash_index.minhash_cache_dir(in_dir), ignore_errors=True)

    def batch(self, spark, in_dir, out_dir) -> None:
        buckets = minhash_index.cached_minhash_buckets(spark, in_dir)
        docs = spark.read.parquet(f"{in_dir}/documents.parquet")
        LQ.corpus_prepare(docs, buckets).write.parquet(f"{out_dir}/packed")

    def traced_batch(self, spark, in_dir, out_dir, tr: Tracer, mat: Materialiser) -> dict:
        """The composition of ``corpus_prepare``: gate → fuzzy dedup → span
        rewrite → chunk and pack, one layer per span."""
        with tr.span("batch"):
            with tr.span("sources.minhash_index.cached_minhash_buckets") as sp:
                buckets = mat(minhash_index.cached_minhash_buckets(spark, in_dir), sp)
            docs = spark.read.parquet(f"{in_dir}/documents.parquet")
            with tr.span("llm_queries.corpus_keep_flags") as sp:
                flags = mat(LQ.corpus_keep_flags(docs), sp)
                keep_ids = flags.filter("keep").select("doc_id").localCheckpoint(eager=True)
            with tr.span("operators.dedup.minhash_dedup_keep") as sp:
                fuzzy = mat(dedup.minhash_dedup_keep(
                    docs.join(keep_ids, "doc_id"), threshold=LQ.JACCARD_THRESHOLD,
                    buckets=buckets.join(keep_ids, "doc_id")), sp)
            kept = docs.join(fuzzy.filter("keep").select("doc_id"), "doc_id").select(
                "doc_id", "text")
            with tr.span("operators.dedup.dedup_span_rewrite") as sp:
                rewritten = mat(dedup.dedup_span_rewrite(kept, n=LQ.DUP_SPAN_N), sp)
            nonempty = rewritten.filter(F.length("clean_text") > 0).select(
                "doc_id", F.col("clean_text").alias("text"))
            with tr.span("operators.corpus.pack_sequences") as sp:
                packed = mat(corpus.pack_sequences(corpus.doc_chunks(nonempty)).orderBy(
                    "doc_id", "chunk_id"), sp)
                packed.write.parquet(f"{out_dir}/packed")
        return {
            "operators.dedup.minhash_dedup_keep.keep_ratio":
                fuzzy.filter("keep").count() / max(fuzzy.count(), 1),
        }


WORKLOADS = {w.name: w for w in (ScanlogNightly(), StarRebuild(), CorpusPrepare())}
