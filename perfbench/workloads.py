"""The workloads. Each drives the library's public functions on inputs
from ``gen``, with one span around every call into a layer, and checks
the program's outputs without ``assert``. ``run(tracer)`` performs one
run and returns its wall time and what the check needs.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import time

import duckdb

import gen

#: Input sizes. ``full`` is what the benchmark measures; ``tiny`` is
#: the self-test's.
SIZES = {
    "wp_migration": {"full": 500, "tiny": 100},
    # corpus docs, refresh microbatches, docs per microbatch
    "corpus_prep": {"full": (500, 2, 100), "tiny": (100, 2, 30)},
}
#: shingle size, MinHash hashes and rows per band of the refresh store
LSH = (3, 16, 2)


class Workload:
    """Base: holds the session, the generated inputs and an
    output directory that every run overwrites."""

    name = ""

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark, self.work, self.seed = spark, work, seed
        self.size = SIZES[self.name][size]
        self.out = os.path.join(work, "out", self.name)
        self.inputs: dict = {}

    def generate(self) -> None:
        raise NotImplementedError

    def run(self, tr) -> dict:
        raise NotImplementedError

    def check(self, result: dict) -> list[str]:
        raise NotImplementedError

    def _fresh_out(self) -> str:
        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(self.out)
        return self.out


class WpMigration(Workload):
    """The reference's journey (legacy CSV → kses/date transforms → post
    preset → staged WordPress loaders → table and ledger sinks)."""

    name = "wp_migration"

    def generate(self):
        self.inputs = gen.legacy_posts(self.work, self.seed, self.size)

    def run(self, tr):
        from pyspark.sql import functions as F

        from wp_etl_migration_spark.functions.dates import validate_date
        from wp_etl_migration_spark.functions.text import kses_post
        from wp_etl_migration_spark.plans.presets import (
            wordpress_post_pipeline)
        from wp_etl_migration_spark.sinks import ledger
        from wp_etl_migration_spark.sinks.files import write_parquet
        from wp_etl_migration_spark.sinks.wordpress import (
            featured_image_stage, media_stage, meta_stage,
            post_upsert_stage, run_stages, terms_stage)
        from wp_etl_migration_spark.sources.files import (
            from_csv, from_parquet)

        spark, src, out = self.spark, self.inputs["dir"], self._fresh_out()
        t0 = time.perf_counter()
        with tr.span("sources.files.from_csv"):
            raw = from_csv(spark, os.path.join(src, "legacy.csv"),
                           infer_schema=False, quote='"', escape='"')
        with tr.span("functions.columns"):
            mapped = raw.select(
                F.lit(None).cast("long").alias("post.ID"),
                F.col("title").alias("post.post_title"),
                kses_post(F.col("body")).alias("post.post_content"),
                F.col("status").alias("post.post_status"),
                validate_date(F.col("published"), fallback=F.lit(
                    "2000-01-01 00:00:00").cast("timestamp"))
                .alias("post.post_date"),
                F.col("id").cast("long").alias("meta.legacy_id"),
                F.col("category").alias("tax.category"),
                F.split("tags", ",").alias("tax.post_tag"),
                F.col("featured_url").alias("media.featured.url"),
                F.col("id").cast("long").alias("ledger.source_id"))
        with tr.span("plans.presets.wordpress_post_pipeline"):
            incoming = wordpress_post_pipeline(
                now=F.lit("2025-01-01 00:00:00").cast("timestamp"),
                tz="GMT-05:00")(mapped)
        with tr.span("sources.files.from_parquet"):
            posts = from_parquet(spark, os.path.join(src, "posts.parquet"))
            attachments = from_parquet(
                spark, os.path.join(src, "attachments.parquet"))
        with tr.span("sinks.wordpress.run_stages"):
            state = run_stages(
                {"incoming": incoming, "posts": posts,
                 "attachments": attachments,
                 "postmeta": spark.createDataFrame(
                     [], "post_id long, meta_key string, meta_value string"),
                 "term_relationships": spark.createDataFrame(
                     [], "post_id long, taxonomy string, term string")},
                [media_stage(), post_upsert_stage(), meta_stage(),
                 terms_stage(), featured_image_stage()])
        for tbl in ("posts", "postmeta", "term_relationships",
                    "attachments"):
            with tr.span("sinks.files.write_parquet"):
                write_parquet(state[tbl], os.path.join(out, tbl))
        with tr.span("sinks.ledger.write_ledger"):
            path = ledger.write_ledger(
                ledger.with_uid(
                    state["incoming"]
                    .withColumn("ledger.post_id", F.col("`post.ID`"))
                    .withColumn("ledger.slug", F.col("`post.post_name`"))),
                os.path.join(out, "ledger"), "wp-post-all")
        with tr.span("sources.files.read_back"):
            n_ledger = spark.read.json(path).count()
        wall = time.perf_counter() - t0
        return {"run_s": wall, "ledger": path,
                "n_ledger": n_ledger}

    def check(self, result):
        from pyspark.sql import functions as F

        spark, errs = self.spark, []
        n = self.inputs["n_posts"]
        led = spark.read.json(result["ledger"])
        rows = led.select("source_id", "post_id", "slug").collect()
        if result["n_ledger"] != n or len(rows) != n:
            errs.append(f"ledger has {len(rows)} rows, export has {n}")
        if len({r.source_id for r in rows}) != n:
            errs.append("ledger source ids are not one per export row")
        posts = spark.read.parquet(os.path.join(self.out, "posts"))
        ids = posts.agg(F.count("*").alias("n"),
                        F.countDistinct("ID").alias("d")).first()
        if ids.n != ids.d:
            errs.append(f"post IDs not unique: {ids.n} rows, {ids.d} ids")
        existing = self.inputs["existing"]
        by_slug = {r.slug: r.post_id for r in rows}
        kept = {r.post_name: r.ID for r in posts.collect()}
        moved = [s for s, pid in existing.items()
                 if by_slug.get(s) != pid or kept.get(s) != pid]
        if moved:
            errs.append(f"{len(moved)} upserted posts changed ID, "
                        f"e.g. {moved[0]}")
        if ids.n != n + len(existing) - sum(s in by_slug for s in existing):
            errs.append(f"posts table has {ids.n} rows for {n} imports "
                        f"onto {len(existing)} existing posts")
        return errs


class CorpusPrep(Workload):
    """The LLM corpus journey (quality gates → exact + MinHash-LSH dedup
    with connected components → sequence packing → training shards →
    read-back against the manifest), then a refresh: follow-up crawl
    microbatches through ``IncrementalDedup.process_batch`` with
    ``compact(up_to)`` after the last, as a maintenance hook would, and
    the registry's corpus health report."""

    name = "corpus_prep"

    def generate(self):
        n_docs, n_batches, batch_size = self.size
        self.inputs = gen.corpus(self.work, self.seed, n_docs)
        self.stream = gen.stream(self.work, self.seed, n_batches,
                                 batch_size)

    def run(self, tr):
        from pyspark.sql import functions as F

        from wp_etl_migration_spark.operators.checkpoint import pin
        from wp_etl_migration_spark.operators.dedup import dedup_documents
        from wp_etl_migration_spark.operators.gates import apply_gates
        from wp_etl_migration_spark.operators.packing import pack_sequences
        from wp_etl_migration_spark.operators.textstats import (
            quality_score, token_count)
        from wp_etl_migration_spark.queries import q_corpus_report
        from wp_etl_migration_spark.sinks.training import (
            write_training_shards)
        from wp_etl_migration_spark.sources.files import from_parquet
        from wp_etl_migration_spark.streaming.incremental import (
            IncrementalDedup)

        spark, out = self.spark, self._fresh_out()
        shards = os.path.join(out, "shards")
        t0 = time.perf_counter()
        with tr.span("sources.files.from_parquet"):
            docs = from_parquet(spark, os.path.join(
                self.inputs["dir"], "documents.parquet"))
        with tr.span("operators.gates.apply_gates"):
            gated, obs = apply_gates(docs, {
                "lang": F.col("lang").isin("en", "de", "fr"),
                "min_tokens": token_count("text") >= F.lit(8),
                "quality": quality_score("text") >= F.lit(0.25)})
        with tr.span("operators.checkpoint.pin"):
            with tr.span("operators.dedup.dedup_documents"):
                deduped = dedup_documents(
                    gated, "doc_id", "text", num_hashes=8,
                    rows_per_band=2, verify_threshold=0.7,
                    max_doc_freq=100)
            deduped = pin(deduped)
        with tr.span("operators.packing.pack_sequences"):
            packed = pack_sequences(
                deduped.select("doc_id",
                               token_count("text").alias("n_tokens")),
                "doc_id", "n_tokens", seq_len=512)
        with tr.span("sinks.training.write_training_shards"):
            manifest = write_training_shards(
                deduped.select("doc_id", "text", "lang")
                .join(packed, "doc_id"),
                shards, "doc_id", n_shards=8, salt="prep|",
                tokens_col="n_tokens")
        with tr.span("sources.files.read_back"):
            back = (spark.read.parquet(shards)
                    .groupBy(F.col("shard").cast("int").alias("shard"))
                    .agg(F.count("*").alias("n_rows"),
                         F.sum("n_tokens").cast("long").alias("n_tokens"))
                    .collect())

        store = IncrementalDedup(spark, os.path.join(out, "refresh"),
                                 "doc_id", "text", *LSH,
                                 auto_compact_tail=None)
        n_batches = self.size[1]
        for b in range(n_batches):
            with tr.span("stream.batch"):
                with tr.span("sources.files.from_parquet"):
                    batch = from_parquet(spark, os.path.join(
                        self.stream["dir"], f"batch={b}.parquet"))
                with tr.span("streaming.incremental.process_batch"):
                    store.process_batch(batch, batch_id=b)
        with tr.span("streaming.incremental.compact"):
            store.compact(n_batches - 1)
        with tr.span("streaming.incremental.corpus"):
            stored = store.corpus().select("doc_id", "text").collect()

        with tr.span("queries.corpus_report"):
            with tr.span("queries.corpus_report.build"):
                report = q_corpus_report(spark, self.inputs["dir"])
            with tr.span("queries.corpus_report.action"):
                report = report.collect()
        wall = time.perf_counter() - t0
        return {"run_s": wall, "manifest": manifest,
                "back": {r.shard: [r.n_rows, r.n_tokens] for r in back},
                "gates": obs.get,
                "stored": [(r.doc_id, r.text) for r in stored],
                "report": report}

    def check(self, result):
        from wp_etl_migration_spark.queries import ORACLE_CORPUS_REPORT

        errs = []
        want = {int(s): [m["rows"], m["tokens"]]
                for s, m in result["manifest"]["shards"].items()}
        if result["back"] != want:
            errs.append(f"shard read-back {result['back']} disagrees with "
                        f"the manifest {want}")
        g = result["gates"]
        if not g["total"] >= g["kept"] > 0:
            errs.append(f"gate observation is inconsistent: {g}")
        con = self._duck()
        oracle = self._oracle(con)
        if result["back"] != oracle:
            errs.append(f"shard summary {result['back']} differs from the "
                        f"DuckDB oracle {oracle}")
        res = con.execute(ORACLE_CORPUS_REPORT)
        cols = [d[0] for d in res.description]
        if _canon(cols, res.fetchall()) != _canon(
                cols, [tuple(r[c] for c in cols) for r in result["report"]]):
            errs.append("corpus report differs from the DuckDB oracle")
        con.close()
        return errs + self._stream_errors(result["stored"])

    def _duck(self):
        con = duckdb.connect()
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"'{self.inputs['dir']}/documents.parquet'")
        return con

    def _oracle(self, con) -> dict:
        """ORACLE_TRAINING_PREP on the generated corpus, computed once
        per input (the answer is cached beside the inputs)."""
        from wp_etl_migration_spark.queries import ORACLE_TRAINING_PREP

        cache = os.path.join(self.inputs["dir"], "oracle.json")
        if os.path.exists(cache):
            with open(cache) as f:
                return {int(k): v for k, v in json.load(f).items()}
        got = {int(s): [int(r), int(t)]
               for s, r, t in con.execute(ORACLE_TRAINING_PREP).fetchall()}
        with open(cache, "w") as f:
            json.dump(got, f)
        return got

    def _stream_errors(self, stored) -> list[str]:
        """No two stored docs share a digest; stored + dropped = input
        (every stored row is one input row); and every dropped row is
        explained by the store's drop rule: it shares its digest or an
        LSH band with another input row. Band collisions are not
        verified by Jaccard, so the rule, not the planted clusters, is
        what a drop is checked against."""
        from wp_etl_migration_spark.operators.dedup import lsh_bands

        errs = []
        digests = [hashlib.md5(t.encode()).hexdigest() for _, t in stored]
        if len(set(digests)) != len(digests):
            errs.append(f"{len(digests) - len(set(digests))} stored docs "
                        "share a digest")
        rows = self.stream["rows"]
        pending: dict[tuple, int] = {}
        for row in rows:
            pending[row] = pending.get(row, 0) + 1
        for row in stored:
            if not pending.get(row):
                errs.append(f"stored doc {row[0]} is not an input row "
                            "(or is stored twice)")
                continue
            pending[row] -= 1
        dropped = [row for row, k in pending.items() for _ in range(k)]
        if len(stored) + len(dropped) != len(rows):
            errs.append("stored plus dropped does not equal the input")
        # (band, hash) and digest keys of every input row, by row index
        df = self.spark.createDataFrame(
            [(i, t) for i, (_, t) in enumerate(rows)], "i long, text string")
        keys: dict[object, set[int]] = {}
        for r in lsh_bands(df, "i", "text", *LSH).collect():
            keys.setdefault((r.band, r.band_hash), set()).add(r.i)
        for i, (_, t) in enumerate(rows):
            keys.setdefault(t, set()).add(i)
        shared = {i for ids in keys.values() if len(ids) > 1 for i in ids}
        index = {row: i for i, row in enumerate(rows)}
        unexplained = [row[0] for row in dropped
                       if index[row] not in shared]
        if unexplained:
            errs.append(f"{len(unexplained)} dropped docs share no digest "
                        f"or band with another input doc, e.g. doc "
                        f"{unexplained[0]}")
        return errs


def _canon(cols, rows) -> list[tuple]:
    """Order-insensitive rows with columns sorted by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        return repr(v)

    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


WORKLOADS = {w.name: w for w in (WpMigration, CorpusPrep)}
