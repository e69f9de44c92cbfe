"""The benchmark workloads.

Each workload has a set-up (after the session start), one measured
operation, a traced replay of that operation that calls every layer's
public functions in the pipeline's own order and forces each result, and
its output checks. The program is used only through its public functions.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xml_to_parquet_spark.functions.dedup import (
    dedup_apply_best,
    dedup_clusters_star,
    exact_dedup,
    minhash_lsh_candidates,
)
from xml_to_parquet_spark.functions.text import quality_gate, scrub_pii
from xml_to_parquet_spark.operators.aggregation import (
    davg_sql,
    dsum_sql,
    grouped_multi_agg,
)
from xml_to_parquet_spark.operators.relational import (
    chained_dim_joins,
    distinct_values,
    sort_limit,
)
from xml_to_parquet_spark.pipeline import (
    SCHEMA_SAMPLE_SIZE,
    process_xml_to_parquet,
)
from xml_to_parquet_spark.plans.schema_analyzer import analyze_schema
from xml_to_parquet_spark.plans.star_transformer import (
    StarSchema,
    aggregate_fact_data,
    build_star_schema,
)
from xml_to_parquet_spark.sinks.publish import (
    publish_star_schema,
    read_star_run,
)
from xml_to_parquet_spark.sinks.writers import (
    parquet_metadata,
    processing_manifest,
    schema_documentation,
    write_csv_report,
    write_parquet,
    write_star_schema,
)
from xml_to_parquet_spark.sources.xml_source import (
    attach_business_keys,
    extract_business_keys,
    read_xml_records,
)
from xml_to_parquet_spark.validation.xml_validation import (
    gate_valid,
    validate_files,
)

import checks
import gen
from measure import Tracer
from spec import SHAPES


@dataclass
class Ctx:
    spark: SparkSession
    seed: int
    corpus: str  # generated corpus dir (input/, schema/, expected.json)
    out: str  # output root of this run
    expected: dict
    last_out: str = ""  # output dir of the latest pass


@dataclass
class Op:
    """One attempted operation of the measured window."""

    seconds: float
    error: str | None = None  # exception name of a failed operation
    mb: float = 0.0  # input MB the operation read


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    n = size = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            n += 1
            size += os.path.getsize(os.path.join(dp, f))
    return n, size


def _force(df: DataFrame) -> tuple[DataFrame, int]:
    df = df.persist()
    return df, df.count()


def _unpersist(*dfs) -> None:
    for df in dfs:
        if df is not None:
            df.unpersist()


# -- ETL (process_xml_to_parquet and its traced replay) --------------------


def traced_etl(spark, tr: Tracer, input_dir: str, out: str, *,
               validate: bool, schema_dir: str | None, atomic: bool) -> None:
    """``process_xml_to_parquet`` step by step, one span per layer call.

    The pipeline overlaps the key scan, the validation pass and the
    manifest job with other work on helper threads; this replay runs them
    in sequence, and the difference shows as tracing overhead."""
    pattern = os.path.join(input_dir, "*.xml")
    validation = keys = None
    persisted: list[DataFrame] = []
    try:
        with tr.span("sources.plan") as sp:
            files = sorted(glob.glob(pattern))
            records = read_xml_records(
                spark, pattern, id_attribute="id",
                schema_sample_paths=files[:SCHEMA_SAMPLE_SIZE],
            )
            sp.counts["files"] = len(files)
        if validate:
            with tr.span("validation.check") as sp:
                validation, n = _force(
                    validate_files(spark, files, schema_dir=schema_dir)
                )
                bad = validation.filter(F.col("status") != "success").count()
                records = gate_valid(records, validation)
                sp.counts.update(files_checked=n, files_invalid=bad)
        with tr.span("sources.keys"):
            keys, n_keys = _force(extract_business_keys(spark, pattern))
            if n_keys:
                records = attach_business_keys(records, keys)
        with tr.span("sources.parse") as sp:
            records, n = _force(records)
            persisted.append(records)
            sp.counts.update(
                records=n,
                input_mb=sum(os.path.getsize(f) for f in files) / 1e6,
            )
        with tr.span("analyzer.profile") as sp:
            sample = records.limit(SCHEMA_SAMPLE_SIZE * 1000)
            catalog = analyze_schema(
                sample.drop("source_file_path", "load_timestamp"),
                exact_row_cap=None,
            )
            for c in ("source_file_name", "source_file_path",
                      "load_timestamp"):
                if c in records.columns:
                    catalog[c] = {"classification": "audit"}
            sp.counts.update(
                columns=len(catalog),
                dimensions=sum(v["classification"] == "dimension"
                               for v in catalog.values()),
            )
        with tr.span("star.dims") as sp:
            star = build_star_schema(records, catalog, id_column="record_id")
            dims = {}
            for name, dim in star.dimensions.items():
                dims[name], _ = _force(dim)
                persisted.append(dims[name])
            fact, n_fact = _force(star.fact)
            persisted.append(fact)
            star = StarSchema(fact=fact, dimensions=dims)
            sp.counts["fact_rows"] = n_fact
        if atomic:
            with tr.span("publish.commit") as sp:
                paths = publish_star_schema(star, out)
                sp.counts["versions"] = len(paths)
        else:
            with tr.span("writers.write"):
                paths = write_star_schema(star, out)
        with tr.span("writers.reports") as reports:
            manifest = processing_manifest(spark, records, validation)
            manifest = spark.createDataFrame(manifest.collect(),
                                             manifest.schema)
            write_csv_report(manifest,
                             os.path.join(out, "processing_manifest.csv"),
                             local=True)
            write_csv_report(parquet_metadata(spark, paths),
                             os.path.join(out, "parquet_metadata.csv"),
                             mode="overwrite", local=True)
            write_csv_report(schema_documentation(spark, catalog),
                             os.path.join(out, "schema_documentation.csv"),
                             mode="overwrite", local=True)
            if validation is not None:
                errors = validation.filter(F.col("status") != "success")
                if not errors.isEmpty():
                    write_csv_report(errors,
                                     os.path.join(out, "error_summary.csv"),
                                     mode="overwrite")
        n_files, n_bytes = dir_bytes(out)
        reports.counts.update(files_written=n_files, bytes_written=n_bytes)
    finally:
        _unpersist(validation, keys, *persisted)


class _Passes:
    """A workload whose operation is one whole pass over its corpus, each
    into a fresh output dir (the previous one is removed first). One pass
    in a fresh session warms the JVM up before the measured window; pass
    time still falls for about four passes while C2 compiles, so the
    window measures at least two and reports their median."""

    min_ops = 2

    def __init__(self):
        self._n = 0

    def _next_out(self, ctx: Ctx) -> str:
        shutil.rmtree(os.path.join(ctx.out, f"pass-{self._n}"),
                      ignore_errors=True)
        self._n += 1
        return os.path.join(ctx.out, f"pass-{self._n}")

    def setup(self, ctx: Ctx) -> None:
        self.run_op(ctx)

    def out_ratio(self, ctx: Ctx) -> float:
        return dir_bytes(ctx.last_out)[1] / ctx.expected["input_bytes"]


# -- ETL then star queries -------------------------------------------------

def shape_params(rng: random.Random, shape: str, n_ids: int) -> dict:
    if shape in ("fk_rollup", "sql_rollup"):
        return {"min_qty": rng.randint(1, 30)}
    if shape == "distinct":
        return {"dim": rng.choice(["region", "status", "channel", "category"])}
    if shape == "topk":
        return {"k": rng.randint(10, 100)}
    if shape == "point_lookup":
        return {"record_id": f"R{rng.randrange(n_ids):08d}"}
    return {"dim": rng.choice(["region", "status", "channel", "category"])}


def run_shape(spark, root: str, shape: str, p: dict) -> list:
    """One query of ``shape`` against the committed star at ``root``."""
    tables = read_star_run(spark, root, register_views=(shape == "sql_rollup"))
    return query(spark, tables, shape, p)


def query(spark, t: dict[str, DataFrame], shape: str, p: dict) -> list:
    fact = t["fact_main"]
    if shape == "fk_rollup":
        joined = chained_dim_joins(fact, [
            (t["dim_region"].select("region_key", "region"), "region_key"),
            (t["dim_channel"].select("channel_key", "channel"),
             "channel_key"),
        ])
        q = grouped_multi_agg(
            joined.filter(F.col("quantity") >= p["min_qty"]),
            ["region", "channel"], ["price"],
        )
    elif shape == "distinct":
        q = distinct_values(fact, [f"{p['dim']}_key"])
    elif shape == "topk":
        q = sort_limit(fact.select("record_id", "price"), ["price", "record_id"],
                       ascending=False, limit=p["k"])
    elif shape == "point_lookup":
        q = fact.filter(F.col("record_id") == p["record_id"]).select(
            "record_id", "price", "quantity")
    elif shape == "fact_agg":
        star = StarSchema(fact=fact, dimensions={})
        q = aggregate_fact_data(star, [f"{p['dim']}_key"],
                                ["price", "quantity"])
    else:
        q = spark.sql(
            "SELECT r.region, c.channel, "
            f"{dsum_sql('f.price', 'price_sum')}, "
            f"{davg_sql('f.price', 'price_avg')}, "
            "MIN(f.price) AS price_min, MAX(f.price) AS price_max, "
            "COUNT(f.price) AS price_count "
            "FROM fact_main f "
            "JOIN dim_region r ON f.region_key = r.region_key "
            "JOIN dim_channel c ON f.channel_key = c.channel_key "
            f"WHERE f.quantity >= {p['min_qty']} "
            "GROUP BY r.region, c.channel"
        )
    return [tuple(r) for r in q.collect()]


class EtlQuery(_Passes):
    """Many small files, validation on, published atomically, then one
    round of the six star query shapes against the published star."""

    name = "etl_query"
    corpus = "small_files"

    def _paths(self, ctx: Ctx) -> tuple[str, str]:
        return (os.path.join(ctx.corpus, "input"),
                os.path.join(ctx.corpus, "schema"))

    def _params(self, ctx: Ctx):
        rng = random.Random(f"round:{ctx.seed}")
        n_ids = ctx.expected["records_generated"]
        return [(shape, shape_params(rng, shape, n_ids)) for shape in SHAPES]

    def run_op(self, ctx: Ctx) -> list[Op]:
        inp, schema = self._paths(ctx)
        out = ctx.last_out = self._next_out(ctx)
        t = time.perf_counter()
        process_xml_to_parquet(ctx.spark, inp, out, validate=True,
                               schema_dir=schema, atomic=True)
        self._answers = [(shape, p, run_shape(ctx.spark, out, shape, p))
                         for shape, p in self._params(ctx)]
        return [Op(time.perf_counter() - t,
                   mb=ctx.expected["input_bytes"] / 1e6)]

    def traced_op(self, ctx: Ctx, tr: Tracer) -> None:
        """The ETL layer by layer, then each query shape under
        ``operators.<shape>``, with the run-manifest read as its own
        ``publish.read`` span."""
        inp, schema = self._paths(ctx)
        out = ctx.last_out = self._next_out(ctx)
        traced_etl(ctx.spark, tr, inp, out, validate=True,
                   schema_dir=schema, atomic=True)
        self._answers = []
        for shape, p in self._params(ctx):
            with tr.span("publish.read"):
                tables = read_star_run(ctx.spark, out,
                                       register_views=(shape == "sql_rollup"))
            with tr.span(f"operators.{shape}"):
                self._answers.append((shape, p, query(ctx.spark, tables,
                                                      shape, p)))

    def check(self, ctx: Ctx) -> list[str]:
        """The last pass's star and the answers its queries gave."""
        problems = checks.check_etl(ctx.last_out, ctx.expected)
        for shape, p, got in self._answers:
            problems += checks.check_query(ctx.last_out, shape, p, got)
        return problems

    def probe(self, ctx: Ctx) -> dict:
        """Known-defect probe, untimed: an input whose records repeat a
        sibling element (a plist export) through the same entry point."""
        d = os.path.join(os.path.dirname(ctx.corpus), "plist")
        gen.gen_plist(ctx.seed, d)
        try:
            process_xml_to_parquet(ctx.spark, os.path.join(d, "input"),
                                   os.path.join(ctx.out, "plist"),
                                   atomic=True)
        except Exception as e:  # noqa: BLE001 - recorded by name
            return {"plist": type(e).__name__ + _error_class(e)}
        return {"plist": "ok"}


def _error_class(e: Exception) -> str:
    """`` [CONDITION]`` for a Spark error that names one."""
    condition = getattr(e, "getCondition", None)
    return f" [{condition()}]" if condition and condition() else ""


# -- text curation ---------------------------------------------------------


class CurateText(_Passes):
    """Quality gate, PII scrub, exact and near-duplicate removal."""

    name = "curate_text"
    corpus = "curate"

    def _docs(self, ctx: Ctx) -> DataFrame:
        return read_xml_records(
            ctx.spark, os.path.join(ctx.corpus, "input", "*.xml")
        ).select(F.col("record_id").alias("doc_id"), "text")

    def run_op(self, ctx: Ctx) -> list[Op]:
        out = ctx.last_out = self._next_out(ctx)
        t = time.perf_counter()
        docs = self._docs(ctx)
        gate = quality_gate(docs)
        kept = docs.join(gate.filter("keep").select("doc_id"), "doc_id")
        text = scrub_pii(kept).select(
            "doc_id", F.col("scrubbed_text").alias("text"))
        reps = exact_dedup(text).select(F.col("keep_id").alias("doc_id"))
        uniq = text.join(reps, "doc_id")
        clusters = dedup_clusters_star(minhash_lsh_candidates(uniq))
        best = dedup_apply_best(uniq.withColumn("score", F.length("text")),
                                clusters)
        write_parquet(best, out)
        return [Op(time.perf_counter() - t,
                   mb=ctx.expected["input_bytes"] / 1e6)]

    def traced_op(self, ctx: Ctx, tr: Tracer) -> None:
        out = self._next_out(ctx)
        held: list[DataFrame] = []

        def force(df):
            df, n = _force(df)
            held.append(df)
            return df, n

        try:
            with tr.span("sources.plan") as sp:
                docs = self._docs(ctx)
                sp.counts["files"] = len(
                    glob.glob(os.path.join(ctx.corpus, "input", "*.xml")))
            with tr.span("sources.parse") as sp:
                docs, n_docs = force(docs)
                sp.counts.update(records=n_docs,
                                 input_mb=ctx.expected["input_bytes"] / 1e6)
            with tr.span("text.gate") as sp:
                gate, _ = force(quality_gate(docs))
                kept, n_kept = force(
                    docs.join(gate.filter("keep").select("doc_id"), "doc_id"))
                sp.counts["docs_dropped"] = n_docs - n_kept
            with tr.span("text.scrub"):
                text, _ = force(scrub_pii(kept).select(
                    "doc_id", F.col("scrubbed_text").alias("text")))
            with tr.span("dedup.exact"):
                reps = exact_dedup(text).select(
                    F.col("keep_id").alias("doc_id"))
                uniq, _ = force(text.join(reps, "doc_id"))
            with tr.span("dedup.lsh") as sp:
                pairs, n_pairs = force(minhash_lsh_candidates(uniq))
                planted = len(ctx.expected["near_pairs"])
                sp.counts.update(lsh_candidates=n_pairs,
                                 lsh_useful_ratio=planted / max(1, n_pairs))
            with tr.span("dedup.cluster"):
                clusters, _ = force(dedup_clusters_star(pairs))
            with tr.span("dedup.apply") as sp:
                best, n_best = force(dedup_apply_best(
                    uniq.withColumn("score", F.length("text")), clusters))
                sp.counts["survivors"] = n_best
            with tr.span("writers.write") as sp:
                write_parquet(best, out)
            n_files, n_bytes = dir_bytes(out)
            sp.counts.update(files_written=n_files, bytes_written=n_bytes)
        finally:
            _unpersist(*held)
        ctx.last_out = out

    def check(self, ctx: Ctx) -> list[str]:
        return checks.check_curate(ctx.last_out, ctx.corpus,
                                   ctx.expected)


WORKLOADS = {w.name: w for w in (EtlQuery, CurateText)}
