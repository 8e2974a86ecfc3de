"""The workloads: their inputs, their ops and each op's check.

An op builds a DataFrame through the program's public API; the worker
collects it (the timed part) and then calls ``check`` on the result.
``prepare`` writes the seeded inputs and computes the expected answers;
it runs before any timed region.
"""

from __future__ import annotations

import hashlib
import os
import sys
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

import gen_tables
import gen_xml

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from verify_local import canon_rows  # noqa: E402

# input sizes: XML bytes and the parquet scale factor of llm_curation
FLAT_BYTES = 128 << 20
NESTED_FILES = 16
NESTED_BYTES = 8 << 20
TABLES_SF = 0.01

# Three ops that cross the Python/Arrow boundary: dedup_minhash_lsh (a
# pandas UDF) and ann_join_topk (mapInArrow) also persist a signature
# table, multimodal_png_codec runs its codec in mapInPandas.
# Left out, to keep passes short enough for a median over several warm
# passes within the run budget: setsim_join_prefix (~14 s a run; its
# DuckDB oracle alone takes over a minute at sf 0.02) and the JVM-only
# decontaminate_eval_ngrams and corpus_curation_pipeline (~40% of a pass).
LLM_QUERIES = ["dedup_minhash_lsh", "ann_join_topk", "multimodal_png_codec"]


@dataclass
class Op:
    name: str
    span: str  # layer span name, e.g. "sources.read_flat"
    build: Callable  # spark -> DataFrame
    check: Callable  # (columns, rows) -> bool


@dataclass
class Prepared:
    ops: list[Op]
    input_bytes: int  # bytes the scan_mb_s numerator counts
    scan_op: str | None  # op whose warm time is the scan_mb_s denominator
    extra: dict  # inputs the traced-only microtimings need


# ------------------------------------------------------------ xml_ingest


def flat_schema():
    from pyspark.sql.types import (DoubleType, IntegerType, LongType,
                                   StringType, StructField, StructType)

    def f(name, dtype, kind):
        return StructField(name, dtype, False,
                           metadata={"xmlKind": kind, "xmlName": name})

    return StructType([
        f("id", LongType(), "attribute"), f("cat", StringType(), "element"),
        f("val", IntegerType(), "element"), f("w", DoubleType(), "element"),
    ])


def _prepare_xml(data_dir: str, seed: int, cpus: int) -> Prepared:
    from pyspark.sql import functions as F

    from xml_hive_spark.reader import read_xml

    flat = os.path.join(data_dir, "flat.xml")
    nested = os.path.join(data_dir, "books")
    xsd_path = os.path.join(data_dir, "books.xsd")
    want_flat = gen_xml.write_flat(flat, FLAT_BYTES, seed)
    want_nested = gen_xml.write_nested(nested, NESTED_FILES, NESTED_BYTES, seed)
    with open(xsd_path, "w") as f:
        f.write(gen_xml.BOOKS_XSD)
    size = os.path.getsize(flat)
    part_bytes = -(-size // cpus)  # one byte-range split per core

    def read_flat(spark):
        df = read_xml(spark, flat, "rec", schema=flat_schema(),
                      partition_bytes=part_bytes, columns=["cat", "val"])
        return df.groupBy("cat").agg(
            F.count(F.lit(1)).alias("n"), F.sum("val").alias("sum_val"),
            F.max("val").alias("max_val"))

    def read_nested(spark):
        df = read_xml(spark, nested, "book", xsd=xsd_path, sep_tag_type="bookType")
        n_tags = F.when(F.col("tag").isNull(), 0).otherwise(F.size("tag"))
        return df.groupBy("genre").agg(
            F.count(F.lit(1)).alias("n"), F.count("id").alias("n_id"),
            F.sum(n_tags).alias("n_tags"),
            F.sum(F.col("price").cast("double")).alias("sum_price"),
            F.min("publish_date").alias("min_date"),
            F.max("publish_date").alias("max_date"))

    def check_flat(cols, rows):
        return {r[0]: list(r[1:]) for r in rows} == want_flat["by_cat"]

    def check_nested(cols, rows):
        return {r[0]: list(r[1:]) for r in rows} == want_nested["by_genre"]

    return Prepared(
        ops=[Op("read_flat", "sources.read_flat", read_flat, check_flat),
             Op("read_nested", "sources.read_nested", read_nested, check_nested)],
        input_bytes=size,
        scan_op="read_flat",
        extra={"flat": flat, "flat_bytes": size, "nested": nested,
               "xsd": xsd_path, "part_bytes": part_bytes},
    )


# ---------------------------------------------------------- llm_curation


def value_hash(cols: list[str], rows) -> str:
    """Order-insensitive hash of a result: the repository's own
    canonical rows (``tools/verify_local.py``), hashed."""
    h = hashlib.sha256("|".join(sorted(cols)).encode())
    for line in canon_rows(cols, rows):
        h.update(b"\n" + line.encode())
    return h.hexdigest()


def _prepare_llm(data_dir: str, seed: int) -> Prepared:
    import duckdb

    from xml_hive_spark.operators import all_queries

    sizes = gen_tables.write_tables(data_dir, TABLES_SF, seed)
    registry = all_queries()
    con = duckdb.connect()
    for t in sizes:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    ops = []
    for q in LLM_QUERIES:
        res = con.sql(registry[q].oracle)
        want = value_hash(res.columns, res.fetchall())
        ops.append(Op(
            q, f"operators.{q}",
            lambda spark, fn=registry[q].fn: fn(spark, data_dir),
            lambda cols, rows, want=want: value_hash(cols, rows) == want,
        ))
    con.close()
    # no op scans on its own here: scan_mb_s is the tables' parquet
    # bytes over the whole warm time
    return Prepared(ops=ops, input_bytes=sum(sizes.values()),
                    scan_op=None, extra={})


def prepare(workload: str, data_dir: str, seed: int, cpus: int) -> Prepared:
    os.makedirs(data_dir, exist_ok=True)
    if workload == "xml_ingest":
        return _prepare_xml(data_dir, seed, cpus)
    if workload == "llm_curation":
        return _prepare_llm(data_dir, seed)
    raise ValueError(f"unknown workload {workload!r}")
