"""One timed pass of a workload through the public API, and its check."""

from __future__ import annotations

import contextlib
import os
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from extractor.config import ERR_EMPTY, ERR_TOO_LARGE, ERR_UNSUPPORTED
from extractor.pipeline import run_extraction
from extractor.writer import read_extracted, read_lineage, resume_filter, write_snapshot

from gen import CFG, digest_columns

QUARANTINE_ERRORS = (ERR_UNSUPPORTED, ERR_EMPTY, ERR_TOO_LARGE)


def no_span(_name):
    return contextlib.nullcontext()


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_pass(spark, workload, pages_path: str, out_dir: str, span=no_span):
    """Run one pass; return (wall seconds, observation of the output digest).

    noop workloads: ``run_extraction`` into the noop sink.  Writing
    workloads: ``run_extraction`` → ``write_snapshot`` into a fresh
    ``out_dir``.  (The curation operators are measured per layer, in the
    traced run.)
    """
    obs = Observation()
    t0 = time.perf_counter()
    with span("pass"):
        pages = spark.read.parquet(pages_path)
        with span("run_extraction"):
            out = run_extraction(spark, pages, CFG).observe(
                obs,
                *digest_columns(),
                F.count(F.when(F.col("error").isin(*QUARANTINE_ERRORS), 1)).alias("quarantined"),
            )
        if not workload.writes:
            with span("noop_sink"):
                force(out)
        else:
            with span("write_snapshot"):
                write_snapshot(out, out_dir)
    return time.perf_counter() - t0, obs


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def check_pass(spark, workload, obs, golden: tuple[int, int], pages_path: str, out_dir: str):
    """Compare a pass's output with the oracle; return (problems, extras).

    extras carries the observed quarantine count and, for writing
    workloads, the snapshot size and the timed resume probe."""
    got = obs.get
    problems = []
    if (got["rows"], got["crc"]) != golden:
        problems.append(f"output digest {got['rows']}/{got['crc']} != oracle {golden[0]}/{golden[1]}")
    extras = {"quarantined": got["quarantined"]}
    if workload.writes:
        committed = read_extracted(spark, out_dir).count()
        lineage_rows = read_lineage(spark, out_dir).agg(F.sum("row_count")).first()[0]
        t0 = time.perf_counter()
        resumed = resume_filter(spark.read.parquet(pages_path), out_dir).count()
        extras["resume_s"] = time.perf_counter() - t0
        extras["bytes_written"], extras["files_written"] = dir_bytes(out_dir)
        for what, n in (("committed rows", committed), ("lineage row_count", lineage_rows)):
            if n != golden[0]:
                problems.append(f"{what} {n} != input docs {golden[0]}")
        if resumed != 0:
            problems.append(f"resume_filter kept {resumed} rows of a committed input")
    return problems, extras
