"""Seeded inputs for the extraction benchmark.

A seed picks the doc_ids of a workload (kept when ``testgen.row_class``
puts them in one of the workload's classes) and a synthetic text for
each.  Texts are drawn from a fixed Zipf-weighted vocabulary and then
repeated 20 times, the same expansion ``bench.replicated_pages``
applies, so pages land near Common Crawl sizes.  The pages themselves
come from ``testgen.make_page_record``, the generator the tests and the
oracle share, so the same seed always yields the same docs, pages and
payload bytes.
"""

from __future__ import annotations

import dataclasses
import itertools
import os
import random
import zlib

from extractor.config import ExtractConfig
from extractor.pdf_extract import split_pdf_pages
from extractor.testgen import CLASSES, TEST_MAX_BYTES, make_page_record, row_class

TEXT_MULT = 20
LANGS = ("en", "de", "fr", "es", "zh")
CFG = ExtractConfig(max_bytes=TEST_MAX_BYTES)

# The eight Gopher stopwords lead the vocabulary so quality rules see
# realistic text; the rest are pronounceable two- and three-syllable words.
_SYL = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
VOCAB = ["the", "be", "to", "of", "and", "that", "have", "with"] + [
    a + b for a, b in itertools.islice(itertools.permutations(_SYL, 2), 1200)
] + [a + b + c for a, b, c in itertools.islice(itertools.permutations(_SYL, 3), 800)]
_CUM = list(itertools.accumulate(1.0 / (r + 1) for r in range(len(VOCAB))))


@dataclasses.dataclass(frozen=True)
class Workload:
    name: str
    classes: frozenset[str] | None  # None: the generator's full mix
    n_docs: int
    writes: bool  # True: write_snapshot + curation; False: noop sink
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "html_crawl",
            frozenset({"html_simple", "html_boiler", "html_grounded"}),
            3000,
            False,
            "html pages into the noop sink: Arrow crossing, parse and clean; "
            "no shuffle, pdf layers bypassed",
        ),
        Workload(
            "pdf_scan",
            frozenset({"pdf_small", "pdf_large"}),
            1200,
            False,
            "pdfs with corrupt pages into the noop sink: page explode, page "
            "shuffle, engine and reassembly; html parsing bypassed",
        ),
        Workload(
            "corpus_build",
            None,
            800,
            True,
            "full mix incl. quarantined and image rows, written as a snapshot, "
            "then the resume probe: the only workload that writes",
        ),
    )
}


def class_quotas(workload: Workload) -> dict[str, int]:
    """Docs per row class: the generator's natural ratio over the
    workload's classes, fixed so that every seed gets the same mix."""
    weights = {c: CLASSES.count(c) / len(CLASSES) * 96 / 97 for c in set(CLASSES)}
    weights["reject_oversize"] = 1 / 97  # doc_id % 97 == 0
    if workload.classes is not None:
        weights = {c: w for c, w in weights.items() if c in workload.classes}
    total = sum(weights.values())
    exact = {c: workload.n_docs * w / total for c, w in sorted(weights.items())}
    quotas = {c: int(x) for c, x in exact.items()}
    for c in sorted(exact, key=lambda c: quotas[c] - exact[c])[: workload.n_docs - sum(quotas.values())]:
        quotas[c] += 1  # largest remainders
    return quotas


def make_docs(workload: Workload, seed: int) -> list[tuple[int, str, str]]:
    """(doc_id, text, lang) rows for one workload; a pure function of seed."""
    rng = random.Random(f"{workload.name}:{seed}")
    left = class_quotas(workload)
    seen: set[int] = set()
    docs = []
    while len(docs) < workload.n_docs:
        doc_id = rng.randrange(1, 10_000_000)
        cls = row_class(doc_id)
        if doc_id in seen or not left.get(cls):
            continue
        left[cls] -= 1
        seen.add(doc_id)
        words = rng.choices(VOCAB, cum_weights=_CUM, k=rng.randint(24, 160))
        text = " ".join([" ".join(words)] * TEXT_MULT)
        docs.append((doc_id, text, rng.choice(LANGS)))
    return docs


def write_pages(docs, path: str, files: int) -> dict:
    """Write the pages table as ``files`` parquet files under ``path``, so
    the scan has as many input splits; return its shape for the result."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    recs = [make_page_record(*d) for d in docs]
    schema = pa.schema(
        [
            pa.field("url", pa.string(), nullable=False),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    os.makedirs(path)
    per_file = -(-len(recs) // files)
    for i in range(files):
        table = pa.Table.from_pylist(recs[i * per_file : (i + 1) * per_file], schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))
    classes: dict[str, int] = {}
    for d in docs:
        c = row_class(d[0])
        classes[c] = classes.get(c, 0) + 1
    return {
        "docs": len(recs),
        "payload_bytes": sum(len(r["html"] or b"") for r in recs),
        "pdf_pages": sum(
            len(split_pdf_pages(r["html"])) for r in recs if r["url"].endswith(".pdf")
        ),
        "classes": dict(sorted(classes.items())),
    }


# ---------------------------------------------------------------------------
# Output check: an order-free digest of (url, success, error, text,
# total_pages, warnings) per row, computed the same way in Python (from the
# oracle) and in Spark (over the pipeline's output).
# ---------------------------------------------------------------------------

NULL = "\x00"
SEP = "\x1f"
WSEP = "\x1e"


def row_key(url, success, error, text, total_pages, warnings) -> str:
    return SEP.join(
        [
            url,
            NULL if success is None else ("true" if success else "false"),
            NULL if error is None else error,
            NULL if text is None else text,
            NULL if total_pages is None else str(total_pages),
            NULL if warnings is None else "[" + WSEP.join(warnings) + "]",
        ]
    )


def golden_digest(golden: dict[str, dict]) -> tuple[int, int]:
    """(rows, sum of crc32 over row keys) of the oracle's outputs."""
    total = 0
    for url, g in golden.items():
        key = row_key(url, g["success"], g["error"], g["text"], g["total_pages"], g["warnings"])
        total += zlib.crc32(key.encode("utf-8"))
    return len(golden), total


def digest_columns():
    """Spark aggregates mirroring :func:`golden_digest` on an extracted table."""
    from pyspark.sql import functions as F

    def opt(c):
        return F.coalesce(c, F.lit(NULL))

    key = F.concat_ws(
        SEP,
        F.col("url"),
        opt(F.col("success").cast("string")),
        opt(F.col("error")),
        opt(F.col("text")),
        opt(F.col("total_pages").cast("string")),
        opt(F.concat(F.lit("["), F.array_join(F.col("warnings"), WSEP), F.lit("]"))),
    )
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.crc32(F.encode(key, "UTF-8"))).alias("crc"),
    ]
