"""Deterministic benchmark inputs, cached per (seed, size).

A corpus is ``datagen.pages.generate_pages(n_pages, seed)`` written as
``n_shards`` parquet shards. Rows are dealt round-robin (row ``i`` goes to
shard ``i % n_shards``): the generator appends its planted duplicates at
the end, so contiguous shards would put every duplicate in the last few
files and the incremental split below would see none of them.

Next to the shards sits the reference extraction: sequential
``operators.extract.extract_one`` over every row, run once per corpus. The
batch and streaming checks compare the engine's ``sha256`` per url against
it, and the curate workload reads its text as input documents. It runs in
this process: a process pool would leave its helper processes (the pool's
resource tracker) running past the run.

Everything lives under ``perfbench/.cache/`` and is written to a temporary
name first, so an interrupted run never leaves a half-written entry. Only
the CACHE_KEEP most recently built corpora are kept (tens of MB each).
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

CACHE_KEEP = 4

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])

REF_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("shard", pa.int32()),
    ("route", pa.string()),
    ("sha256", pa.string()),
    ("dedup_key", pa.string()),
    ("text", pa.string()),
])


def _reference(rows: list[dict]) -> list[tuple[str, str, str, str]]:
    """The sequential reference extraction: (route, sha256, dedup_key,
    text) per row."""
    from pubscience_spark.operators.extract import extract_one
    out = []
    for row in rows:
        r = extract_one(row["html"] or b"")
        out.append((r["route"], r["sha256"], r["dedup_key"],
                    r["extracted_text"] or ""))
    return out


class Corpus:
    """One generated pages corpus and its reference extraction."""

    def __init__(self, cache_root: Path, seed: int, n_pages: int,
                 n_shards: int):
        self.seed, self.n_pages, self.n_shards = seed, n_pages, n_shards
        self.dir = cache_root / f"pages-seed{seed}-n{n_pages}-s{n_shards}"
        if not (self.dir / "_DONE").is_file():
            self._build()
        self.ref = pq.read_table(self.dir / "ref.parquet").to_pandas()

    @property
    def n_rows(self) -> int:
        return len(self.ref)

    def shard_paths(self, pick=lambda k: True) -> list[Path]:
        return [self.dir / "pages" / f"part-{k:05d}.parquet"
                for k in range(self.n_shards) if pick(k)]

    def _build(self) -> None:
        from pubscience_spark.datagen.pages import generate_pages
        tmp = self.dir.with_name(self.dir.name + f".tmp{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        (tmp / "pages").mkdir(parents=True)
        rows = generate_pages(self.n_pages, self.seed)
        for k in range(self.n_shards):
            chunk = rows[k::self.n_shards]
            table = pa.table({name: [r[name] for r in chunk]
                              for name in PAGES_SCHEMA.names},
                             schema=PAGES_SCHEMA)
            pq.write_table(table, tmp / "pages" / f"part-{k:05d}.parquet",
                           row_group_size=256)
        ref = _reference(rows)
        pq.write_table(pa.table({
            "url": [r["url"] for r in rows],
            "shard": [i % self.n_shards for i in range(len(rows))],
            "route": [x[0] for x in ref],
            "sha256": [x[1] for x in ref],
            "dedup_key": [x[2] for x in ref],
            "text": [x[3] for x in ref],
        }, schema=REF_SCHEMA), tmp / "ref.parquet")
        (tmp / "_DONE").write_text("ok\n")
        shutil.rmtree(self.dir, ignore_errors=True)
        tmp.rename(self.dir)
        built = sorted(self.dir.parent.glob("pages-*"),
                       key=lambda p: p.stat().st_mtime)
        for stale in built[:-CACHE_KEEP]:
            shutil.rmtree(stale, ignore_errors=True)


def curate_docs(corpus: Corpus, n_shards: int) -> Path:
    """The curate input: ``(doc_id, text)`` from the reference extraction,
    ``doc_id`` being the row's position in the generated corpus."""
    out = corpus.dir / f"docs-s{n_shards}"
    if (out / "_DONE").is_file():
        return out
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    ids = list(range(corpus.n_rows))
    texts = corpus.ref["text"].tolist()
    for k in range(n_shards):
        pq.write_table(pa.table({"doc_id": pa.array(ids[k::n_shards],
                                                    pa.int64()),
                                 "text": pa.array(texts[k::n_shards],
                                                  pa.string())}),
                       tmp / f"part-{k:05d}.parquet", row_group_size=512)
    (tmp / "_DONE").write_text("ok\n")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out
