"""The three workloads: one public entry point each, its input state and
the check of its output.

Each workload is a closed loop with one caller. ``reset`` puts the input
state back outside the timed region, ``call`` is the timed call into the
package, and ``check`` returns the list of ways the output is wrong (empty
when it is right). Outputs are read back with pyarrow, not Spark, so the
checks add no Spark jobs to a traced run.
"""

from __future__ import annotations

import json
import shutil
from collections import Counter
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from inputs import Corpus, curate_docs


def parquet_files(root: Path) -> dict[str, int]:
    """{path: bytes} of the parquet data files under ``root``."""
    return {str(p): p.stat().st_size for p in root.rglob("*.parquet")
            if not any(part.startswith((".", "_"))
                       for part in p.relative_to(root).parts)}


def read_table(path: Path) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def keep_first_duplicates(df: pd.DataFrame,
                          keys=("sha256", "dedup_key")) -> pd.Series:
    """Keep-first reference: a row is a duplicate iff a row with a smaller
    url shares one of its keys."""
    dup = pd.Series(False, index=df.index)
    for key in keys:
        dup |= df["url"] != df.groupby(key)["url"].transform("min")
    return dup


class Workload:
    name = ""
    data_tables: tuple[str, ...] = ()
    input_rows = 0
    # untimed calls before the timed ones: the JIT keeps speeding calls up
    # after the cold first one (batch_fresh, 3,000 pages: 11.0, 5.1, 4.7,
    # 4.2 s; curate, 8,000 pages: 13.0, 4.5, 3.8, 3.3 s). Few, so that all
    # runs of a benchmark pass fit its time budget.
    warmup_calls = 2
    # which entry point the call goes through: "pipeline", "stream" or
    # "curation" (the ledger attributes stages by it)
    entry = ""
    # keeper-index rows the call reads (the index committed before it)
    index_rows = 0

    def __init__(self, work: Path, corpus: Corpus):
        self.out_dir = work / self.name / "out"
        self.corpus = corpus
        self._before: dict[str, int] = {}
        # rows the last checked call extracted (cpu_seconds, is_duplicate)
        self.last_extracted: pd.DataFrame | None = None

    def prepare(self, spark) -> None:
        """Untimed, once per run, after the session is up."""

    def reset(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)
        self._before = {}

    def mark(self) -> None:
        self._before = parquet_files(self.out_dir) \
            if self.out_dir.exists() else {}

    def written(self) -> tuple[int, int]:
        """(data files, parquet bytes) the last call added under out_dir."""
        new = {p: b for p, b in parquet_files(self.out_dir).items()
               if p not in self._before}
        data = [p for p in new
                if any(f"/{t}/" in p for t in self.data_tables)]
        return len(data), sum(new.values())


class BatchFresh(Workload):
    """``run_extraction`` with its defaults into an empty output dir."""

    name = "batch_fresh"
    data_tables = ("extracted",)
    entry = "pipeline"

    def __init__(self, work: Path, corpus: Corpus):
        super().__init__(work, corpus)
        self.pages_dir = corpus.dir / "pages"
        self.input_rows = corpus.n_rows
        ref = corpus.ref
        self.want = ref.assign(
            is_duplicate=keep_first_duplicates(ref)).set_index("url")

    def call(self, spark):
        from pubscience_spark.plans.pipeline import run_extraction
        return run_extraction(spark, spark.read.parquet(str(self.pages_dir)),
                              str(self.out_dir))

    def check(self, res) -> list[str]:
        errs = []
        got = self.last_extracted = read_table(self.out_dir / "extracted")
        if len(got) != self.input_rows or got["url"].duplicated().any():
            errs.append(f"extracted {len(got)} rows for {self.input_rows} "
                        "inputs, or a url twice")
        got = got.set_index("url")
        want = self.want.reindex(got.index)
        if (got["sha256"] != want["sha256"]).any():
            errs.append("sha256 differs from sequential extract_one")
        if (got["is_duplicate"] != want["is_duplicate"]).any():
            errs.append("is_duplicate differs from the keep-first reference")
        lin = read_table(self.out_dir / "lineage")
        if (len(lin) != res["buckets"] or lin["bucket"].duplicated().any()
                or lin["row_count"].sum() != self.input_rows):
            errs.append("lineage is not one row per bucket summing to the "
                        "input rows")
        return errs


def history_files(corpus: Corpus, n_files: int = 4) -> list[Path]:
    """The history shards (``k % 4 != 3``) regrouped into ``n_files``
    files, so the history run is one micro-batch (``maxFilesPerTrigger``
    is 4) and set-up stays short."""
    out = corpus.dir / "history"
    paths = [out / f"hist-{i:05d}.parquet" for i in range(n_files)]
    if (out / "_DONE").is_file():
        return paths
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir()
    shards = corpus.shard_paths(lambda k: k % 4 != 3)
    for i, path in enumerate(paths):
        pq.write_table(pa.concat_tables(pq.read_table(p)
                                        for p in shards[i::n_files]),
                       path, row_group_size=256)
    (out / "_DONE").write_text("ok\n")
    return paths


class IncrementalDelta(Workload):
    """``run_incremental_curated`` over a committed history run after the
    delta shards land in the input dir."""

    name = "incremental_delta"
    data_tables = ("extracted", "curated")
    warmup_calls = 1          # prepare() already ran the entry point
    entry = "stream"

    def __init__(self, work: Path, corpus: Corpus):
        super().__init__(work, corpus)
        self.input_dir = work / self.name / "input"
        self.snapshot = work / self.name / "history"
        in_delta = (corpus.ref["shard"] % 4) == 3
        self.delta_shards = corpus.shard_paths(lambda k: k % 4 == 3)
        self.history_files = history_files(corpus)
        self.delta = corpus.ref[in_delta].reset_index(drop=True)
        self.history = corpus.ref[~in_delta].reset_index(drop=True)
        self.input_rows = len(self.delta)
        self.history_keys: dict[str, set] = {}

    def prepare(self, spark) -> None:
        from pubscience_spark.streaming.extract_stream import \
            run_incremental_curated
        for d in (self.input_dir, self.out_dir, self.snapshot):
            shutil.rmtree(d, ignore_errors=True)
        self.input_dir.mkdir(parents=True)
        for p in self.history_files:
            shutil.copy(p, self.input_dir / p.name)
        res = run_incremental_curated(spark, str(self.input_dir),
                                      str(self.out_dir))
        if res["rows_written"] != len(self.history):
            raise RuntimeError(f"history run wrote {res['rows_written']} "
                               f"rows, expected {len(self.history)}")
        shutil.copytree(self.out_dir, self.snapshot)
        index = read_table(self.snapshot / "dedup_index")
        self.history_keys = {k: set(g["key"])
                             for k, g in index.groupby("key_name")}
        self.index_rows = len(index)

    def reset(self) -> None:
        # the checkpoint records absolute paths: restore at the same path
        shutil.rmtree(self.out_dir, ignore_errors=True)
        shutil.copytree(self.snapshot, self.out_dir)
        for p in self.delta_shards:
            (self.input_dir / p.name).unlink(missing_ok=True)
        self.mark()
        for p in self.delta_shards:
            shutil.copy(p, self.input_dir / p.name)

    def call(self, spark):
        from pubscience_spark.streaming.extract_stream import \
            run_incremental_curated
        return run_incremental_curated(spark, str(self.input_dir),
                                       str(self.out_dir))

    def check(self, res) -> list[str]:
        errs = []
        new = set(res["new_batches"])
        ext = read_table(self.out_dir / "extracted")
        ext = self.last_extracted = ext[ext["batch_id"].isin(new)]
        if Counter(ext["url"]) != Counter(self.delta["url"]):
            errs.append("delta urls not extracted exactly once each")
        want = self.delta.set_index("url")
        if (ext.set_index("url")["sha256"]
                != want["sha256"].reindex(ext["url"]).values).any():
            errs.append("sha256 differs from sequential extract_one")
        cur = read_table(self.out_dir / "curated")
        cur = cur[cur["batch_id"].isin(new)]
        for key in ("sha256", "dedup_key"):
            if cur[key].isin(self.history_keys.get(key, set())).any():
                errs.append(f"curated delta row shares {key} with a "
                            "history keeper")
        # keep-first against committed keepers: a delta row survives iff
        # no history keeper holds its keys and it is first in the delta
        d = self.delta
        kept = ~keep_first_duplicates(d)
        for key in ("sha256", "dedup_key"):
            kept &= ~d[key].isin(self.history_keys.get(key, set()))
        if set(cur["url"]) != set(d.loc[kept, "url"]) or \
                cur["url"].duplicated().any():
            errs.append("curated delta differs from the keep-first "
                        "reference")
        lin = read_table(self.out_dir / "lineage")
        lin_rows = lin.loc[lin["batch_id"].isin(new), "row_count"].sum()
        if lin_rows != len(d) or res["rows_written"] != len(d):
            errs.append(f"lineage counts {lin_rows} rows for a "
                        f"{len(d)}-row delta")
        return errs


class Curate(Workload):
    """``curate_corpus`` over the reference extraction's text."""

    name = "curate"
    data_tables = ("corpus",)
    entry = "curation"
    # the synthetic vocabulary has no English stopwords: with the default
    # min_stop_ratio the quality gate passes ~17% of docs and near-dup has
    # little to do, so the benchmark turns the stopword gate off
    kwargs = {"min_stop_ratio": 0.0}

    def __init__(self, work: Path, corpus: Corpus, n_shards: int):
        super().__init__(work, corpus)
        self.docs_dir = curate_docs(corpus, n_shards)
        self.input_rows = corpus.n_rows
        self.texts = corpus.ref["text"]

    def call(self, spark):
        from pubscience_spark.plans.curation import curate_corpus
        return curate_corpus(spark, spark.read.parquet(str(self.docs_dir)),
                             str(self.out_dir), **self.kwargs)

    def check(self, res) -> list[str]:
        import hashlib
        errs = []
        out = read_table(self.out_dir / "corpus")
        ids = out["doc_id"]
        if ids.duplicated().any() or not ids.between(
                0, self.input_rows - 1).all():
            errs.append("output ids are not a unique subset of the input")
        elif (out["text"].values != self.texts.iloc[ids].values).any():
            errs.append("a survivor's text differs from its input")
        shas = out["text"].map(
            lambda t: hashlib.sha256(t.encode("utf-8")).hexdigest())
        if shas.duplicated().any():
            errs.append("two survivors share the text's sha256")
        manifest = json.loads((self.out_dir / "manifest.json").read_text())
        if manifest["written"] != len(out) or res["written"] != len(out):
            errs.append("manifest written count differs from rows read "
                        "back")
        return errs
