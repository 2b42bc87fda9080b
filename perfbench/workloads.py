"""The benchmark's workloads: seeded inputs, the Spark job each times,
and the check of every job's output.

Inputs are made on the driver, before any Spark session starts, by the
same per-page generator ``synth_pages`` maps over ids
(``sources.datagen``).  Page content is a pure function of the page id,
so a seed only shifts the id range: text changes with the seed while
the variant ratios (PDF share, FlateDecode half, two-column third,
list/table/code/figure/empty HTML) stay fixed.  The generator is never
timed.

Why each workload exists, and its size, is recorded in README.md.
"""

from __future__ import annotations

import os
import shutil
import statistics
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

RENDERER = "plaintext"  # `rendered` is then comparable to datagen's `text`
INPUT_FILES = 8         # two scan files per core at local[4], as bench.py writes
ID_STRIDE = 1_000_000   # seed s uses page ids from (s % ID_BLOCKS) * ID_STRIDE
ID_BLOCKS = 5_000       # datagen stamps page i at 2025-01-01 + i seconds; ids below
                        # 5e9 keep every warc_ts before 2200, inside the
                        # nanosecond range pandas converts Arrow timestamps to
WARM_OFFSET = 900_000   # warm-up ids sit in the same block, clear of the timed ids

PAGES_ARROW = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])
DOCS_ARROW = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


@dataclass
class Outcome:
    """What the check of one job found."""
    attempted: int            # rows whose output was checked
    failed: int               # missing, duplicated, failed/partial, or wrong
    committed: int            # input rows this job committed to its output
    written_bytes: int        # output + checkpoint + lineage bytes committed
    layers: dict = field(default_factory=dict)  # traced-only readings


def write_parquet(df: pd.DataFrame, path: str, schema: pa.Schema) -> None:
    os.makedirs(path)
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    step = -(-len(df) // INPUT_FILES)
    for k in range(INPUT_FILES):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:05d}.parquet"))


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (Spark's _SUCCESS and .crc
    side files excluded)."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            if not name.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, name))
    return total


def read_dir(path: str, columns: list[str]) -> pd.DataFrame:
    return pq.read_table(path, columns=columns).to_pandas()


def gen_pages(ids: list[int]) -> pd.DataFrame:
    from vlm_ocr_pipeline_spark.sources import datagen

    return next(datagen._gen_batch(iter([pd.DataFrame({"id": ids})])))


def _quantile_metrics(prefix: str, wall_ms: list[float], docs: list[float]) -> dict:
    return {
        f"{prefix}.partition_ms_p50": statistics.median(wall_ms) if wall_ms else 0.0,
        f"{prefix}.partition_ms_max": max(wall_ms, default=0.0),
        f"{prefix}.docs_per_partition_min": min(docs, default=0.0),
        f"{prefix}.docs_per_partition_max": max(docs, default=0.0),
    }


def _page_counts(out: pd.DataFrame) -> dict:
    n = max(len(out), 1)
    return {
        "stages.pages.html": float((out["kind"] == "html").sum()),
        "stages.pages.pdf": float((out["kind"] == "pdf").sum()),
        "stages.pages.empty": float((out["n_blocks"] == 0).sum()),
        "stages.blocks_per_page": float(out["n_blocks"].sum()) / n,
        "stages.status.complete": float((out["status"] == "complete").sum()),
        "stages.status.incomplete": float((out["status"] == "incomplete").sum()),
        "stages.status.partial": float((out["status"] == "partial").sum()),
    }


def check_pages(out: pd.DataFrame, expected: dict[str, str]) -> int:
    """Failed rows among ``expected`` urls: missing, duplicated, a
    failed:* or partial status, or `rendered` not byte-equal to the
    generator's text."""
    counts = out["url"].value_counts()
    got = dict(zip(out["url"], zip(out["rendered"], out["status"])))
    failed = 0
    for url, text in expected.items():
        row = got.get(url)
        if row is None or counts[url] != 1:
            failed += 1
            continue
        rendered, status = row
        if status.startswith("failed") or status == "partial" or rendered != text:
            failed += 1
    return failed


class Workload:
    name = ""
    size = 0          # timed input rows per job
    warm_size = 0     # rows in the warm-up job

    def __init__(self, seed: int, work: str):
        self.base = (seed % ID_BLOCKS) * ID_STRIDE
        self.work = work
        self.input = os.path.join(work, "input")
        self.warm_input = os.path.join(work, "warm_input")
        self.out = os.path.join(work, "out")

    def generate(self) -> None:
        """Write the inputs (runs in a child process, so the generator's
        memory stays out of the driver's peak RSS)."""
        raise NotImplementedError

    def expect(self) -> None:
        """Load what the checks compare against, once the inputs exist."""
        pages = read_dir(self.input, ["url", "text"])
        self.expected = dict(zip(pages["url"], pages["text"]))

    def warm_up(self, spark, h) -> None:
        raise NotImplementedError

    def prepare(self, spark, h) -> None:
        """Untimed state the timed jobs start from (after set-up)."""

    def traced_layers(self, spark, h) -> dict:
        """Extra per-layer readings taken after a traced job."""
        return {}

    def before_job(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def job(self, spark, h, traced: bool) -> None:
        raise NotImplementedError

    def check(self, traced: bool) -> Outcome:
        raise NotImplementedError

    def capture(self) -> pd.DataFrame | None:
        """An input batch of this workload for kernel replay: the rows of
        the first two Arrow batches a task would receive."""
        from vlm_ocr_pipeline_spark.plans.session import ARROW_BATCH_ROWS

        df = read_dir(self.input, ["url", "warc_ts", "html"])
        return df.head(2 * ARROW_BATCH_ROWS).reset_index(drop=True)


# ------------------------------------------------------------ extraction
class HtmlCrawl(Workload):
    """Fused ``extract`` over HTML-only pages, sunk to zstd parquet."""

    name = "html_crawl"
    size = 24_000
    warm_size = 2_000

    def _ids(self, start: int, n: int) -> list[int]:
        # datagen makes the ids with idx % 10 < 3 PDF pages
        return [i for i in range(start, start + 2 * n) if i % 10 >= 3][:n]

    def generate(self) -> None:
        write_parquet(gen_pages(self._ids(self.base, self.size)), self.input, PAGES_ARROW)
        write_parquet(gen_pages(self._ids(self.base + WARM_OFFSET, self.warm_size)),
                      self.warm_input, PAGES_ARROW)

    def _extract(self, spark, src: str, dest: str, keep_lineage: bool) -> None:
        from vlm_ocr_pipeline_spark.plans.pipeline import extract

        pages = spark.read.parquet(src)
        extract(pages, run_id=self.name, keep_lineage=keep_lineage,
                renderer=RENDERER).write.parquet(dest)

    def warm_up(self, spark, h) -> None:
        dest = os.path.join(self.work, "warm_out")
        with h.section("plans.pipeline.extract"):
            self._extract(spark, self.warm_input, dest, False)
        shutil.rmtree(dest)

    def job(self, spark, h, traced: bool) -> None:
        with h.section("plans.pipeline.extract"):
            self._extract(spark, self.input, self.out, traced)

    def check(self, traced: bool) -> Outcome:
        cols = ["url", "rendered", "status", "kind", "n_blocks"]
        out = read_dir(self.out, cols + (["_lineage"] if traced else []))
        layers = {}
        if traced:
            marker = out["_lineage"].notna()
            lin = list(out.loc[marker, "_lineage"])
            out = out.loc[~marker]
            layers = _quantile_metrics(
                "lineage", [float(x["wall_clock_ms"]) for x in lin],
                [float(x["docs_in"]) for x in lin])
            layers.update(_page_counts(out))
        failed = check_pages(out, self.expected)
        return Outcome(len(self.expected), failed, len(self.expected) - failed,
                       dir_bytes(self.out), layers)


# ---------------------------------------------------------------- staged
# salted repartition of the staged input: each stage table then gets 16
# small files per run, and every stage's scan packs done and new files
# into tasks evenly (with one file per core, which files share a task
# depended on their exact sizes, so the time swung by seed)
STAGED_PARTITIONS = 16
CKPT_TABLES = {"detect": "stage_detect", "order": "stage_order",
               "text": "stage_text", "lineage": "lineage"}


class StagedResume(Workload):
    """``CheckpointedRun.run`` over a 70/30 HTML/PDF mix whose workdir
    already holds checkpoints for half of the keys."""

    name = "staged_resume"
    size = 12_000        # keys in the input; half are already checkpointed
    warm_size = 1_000

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        self.prep_input = os.path.join(work, "prep_input")
        self.prepared = os.path.join(work, "ckpt_prepared")
        self.runs = 0

    def generate(self) -> None:
        # shuffled, so every input file (and scan task) holds both done
        # and new keys; checkpointing a contiguous half would leave whole
        # scan tasks idle, by a seed-dependent file packing
        ids = np.random.default_rng(self.base).permutation(
            np.arange(self.base, self.base + self.size))
        pages = gen_pages([int(i) for i in ids])
        write_parquet(pages, self.input, PAGES_ARROW)
        write_parquet(pages.head(self.size // 2), self.prep_input, PAGES_ARROW)
        warm = range(self.base + WARM_OFFSET, self.base + WARM_OFFSET + self.warm_size)
        write_parquet(gen_pages(list(warm)), self.warm_input, PAGES_ARROW)

    def expect(self) -> None:
        super().expect()
        self.new_urls = set(self.expected) - set(read_dir(self.prep_input, ["url"])["url"])

    def _run(self, spark, src: str, workdir: str, run_id: str) -> None:
        from vlm_ocr_pipeline_spark.plans.pipeline import CheckpointedRun

        CheckpointedRun(spark, workdir, run_id=run_id).run(
            spark.read.parquet(src), repartition_to=STAGED_PARTITIONS, renderer=RENDERER)

    def warm_up(self, spark, h) -> None:
        workdir = os.path.join(self.work, "warm_ckpt")
        with h.section("plans.pipeline.CheckpointedRun.run"):
            self._run(spark, self.warm_input, workdir, "warm")
        shutil.rmtree(workdir)

    def prepare(self, spark, h) -> None:
        with h.section("plans.pipeline.CheckpointedRun.run"):
            self._run(spark, self.prep_input, self.prepared, "prepared")

    def before_job(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        shutil.copytree(self.prepared, self.out)
        self.bytes_before = {k: dir_bytes(os.path.join(self.out, t))
                             for k, t in CKPT_TABLES.items()}

    def job(self, spark, h, traced: bool) -> None:
        self.runs += 1
        self.run_id = f"run{self.runs}"
        with h.section("plans.pipeline.CheckpointedRun.run"):
            self._run(spark, self.input, self.out, self.run_id)

    def check(self, traced: bool) -> Outcome:
        text = read_dir(os.path.join(self.out, "stage_text"),
                        ["url", "warc_ts", "rendered", "status", "kind", "n_blocks"])
        text = text.loc[text["url"].notna()]
        dup_keys = int(text.duplicated(["url", "warc_ts"]).sum())
        failed = check_pages(text, self.expected)
        written = {k: dir_bytes(os.path.join(self.out, t)) - self.bytes_before[k]
                   for k, t in CKPT_TABLES.items()}
        layers = {}
        if traced:
            lin = read_dir(os.path.join(self.out, "lineage"),
                           ["run_id", "stage", "wall_clock_ms", "docs_in"])
            lin = lin.loc[lin["run_id"] == self.run_id]
            detect = lin.loc[lin["stage"] == "stage_detect"]
            layers = _quantile_metrics(
                "lineage", [float(x) for x in lin["wall_clock_ms"]],
                [float(x) for x in detect["docs_in"]])
            layers.update({f"checkpoint.bytes_written.{k}": float(v) for k, v in written.items()})
            layers["checkpoint.rows_skipped"] = float(self.size - detect["docs_in"].sum())
            layers["checkpoint.duplicate_keys"] = float(dup_keys)
            layers.update(_page_counts(text.loc[text["url"].isin(self.new_urls)]))
        return Outcome(len(self.expected), failed, len(self.new_urls) - failed,
                       sum(written.values()), layers)

    def capture(self) -> pd.DataFrame | None:
        # replay the keys the timed run actually processes
        from vlm_ocr_pipeline_spark.plans.session import ARROW_BATCH_ROWS

        df = read_dir(self.input, ["url", "warc_ts", "html"])
        df = df.loc[df["url"].isin(self.new_urls)]
        return df.head(2 * ARROW_BATCH_ROWS).reset_index(drop=True)


# ----------------------------------------------------------------- dedup
VOCAB = 32_768     # the dedup scaling corpus vocabulary (scripts/bench_scaling_dedup.py)
DOC_WORDS = 150
NUM_HASHES, BANDS = 8, 4   # neardup_clusters' defaults


def dedup_docs(ids: range) -> pd.DataFrame:
    """Seeded word-soup corpus with planted duplicates, in groups of ten
    ids: id%10==8 is an exact copy of id%10==0, id%10==9 is the same
    text plus one trailing word (3-shingle Jaccard 148/149, so 8x4
    MinHash-LSH misses it with p ~ 3e-8)."""
    texts = []
    for i in ids:
        r = i % 10
        base = i - r if r in (8, 9) else i
        words = [f"w{j}" for j in np.random.default_rng(base + 7).integers(0, VOCAB, size=DOC_WORDS)]
        if r == 9:
            words.append(f"tail{i}")
        texts.append(" ".join(words))
    return pd.DataFrame({"doc_id": list(ids), "text": texts})


class DedupChain(Workload):
    """``dedup_keep_representatives`` -> ``neardup_clusters`` ->
    ``duplicate_ngram_spans``, each written, the last two over the
    exact-deduplicated documents."""

    name = "dedup_chain"
    size = 6_000
    warm_size = 1_000

    def generate(self) -> None:
        write_parquet(dedup_docs(range(self.base, self.base + self.size)), self.input, DOCS_ARROW)
        warm = range(self.base + WARM_OFFSET, self.base + WARM_OFFSET + self.warm_size)
        write_parquet(dedup_docs(warm), self.warm_input, DOCS_ARROW)

    def expect(self) -> None:
        self.kept = {i for i in range(self.base, self.base + self.size) if i % 10 != 8}
        self.clusters = {}
        self.spans = {}
        for i in self.kept:
            r = i % 10
            paired = r in (0, 9)
            self.clusters[i] = (i - r if paired else i, 2 if paired else 1)
            self.spans[i] = [(0, DOC_WORDS)] if paired else []

    def _chain(self, spark, h, src: str, dest: str, stats=None) -> None:
        from vlm_ocr_pipeline_spark.operators import text_dedup as td

        with h.section("operators.text_dedup.dedup_keep_representatives"):
            td.dedup_keep_representatives(spark.read.parquet(src)).write.parquet(f"{dest}/kept")
        kept = spark.read.parquet(f"{dest}/kept")
        with h.section("operators.text_dedup.neardup_clusters"):
            td.neardup_clusters(kept, stats=stats).write.parquet(f"{dest}/clusters")
        with h.section("operators.text_dedup.duplicate_ngram_spans"):
            td.duplicate_ngram_spans(kept).write.parquet(f"{dest}/spans")

    def warm_up(self, spark, h) -> None:
        dest = os.path.join(self.work, "warm_out")
        self._chain(spark, h, self.warm_input, dest)
        shutil.rmtree(dest)

    def job(self, spark, h, traced: bool) -> None:
        self.stats: dict = {}
        self._chain(spark, h, self.input, self.out, self.stats)
        self.op_seconds = {name: dt for name, _, _, dt in h.sections}

    def capture(self) -> pd.DataFrame | None:
        return None  # no extraction kernels on this path

    def traced_layers(self, spark, h) -> dict:
        """Per-op times of the traced chain, its label-propagation rounds,
        and the LSH candidate pairs neardup_clusters' front end generates
        (counted through the public pair operator, after the timed chain)."""
        from vlm_ocr_pipeline_spark.operators import text_dedup as td

        ms = {name: dt * 1000.0 for name, dt in self.op_seconds.items()}
        with h.section("operators.text_dedup.minhash_lsh_pairs"):
            kept = spark.read.parquet(f"{self.out}/kept")
            candidates = td.minhash_lsh_pairs(kept, num_hashes=NUM_HASHES, bands=BANDS).count()
        planted = sum(1 for i in self.kept if i % 10 == 0)
        return {
            "text_dedup.exact_ms": ms["operators.text_dedup.dedup_keep_representatives"],
            "text_dedup.neardup_ms": ms["operators.text_dedup.neardup_clusters"],
            "text_dedup.dup_spans_ms": ms["operators.text_dedup.duplicate_ngram_spans"],
            "text_dedup.neardup_rounds": float(self.stats["iterations"]),
            "text_dedup.lsh_candidate_pairs": float(candidates),
            "text_dedup.pair_precision": planted / candidates if candidates else 0.0,
        }

    def check(self, traced: bool) -> Outcome:
        kept = read_dir(f"{self.out}/kept", ["doc_id"])["doc_id"]
        clusters = read_dir(f"{self.out}/clusters", ["doc_id", "representative", "cluster_size"])
        spans = read_dir(f"{self.out}/spans", ["doc_id", "start_word", "end_word"])
        bad: set[int] = set()
        kept_counts = kept.value_counts()
        bad.update(int(i) for i, c in kept_counts.items() if c != 1 or int(i) not in self.kept)
        bad.update(self.kept - set(int(i) for i in kept_counts.index))
        got = {}
        for d, rep, size in zip(clusters["doc_id"], clusters["representative"], clusters["cluster_size"]):
            d = int(d)
            if d in got:
                bad.add(d)
            got[d] = (int(rep), int(size))
        got_spans: dict[int, list] = {}
        for d, s, e in zip(spans["doc_id"], spans["start_word"], spans["end_word"]):
            got_spans.setdefault(int(d), []).append((int(s), int(e)))
        for i in self.kept:
            if got.get(i) != self.clusters[i] or sorted(got_spans.get(i, [])) != self.spans[i]:
                bad.add(i)
        bad.update(set(got) - self.kept)
        bad.update(set(got_spans) - self.kept)
        written = sum(dir_bytes(f"{self.out}/{t}") for t in ("kept", "clusters", "spans"))
        return Outcome(self.size, len(bad), self.size - len(bad), written, {})


WORKLOADS = {w.name: w for w in (HtmlCrawl, StagedResume, DedupChain)}


if __name__ == "__main__":
    # python3 workloads.py <workload> <seed> <work dir>: write the inputs
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    name, seed, work = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    WORKLOADS[name](seed, work).generate()
