"""Workload inputs, the timed jobs, and their output checks.

Every input is a pure function of ``(seed, docs)``.  The pages rows come
from the corpus generator (``sources.corpus.make_row``) in the driver, with
fixed per-class counts (``mixed_rows``), and are written as a parquet table;
the program only reads that table.  Expected outputs come from a
single-process oracle that calls the public dispatcher
``operators.extract.extract_one`` row by row, outside Spark, and at the
default seed they must also equal the values recorded in ``expected.json``.

Each workload is a closed loop of one job at a time:

- ``crawl_mixed``: ``run_pipeline`` with a fresh sink and checkpoint over the
  default corpus mix (JSON-envelope PDFs with the giant-doc tail, HTML, raw
  PDF, images, name-rule skips).
- ``crawl_html``: the same job over HTML pages only (``HTML_SCALE`` times
  as many), taken from the same generator stream.  The kernel is cheap here,
  so the Arrow boundary and the sink dominate.
- ``resume_tail``: ``run_pipeline`` over the same pages as crawl_mixed after a
  simulated crash: the partition-key buckets holding 7/8 of the pages are
  already committed and the sink holds stale rows for some uncommitted urls.
  Each run first restores a pristine copy of sink and checkpoint, untimed.
- ``curate_cascade``: ``run_curation`` with scratch barriers, near-dup and
  mixing, then the output write, as ``jobs.py --curate`` does, over a
  documents table of crawl_mixed's extracted text (the oracle's rows, which
  crawl_mixed checks equal the pipeline's sink).
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import re
import shutil
import time
from collections import Counter, defaultdict
from typing import Dict, List, Optional, Set

import pandas as pd
import pyarrow.dataset as pads
from pyspark.sql import functions as F

from pdf_ocr_batch_ndrocr_lite_spark.functions import image_meta
from pdf_ocr_batch_ndrocr_lite_spark.operators import extract as ex
from pdf_ocr_batch_ndrocr_lite_spark.plans import checkpoint as ck
from pdf_ocr_batch_ndrocr_lite_spark.plans.curate import run_curation
from pdf_ocr_batch_ndrocr_lite_spark.plans.pipeline import run_pipeline
from pdf_ocr_batch_ndrocr_lite_spark.sources.corpus import (PAGES_SCHEMA,
                                                            make_row)

HERE = os.path.dirname(os.path.abspath(__file__))
DEFAULT_SEED = 42
NUM_BUCKETS = ck.DEFAULT_NUM_BUCKETS
# resume_tail: the uncommitted tail holds 1/RESUME_MOD of the pages
RESUME_MOD = 8
STALE_ROWS = 8
# crawl_html: HTML pages per --docs (one HTML page costs ~1/10 of a mixed one)
HTML_SCALE = 4
# untimed, unchecked runs of the job before the timed loop (JIT, codegen,
# Python workers; resume_tail runs them after its seeding run, whose paths
# differ).  The first run costs 2-3x a warm one and the second ~10% more than
# a settled one; over eight interleaved crawl_mixed seeds, two warm-ups cut
# the spread (IQR over median) of docs_per_s from 0.105 to 0.075 for ~5 s
# more per invocation.  A third does not fit a sweep of ~50 invocations in
# under an hour.
WARMUP_RUNS = 2
PAGES_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]
# Shares of the default corpus mix (sources.corpus.make_row): 3% name-rule
# skips; of the rest, 1/17 raw PDF, 1/23 of the remainder images, then 60/40
# JSON-envelope PDF / HTML, the PDFs 90% 1-3 pages, 9% 10-30, 1% 200-500.
# "pdf" (1-3 pages) takes whatever the rounding leaves.
_REST = 0.97 * (16 / 17) * (22 / 23)
MIX = {"skip": 0.03, "rawpdf": 0.97 / 17, "image": 0.97 * (16 / 17) / 23,
       "html": _REST * 0.4, "pdf_mid": _REST * 0.6 * 0.09,
       "pdf_giant": _REST * 0.6 * 0.01, "pdf": 0.0}
GIANT_PAGES = (300, 400)
# curate_cascade: this share of the documents gets a recrawled near-copy
# (HTML pages, one word appended), so the near-dup stage finds candidate
# pairs on every seed rather than on some
RECRAWL_SHARE = 0.1
CURATE_ARGS = {"near_dup": True, "mix_rates": {"ja": 0.5, "en": 0.8},
               "default_rate": 1.0}

TOTAL_KEYS = ("docs", "pages", "extracted", "parse_failures", "skip_has_text",
              "skip_name", "needs_ocr")
LINEAGE_KEYS = TOTAL_KEYS + ("bytes",)
_ACTION_KEY = {ex.ACTION_EXTRACTED: "extracted",
               ex.ACTION_PARSE_FAILURE: "parse_failures",
               ex.ACTION_SKIP_HAS_TEXT: "skip_has_text",
               ex.ACTION_SKIP_NAME: "skip_name",
               ex.ACTION_NEEDS_OCR: "needs_ocr"}
_SEP = "\x1f"


def row_hash(key, text: str) -> int:
    """Per-row hash whose sum is the order-independent digest."""
    h = hashlib.sha1(f"{key}{_SEP}{text}".encode("utf-8")).hexdigest()
    return int(h[:15], 16)


def read_table(path: str, columns: List[str]) -> List[dict]:
    """A parquet table the program wrote, read with pyarrow rather than
    Spark: the check is independent of the engine under test, and costs no
    Spark jobs (a sink of a few hundred files took ~2 s to check through
    Spark, a third of a run).  Hive-style ``col=value`` directories become
    columns; files starting with ``_`` or ``.`` are skipped."""
    return pads.dataset(path, format="parquet", partitioning="hive"
                        ).to_table(columns=columns).to_pylist()


def table_digest(path: str, key_col: str, text_col: str) -> Dict[str, int]:
    rows = read_table(path, [key_col, text_col])
    return {"rows": len(rows),
            "distinct": len({r[key_col] for r in rows}),
            "digest": sum(row_hash(r[key_col], r[text_col] or "")
                          for r in rows)}


def oracle(rows) -> List[dict]:
    """Expected per-row outcome, from the kernels called one row at a time
    outside Spark, with the name rule applied as ``run_extraction`` does."""
    skip = re.compile(ex.GENERATED_NAME_PATTERN)
    out = []
    for url, payload, lang in zip(rows["url"], rows["html"], rows["lang"]):
        if skip.search(url):
            r = {"action": ex.ACTION_SKIP_NAME, "page_count": 0,
                 "extracted_text": ""}
        else:
            r = ex.extract_one(url, payload, lang)
        out.append({"url": url, "lang": lang, "bytes": len(payload),
                    "action": r["action"], "page_count": r["page_count"],
                    "extracted_text": r["extracted_text"]})
    return out


def expected_totals(results: List[dict], only: Optional[Set[str]] = None
                    ) -> Dict[str, int]:
    """Run totals, lineage counters and the sink digest the oracle's rows
    imply (``only``: restrict to these urls)."""
    tot: Counter = Counter({k: 0 for k in LINEAGE_KEYS})
    digest = 0
    for r in results:
        if only is not None and r["url"] not in only:
            continue
        tot["docs"] += 1
        tot["pages"] += r["page_count"]
        tot["bytes"] += r["bytes"]
        tot[_ACTION_KEY[r["action"]]] += 1
        if r["action"] == ex.ACTION_EXTRACTED:
            digest += row_hash(r["url"], r["extracted_text"])
    return {**tot, "digest": digest}


def doc_class(row: dict) -> str:
    """The mix class of one generated row: name-rule skip, route, and for
    JSON-envelope PDFs the page-count band."""
    if re.search(ex.GENERATED_NAME_PATTERN, row["url"]):
        return "skip"
    payload = row["html"]
    if payload.lstrip()[:5] == b"%PDF-":
        return "rawpdf"
    if image_meta.sniff_image(payload[:18]) is not None:
        return "image"
    if payload.startswith(b"{"):
        env = json.loads(payload)
        n = len(env["pages"])
        if n >= 200:
            # giants count only inside the page band and on the OCR path
            # (no text layer, not encrypted), so every seed extracts them
            usable = (GIANT_PAGES[0] <= n <= GIANT_PAGES[1]
                      and not env["encrypted"]
                      and not ex.has_text_layer(env["pages"]))
            return "pdf_giant" if usable else "pdf_giant_other"
        return "pdf_mid" if n >= 10 else "pdf"
    return "html"


def class_quota(docs: int) -> Dict[str, int]:
    quota = {c: round(docs * share) for c, share in MIX.items()}
    quota["pdf"] = docs - sum(v for c, v in quota.items() if c != "pdf")
    return quota


def mixed_rows(seed: int, quota: Dict[str, int]) -> pd.DataFrame:
    """Rows of the corpus generator's stream for ``seed``, taken in index
    order until every class has its count in ``quota``.  The seed picks the
    documents; the class counts do not depend on it, so runs with different
    seeds do the same amount of work."""
    docs = sum(quota.values())
    quota = dict(quota)
    picked = []
    i = 0
    while len(picked) < docs:
        row = make_row(seed, i)
        i += 1
        cls = doc_class(row)
        if quota.get(cls, 0) > 0:
            quota[cls] -= 1
            picked.append(row)
    return pd.DataFrame(picked, columns=PAGES_COLUMNS)


def load_expected(workload: str, seed: int, docs: int) -> Optional[dict]:
    if seed != DEFAULT_SEED:
        return None
    with open(os.path.join(HERE, "expected.json")) as fh:
        return json.load(fh).get(workload, {}).get(str(docs))


def _diff(what: str, got, want) -> List[str]:
    return [] if got == want else [f"{what}: got {got}, want {want}"]


class Ctx:
    """One benchmark process: session, sizes and its work directory."""

    def __init__(self, spark, work: str, seed: int, docs: int,
                 partitions: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.docs = docs
        self.partitions = partitions
        self._n = 0

    def path(self, name: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{name}{self._n}")


def rmtree(*paths: str) -> None:
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)
        shutil.rmtree(ck.meta_path(p), ignore_errors=True)


class Extraction:
    """Pages table, oracle and the sink/lineage checks shared by every
    workload (curate_cascade's documents are the oracle's extracted rows)."""

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.rows = None
        self.pages = None
        self.results: List[dict] = []
        self.expected: Dict[str, int] = {}
        self.url_key: Dict[str, int] = {}
        self.keys: Set[int] = set()

    def write_pages(self) -> None:
        c = self.ctx
        path = c.path("pages")
        c.spark.createDataFrame(self.rows, PAGES_SCHEMA).write.parquet(path)
        self.pages = c.spark.read.parquet(path)

    def compute_expected(self) -> None:
        self.results = oracle(self.rows)
        self.expected = expected_totals(self.results)
        self.url_key = {r[0]: r[1] for r in ck.with_partition_key(
            self.pages.select("url"), NUM_BUCKETS).collect()}
        self.keys = set(self.url_key.values())

    def pipeline(self, pages, out: str, ckpt: str, storage=None
                 ) -> Dict[str, int]:
        return run_pipeline(self.ctx.spark, pages, output_path=out,
                            checkpoint_path=ckpt, storage=storage,
                            num_buckets=NUM_BUCKETS,
                            num_partitions=self.ctx.partitions)

    def check_state(self, out: str, ckpt: str) -> List[str]:
        """Sink holds every extracted url once with its oracle text; the
        lineage has one done row per non-empty bucket and the oracle's
        counter totals."""
        e = self.expected
        sink = table_digest(out, "url", "extracted_text")
        errs = _diff("sink rows", sink["rows"], e["extracted"])
        errs += _diff("sink distinct urls", sink["distinct"], e["extracted"])
        errs += _diff("sink digest", sink["digest"], e["digest"])
        lineage = read_table(ckpt, ["partition_key", "status",
                                    *LINEAGE_KEYS])
        errs += _diff("lineage totals",
                      {k: sum(r[k] for r in lineage) for k in LINEAGE_KEYS},
                      {k: e[k] for k in LINEAGE_KEYS})
        errs += _diff("lineage rows", len(lineage), len(self.keys))
        done = sorted(r["partition_key"] for r in lineage
                      if r["status"] == "done")
        errs += _diff("done buckets", done, sorted(self.keys))
        return errs

    def setup_inputs(self, timer, expected_as: str, quota: Dict[str, int]
                     ) -> List[str]:
        """Generate the rows, write the pages table, then compute the expected
        outputs; checks the oracle against ``expected.json`` at the default
        seed."""
        with timer("generate"):
            self.rows = mixed_rows(self.ctx.seed, quota)
        with timer("write"):
            self.write_pages()
        self.compute_expected()
        rec = load_expected(expected_as, self.ctx.seed, self.ctx.docs)
        if rec is None:
            return []
        return _diff("oracle vs expected.json", self.record(), rec)

    def record(self) -> dict:
        """The values ``expected.json`` keeps for this input."""
        return {**{k: self.expected[k] for k in LINEAGE_KEYS},
                "digest": str(self.expected["digest"])}


class CrawlMixed:
    name = "crawl_mixed"

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.ex = Extraction(ctx)
        self.out = self.ckpt = None
        self.pipeline_job = self

    def quota(self) -> Dict[str, int]:
        return class_quota(self.ctx.docs)

    def setup(self, timer) -> List[str]:
        errs = self.ex.setup_inputs(timer, self.name, self.quota())
        self.warm_up(timer, WARMUP_RUNS)
        return errs

    def warm_up(self, timer, runs: int) -> None:
        for _ in range(runs):
            self.prepare()
            with timer("warmup"):
                self.run()

    @property
    def input_docs(self) -> int:
        return self.ex.expected["docs"]

    def record(self) -> dict:
        return self.ex.record()

    def prepare(self) -> None:
        """Untimed: drop the previous run's tables, pick fresh paths."""
        if self.out:
            rmtree(self.out, self.ckpt)
        self.out, self.ckpt = self.ctx.path("out"), self.ctx.path("ckpt")

    def run(self, storage=None):
        """One timed job; returns (wall seconds, {"docs": docs run through
        the job, "pages": their pages}, output check)."""
        t0 = time.perf_counter()
        totals = self.ex.pipeline(self.ex.pages, self.out, self.ckpt, storage)
        wall = time.perf_counter() - t0

        def check() -> List[str]:
            errs = _diff("run totals", totals,
                         {k: self.ex.expected[k] for k in TOTAL_KEYS})
            return errs + self.ex.check_state(self.out, self.ckpt)
        return wall, totals, check


class CrawlHtml(CrawlMixed):
    name = "crawl_html"

    def quota(self) -> Dict[str, int]:
        return {"html": HTML_SCALE * self.ctx.docs}


def tail_buckets(url_key: Dict[str, int], results: List[dict],
                 docs: int) -> Set[int]:
    """The uncommitted buckets of resume_tail.  Buckets holding a giant doc
    (200 pages or more) stay committed, so no single serial task sets the
    resume's wall.  The rest are taken in order, buckets with a doc of 10 or
    more pages first, each group ordered by (key % RESUME_MOD, key); each
    joins if the tail stays within 1/RESUME_MOD of the docs and of the pages.
    The tail then holds 1/RESUME_MOD of the pages on every seed (and fewer
    of the docs)."""
    pages = defaultdict(list)
    for r in results:
        pages[url_key[r["url"]]].append(r["page_count"])
    doc_cap = docs // RESUME_MOD
    page_cap = sum(r["page_count"] for r in results) // RESUME_MOD
    order = sorted((max(p) < 10, k % RESUME_MOD, k)
                   for k, p in pages.items() if max(p) < 200)
    tail, n, m = set(), 0, 0
    for _, _, k in order:
        if n + len(pages[k]) <= doc_cap and m + sum(pages[k]) <= page_cap:
            tail.add(k)
            n += len(pages[k])
            m += sum(pages[k])
    return tail


class ResumeTail(CrawlMixed):
    name = "resume_tail"

    def setup(self, timer) -> List[str]:
        c = self.ctx
        errs = self.ex.setup_inputs(timer, "crawl_mixed", self.quota())
        url_key = self.ex.url_key
        tail_keys = tail_buckets(url_key, self.ex.results, c.docs)
        pending = {u for u, k in url_key.items() if k in tail_keys}
        self.pending_expected = expected_totals(self.ex.results, pending)
        self.out, self.ckpt = c.path("out"), c.path("ckpt")
        with timer("warmup"):
            # the crash: every bucket outside the tail is committed ...
            self.ex.pipeline(
                self.ex.pages.filter(~F.col("url").isin(sorted(pending))),
                self.out, self.ckpt)
        # ... and the sink already holds stale rows for some extracted tail
        # urls, written before a lineage commit that never happened
        stale_urls = sorted(r["url"] for r in self.ex.results
                            if r["url"] in pending
                            and r["action"] == ex.ACTION_EXTRACTED)
        stale = (ck.with_partition_key(self.ex.pages, NUM_BUCKETS)
                 .filter(F.col("url").isin(stale_urls[:STALE_ROWS]))
                 .select("partition_key", "url",
                         "lang", F.lit("html").alias("doc_kind"),
                         F.lit("stale").alias("extracted_text"),
                         *[F.lit(0).alias(c) for c in
                           ("page_count", "token_count", "block_count")]))
        (stale.write.mode("append").partitionBy("partition_key")
         .parquet(self.out))
        for p in self._tables():
            shutil.copytree(p, p + ".pristine")
        self.warm_up(timer, WARMUP_RUNS)
        return errs

    def _tables(self):
        return (self.out, self.ckpt, ck.meta_path(self.ckpt))

    def prepare(self) -> None:
        """Untimed: restore the crash state."""
        for p in self._tables():
            shutil.rmtree(p, ignore_errors=True)
            shutil.copytree(p + ".pristine", p)

    def run(self, storage=None):
        t0 = time.perf_counter()
        totals = self.ex.pipeline(self.ex.pages, self.out, self.ckpt, storage)
        wall = time.perf_counter() - t0

        def check() -> List[str]:
            errs = _diff("run totals", totals,
                         {k: self.pending_expected[k] for k in TOTAL_KEYS})
            return errs + self.ex.check_state(self.out, self.ckpt)
        return wall, totals, check


class Curation:
    """``run_curation`` over a documents table built from extracted rows
    (a pipeline sink, or the extracted rows of ``run_extraction``): the
    extract -> curate flow, doc_id derived from the url as
    ``jobs.py --curate`` does."""

    def __init__(self, ctx: Ctx, extracted) -> None:
        self.ctx = ctx
        path = ctx.path("docs")
        (extracted
         .select(F.abs(F.xxhash64("url")).alias("doc_id"), "url",
                 F.col("extracted_text").alias("text"), "lang", "page_count")
         .repartition(ctx.partitions)
         .write.parquet(path))
        self.docs = ctx.spark.read.parquet(path)
        row = self.docs.agg(F.count(F.lit(1)), F.sum("page_count")).collect()[0]
        self.n_docs, self.n_pages = int(row[0]), int(row[1] or 0)

    def curate(self, tracer=None):
        """run_curation with scratch barriers, then the output write.
        Returns (stage counts, output path)."""
        c = self.ctx
        scratch, out = c.path("scratch"), c.path("kept")
        spans = (tracer.span if tracer else
                 lambda name: contextlib.nullcontext())
        with spans("curate.run_curation"):
            kept, counts = run_curation(self.docs, scratch_dir=scratch,
                                        **CURATE_ARGS)
        with spans("curate.write"):
            kept.write.mode("overwrite").parquet(out)
        shutil.rmtree(scratch, ignore_errors=True)
        return counts, out

    def result(self, counts, out):
        digest = table_digest(out, "doc_id", "text")
        shutil.rmtree(out, ignore_errors=True)
        return {"counts": counts, "digest": digest}

    def invariants(self, res) -> List[str]:
        counts, digest = res["counts"], res["digest"]
        errs = _diff("kept rows", digest["rows"], counts["kept"])
        errs += _diff("kept distinct ids", digest["distinct"], digest["rows"])
        errs += _diff("input count", counts["input"], self.n_docs)
        seq = [counts[k] for k in ("input", "after_verdict",
                                   "after_near_dup", "after_mixing")]
        if seq != sorted(seq, reverse=True):
            errs.append(f"stage counts grow: {seq}")
        return errs


class CurateCascade:
    name = "curate_cascade"

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.pipeline_job = CrawlMixed(ctx)
        self.ex = self.pipeline_job.ex

    def setup(self, timer) -> List[str]:
        c = self.ctx
        errs = self.ex.setup_inputs(timer, "crawl_mixed",
                                    class_quota(c.docs))
        with timer("documents"):
            # the extracted text of crawl_mixed's pages (the oracle's rows
            # equal the pipeline's sink: crawl_mixed checks that every run)
            # plus recrawled near-copies of some HTML pages
            docs = [r for r in self.ex.results
                    if r["action"] == ex.ACTION_EXTRACTED]
            html = [r for r, payload in zip(self.ex.results, self.ex.rows["html"])
                    if r["action"] == ex.ACTION_EXTRACTED
                    and payload.startswith(b"<")]
            docs += [{**r, "url": r["url"] + "#recrawl",
                      "extracted_text": r["extracted_text"] + " recrawl"}
                     for r in html[:round(RECRAWL_SHARE * len(docs))]]
            extracted = pd.DataFrame(docs)
            self.curation = Curation(c, c.spark.createDataFrame(
                extracted[["url", "extracted_text", "lang", "page_count"]],
                "url string, extracted_text string, lang string, "
                "page_count int"))
        with timer("warmup"):
            self.reference = self.curation.result(*self.curation.curate())
        errs += self.curation.invariants(self.reference)
        rec = load_expected(self.name, self.ctx.seed, self.ctx.docs)
        if rec is not None:
            errs += _diff("curation vs expected.json", self.record(), rec)
        return errs

    def record(self) -> dict:
        return {"counts": self.reference["counts"],
                "digest": str(self.reference["digest"]["digest"])}

    @property
    def input_docs(self) -> int:
        return self.curation.n_docs

    def prepare(self) -> None:
        pass

    def run(self, tracer=None):
        t0 = time.perf_counter()
        counts, out = self.curation.curate(tracer)
        wall = time.perf_counter() - t0

        def check() -> List[str]:
            return _diff("curation result",
                         self.curation.result(counts, out), self.reference)
        return wall, {"docs": self.curation.n_docs,
                      "pages": self.curation.n_pages}, check


WORKLOADS = {w.name: w for w in (CrawlMixed, CrawlHtml, ResumeTail,
                                 CurateCascade)}
