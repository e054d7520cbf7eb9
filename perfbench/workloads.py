"""The benchmark's three workloads.

Each workload makes its inputs from the seed, runs one timed pass at a time
(closed loop: one client process submits one job or query at a time), checks every
pass's output, and in a traced run splits its wall into layers by timing
benchmark-side jobs around the engine's public functions.

- ``extract_crawl``: ``extract_pages(repartition=True)`` -> parquet.
- ``pipeline_resume``: ``pipeline.run_extract(chunks=4)`` into a fresh
  iceberg-lite table, then ``run_extract`` again over the committed table.
- ``dedup_corpus``: the registry's exact, SimHash, MinHash, winnowing and
  cluster dedup queries over a seeded ``documents.parquet``.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from layers import DEDUP_QUERIES
from measure import COUNTERS, group_counters, plan_exchanges

from ocr_spark.core.extract import RESULT_COLUMNS, extract_record
from ocr_spark.core.htmlparse import extract_blocks, score_blocks
from ocr_spark.core.pdfparse import PdfParseError, extract_pdf_text
from ocr_spark.core.synth import gen_page
from ocr_spark.operators.dedup import release_cached
from ocr_spark.operators.extract_op import INPUT_COLS, extract_pages
from ocr_spark.pipeline import read_extracted, read_metrics, run_extract
from ocr_spark.plans.partitioning import salted_repartition
from ocr_spark.sources.iceberg_lite import IcebergLiteTable
from ocr_spark.sources.pages import synth_pages

CHUNKS = 4  # run_extract's chunks in pipeline_resume
CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "corpus",
                      "documents-sf0.1.parquet")


@dataclass
class Run:
    """State of one benchmark run, shared by its setup rounds and passes."""

    spark: object
    seed: int
    size: dict
    work: str       # scratch directory of this run, removed when it ends
    tracer: object
    inputs: dict[str, str] = field(default_factory=dict)   # input -> sha256
    ledger_passes: list = field(default_factory=list)      # operations the ledger ran


@dataclass
class Pass:
    id: int                     # negative for set-up warm-up passes
    wall: float = 0.0           # timed seconds of this pass
    docs: int = 0               # input documents the pass processed
    ops: int = 0                # timed jobs or queries in the pass
    failures: list[str] = field(default_factory=list)
    failed_ops: set[str] = field(default_factory=set)
    parts: dict[str, float] = field(default_factory=dict)   # op -> timed wall
    counters: dict[str, dict] = field(default_factory=dict)  # instrumented only
    steal_share: float = 0.0    # share of the machine's CPU time the host stole

    def fail(self, op: str, msg: str) -> None:
        self.failed_ops.add(op)
        self.failures.append(f"{op}: {msg}")


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def median(xs) -> float:
    return statistics.median(xs)


def table_digest(path: str, key: str) -> str:
    """sha256 over the rows of a parquet file or directory, sorted by ``key``."""
    t = pq.read_table(path).sort_by(key)
    h = hashlib.sha256()
    for name in sorted(t.column_names):
        h.update(name.encode())
        for v in t.column(name).to_pylist():
            b = v if isinstance(v, bytes) else repr(v).encode()
            h.update(len(b).to_bytes(8, "little"))
            h.update(b)
    return h.hexdigest()


class Workload:
    name = ""
    ops_per_pass = 1
    min_passes = 2  # timed passes a run makes even when --seconds is reached sooner
    # set-up passes before timing: the JVM keeps compiling hot paths over the
    # first passes, and a pass after a single warm-up still runs 10-15% slow
    warmup_passes = 2

    def generate(self, run: Run, dest: str) -> dict[str, str]:
        """Write the inputs under ``dest``; return {input: sha256}."""
        raise NotImplementedError

    def scan_input(self, run: Run):
        """The workload's input as a DataFrame, for the scan layer."""
        raise NotImplementedError

    def run_pass(self, run: Run, p: Pass, instrumented: bool) -> None:
        """Run, time and check one pass, recording into ``p``."""
        raise NotImplementedError

    def final_checks(self, run: Run) -> list[tuple[int, str, str]]:
        """Checks made once per run: (pass id, operation, failure) triples."""
        return []

    def ledger(self, run: Run, passes: list[Pass]) -> dict[str, tuple[float, str]]:
        """Workload-specific layer metrics, traced runs only."""
        return {}

    def _op(self, run: Run, p: Pass, name: str, instrumented: bool, fn, plan_of=None):
        """Run and time one operation of a pass. An instrumented operation
        runs under its own job group and span, then collects its Spark
        counters and, if ``plan_of`` maps its result to a DataFrame, that
        frame's plan exchanges. All of that is inside its timed wall, so
        instrumented and plain walls differ by what tracing costs."""
        t0 = time.perf_counter()
        if instrumented:
            group = f"perfbench-{p.id}-{name}"
            run.spark.sparkContext.setJobGroup(group, name)
            with run.tracer.span(name, p.id):
                out = fn()
            p.counters[name] = group_counters(run.spark, group)
            run.spark.sparkContext._jsc.clearJobGroup()
            if plan_of is not None:
                p.counters[name]["exchanges"] = plan_exchanges(plan_of(out))
        else:
            out = fn()
        wall = time.perf_counter() - t0
        p.parts[name] = wall
        p.wall += wall
        p.ops += 1
        return out


# -- pages workloads ---------------------------------------------------------

class PagesWorkload(Workload):
    """Seeded Common-Crawl-like pages from ``core.synth.gen_page`` (55%
    article, 17% link farm, 12% legacy, 6% PDF, 10% degenerate, Zipf hosts).
    Outputs are checked against the serial ``extract_record`` on a
    seed-chosen sample of urls."""

    pages_key = ""  # SIZES entry holding the page count

    def generate(self, run, dest):
        self.n = run.size[self.pages_key]
        self.pages = os.path.join(dest, "pages")
        synth_pages(run.spark, self.n, seed=run.seed).write.parquet(self.pages)
        self.sample = self.expected_sample(run)
        return {"pages": table_digest(self.pages, "url")}

    def scan_input(self, run):
        return run.spark.read.parquet(self.pages)

    def expected_sample(self, run) -> dict[str, dict]:
        """url -> serial extract_record result, for seed-chosen rows."""
        ids = random.Random(run.seed).sample(range(self.n), run.size["sample"])
        out = {}
        for i in ids:
            pg = gen_page(i, run.seed)
            out[pg["url"]] = extract_record(pg["url"], pg["html"], pg["text"], pg["lang"])
        return out

    def check_extracted(self, df, sample: dict[str, dict]) -> list[str]:
        """Every input url exactly once; the sample matches the serial core
        column for column (text compared as exact strings)."""
        picked = F.when(F.col("url").isin(list(sample)), F.struct(*RESULT_COLUMNS))
        n, n_urls, rows = df.agg(F.count(F.lit(1)), F.countDistinct("url"),
                                 F.collect_list(picked)).first()
        fails = []
        if n != self.n or n_urls != self.n:
            fails.append(f"{n} rows, {n_urls} distinct urls, want {self.n}")
        got = {r["url"]: r.asDict() for r in rows}
        for url, want in sample.items():
            row = got.get(url)
            if row != want:
                fails.append(f"{url}: distributed {row and row['extract_status']} "
                             f"differs from serial {want['extract_status']}")
        return fails

    def prefix_walls(self, run, reps: int) -> dict[str, float]:
        """Median wall of each cumulative prefix of the extraction job,
        each written to a noop sink; ``parquet`` is the full job, whose last
        output stays in ``ledger-out``. Prefixes run round-robin so drift
        hits every prefix alike."""
        spark = run.spark
        parts = spark.sparkContext.defaultParallelism * 2  # extract_pages' default

        def scan():
            return spark.read.parquet(self.pages).select(*INPUT_COLS)

        def shuffled():
            return salted_repartition(scan(), parts)

        def identity():
            df = shuffled()
            return df.mapInPandas(lambda batches: batches, schema=df.schema)

        def parse():
            return extract_pages(spark.read.parquet(self.pages), repartition=True)

        out_dir = os.path.join(run.work, "ledger-out")

        def parquet():
            parse().write.parquet(out_dir)

        jobs = {"scan": lambda: noop(scan()), "shuffle": lambda: noop(shuffled()),
                "arrow": lambda: noop(identity()), "parse": lambda: noop(parse()),
                "parquet": parquet}
        walls: dict[str, list[float]] = {s: [] for s in jobs}
        for _ in range(reps):
            for s, job in jobs.items():
                shutil.rmtree(out_dir, ignore_errors=True)
                with run.tracer.span(f"ledger.{s}"):
                    walls[s].append(timed(job))
        return {s: median(w) for s, w in walls.items()}


class ExtractCrawl(PagesWorkload):
    name = "extract_crawl"
    pages_key = "crawl_pages"
    # one warm-up and the median of four passes: the first, still slow,
    # falls out of the median, at the run time of two warm-ups and three
    # passes
    warmup_passes = 1
    min_passes = 4

    def run_pass(self, run, p, instrumented):
        p.docs = self.n
        out = os.path.join(run.work, f"extracted-{p.id}")

        def job():
            df = extract_pages(run.spark.read.parquet(self.pages), repartition=True)
            df.write.parquet(out)
            return df

        self._op(run, p, "extract", instrumented, job, plan_of=lambda df: df)
        for msg in self.check_extracted(run.spark.read.parquet(out), self.sample):
            p.fail("extract", msg)
        shutil.rmtree(out)

    def ledger(self, run, passes):
        w = self.prefix_walls(run, run.size["layer_reps"])
        out = os.path.join(run.work, "ledger-out")
        rows = run.spark.read.parquet(out).groupBy("partition_id").count().collect()
        counts = [r["count"] for r in rows]
        shutil.rmtree(out)
        ran = [q.counters["extract"] for q in passes if q.counters]
        return {
            "sources.scan_s": (w["scan"], "s"),
            "plans.partitioning.shuffle_s": (w["shuffle"] - w["scan"], "s"),
            "plans.partitioning.shuffle_bytes": (median([c["shuffle_bytes"] for c in ran]),
                                                 "bytes"),
            "plans.partitioning.exchanges": (median([c["exchanges"] for c in ran]), "count"),
            "plans.partitioning.partition_skew": (max(counts) / median(counts), "ratio"),
            "operators.extract_op.arrow_s": (w["arrow"] - w["shuffle"], "s"),
            "operators.extract_op.parse_s": (w["parse"] - w["arrow"], "s"),
            "sink.parquet_write_s": (w["parquet"] - w["parse"], "s"),
            "ledger.sum_s": (w["parquet"], "s"),
            "ledger.pass_s": (median([q.wall for q in passes if not q.counters] or
                                     [q.wall for q in passes]), "s"),
        } | dedup_ledger(run)


class PipelineResume(PagesWorkload):
    name = "pipeline_resume"
    pages_key = "pipeline_pages"
    ops_per_pass = 2
    min_passes = 3
    # one warm-up: a second would cost a whole pass, and the median of the
    # timed passes leaves out the first one, still 10-20% slow
    warmup_passes = 1

    def run_pass(self, run, p, instrumented):
        p.docs = self.n
        root = os.path.join(run.work, f"table-{p.id}")
        spark = run.spark

        def extract():
            return run_extract(spark, spark.read.parquet(self.pages), root,
                               run_id=f"run-{p.id}", chunks=CHUNKS)

        def resume():
            return run_extract(spark, spark.read.parquet(self.pages), root,
                               run_id=f"resume-{p.id}", chunks=CHUNKS)

        first = self._op(run, p, "run_extract", instrumented, extract)
        snaps = len(IcebergLiteTable(f"{root}/extracted").snapshots())
        again = self._op(run, p, "resume", instrumented, resume)
        for msg in self.check_extracted(read_extracted(spark, root), self.sample):
            p.fail("run_extract", msg)
        if first.docs != self.n:
            p.fail("run_extract", f"committed {first.docs} docs, want {self.n}")
        parsed, failed = read_metrics(spark, root).agg(
            F.sum("docs_parsed"), F.sum("parse_failures")).first()
        if parsed + failed != self.n:
            p.fail("run_extract", f"metrics rows count {parsed} + {failed}, want {self.n}")
        if again.snapshots or len(IcebergLiteTable(f"{root}/extracted").snapshots()) != snaps:
            p.fail("resume", f"committed {len(again.snapshots)} snapshots, want 0")
        if instrumented:  # the ledger reads the last instrumented table
            if getattr(self, "last_table", None):
                shutil.rmtree(self.last_table)
            self.last_table = root
        else:
            shutil.rmtree(root)

    def chunk_walls(self, run, reps: int) -> dict[str, float]:
        """Median wall, summed over the chunks, of each prefix of the chunk
        jobs ``run_extract`` builds on a fresh table: the chunk filter ->
        noop (``base``), plus an identity mapInPandas (``arrow``), and
        ``extract_pages`` with its default ``repartition="auto"`` -> noop
        (``parse``). Where the auto policy shuffles a chunk, as its executed
        plan shows, the base and arrow prefixes shuffle it the same way."""
        spark = run.spark
        parts = spark.sparkContext.defaultParallelism * 2  # extract_pages' default
        chunk_col = F.pmod(F.xxhash64("url"), F.lit(CHUNKS))

        def chunk(c):
            return spark.read.parquet(self.pages).where(chunk_col == c)

        shuffles = [plan_exchanges(extract_pages(chunk(c))) > 0 for c in range(CHUNKS)]

        def base(c):
            df = chunk(c).select(*INPUT_COLS)
            return salted_repartition(df, parts) if shuffles[c] else df

        def identity(c):
            df = base(c)
            return df.mapInPandas(lambda batches: batches, schema=df.schema)

        prefixes = {"base": base, "arrow": identity,
                    "parse": lambda c: extract_pages(chunk(c))}
        walls: dict[str, list[float]] = {s: [] for s in prefixes}
        for _ in range(reps):
            for s, frame in prefixes.items():
                with run.tracer.span(f"ledger.chunks.{s}"):
                    walls[s].append(sum(timed(lambda: noop(frame(c))) for c in range(CHUNKS)))
        return {s: median(w) for s, w in walls.items()}

    def ledger(self, run, passes):
        spark = run.spark
        reps = run.size["layer_reps"]
        w = self.chunk_walls(run, reps)
        # extract -> parquet control with run_extract's own partitioning policy
        control = os.path.join(run.work, "control")

        def control_job():
            extract_pages(spark.read.parquet(self.pages)).write.parquet(control)

        control_walls = []
        for _ in range(reps):
            shutil.rmtree(control, ignore_errors=True)
            with run.tracer.span("ledger.control"):
                control_walls.append(timed(control_job))
        # commit = iceberg-lite append minus a plain parquet write of the same frame
        frame = spark.read.parquet(control)
        commit, plain = [], []
        for k in range(reps):
            table = IcebergLiteTable(os.path.join(run.work, f"commit-{k}"))
            with run.tracer.span("ledger.append"):
                commit.append(timed(lambda: table.append(
                    frame, partition_by="content_kind", stats_cols=("url",))))
            with run.tracer.span("ledger.plain_write"):
                plain.append(timed(lambda: frame.write.partitionBy("content_kind")
                                   .parquet(os.path.join(run.work, f"plain-{k}"))))
        table = IcebergLiteTable(f"{self.last_table}/extracted")
        reads = []
        for _ in range(reps):
            with run.tracer.span("ledger.read"):
                reads.append(timed(lambda: noop(table.read(spark).select("url"))))

        ran = [q for q in passes if q.counters]
        out = {
            "operators.extract_op.arrow_s": (w["arrow"] - w["base"], "s"),
            "operators.extract_op.parse_s": (w["parse"] - w["arrow"], "s"),
            "pipeline.overhead_s": (median([q.parts["run_extract"] for q in passes])
                                    - median(control_walls), "s"),
            "pipeline.resume_s": (median([q.parts["resume"] for q in passes]), "s"),
            "sources.iceberg_lite.commit_s": (median(commit) - median(plain), "s"),
            "sources.iceberg_lite.read_s": (median(reads), "s"),
        }
        for op in ("run_extract", "resume"):
            for c in ("jobs", "stages", "tasks", "failed_tasks"):
                out[f"pipeline.{op}.spark_{c}"] = (
                    median([q.counters[op][c] for q in ran]), "count")
        return out


# -- dedup workload ----------------------------------------------------------

def gen_documents(n: int, seed: int) -> pd.DataFrame:
    """A documents table in the shape of the registry's ``documents``, made
    from the sf0.1 documents (``corpus/documents-sf0.1.parquet``: text, lang
    and source of its 5,000 rows): rows resampled with replacement, plus
    planted near-duplicates (~10%), each a resampled row with one word
    replaced by, or one inserted as, another word of the same text, or one
    word dropped; then shuffled and numbered."""
    src = pq.read_table(CORPUS).to_pylist()
    r = random.Random(seed)
    rows = [dict(r.choice(src)) for _ in range(n - n // 10)]
    for _ in range(n // 10):
        row = dict(r.choice(rows))
        words = row["text"].split()
        j, other = r.randrange(len(words)), r.choice(words)
        edit = r.randrange(3)
        if edit == 0:
            words[j] = other
        elif edit == 1:
            del words[j]
        else:
            words.insert(j, other)
        row["text"] = " ".join(words)
        rows.append(row)
    r.shuffle(rows)
    docs = pd.DataFrame(rows, columns=["text", "lang", "source"])
    docs.insert(0, "doc_id", pd.Series(range(n), dtype="int64"))
    docs["n_chars"] = docs["text"].str.len().astype("int64")
    return docs


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    """Order- and width-insensitive form of a query result: the
    canonicalisation the repository's DuckDB parity suite applies (ints to
    int64, floats rounded to 4 places, objects to str, rows sorted)."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        kind = str(pdf[c].dtype)
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        elif kind.startswith(("float", "Float")):
            pdf[c] = pdf[c].astype("float64").round(4)
        elif kind.startswith(("int", "Int", "uint", "bool")):
            pdf[c] = pdf[c].astype("int64")
        elif kind.startswith("datetime"):
            pdf[c] = pdf[c].astype("datetime64[us]")
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def frame_mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=True, atol=0, rtol=0)
    except AssertionError as e:
        return str(e).splitlines()[0]
    return None


class DedupCorpus(Workload):
    ops_per_pass = len(DEDUP_QUERIES)
    name = "dedup_corpus"

    def __init__(self):
        import __spark_entry__ as registry

        every = {**registry.queries(), **registry.extra_queries()}
        sqls = {**registry.oracle_sql(), **registry.extra_oracle_sql()}
        self.queries = {q: every[q] for q in DEDUP_QUERIES}
        self.oracle_sql = {q: sqls[q] for q in DEDUP_QUERIES}
        self.results: dict[str, list[tuple[int, pd.DataFrame]]] = {}

    def generate(self, run, dest):
        self.n = run.size["docs"]
        self.sf_dir = os.path.join(dest, "sf")
        os.makedirs(self.sf_dir)
        path = os.path.join(self.sf_dir, "documents.parquet")
        pq.write_table(pa.Table.from_pandas(gen_documents(self.n, run.seed),
                                            preserve_index=False), path)
        self.results = {q: [] for q in DEDUP_QUERIES}
        return {"documents": table_digest(path, "doc_id")}

    def scan_input(self, run):
        return run.spark.read.parquet(os.path.join(self.sf_dir, "documents.parquet"))

    def run_pass(self, run, p, instrumented):
        p.docs = self.n
        for q, build in self.queries.items():
            holder = {}

            def query():
                holder["df"] = build(run.spark, self.sf_dir)
                return holder["df"].toPandas()

            pdf = self._op(run, p, q, instrumented, query, plan_of=lambda _: holder["df"])
            release_cached()
            self.results[q].append((p.id, canon(pdf)))

    def final_checks(self, run):
        """Every pass's result of each query against its DuckDB twin, run
        once per run after the timed passes."""
        import duckdb

        path = os.path.join(self.sf_dir, "documents.parquet")
        fails = []
        con = duckdb.connect()
        try:
            con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
            for q, sql in self.oracle_sql.items():
                with run.tracer.span(f"oracle.{q}"):
                    want = canon(con.execute(sql).df())
                for pass_id, got in self.results[q]:
                    bad = frame_mismatch(got, want)
                    if bad:
                        fails.append((pass_id, q, f"differs from its DuckDB twin: {bad}"))
        finally:
            con.close()
        return fails

    def ledger(self, run, passes):
        ran = [q for q in passes if q.counters]
        out = {}
        for q in DEDUP_QUERIES:
            out[f"operators.dedup.{q}_s"] = (median([p.parts[q] for p in passes]), "s")
            for c, unit in (("exchanges", "count"), ("shuffle_bytes", "bytes"),
                            ("spill_bytes", "bytes")):
                out[f"operators.dedup.{q}.{c}"] = (median([p.counters[q][c] for p in ran]), unit)
        return out


WORKLOADS = {w.name: w for w in (ExtractCrawl, PipelineResume, DedupCorpus)}


def dedup_ledger(run: Run) -> dict[str, tuple[float, str]]:
    """The dedup queries' layer metrics, measured in another workload's
    traced run: a seeded documents table, one cold pass, one instrumented
    pass, then every result against its DuckDB twin. Both passes count as
    the run's operations."""
    wl = DedupCorpus()
    run.inputs |= wl.generate(run, os.path.join(run.work, "dedup-input"))
    cold, hot = Pass(1000), Pass(1001)
    with run.tracer.span("ledger.dedup"):
        wl.run_pass(run, cold, instrumented=False)
        wl.run_pass(run, hot, instrumented=True)
        by_id = {cold.id: cold, hot.id: hot}
        for pass_id, op, msg in wl.final_checks(run):
            by_id[pass_id].fail(op, msg)
    run.ledger_passes += [cold, hot]
    return wl.ledger(run, [hot])


# -- layers every workload reports ---------------------------------------------

def pass_counters(passes: list[Pass]) -> dict[str, float]:
    """Median over instrumented passes of the Spark counters summed over
    the pass's operations."""
    ran = [p for p in passes if p.counters]
    return {c: median([sum(op[c] for op in p.counters.values()) for p in ran])
            for c in COUNTERS}


def core_layers(seed: int, n_pages: int, sample: int, reps: int) -> dict[str, float]:
    """Serial per-document microseconds of the parse core on seed-chosen
    pages: extract_record over all of them, extract_blocks and score_blocks
    over the HTML ones, extract_pdf_text over the PDF ones."""
    r = random.Random(seed)
    n_pdfs = max(sample // 10, 1)
    pages, pdfs = [], []
    while len(pages) < sample or len(pdfs) < n_pdfs:
        pg = gen_page(r.randrange(n_pages), seed)
        if len(pages) < sample:
            pages.append(pg)
        if pg["html"] and pg["html"][:4] == b"%PDF" and len(pdfs) < n_pdfs:
            pdfs.append(pg["html"])
    # the engine's byte sniff is private; UTF-8 with replacement decodes the
    # same text for every generated page that reaches the HTML tokenizer
    texts = [pg["html"].decode("utf-8", "replace") for pg in pages
             if pg["html"] and pg["html"][:4] != b"%PDF"]
    blocks = [extract_blocks(t) for t in texts]

    def pdf_all():
        for data in pdfs:
            try:
                extract_pdf_text(data)
            except PdfParseError:
                pass

    fns = {
        "core.extract.record_us": (lambda: [extract_record(pg["url"], pg["html"], pg["text"],
                                                           pg["lang"]) for pg in pages], len(pages)),
        "core.htmlparse.tokenize_us": (lambda: [extract_blocks(t) for t in texts], len(texts)),
        "core.htmlparse.score_us": (lambda: [score_blocks(b) for b in blocks], len(blocks)),
        "core.pdfparse.pdf_us": (pdf_all, len(pdfs)),
    }
    return {name: median([timed(fn) for _ in range(reps)]) / n * 1e6
            for name, (fn, n) in fns.items()}
