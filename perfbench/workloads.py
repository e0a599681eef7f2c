"""The workloads: what one measured unit runs, the warm-up, the
per-layer probes of the traced run, and the output checks.

Every call into the program goes through a public function of its
layer (``plans.kg``, ``plans.curation``, ``operators.*``, ``core.*``),
wrapped in a span named after that layer.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import statistics
import threading
import time
from typing import Dict, List, Tuple

import pyarrow.parquet as pq
from pyspark.sql import Observation, functions as F

import gen
from spans import Tracer
from racket_linkeddata_spark.core import pipeline as core_pipeline
from racket_linkeddata_spark.core.to_rdf import to_rdf
from racket_linkeddata_spark.core.urdna2015 import canonize_quads_with_lines
from racket_linkeddata_spark.operators.dedup import (
    dedup_triples, skolemize_bnodes)
from racket_linkeddata_spark.operators.extract import (
    extract_triples, triples_only)
from racket_linkeddata_spark.operators.lineage import (
    page_log, partition_lineage, resume_filter)
from racket_linkeddata_spark.plans import kg as plans_kg

# 16 buckets: at these input sizes (1e4-1e5 edges per snapshot) 64
# buckets write ~4 KB files and file handling hides everything else
BUCKETS = 16
# pages checked one by one against the pure-Python pipeline
CHECK_SAMPLE = 200
# pages timed one by one, in process, for the core.* metrics
CORE_SAMPLE = 300


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _fingerprint(df) -> Tuple[int, int]:
    """(rows, order-insensitive hash of every column) of a table."""
    r = df.select(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))).first()
    return int(r[0]), int(r[1] or 0)


def _parquet_files(root: str) -> List[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(root)
            for f in fs if f.endswith(".parquet")]


def _read_pages(path: str) -> List[Tuple[str, bytes]]:
    t = pq.read_table(path, columns=["url", "html"])
    return list(zip(t.column("url").to_pylist(),
                    t.column("html").to_pylist()))


class Workload:
    """One workload over one seed. ``unit`` is the measured piece of
    work; a run measures round(seconds / unit_seconds) of them."""

    name = ""
    input_kind = ""
    first_dir = ""
    scan_col = ""

    def __init__(self, work: str, seed: int, run_dir: str):
        self.work = work
        self.seed = seed
        self.run_dir = run_dir
        self.out = os.path.join(run_dir, "out")
        self.staging = os.path.join(run_dir, "staging")
        self.oracle_out = os.path.join(run_dir, "oracle_out")

    def prepare(self, spark) -> None:
        """One set-up: check (or build) the cached inputs and scan them
        once at full parallelism."""
        self.input, self.meta = gen.ensure(
            self.work, self.input_kind, self.seed, self.size)
        spark.read.parquet(os.path.join(self.input, self.first_dir)) \
            .select(F.sum(F.length(self.scan_col))).first()

    def warm_up(self, spark, tr, checked: bool = True) -> None:
        """Run once, untimed, before the measured units, so that the JVM
        has compiled the hot paths and the Python workers have started
        and imported the package: without it the first unit of a run
        takes about twice as long as the next. ``checked`` is false when
        the run will not check this workload's outputs."""
        self.unit(spark, tr)

    def layers(self, spark, tr) -> Dict[str, float]:
        """Per-layer metrics, measured after a traced unit."""
        return {}

    def ledger_metrics(self, tr) -> Dict[str, float]:
        """Per-layer metrics read from the stage ledger."""
        return {}

    def _largest_output_file(self, sub: str = "") -> str:
        return max(_parquet_files(os.path.join(self.out, sub)),
                   key=os.path.getsize)


# ------------------------------------------------------------------ KG

class KgComplex(Workload):
    """Per unit: a batch build of the crawl, as kg_job runs it. In a
    traced run, one --resume run over the recrawl slice and a compaction
    then extend the store the checks read."""

    name = "kg_complex"
    input_kind = "complex"
    first_dir = "pages"
    scan_col = "html"
    # crawl of 4000 pages + a recrawl slice of 1000
    size = 4000
    # seconds per warm unit on 4 cores: a run measures seconds/unit_seconds
    unit_seconds = 7
    # fingerprint of the merged edges before compaction; set once the
    # store has been extended
    merged = None

    def _pages(self, spark, sub: str):
        return spark.read.parquet(os.path.join(self.input, sub))

    def _build(self, spark, tr, pages, processed_log=None,
               snapshot_id: int = 0) -> float:
        t = time.perf_counter()
        with tr.span("plans.kg.build_kg"):
            kg = plans_kg.build_kg(
                pages, processed_log=processed_log, snapshot_id=snapshot_id,
                staging_path=f"{self.staging}{snapshot_id}")
        with tr.span("plans.kg.materialize"):
            plans_kg.materialize(
                kg, self.out, buckets=BUCKETS,
                mode="overwrite" if processed_log is None else "append")
        return time.perf_counter() - t

    def _resume(self, spark, tr) -> float:
        """One kg_job --resume run over the recrawl slice."""
        t = time.perf_counter()
        with tr.span("kg_job.resume_log"):
            log = spark.read.parquet(f"{self.out}/page_log") \
                .localCheckpoint(eager=True)
            prior = spark.read.parquet(f"{self.out}/lineage") \
                .agg({"snapshot_id": "max"}).collect()[0][0]
        self._build(spark, tr, self._pages(spark, "slice"),
                    processed_log=log, snapshot_id=prior + 1)
        return time.perf_counter() - t

    def _merged_read(self, spark, tr) -> Tuple[float, tuple]:
        """(seconds, fingerprint of the merged edges): reading every
        column of the merged view is the read a consumer pays."""
        t = time.perf_counter()
        with tr.span("plans.kg.read_edges"):
            fp = _fingerprint(plans_kg.read_edges(spark, self.out))
        with tr.span("plans.kg.read_nodes"):
            plans_kg.read_nodes(spark, self.out).count()
        return time.perf_counter() - t, fp

    def unit(self, spark, tr) -> Dict:
        """A kg_job batch run: build, materialize, the final edges read."""
        shutil.rmtree(self.out, ignore_errors=True)
        wall = self._build(spark, tr, self._pages(spark, "pages"))
        wall += self._merged_read(spark, tr)[0]
        with tr.span("bench.lineage_sum"):
            raw = spark.read.parquet(f"{self.out}/lineage") \
                .agg(F.sum("triple_count")).first()[0]
        return {"wall": wall, "items": self.size, "out_rows": raw}

    def extend_store(self, spark, tr) -> Dict[str, float]:
        """After the traced unit: one kg_job --resume run over the
        recrawl slice, the merged read of both snapshots and their
        compaction, which the checks then read."""
        m = {"plans.kg.resume_s": self._resume(spark, tr)}
        m["plans.kg.snapshots"] = len(
            [d for d in os.listdir(f"{self.out}/edges")
             if d.startswith("snap=")])
        n0 = len(tr.spans)
        self.merged = self._merged_read(spark, tr)[1]
        if tr.enabled:
            edges, nodes = tr.spans[n0:]
            m["plans.kg.read_edges_s"] = edges["end"] - edges["start"]
            m["plans.kg.read_nodes_s"] = nodes["end"] - nodes["start"]
        with tr.span("plans.kg.compact_snapshots"):
            plans_kg.compact_snapshots(spark, self.out)
        m["plans.kg.compact_s"] = tr.total("plans.kg.compact_snapshots")
        return m

    # ------------------------------------------------------------ layers

    def layers(self, spark, tr) -> Dict[str, float]:
        """The traced unit's own layer times; the resume run, merged read
        and compaction; each layer alone; the per-document stages."""
        self.unit_spans = [s["id"] for s in tr.spans if s["name"] in
                           ("plans.kg.build_kg", "plans.kg.materialize")]
        m = {"plans.kg.stage_write_s": tr.total("plans.kg.build_kg"),
             "plans.kg.materialize_s": tr.total("plans.kg.materialize"),
             "plans.kg.files_written": len(_parquet_files(self.out))}
        m.update(self.extend_store(spark, tr))
        m.update(self.probes(spark, tr))
        m.update(self.core_metrics())
        # the share of the extraction that is per-document work, not
        # Arrow, pandas or worker overhead
        m["operators.extract.core_frac"] = (
            m["core.page_us"] * 1e-6 * self.size
            / (spark.sparkContext.defaultParallelism
               * m["operators.extract.s"]))
        return m

    def ledger_metrics(self, tr) -> Dict[str, float]:
        written = tr.rollup(self.unit_spans)["output_bytes"]
        html = sum(len(h) for _, h in
                   _read_pages(os.path.join(self.input, "pages")))
        m = {"plans.kg.bytes_written": written,
             "plans.kg.write_amp": written / html}
        for s in tr.spans:
            if s["name"] == "operators.extract":
                m["operators.extract.tasks"] = s["spark"]["tasks"]
            elif s["name"] == "operators.dedup":
                m["operators.dedup.shuffle_bytes"] = \
                    s["spark"]["shuffle_write_bytes"]
                m["operators.dedup.exec_mem_bytes"] = \
                    s["spark"]["exec_mem_bytes"]
        return m

    def probes(self, spark, tr) -> Dict[str, float]:
        """Each layer alone, to a noop sink: the extraction over the
        crawl, the rest over the crawl's staged extraction."""
        pages = self._pages(spark, "pages")
        staged = spark.read.parquet(f"{self.staging}0")
        m: Dict[str, float] = {}
        with tr.span("operators.extract"):
            _noop(extract_triples(pages))
        m["operators.extract.s"] = tr.total("operators.extract")
        o_in, o_out = Observation("dedup_in"), Observation("dedup_out")
        with tr.span("operators.dedup"):
            trip = skolemize_bnodes(triples_only(staged)).observe(
                o_in, F.count(F.lit(1)).alias("n"))
            _noop(dedup_triples(trip).observe(
                o_out, F.count(F.lit(1)).alias("n")))
        m["operators.dedup.s"] = tr.total("operators.dedup")
        m["operators.dedup.rows_in"] = o_in.get["n"]
        m["operators.dedup.rows_out"] = o_out.get["n"]
        m["operators.dedup.keep_ratio"] = (
            o_out.get["n"] / max(1, o_in.get["n"]))
        with tr.span("plans.kg.nodes"):
            _noop(plans_kg.nodes_from_triples(
                skolemize_bnodes(triples_only(staged))))
        m["plans.kg.nodes_s"] = tr.total("plans.kg.nodes")
        with tr.span("operators.lineage.page_log"):
            _noop(page_log(staged))
        m["operators.lineage.page_log_s"] = tr.total(
            "operators.lineage.page_log")
        with tr.span("operators.lineage.lineage"):
            _noop(partition_lineage(staged, 0))
        m["operators.lineage.lineage_s"] = tr.total(
            "operators.lineage.lineage")
        log = spark.read.parquet(f"{self.out}/page_log")
        with tr.span("operators.lineage.resume_filter"):
            _noop(resume_filter(self._pages(spark, "slice"), log))
        m["operators.lineage.resume_filter_s"] = tr.total(
            "operators.lineage.resume_filter")
        return m

    def core_metrics(self) -> Dict[str, float]:
        """Per-document stages timed in this process on one core, over a
        seeded sample of the workload's own pages."""
        rows = _read_pages(os.path.join(self.input, "pages"))
        sample = random.Random(self.seed).sample(rows, CORE_SAMPLE)
        passes = []
        for _ in range(3):
            acc = dict.fromkeys(("page", "extract", "to_rdf", "canon"), 0.0)
            quads_n = bnode_pages = 0
            for url, html in sample:
                t0 = time.perf_counter()
                core_pipeline.page_to_triples(url, html)
                t1 = time.perf_counter()
                scripts = core_pipeline.extract_jsonld_scripts(
                    core_pipeline.decode_html(html))
                t2 = time.perf_counter()
                quads = []
                for s in scripts:
                    try:
                        quads.extend(to_rdf(json.loads(s), base=url))
                    except ValueError:
                        pass  # malformed block: the page keeps the rest
                t3 = time.perf_counter()
                if quads:
                    canonize_quads_with_lines(quads)
                t4 = time.perf_counter()
                acc["page"] += t1 - t0
                acc["extract"] += t2 - t1
                acc["to_rdf"] += t3 - t2
                acc["canon"] += t4 - t3
                quads_n += len(quads)
                bnode_pages += any(
                    str(t).startswith("_:")
                    for q in quads for t in (q.subj, q.obj, q.graph))
            passes.append(acc)
        n = len(sample)
        med = {k: statistics.median(p[k] for p in passes) * 1e6 / n
               for k in passes[0]}
        return {"core.page_us": med["page"],
                "core.extract_us": med["extract"],
                "core.to_rdf_us": med["to_rdf"],
                "core.canon_us": med["canon"],
                "core.quads_per_page": quads_n / n,
                "core.full_canon_frac": bnode_pages / n}

    # ------------------------------------------------------------ checks

    def corrupt(self) -> None:
        """Damage the store the checks read: drop its largest edges
        file."""
        os.remove(self._largest_output_file("edges"))

    def _processed(self) -> List[Tuple[str, bytes]]:
        """(url, html) of every page the store should hold: the crawl,
        then, once the store was extended, the recrawl's urls the crawl
        did not have."""
        crawl = _read_pages(os.path.join(self.input, "pages"))
        if self.merged is None:
            return crawl
        seen = {u for u, _ in crawl}
        return crawl + [(u, h) for u, h in
                        _read_pages(os.path.join(self.input, "slice"))
                        if u not in seen]

    def check(self, spark, units: List[Dict]) -> Tuple[int, List[str]]:
        """(failed pages, notes) for the store the last unit left."""
        processed = self._processed()
        notes = []
        log = spark.read.parquet(f"{self.out}/page_log")
        n_log, n_urls, log_triples = log.agg(
            F.count(F.lit(1)), F.countDistinct("url"),
            F.sum("n_triples")).first()
        if n_log != n_urls:
            notes.append(f"page_log holds {n_log} rows for {n_urls} urls")
        if n_urls != len(processed):
            notes.append(f"page_log has {n_urls} urls, "
                         f"expected {len(processed)}")
        edge_sources = plans_kg.read_edges(spark, self.out).agg(
            F.sum("n_sources")).first()[0]
        if edge_sources != log_triples:
            notes.append(f"sum(n_sources)={edge_sources} != "
                         f"sum(n_triples)={log_triples}")
        if self.merged is not None:
            compacted = _fingerprint(plans_kg.read_edges(spark, self.out))
            if compacted != self.merged:
                notes.append("merged view changed under compaction: "
                             f"{self.merged} -> {compacted}")
        if len({u["out_rows"] for u in units}) > 1:
            notes.append("raw triple counts differ between units")
        if notes:
            return len(processed), notes
        sample = random.Random(self.seed).sample(processed, CHECK_SAMPLE)
        got = {r["url"]: (r["n_triples"], r["canon_hash"]) for r in
               log.where(F.col("url").isin([u for u, _ in sample]))
               .select("url", "n_triples", "canon_hash").collect()}
        bad = 0
        for url, html in sample:
            want = core_pipeline.page_to_triples(url, html)
            if got.get(url) != (want.n_triples, want.canon_hash):
                bad += 1
                if len(notes) < 3:
                    notes.append(f"{url}: store {got.get(url)} != pipeline "
                                 f"{(want.n_triples, want.canon_hash)}")
        return bad, notes


# ------------------------------------------------------------ curation

# the BPE merge table prep_corpus prices with by default
BPE_MERGES = [("t", "h"), ("th", "e")]


class CurationPrep(Workload):
    """plans.curation.prep_corpus as the training_data_prep query calls
    it, landing its result as prep_job does (docs_clean)."""

    name = "curation_prep"
    input_kind = "curation"
    first_dir = "documents"
    scan_col = "text"
    size = 6000
    unit_seconds = 9
    # the DuckDB oracle takes ~6 s for 250 docs on 4 cores, ~12 s for
    # 500; its result is cached
    oracle_size = 250

    def warm_up(self, spark, tr, checked: bool = True) -> None:
        """The plan over the reduced corpus, whose result the oracle
        check then compares. The oracle needs only the input, so it runs
        beside this untimed warm-up and has ended before any unit."""
        self.oracle_input, _ = gen.ensure(
            self.work, "curation", self.seed, self.oracle_size)
        oracle = (threading.Thread(target=self._oracle_expected)
                  if checked else None)
        if oracle:
            oracle.start()
        try:
            self.oracle_got = self._prep(
                spark, tr, os.path.join(self.oracle_input, "documents"),
                self.oracle_out)
        finally:
            if oracle:
                oracle.join()

    def _prep(self, spark, tr, docs_path: str, out: str) -> List[tuple]:
        """prep_corpus as training_data_prep calls it, written as prep_job
        writes docs_clean; returns the written rows."""
        from __spark_entry__ import _PREP_MIXTURE
        from racket_linkeddata_spark.plans.curation import prep_corpus

        with tr.span("plans.curation.prep_corpus"):
            d = spark.read.parquet(docs_path)
            bench = d.filter(F.col("doc_id") < 20).select("text")
            prep_corpus(d, benchmark=bench, mixture_weights=_PREP_MIXTURE,
                        default_weight=1.0) \
                .write.mode("overwrite").parquet(out)
        return self._read_back(spark, tr, out)

    def _read_back(self, spark, tr, out: str) -> List[tuple]:
        with tr.span("bench.read_back"):
            return sorted((r["doc_id"], r["lang"], r["n_tokens"]) for r in
                          spark.read.parquet(out).collect())

    def unit(self, spark, tr) -> Dict:
        t0 = time.perf_counter()
        rows = self._prep(spark, tr, os.path.join(self.input, "documents"),
                          self.out)
        self.rows = rows
        return {"wall": time.perf_counter() - t0, "items": self.size,
                "out_rows": len(rows),
                "fingerprint": hashlib.sha256(
                    repr(rows).encode()).hexdigest()}

    def _oracle_expected(self) -> List[tuple]:
        """training_data_prep's DuckDB oracle over the reduced corpus,
        cached per input and oracle text."""
        import duckdb
        from __spark_entry__ import oracle_sql

        sql = oracle_sql()["training_data_prep"]
        key = hashlib.sha256(
            (self.oracle_input + sql).encode()).hexdigest()[:16]
        path = os.path.join(self.work, "oracle", f"{key}.json")
        if not os.path.exists(path):
            con = duckdb.connect()
            try:
                # half the cores: the untimed warm-up runs beside it
                con.execute("SET threads = 2")
                con.execute(
                    "CREATE VIEW documents AS SELECT * FROM read_parquet("
                    f"'{self.oracle_input}/documents/*.parquet')")
                rows = con.execute(
                    f"SELECT doc_id, lang, n_tokens FROM ({sql})").fetchall()
            finally:
                con.close()
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(f"{path}.tmp{os.getpid()}", "w") as f:
                json.dump(sorted(rows), f)
            os.replace(f"{path}.tmp{os.getpid()}", path)
        with open(path) as f:
            return [tuple(r) for r in json.load(f)]

    def corrupt(self) -> None:
        """Damage the result the checks read: misprice every document in
        its largest file."""
        import pyarrow.compute as pc

        victim = self._largest_output_file()
        t = pq.read_table(victim)
        i = t.schema.get_field_index("n_tokens")
        pq.write_table(t.set_column(i, "n_tokens", pc.add(t.column(i), 1)),
                       victim)
        # the rewrite invalidates Hadoop's checksum file beside it
        crc = os.path.join(os.path.dirname(victim),
                           f".{os.path.basename(victim)}.crc")
        if os.path.exists(crc):
            os.remove(crc)

    def check(self, spark, units: List[Dict]) -> Tuple[int, List[str]]:
        notes = []
        off = Tracer(spark, enabled=False)
        diff = set(self._oracle_expected()) ^ set(self.oracle_got)
        if diff:
            notes.append(f"reduced corpus: {len(diff)} rows differ from "
                         "the DuckDB oracle")
        # every kept document of the full corpus: a real, distinct id
        # and the closed-form token price of its text
        t = pq.read_table(os.path.join(self.input, "documents"),
                          columns=["doc_id", "text"])
        text = dict(zip(t.column("doc_id").to_pylist(),
                        t.column("text").to_pylist()))
        rows = self._read_back(spark, off, self.out)
        ids = [r[0] for r in rows]
        bad = len(ids) - len(set(ids))
        for doc_id, lang, n_tok in rows:
            s = text.get(doc_id)
            if (s is None or not lang or n_tok != len(s.replace(" ", ""))
                    - s.count("th") - s.count("the")):
                bad += 1
        if bad:
            notes.append(f"{bad} kept documents fail the id/token checks")
        # an oracle row stands for size/oracle_size documents
        failed = bad + len(diff) * self.size // self.oracle_size
        if len({u["fingerprint"] for u in units}) > 1:
            notes.append("results differ between units")
            failed = self.size
        return min(failed, self.size), notes

    def probes(self, spark, tr) -> Dict[str, float]:
        """The prep_corpus stages one by one, each operator over the
        output of the stage before it, pinned eagerly with the program's
        own parallel_checkpoint so that each span holds only its own
        operator's work."""
        from __spark_entry__ import _PREP_MIXTURE
        from racket_linkeddata_spark.operators.bpe import bpe_token_count
        from racket_linkeddata_spark.operators.decontam import decontaminate
        from racket_linkeddata_spark.operators.graph import dedup_keepers
        from racket_linkeddata_spark.operators.langid import lang_id_model
        from racket_linkeddata_spark.operators.mixture import mixture_sample
        from racket_linkeddata_spark.operators.textstats import (
            minhash_lsh_candidates, quality_gate, shingles_arrow)
        from racket_linkeddata_spark.operators.util import (
            parallel_checkpoint)

        d = spark.read.parquet(os.path.join(self.input, "documents"))
        m: Dict[str, float] = {}
        with tr.span("plans.curation.exact_dedup"):
            keep1 = (d.select("doc_id", F.md5("text").alias("th"))
                     .groupBy("th").agg(F.min("doc_id").alias("doc_id"))
                     .select("doc_id"))
            surv = parallel_checkpoint(d.join(keep1, "doc_id"), eager=True)
        with tr.span("operators.textstats.minhash_lsh"):
            cand = parallel_checkpoint(
                minhash_lsh_candidates(surv, n=3, k=16, bands=4), eager=True)
        m["operators.textstats.candidate_pairs"] = cand.count()
        with tr.span("plans.curation.verify"):
            ids = (cand.select(F.col("doc_a").alias("doc_id"))
                   .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
                   .distinct())
            sh = parallel_checkpoint(surv.join(ids, "doc_id").select(
                "doc_id", shingles_arrow(3)(F.col("text")).alias("sh")),
                eager=True)
            a = sh.select(F.col("doc_id").alias("doc_a"),
                          F.col("sh").alias("sh_a"))
            b = sh.select(F.col("doc_id").alias("doc_b"),
                          F.col("sh").alias("sh_b"))
            jac = (F.size(F.array_intersect("sh_a", "sh_b"))
                   / F.size(F.array_union("sh_a", "sh_b")))
            verified = parallel_checkpoint(
                cand.join(a, "doc_a").join(b, "doc_b")
                .filter(F.size("sh_a") > 0)
                .filter(F.round(jac, 4) >= 0.5)
                .select("doc_a", "doc_b"), eager=True)
        with tr.span("operators.graph.dedup_keepers"):
            kept = parallel_checkpoint(
                dedup_keepers(verified, surv.select("doc_id"))
                .filter("keep").select("doc_id"), eager=True)
        with tr.span("operators.textstats.quality_gate"):
            gated = parallel_checkpoint(quality_gate(
                surv.join(kept, "doc_id").select("doc_id", "text", "source"),
                min_tokens=5, max_tokens=100_000,
                min_mean_word_len_x1000=2000,
                max_mean_word_len_x1000=20_000, min_stopwords=1,
                max_symbol_x1000=100, max_bullet_x1000=900,
                max_ellipsis_x1000=300), eager=True)
        with tr.span("operators.decontam"):
            clean = parallel_checkpoint(decontaminate(
                gated, d.filter(F.col("doc_id") < 20).select("text"), n=8),
                eager=True)
        with tr.span("operators.mixture"):
            mixed = parallel_checkpoint(
                mixture_sample(clean, _PREP_MIXTURE, default_weight=1.0),
                eager=True)
        with tr.span("operators.langid"):
            lang = parallel_checkpoint(
                lang_id_model(mixed).select("doc_id", "lang"), eager=True)
        with tr.span("operators.bpe"):
            bpe = parallel_checkpoint(bpe_token_count(mixed, BPE_MERGES),
                                      eager=True)
        mixed.select("doc_id").join(lang, "doc_id").join(bpe, "doc_id") \
            .count()
        for span, key in (
                ("operators.textstats.minhash_lsh",
                 "operators.textstats.minhash_lsh_s"),
                ("operators.graph.dedup_keepers",
                 "operators.graph.dedup_keepers_s"),
                ("operators.textstats.quality_gate",
                 "operators.textstats.quality_gate_s"),
                ("operators.decontam", "operators.decontam.s"),
                ("operators.mixture", "operators.mixture.s"),
                ("operators.langid", "operators.langid.s"),
                ("operators.bpe", "operators.bpe.s")):
            m[key] = tr.total(span)
        return m

    def layers(self, spark, tr) -> Dict[str, float]:
        m = {"plans.curation.keep_frac": len(self.rows) / self.size}
        m.update(self.probes(spark, tr))
        return m


WORKLOADS = {w.name: w for w in (KgComplex, CurationPrep)}
