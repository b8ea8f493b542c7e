"""The workloads, each driven through ``wikid_spark``'s public API.

A workload has four phases, and ``run.py`` times only the ones that are
program work:

* ``inputs()`` — benchmark-side: generate inputs, compute oracle and
  expected results (untimed);
* ``prepare_pass(i)`` — benchmark-side reset before a pass (untimed);
* ``run_pass(i)`` — one timed pass (also run as warm-up);
* ``check_pass(i, result)`` — benchmark-side checks of the pass's
  outputs (untimed). Failed checks are counted, never raised.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import shutil
import tempfile
import time

import duckdb
import pyarrow.parquet as pq

import corpus

# Input sizes; none depend on the seed.
ETL_ENTITIES, ETL_PAGES = 4000, 1600

# One query per queries.* module, plus both persisted-FTS queries (the
# first builds the shared index slot, the second hits it).
# q23_sessionization reads ``events`` (TIMESTAMP(NANOS)) through
# ``catalog.table``'s nanosAsLong path.
CORPUS_QUERIES = (
    "q04_profile_join_agg",
    "q23_sessionization",
    "q22_explode_wordcount",
    "q31_weighted_median",
    "tx_token_count",
    "pp_hash_split",
    "nd_minhash_lsh_candidates",
    "sim_ann_brute_topk",
    "fts_serve_persisted",
    "fts_phrase_persisted",
)

# wiki_etl's ingest-and-serve tail: request-sized reads and writes over
# the tables the pass has just written.
ALIAS_BATCH = 50  # rows in the alias-count micro-batch
FTS_BATCH = 20  # new documents in the FTS append
ALIAS_LOOKUPS = 6  # updated aliases whose priors are read back, one request each
SEARCHES = 1  # BM25 searches over base + delta, one request each
ALIAS_SCHEMA = "alias string, entity_id string, count long"
DOC_SCHEMA = "doc_id long, text string"


class Checks:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.notes) < 20:
                self.notes.append(what)


def footer_rows(path: str) -> int:
    """Row count of a parquet directory, from its footers (no scan)."""
    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer

    def inputs(self) -> None:
        pass

    def prepare_pass(self, i: int) -> None:
        pass

    def run_pass(self, i: int) -> dict:
        raise NotImplementedError

    def check_pass(self, i: int, result: dict) -> None:
        pass

    def detail(self, results: list[dict]) -> dict:
        return {}


# ------------------------------------------------------------------ ETL


def run_etl(spark, tr, dumps: dict, out: str, timings: dict | None = None) -> dict:
    """The paper's pipeline on one set of dumps, every stage to parquet
    (the order ``bench.py --etl`` uses, extended to the query APIs and
    the KB dataset). Returns per-stage wall times and the KB row count."""
    from wikid_spark.plans.kb import (
        embed_descriptions,
        kb_artifact_rows,
        with_description_fallback,
    )
    from wikid_spark.plans.wiki import (
        alias_priors,
        load_entities,
        merge_alias_counts,
        parse_wikidata_core,
        stage1_outputs,
        wikipedia_articles,
        wikipedia_link_counts,
    )
    from wikid_spark.sources.wikidata import read_wikidata_dump
    from wikid_spark.sources.wikipedia import read_wikipedia_pages

    walls = {} if timings is None else timings

    def rd(name):
        return spark.read.parquet(f"{out}/{name}")

    def stage(name, *outputs):
        return _Timed(tr, name, walls, [f"{out}/{t}" for t in outputs])

    with stage("plans.wiki.stage1", "core", "entities", "entity_texts", "edges", "aliases"):
        with tr.span("sources.wikidata"):
            raw = read_wikidata_dump(spark, dumps["wikidata_path"])
        parse_wikidata_core(raw).write.mode("overwrite").parquet(f"{out}/core")
        for name, df in stage1_outputs(rd("core")).items():
            df.write.mode("overwrite").parquet(f"{out}/{name}")
    entity_texts = rd("entity_texts")
    with stage("plans.wiki.stage2", "alias_counts"):
        with tr.span("sources.wikipedia"):
            pages = read_wikipedia_pages(spark, dumps["wikipedia_path"])
        counts = wikipedia_link_counts(pages, entity_texts)
        merge_alias_counts(rd("aliases"), counts).write.mode("overwrite").parquet(
            f"{out}/alias_counts"
        )
    with stage("plans.wiki.stage3", "articles"):
        wikipedia_articles(pages, entity_texts, skip_terms=["disambiguation"]).write.mode(
            "overwrite"
        ).parquet(f"{out}/articles")
    with stage("plans.wiki.load_entities", "profiles"):
        load_entities(
            rd("entities"), rd("entity_texts"), rd("articles"), rd("alias_counts")
        ).write.mode("overwrite").parquet(f"{out}/profiles")
    with stage("plans.wiki.alias_priors", "priors"):
        alias_priors(rd("alias_counts")).write.mode("overwrite").parquet(f"{out}/priors")
    with stage("plans.kb.embed", "kb"):
        embed_descriptions(with_description_fallback(rd("profiles"))).write.mode(
            "overwrite"
        ).parquet(f"{out}/kb")
    with stage("plans.kb.collect"):
        kb = kb_artifact_rows(rd("kb"))
    return {"walls": walls, "kb_rows": len(kb)}


class _Timed:
    """A span that keeps its wall time when tracing is off: summed into
    ``walls[name]`` and, with ``latencies``, appended there as one
    request's latency. ``attrs`` become span attributes. When tracing is
    on it also records, after the span has closed, the rows its outputs
    hold (from the parquet footers)."""

    def __init__(self, tr, name, walls, outputs=(), latencies=None, **attrs):
        self.tr, self.name, self.walls = tr, name, walls
        self.outputs, self.latencies, self.span_attrs = outputs, latencies, attrs

    def __enter__(self):
        self._cm = self.tr.span(self.name, **self.span_attrs)
        self.attrs = self._cm.__enter__()
        self.t0 = time.perf_counter()

    def __exit__(self, *exc):
        wall = time.perf_counter() - self.t0
        self.walls[self.name] = self.walls.get(self.name, 0.0) + wall
        if self.latencies is not None:
            self.latencies.append(wall)
        suppress = self._cm.__exit__(*exc)
        if self.tr.enabled and exc[0] is None and self.outputs:
            self.attrs["rows_out"] = sum(footer_rows(p) for p in self.outputs)
        return suppress


ETL_TABLES = (
    "core", "entities", "entity_texts", "edges", "aliases", "alias_counts",
    "articles", "profiles", "priors", "kb",
)


class WikiEtl(Workload):
    """The paper's pipeline, then an ingest-and-serve tail of
    request-sized operations over the tables just written. The merged
    alias counts seed the streaming alias-count log; one alias-count
    micro-batch is appended and the priors of six updated aliases are
    read back one lookup at a time. A streaming FTS index is built over
    the articles, one batch of new documents is appended, one BM25
    search runs over base + delta, and both stores are compacted."""

    name = "wiki_etl"

    def inputs(self):
        from tools.gen_dumps import WORDS

        self.dumps = corpus.dumps(
            self.ctx.cache, self.ctx.seed, ETL_ENTITIES, ETL_PAGES, self.ctx.cpus
        )
        self.out = os.path.join(self.ctx.run_dir, "etl_out")
        self.rows_ref: dict | None = None
        rng = random.Random(f"etl-{self.ctx.seed}")
        self.alias_batch = [
            (
                f"{rng.choice(WORDS)} {rng.choice(WORDS)}",
                f"Q{100 + rng.randrange(ETL_ENTITIES)}",
                rng.randrange(1, 4),
            )
            for _ in range(ALIAS_BATCH)
        ]
        self.lookups = sorted({a for a, _, _ in self.alias_batch})[:ALIAS_LOOKUPS]
        self.fts_batch = [
            (10**9 + j, " ".join(rng.choice(WORDS) for _ in range(rng.randrange(20, 60))))
            for j in range(FTS_BATCH)
        ]
        self.searches = [rng.sample(WORDS, 2) for _ in range(SEARCHES)]
        self.expected_search: list | None = None

    def prepare_pass(self, i):
        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(self.out)

    def run_pass(self, i):
        r = run_etl(self.spark, self.tr, self.dumps, self.out)
        r.update(self._ingest_and_serve(r["walls"]))
        return r

    def _ingest_and_serve(self, walls: dict) -> dict:
        import pyspark.sql.functions as F

        from wikid_spark.plans.wiki import alias_priors
        from wikid_spark.streaming import fts_ingest
        from wikid_spark.streaming.ingest import (
            alias_count_batch_writer,
            compact,
            read_alias_counts,
        )

        spark, tr, out = self.spark, self.tr, self.out
        log, index = f"{out}/alias_log", f"{out}/fts_index"
        reads: list[float] = []
        writes: list[float] = []

        write_alias = alias_count_batch_writer(log)
        with _Timed(tr, "streaming.ingest.base", walls):
            write_alias(spark.read.parquet(f"{out}/alias_counts"), 0)
        with _Timed(tr, "streaming.fts_ingest.base", walls):
            fts_ingest.persist_streaming_fts_index(_article_docs(spark, out), index)

        with _Timed(tr, "streaming.ingest.append", walls, latencies=writes):
            write_alias(spark.createDataFrame(self.alias_batch, ALIAS_SCHEMA), 1)
        priors = []
        for alias in self.lookups:
            with _Timed(tr, "streaming.ingest.read", walls, latencies=reads):
                merged = read_alias_counts(spark, log).filter(F.col("alias") == alias)
                priors += [tuple(r) for r in alias_priors(merged).collect()]
        text_bytes = sum(len(t.encode()) for _, t in self.fts_batch)
        with _Timed(tr, "streaming.fts_ingest.append", walls, latencies=writes, text_bytes=text_bytes):
            docs = spark.createDataFrame(self.fts_batch, DOC_SCHEMA)
            fts_ingest.append_docs_to_fts_index(docs, index, 1)
        hits = []
        for terms in self.searches:
            with _Timed(tr, "streaming.fts_ingest.search", walls, latencies=reads):
                hits.append(_search_rows(fts_ingest.bm25_streaming(spark, index, terms)))
        with _Timed(tr, "streaming.ingest.compact", walls, latencies=writes):
            into = f"{log}/batch_id=1000000"
            old = glob.glob(f"{log}/batch_id=*")
            compact(spark, log, into)
            for p in old:
                shutil.rmtree(p)
        with _Timed(tr, "streaming.fts_ingest.compact", walls, latencies=writes):
            fts_ingest.compact_streaming_fts_index(spark, index)
        return {"priors": priors, "hits": hits, "reads": reads, "writes": writes}

    def check_pass(self, i, result):
        c = self.ctx.checks
        rows = {t: footer_rows(os.path.join(self.out, t)) for t in ETL_TABLES}
        result["rows"] = rows
        c.check(all(v > 0 for v in rows.values()), f"pass {i}: empty ETL table {rows}")
        if self.rows_ref is None:
            self.rows_ref = rows
        else:
            c.check(rows == self.rows_ref, f"pass {i}: row counts moved {rows} vs {self.rows_ref}")
        bad = duckdb.sql(
            f"SELECT count(*) FROM (SELECT alias, sum(prob) s FROM "
            f"read_parquet('{self.out}/priors/*.parquet') GROUP BY alias) "
            "WHERE abs(s - 1.0) > 1e-9"
        ).fetchone()[0]
        c.check(bad == 0, f"pass {i}: {bad} aliases with sum(prob) != 1")
        c.check(
            result["kb_rows"] == rows["profiles"],
            f"pass {i}: kb rows {result['kb_rows']} != profiles {rows['profiles']}",
        )
        # streaming.ingest: priors of the updated aliases, and the
        # compacted log's total, against counts summed here
        base = pq.read_table(f"{self.out}/alias_counts").to_pylist()
        counts: dict[tuple, int] = {}
        for r in base:
            counts[(r["alias"], r["entity_id"])] = counts.get((r["alias"], r["entity_id"]), 0) + r["count"]
        for a, e, n in self.alias_batch:
            counts[(a, e)] = counts.get((a, e), 0) + n
        want = _priors(counts, set(self.lookups))
        got = sorted((a, e, round(p, 12)) for a, e, p in result.pop("priors"))
        c.check(got == want, f"pass {i}: streamed priors differ")
        total = sum(
            sum(pq.read_table(f, columns=["count"]).column("count").to_pylist())
            for f in glob.glob(f"{self.out}/alias_log/**/*.parquet", recursive=True)
        )
        c.check(total == sum(counts.values()), f"pass {i}: compacted log total {total}")
        # streaming.fts_ingest: the search against bm25_from_docs over the
        # articles plus the appended batch (every pass writes the same
        # articles, so it is computed once)
        from wikid_spark.operators.fts import bm25_from_docs
        from wikid_spark.streaming.fts_ingest import bm25_streaming

        if self.expected_search is None:
            docs = _article_docs(self.spark, self.out).unionByName(
                self.spark.createDataFrame(self.fts_batch, DOC_SCHEMA)
            )
            self.expected_search = [
                _search_rows(bm25_from_docs(docs, "doc_id", "text", t)) for t in self.searches
            ]
        for k, (got, exp) in enumerate(zip(result.pop("hits"), self.expected_search)):
            c.check(got == exp, f"pass {i}: search {k} {self.searches[k]} differs")
        # compaction folds base + delta into one base per component, keeps
        # every document and one posting per token, and still serves the
        # same search
        index = f"{self.out}/fts_index"
        dirs = sorted(os.listdir(os.path.join(index, p)) for p in ("postings", "termstats", "stats"))
        c.check(all(d == ["batch_id=-1"] for d in dirs), f"pass {i}: compacted index dirs {dirs}")
        n_docs, _, sum_dl = _stat_sums(f"{index}/stats")
        c.check(
            n_docs == rows["articles"] + FTS_BATCH,
            f"pass {i}: compacted n_docs {n_docs} != {rows['articles']} + {FTS_BATCH}",
        )
        postings = footer_rows(f"{index}/postings")
        c.check(postings == sum_dl, f"pass {i}: compacted postings {postings} != sum_dl {sum_dl}")
        again = _search_rows(bm25_streaming(self.spark, index, self.searches[0]))
        c.check(again == self.expected_search[0], f"pass {i}: search after compaction differs")

    def detail(self, results):
        import statistics as st

        wd = st.median(r["walls"]["plans.wiki.stage1"] for r in results)
        wp = st.median(r["walls"]["plans.wiki.stage2"] for r in results)
        return {
            "wikidata_lines": self.dumps["wikidata_lines"],
            "wikipedia_lines": self.dumps["wikipedia_lines"],
            "wikidata_lines_per_s": round(self.dumps["wikidata_lines"] / wd),
            "wikipedia_lines_per_s": round(self.dumps["wikipedia_lines"] / wp),
            "baseline_wikidata_lines_per_s": [1530, 2180],
            "baseline_wikipedia_lines_per_s": [102000, 153000],
            "rows": results[-1].get("rows"),
            "step_s": {k: round(st.median(r["walls"][k] for r in results), 3) for k in results[0]["walls"]},
        }


def _priors(counts: dict, aliases: set) -> list[tuple]:
    """alias_priors' contract: count / max(Σ count over the alias, 1)."""
    tot: dict[str, int] = {}
    for (a, _), n in counts.items():
        if a in aliases:
            tot[a] = tot.get(a, 0) + n
    return sorted(
        (a, e, round(n / max(tot[a], 1), 12)) for (a, e), n in counts.items() if a in aliases
    )


def _stat_sums(path: str) -> tuple[int, ...]:
    """(Σ n_docs, Σ n_dl, Σ sum_dl) of an FTS index's stats component."""
    cols = ("n_docs", "n_dl", "sum_dl")
    tables = [
        pq.read_table(f, columns=list(cols))
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    ]
    return tuple(sum(sum(t.column(c).to_pylist()) for t in tables) for c in cols)


def _article_docs(spark, etl_dir: str):
    import pyspark.sql.functions as F

    return spark.read.parquet(f"{etl_dir}/articles").select(
        F.col("article_id").cast("long").alias("doc_id"),
        F.col("content").alias("text"),
    )


def _search_rows(df, k: int = 10) -> list[tuple]:
    import pyspark.sql.functions as F

    return [
        (r["doc"], round(r["score"], 9))
        for r in df.orderBy(F.desc("score"), F.asc("doc")).limit(k).collect()
    ]


# ------------------------------------------------------------ analytics


def _module(spec) -> str:
    return spec.fn.__module__.split(".")[-1]


class CorpusAnalytics(Workload):
    name = "corpus_analytics"

    def inputs(self):
        from wikid_spark.oracle import canonical_rows, duckdb_connection
        from wikid_spark.registry import all_queries

        specs = all_queries()
        self.specs = [specs[q] for q in CORPUS_QUERIES]
        self.sf_dir = corpus.corpus(self.ctx.cache, self.ctx.seed)
        ckey = os.path.basename(self.sf_dir)
        odir = os.path.join(self.ctx.cache, "oracle")
        os.makedirs(odir, exist_ok=True)
        self.expected = {}
        con = None
        for spec in self.specs:
            key = hashlib.sha256(f"{ckey}\n{spec.oracle}".encode()).hexdigest()[:20]
            path = os.path.join(odir, f"{key}.json")
            if not os.path.exists(path):
                if con is None:
                    con = duckdb_connection(self.sf_dir)
                tbl = con.execute(spec.oracle).arrow()
                cols = list(tbl.column_names)
                rows = [tuple(d[c] for c in cols) for d in tbl.to_pylist()]
                tmp = f"{path}.{os.getpid()}.tmp"
                with open(tmp, "w") as f:
                    json.dump([list(r) for r in canonical_rows(cols, rows)], f)
                os.rename(tmp, path)
            with open(path) as f:
                self.expected[spec.name] = [tuple(r) for r in json.load(f)]
        if con is not None:
            con.close()
        self.ctx.index_cache.install()

    def prepare_pass(self, i):
        tempfile.tempdir = tempfile.mkdtemp(dir=self.ctx.tmp_root, prefix=f"pass{i}_")

    def run_pass(self, i):
        spark = self.spark.newSession()
        tr = self.tr
        out = {}
        cache = self.ctx.index_cache
        cache.slots.clear()
        cache.builds.clear()
        reads = []
        for spec in self.specs:
            t0 = time.perf_counter()
            with tr.span(f"queries.{_module(spec)}", query=spec.name) as a:
                with tr.span("build"):
                    df = spec.fn(spark, self.sf_dir)
                with tr.span("exec"):
                    rows = df.collect()
                a["rows"] = len(rows)
            reads.append(time.perf_counter() - t0)
            out[spec.name] = (df.columns, rows)
        return {
            "results": out,
            "slots": dict(cache.slots),
            "reads": reads,
            "writes": list(cache.builds),
        }

    def check_pass(self, i, result):
        from wikid_spark.oracle import canonical_rows

        for name, (cols, rows) in result.pop("results").items():
            got = canonical_rows(cols, [tuple(r) for r in rows])
            self.ctx.checks.check(got == self.expected[name], f"pass {i}: {name} != oracle")
        tempfile.tempdir = self.ctx.tmp_root

    def detail(self, results):
        return {
            "queries": list(CORPUS_QUERIES),
            "index_cache_slots": results[-1]["slots"] if results else {},
        }


class IndexCache:
    """Counts hits and misses of ``catalog.ensure_cached_build`` — the
    content-keyed persisted-index cache — and marks each slot warm or
    cold. The package resolves the function at call time, so wrapping
    the module attribute sees every call. A later ``install`` replaces an
    earlier wrapper instead of stacking on it."""

    def __init__(self, tracer):
        self.tr = tracer
        self.slots: dict[str, str] = {}
        self.builds: list[float] = []  # seconds of each cold-slot build

    def install(self) -> None:
        from wikid_spark import catalog

        orig = getattr(catalog.ensure_cached_build, "__wrapped__", catalog.ensure_cached_build)

        def wrapped(cache_name, key, build_fn, ok_marker):
            warm = os.path.exists(
                os.path.join(tempfile.gettempdir(), cache_name, key, ok_marker)
            )
            t0 = time.perf_counter()
            with self.tr.span("catalog.index_cache", hit=int(warm), slot=cache_name):
                path = orig(cache_name, key, build_fn, ok_marker)
            if not warm:
                self.builds.append(time.perf_counter() - t0)
            self.slots[f"{cache_name}/{key}"] = self.slots.get(
                f"{cache_name}/{key}", "warm" if warm else "cold"
            )
            return path

        wrapped.__wrapped__ = orig
        catalog.ensure_cached_build = wrapped


WORKLOADS = {w.name: w for w in (WikiEtl, CorpusAnalytics)}
