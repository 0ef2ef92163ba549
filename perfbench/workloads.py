"""The benchmark workloads, glued from the package's public functions.

Each workload has the same shape:

* ``generate`` writes its seeded corpus (before Spark starts, untimed);
* ``setup`` builds the dimensions the passes share;
* ``run_pass`` is one closed-loop operation -- the production call chain,
  untraced -- and returns the pass's output handle;
* ``traced_pass`` calls the same public functions in the same order, one
  layer at a time, and materializes each layer's output inside the
  layer's span before the next layer starts;
* ``digest`` summarizes a pass's outputs (compared across passes),
  ``final_check`` compares them with an independent computation and
  ``release`` frees what the pass cached.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

import corpora
import refpipe  # the test suite's plain-Python golden-triple pipeline

from entity_extractor_linker_api_v2_spark import fixtures
from entity_extractor_linker_api_v2_spark.operators import (
    canonicalize, linking, stats, triples)
from entity_extractor_linker_api_v2_spark.operators.extract import (
    extract_and_detect)
from entity_extractor_linker_api_v2_spark.plans.pipeline import (
    run_pipeline_checkpointed)
from entity_extractor_linker_api_v2_spark.sources import tables
from entity_extractor_linker_api_v2_spark.sources.checkpoint import (
    StageCheckpoint)

MAX_ENTITIES = 10


def _hash_expr(df) -> str:
    """Order-independent digest of a frame: sum of per-row xxhash64."""
    cols = ", ".join(f"`{c}`" for c in df.columns)
    return f"sum(cast(xxhash64({cols}) AS decimal(38, 0)))"


def _hash_sum(df) -> int:
    return df.selectExpr(f"{_hash_expr(df)} AS h").collect()[0]["h"]


def _materialize(df) -> tuple[int, int]:
    """Compute every row and column of `df`, as a production write does,
    into the no-op sink (no I/O), and return its (rows, digest), observed
    in the same job."""
    obs = Observation()
    (df.observe(obs, F.count(F.lit(1)).alias("rows"),
                F.expr(_hash_expr(df)).alias("h"))
     .write.format("noop").mode("overwrite").save())
    return obs.get["rows"], obs.get["h"]


def _sample_docs(corpus: str, seed: int, k: int) -> list[dict]:
    """A seeded sample of `k` input documents, read back from the parquet."""
    docs = pq.read_table(f"{corpus}/documents.parquet",
                         columns=["doc_id", "text", "lang"]).to_pylist()
    rng = np.random.default_rng([seed, 9])
    return [docs[i] for i in rng.choice(len(docs), k, replace=False)]


def _url(doc: dict) -> str:
    return (f"https://test.example/{doc['lang']}/doc"
            f"{doc['doc_id']:0{fixtures.URL_ID_DIGITS}d}")


def _dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 2**20


class CrawlBuild:
    """Production batch build: run_pipeline_checkpointed(force=True) over
    heavy ~7 kB pages."""

    name = "crawl_build"
    n_docs = 2000
    sample_docs = 200

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.seed = spark, seed
        self.corpus = f"{work}/corpus"
        self.root = f"{work}/stages"

    @classmethod
    def generate(cls, work: str, seed: int) -> None:
        corpora.heavy_pages(f"{work}/corpus", seed, cls.n_docs)

    def setup(self) -> None:
        """Nothing to build: every pass builds its own broadcast linking
        dimension, as the production job does."""

    def run_pass(self):
        return run_pipeline_checkpointed(self.spark, self.corpus, self.root,
                                         max_entities=MAX_ENTITIES, force=True)

    def traced_pass(self, tr, layer):
        """run_pipeline_checkpointed, one layer at a time (into its own
        snapshot root, so the last untraced pass stays checkable)."""
        spark = self.spark
        root = f"{self.root}-traced"
        ck = StageCheckpoint(spark, root)
        cfg = {"sf_dir": self.corpus, "max_entities": MAX_ENTITIES,
               "gazetteer_n": len(fixtures.GAZETTEER),
               "kb_n": len(fixtures.KB_PAGES)}

        def snapshot(stage, df):
            with tr.span("sources.checkpoint") as s:
                out = ck.write(stage, df, {**cfg, "stage": stage}, force=True)
            layer(s, rows=ck.manifest(stage)["rows"],
                  write_mb=_dir_mb(f"{root}/{stage}"))
            return out

        with tr.span("sources.tables") as s:
            docs = tables.docs_table(spark, self.corpus).localCheckpoint()
        n_docs = layer(s, docs)
        with tr.span("operators.extract") as s:
            ments = extract_and_detect(docs, dedup=True,
                                       max_entities=MAX_ENTITIES).localCheckpoint()
        layer(s, ments, per_doc=n_docs)
        ments = snapshot("mentions", ments)
        with tr.span("operators.linking") as s:
            resolved = linking.resolve_label_universe(
                spark, [lbl for _, lbl, _ in fixtures.GAZETTEER])
            entities = linking.link_mentions_precomputed(
                ments, resolved).localCheckpoint()
        layer(s, entities, linked_of=ments)
        entities = snapshot("entities", entities)
        with tr.span("operators.triples") as s:
            trip = triples.emit_triples(entities).localCheckpoint()
        layer(s, trip)
        snapshot("triples", trip)
        with tr.span("operators.triples") as s:
            nodes = triples.nodes_table(entities).localCheckpoint()
        layer(s, nodes)
        snapshot("nodes", nodes)
        with tr.span("operators.canonicalize") as s:
            canon = canonicalize.canonical_entities(entities).localCheckpoint()
        layer(s, canon)
        snapshot("canonical", canon)

    def digest(self, out) -> tuple:
        ck = out["checkpoint"]
        rows = tuple(ck.manifest(s)["rows"] for s in
                     ("mentions", "entities", "triples", "nodes", "canonical"))
        return rows + (_hash_sum(out["triples"]),)

    def final_check(self, out) -> list[str]:
        """Triples of a seeded document sample equal those of the
        independent plain-Python reference pipeline (refsem-based,
        tests/refpipe.py) over the same documents."""
        sample = _sample_docs(self.corpus, self.seed, self.sample_docs)
        want = refpipe.golden_triples(
            [(d["doc_id"], d["text"], d["lang"]) for d in sample])
        got = {tuple(r) for r in out["triples"]
               .filter(F.col("url").isin([_url(d) for d in sample]))
               .select("url", "subj", "pred", "obj").collect()}
        if not want:
            return ["the reference produced no triples for the sample"]
        if got != want:
            return [f"sampled triples differ from the reference pipeline: "
                    f"{len(got - want)} extra, {len(want - got)} missing"]
        return []

    def release(self, out) -> None:
        pass


class KbLink:
    """Large dictionary and KB: Aho-Corasick detection, full linking,
    triples, canonicalization and statistics over Zipf-titled short pages."""

    name = "kb_link"
    n_docs = 4000
    n_titles = 5000
    sample_docs = 16

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.seed = spark, seed
        self.corpus = f"{work}/corpus"
        self.gazetteer = fixtures.GAZETTEER + corpora.dictionary(self.n_titles)

    @classmethod
    def generate(cls, work: str, seed: int) -> None:
        corpora.title_pages(f"{work}/corpus", seed, cls.n_docs, cls.n_titles)

    def setup(self) -> None:
        self.kb = fixtures.scaled_kb_df(
            self.spark, corpora.SYNTH_ID0 + self.n_titles).persist()
        self.kb.count()
        self.aliases = fixtures.scaled_aliases_df(self.spark, self.kb).persist()
        self.aliases.count()

    def run_pass(self):
        spark = self.spark
        docs = tables.docs_table(spark, self.corpus)
        ments = extract_and_detect(docs, gazetteer=self.gazetteer, dedup=True,
                                   max_entities=MAX_ENTITIES).persist()
        ents = linking.link_mentions(spark, ments, aliases=self.aliases,
                                     kb=self.kb).persist()
        return {"mentions": ments, "entities": ents,
                "triples": _materialize(triples.emit_triples(ents)),
                "nodes": _materialize(triples.nodes_table(ents)),
                "canonical": _materialize(
                    canonicalize.canonical_entities(ents)),
                "top10": stats.top10_all(ents).collect(),
                "linked": stats.linked_stats(ents).collect()}

    def traced_pass(self, tr, layer):
        spark = self.spark
        with tr.span("sources.tables") as s:
            docs = tables.docs_table(spark, self.corpus).localCheckpoint()
        n_docs = layer(s, docs)
        with tr.span("operators.extract") as s:
            ments = extract_and_detect(docs, gazetteer=self.gazetteer,
                                       dedup=True, max_entities=MAX_ENTITIES
                                       ).localCheckpoint()
        layer(s, ments, per_doc=n_docs)
        with tr.span("operators.linking") as s:
            ents = linking.link_mentions(spark, ments, aliases=self.aliases,
                                         kb=self.kb).localCheckpoint()
        layer(s, ents, linked_of=ments)
        with tr.span("operators.triples") as s:
            rows, _ = _materialize(triples.emit_triples(ents))
        layer(s, rows=rows)
        with tr.span("operators.triples") as s:
            rows, _ = _materialize(triples.nodes_table(ents))
        layer(s, rows=rows)
        with tr.span("operators.canonicalize") as s:
            rows, _ = _materialize(canonicalize.canonical_entities(ents))
        layer(s, rows=rows)
        with tr.span("operators.stats") as s:
            rows = stats.top10_all(ents).collect() + stats.linked_stats(ents).collect()
        layer(s, rows=len(rows))

    def digest(self, out) -> tuple:
        return (out["mentions"].count(), _hash_sum(out["entities"]),
                out["triples"], out["nodes"], out["canonical"],
                tuple(sorted(tuple(r) for r in out["top10"])),
                tuple(tuple(r) for r in out["linked"]))

    def final_check(self, out) -> list[str]:
        """Mentions of a seeded document sample equal a plain-Python scan
        of each page's text for every dictionary surface (first occurrence,
        label-deduplicated, capped), and each of their "Synth Page <id>"
        entities links to Q<id + 100000>, the page the scaled KB gives that
        title in "de" for even ids and in "en" for odd ones -- unless the
        page is German and the KB page English: a "de" mention probes only
        the "de" KB, any other probes its own language and then "de"."""
        sample = _sample_docs(self.corpus, self.seed, self.sample_docs)
        urls = [_url(d) for d in sample]
        want = set()
        for doc in sample:
            body = (f"{doc['text']} "
                    f"{fixtures.SENTENCES[doc['doc_id'] % len(fixtures.SENTENCES)]}"
                    + (f" {fixtures.SKEW_SENTENCE}" if doc["doc_id"] % 2 == 0 else ""))
            hits = sorted((body.find(surface) + 1, surface, label)
                          for surface, label, _ in self.gazetteer
                          if surface in body)
            seen: set[str] = set()
            for pos, surface, label in hits:
                if label.lower() not in seen and len(seen) < MAX_ENTITIES:
                    seen.add(label.lower())
                    want.add((_url(doc), surface, label, pos, len(seen)))
        got = {tuple(r) for r in out["mentions"]
               .filter(F.col("url").isin(urls))
               .select("url", "surface", "label", "pos", "mention_idx").collect()}
        errors = []
        if got != want:
            errors.append(f"sampled mentions differ from a plain scan: "
                          f"{len(got - want)} extra, {len(want - got)} missing")
        prefix = "Synth Page "
        lang = {_url(d): d["lang"] for d in sample}
        want_links = set()
        for url, _, label, _, _ in want:
            if label.startswith(prefix):
                page_id = int(label[len(prefix):])
                if lang[url] == "de" and page_id % 2:
                    want_links.add((url, label, "not_linked", ""))
                else:
                    want_links.add((url, label, "linked",
                                    f"Q{page_id + 100000}"))
        got_links = {tuple(r) for r in out["entities"]
                     .filter(F.col("url").isin(urls)
                             & F.col("label").startswith(prefix))
                     .select("url", "label", "status", "wikidata_id").collect()}
        if not want_links:
            errors.append("the sample names no dictionary title")
        elif got_links != want_links:
            errors.append(f"sampled title links differ from the KB: "
                          f"{len(got_links - want_links)} wrong, "
                          f"{len(want_links - got_links)} missing")
        return errors

    def release(self, out) -> None:
        out["entities"].unpersist()
        out["mentions"].unpersist()


WORKLOADS = {w.name: w for w in (CrawlBuild, KbLink)}
