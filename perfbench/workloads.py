"""The two workloads.

Each workload makes one operation's input from a seeded generator
(outside the timed region), runs the operation untraced (``run``) or
with a span around each layer (``run_traced``), and checks the
operation's output after Spark has stopped (``comparisons``).

In a traced operation each span covers one call into a layer's public
function plus the action that materializes its result, and it takes as
input what the previous span materialized.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from glirel_spark import config
from glirel_spark.model import udf
from glirel_spark.model.scorer import DeterministicGLiREL
from glirel_spark.operators import corpus_dedup as cd
from glirel_spark.operators import decode, fused, linking, pairs, scoring
from glirel_spark.operators import graph as graph_ops
from glirel_spark.plans import api, pipeline
from glirel_spark.sources import tables
from perfbench import checks, inputs


class Workload:
    name = ""
    # timed operations always run, whatever --seconds says; cache_mb is
    # read after the warm-up plus this many operations. At this size an
    # operation takes longer than --seconds / 2, and the benchmark's
    # time budget holds two kg_lexical_dedup operations per run.
    min_ops = 2
    docs_per_op = 0
    # untimed operations before the first timed one (operation indices
    # -1, -2, ...), each on docs_per_op docs: they pay code generation,
    # JIT, Python workers and the model singleton on the same plans
    warmup_ops = 1

    def __init__(self, src: pd.DataFrame, work: Path, seed: int):
        self.src = src
        self.work = work
        self.seed = seed

    def make_input(self, op: int) -> dict:
        raise NotImplementedError

    def run(self, spark, inp: dict) -> dict:
        raise NotImplementedError

    def run_traced(self, spark, inp: dict, tr) -> dict:
        raise NotImplementedError

    def replay(self, spark, tr, inp: dict, out: dict) -> None:
        """Untimed measurements after a traced operation, in spans of
        their own; what they return for the check goes into ``out``."""

    def comparisons(self, inp: dict, out: dict) -> list[Callable[[], bool]]:
        """The operation's output checks; each is true when its part of
        ``out`` matches the reference."""
        raise NotImplementedError


class KgLexicalDedup(Workload):
    """Batch path on a fresh corpus: the lexical KG written as a table
    and ranked, then the corpus's near-dup families and pairs."""

    name = "kg_lexical_dedup"
    docs_per_op = inputs.LEXICAL_DOCS
    request_schema = "doc_id string, tokens array<string>"

    def __init__(self, src: pd.DataFrame, work: Path, seed: int):
        super().__init__(src, work, seed)
        self.vocab = inputs.vocabulary(src)

    def make_input(self, op: int) -> dict:
        rng = inputs.rng_for(self.seed, self.name, op)
        docs = inputs.lexical_corpus(self.src, self.vocab, rng, self.docs_per_op)
        d = inputs.write_corpus(docs, self.work / f"op{op}")
        return {"op": op, "dir": d, "graph": f"{d}/graph"}

    def run(self, spark, inp: dict) -> dict:
        d = inp["dir"]
        tables.TableIO(spark, d).write(pipeline.graph(spark, d), inp["graph"])
        return {
            "pagerank": pipeline.kg_pagerank(spark, d).toPandas(),
            "clusters": pipeline.dedup_clusters(spark, d).toPandas(),
            "allpairs": pipeline.allpairs_neardups(spark, d).toPandas(),
        }

    def run_traced(self, spark, inp: dict, tr) -> dict:
        d = inp["dir"]
        with tr.span("sources.read"):
            dt = pipeline.docs_tokens(spark, d)
            dt.count()
        with tr.span("fused") as c:
            dm = fused.with_mentions(dt).cache()
            c["mentions"] = fused.mentions_from(dm).count()
            pr = fused.pairs_from(dm).localCheckpoint(eager=True)
            c["pairs"] = pr.count()
        with tr.span("scoring") as c:
            rel = pairs.relation_pairs(pr)
            tri = scoring.lexical_topk1_triples(rel, threshold=config.THRESHOLD)
            tri = tri.localCheckpoint(eager=True)
            c["triples"] = tri.count()
        with tr.span("linking"):
            linked = linking.link_triples(tri, config.ALIAS_DICT).localCheckpoint(eager=True)
        with tr.span("graph.build") as c:
            g = graph_ops.materialize_graph(linked).localCheckpoint(eager=True)
            c["edges"] = g.count()
        with tr.span("sources.write"):
            tables.TableIO(spark, d).write(g, inp["graph"])
        with tr.span("graph.pagerank"):
            ranks = graph_ops.pagerank_int(g).toPandas()
        with tr.span("corpus_dedup.signature"):
            sh = cd.with_shingle_array(dt).cache()
            sig = cd.minhash_signature_arr(dt, shingled=sh).localCheckpoint(eager=True)
        with tr.span("corpus_dedup.candidates") as c:
            bands = cd.lsh_bands(sig).localCheckpoint(eager=True)
            cands = cd.candidate_pairs(bands).localCheckpoint(eager=True)
            c["candidates"] = cands.count()
            biggest = bands.groupBy("band", "band_key").count().agg(F.max("count"))
            c["max_bucket_docs"] = biggest.first()[0]
        with tr.span("corpus_dedup.verify") as c:
            ver = cd.jaccard_verify_arr(cands, sh).filter(F.col("jaccard") >= config.NEARDUP_JACCARD)
            c["verified"] = ver.localCheckpoint(eager=True).count()
        with tr.span("corpus_dedup.plan"):
            clusters = pipeline.dedup_clusters(spark, d)
        with tr.span("corpus_dedup.clusters"):
            clusters = clusters.toPandas()
        with tr.span("corpus_dedup.allpairs"):
            allpairs = cd.allpairs_neardups(dt, shingled=sh).toPandas()
        dm.unpersist()
        sh.unpersist()
        return {"pagerank": ranks, "clusters": clusters, "allpairs": allpairs}

    def replay(self, spark, tr, inp: dict, out: dict) -> None:
        """A closed loop of API requests, one client, on docs of the
        traced operation's corpus: ``createDataFrame`` of the request's
        docs, ``api.extract_triples``, ``collect``."""
        docs = pd.read_parquet(f"{inp['dir']}/documents.parquet")
        rng = inputs.rng_for(self.seed, "api", inp["op"])
        storage = spark.sparkContext._jsc.sc()
        out["api"] = []
        for _ in range(inputs.API_REQUESTS):
            req = inputs.request_docs(docs, rng)
            rows = [(str(i), t.split(" ")) for i, t in zip(req["doc_id"], req["text"])]
            n_cached = len(storage.getRDDStorageInfo())
            with tr.span("api.request") as c:
                with tr.span("api.input"):
                    df = spark.createDataFrame(rows, self.request_schema)
                with tr.span("api.plan"):
                    res = api.extract_triples(df)
                with tr.span("api.exec"):
                    got = res.collect()
            c["cached_relations"] = len(storage.getRDDStorageInfo()) - n_cached
            out["api"].append((req, checks.spark_rows(got, res.columns)))

    def comparisons(self, inp: dict, out: dict) -> list[Callable[[], bool]]:
        sql = checks.oracle_sql()
        docs = f"{inp['dir']}/documents.parquet"

        def clusters() -> bool:
            # The families reference is the transitive closure of the
            # DuckDB MinHash near-dup twin, closed by union-find here:
            # the recursive-CTE twin oracle_sql()["dedup_clusters"]
            # computes the same relation but takes ~11 s per 800-doc
            # corpus.
            neardups = checks.oracle(sql["minhash_neardups"], docs)
            doc_ids = pd.read_parquet(docs, columns=["doc_id"])["doc_id"].astype(str)
            return checks.same(out["clusters"], checks.clusters_from_pairs(doc_ids, neardups))

        return [
            lambda: checks.same(pd.read_parquet(inp["graph"]), checks.oracle(sql["graph"], docs)),
            lambda: checks.same(out["pagerank"], checks.oracle(checks.pagerank_sql(sql), docs)),
            clusters,
            lambda: checks.same(out["allpairs"], checks.oracle(sql["allpairs_neardups"], docs)),
        ] + [
            lambda req=req, got=got: checks.same(got, checks.oracle(sql["api_triples"], req))
            for req, got in out.get("api", [])
        ]


class KgNeural(Workload):
    """Neural extraction over an id-preserving subset of the corpus."""

    name = "kg_neural"
    docs_per_op = inputs.NEURAL_DOCS

    def make_input(self, op: int) -> dict:
        rng = inputs.rng_for(self.seed, self.name, op)
        docs = inputs.neural_subset(self.src, rng, self.docs_per_op)
        d = inputs.write_corpus(docs, self.work / f"op{op}")
        return {"dir": d, "doc_ids": [str(i) for i in docs["doc_id"]]}

    def run(self, spark, inp: dict) -> dict:
        return {"triples": pipeline.triples_neural(spark, inp["dir"]).toPandas()}

    def run_traced(self, spark, inp: dict, tr) -> dict:
        d = inp["dir"]
        with tr.span("sources.read"):
            dt = pipeline.docs_tokens(spark, d)
            dt.count()
        with tr.span("fused") as c:
            dm = fused.with_mentions(dt).cache()
            ments = fused.mentions_from(dm).localCheckpoint(eager=True)
            c["mentions"] = ments.count()
        with tr.span("model.score") as c:
            scored = udf.score_pairs_neural(dt, ments).localCheckpoint(eager=True)
            c["arrow_rows_out"] = scored.count()
        with tr.span("decode"):
            out = self._decode(spark, scored, ments).toPandas()
        dm.unpersist()
        self._last = (dt, ments)
        return {"triples": out}

    def _decode(self, spark, scored, ments):
        """threshold -> top-k -> enrich -> constraint -> format, composed
        as ``udf.neural_triples`` composes it."""
        best = decode.top_k_per_pair(decode.threshold_filter(scored, config.THRESHOLD), config.TOP_K)
        mt = ments.select("doc_id", "start", "end", "type", "text")
        h = mt.toDF("doc_id", "h_start", "h_end", "h_type", "h_text")
        t = mt.toDF("doc_id", "t_start", "t_end", "t_type", "t_text")
        enriched = best.join(h, ["doc_id", "h_start", "h_end"]).join(t, ["doc_id", "t_start", "t_end"])
        labels = scoring.labels_df(spark)
        enriched = enriched.join(F.broadcast(labels), "label", "left").withColumn(
            "raw", F.lit(None).cast("int")
        )
        return decode.format_output(decode.constraint_filter(enriched))

    def replay(self, spark, tr, inp: dict, out: dict) -> None:
        """Per-doc model calls in this process, on every doc of the
        traced operation, in the order ``udf.score_pairs_neural`` makes
        them."""
        dt, ments = self._last
        toks = dt.toPandas()
        spans = ments.select("doc_id", "start", "end").toPandas()
        by_doc = {k: g[["start", "end"]].to_numpy(np.int64) for k, g in spans.groupby("doc_id")}
        model = DeterministicGLiREL.get()
        labels = tuple(sorted(config.RELATION_LABELS))
        ms: dict[str, list[float]] = {"encode_doc": [], "encode_batch": [], "label_ffn": [], "score_doc": []}
        with tr.span("model.replay") as c:
            for doc_id, tokens in zip(toks["doc_id"], toks["tokens"]):
                tokens = list(tokens)
                t0 = time.perf_counter()
                word, rel = model.encode_doc(tokens, labels)
                t1 = time.perf_counter()
                reps = model.encode_batch([word])[0]
                t2 = time.perf_counter()
                lab = model.label_ffn(rel)
                t3 = time.perf_counter()
                sp = by_doc.get(doc_id, np.zeros((0, 2), np.int64))
                # udf.score_pairs_neural packs spans with array_sort(struct(start, end))
                sp = model.valid_spans(sp[np.lexsort((sp[:, 1], sp[:, 0]))], len(tokens))
                model.score_doc(tokens, sp, labels, config.MAX_PAIR_DISTANCE, tok_reps=reps, lab_reps=lab)
                t4 = time.perf_counter()
                for key, dt_s in zip(ms, (t1 - t0, t2 - t1, t3 - t2, t4 - t3)):
                    ms[key].append(dt_s * 1e3)
            for key, vals in ms.items():
                c[f"{key}_ms"] = float(np.median(vals))

    def comparisons(self, inp: dict, out: dict) -> list[Callable[[], bool]]:
        return [lambda: checks.same(
            checks.normalize_neural(out["triples"]), checks.neural_golden(inp["doc_ids"])
        )]


WORKLOADS = {w.name: w for w in (KgLexicalDedup, KgNeural)}
