"""The tensor-plane Spark boundary: one vectorized mapInPandas stage.

Design (SURVEY.md §4, north_star):
- UDF input is ONE ROW PER DOCUMENT (tokens + mention array), not per
  pair — pairs must be scored with document context, so exploding
  before the UDF would duplicate the token sequence P times. Docs with
  fewer than 2 mentions cannot form a pair and are never encoded.
- the model is a process-level singleton (DeterministicGLiREL.get()):
  loaded once per executor python worker, never per batch. With real
  weights this is the `--archives`-shipped checkpoint + ONNX session.
- label reps are DOCUMENT-contextual (the prompt attends to the doc it
  scores, model.py:188-214), so they come out of the same per-doc
  transformer forward as the word reps — no cross-doc caching is
  possible, and none is attempted.
- output is ONE ROW PER ENTITY PAIR: the pair key, head/tail type and
  text carried through from the mention structs, and ``probs`` aligned
  to the label tuple. ``neural_triples_from`` decodes that row in one
  narrow projection (no join, aggregation or exchange after the UDF);
  ``score_pairs_neural``'s (pair, label) relation is its posexplode.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from glirel_spark import config
from glirel_spark.model.scorer import DeterministicGLiREL
from glirel_spark.operators.decode import PAIR_KEY, format_output
from glirel_spark.operators.scoring import lexical_constraint_ok

_PAIR_SCHEMA = (
    "doc_id string, h_start int, h_end int, t_start int, t_end int, h_type string, "
    "t_type string, h_text string, t_text string, probs array<double>"
)


def _pack(docs_tokens: DataFrame, mentions: DataFrame, labels_col: str | None = None) -> DataFrame:
    """(doc_id, tokens, _ments[, labels_col]) from a mentions table
    (collect_list per doc); span-only tables carry NULL type/text."""
    payload = [
        (F.col(c) if c in mentions.columns else F.lit(None).cast("string")).alias(c)
        for c in ("type", "text")
    ]
    return mentions.groupBy("doc_id").agg(
        F.collect_list(F.struct("start", "end", *payload)).alias("_ments")
    ).join(docs_tokens.select("doc_id", "tokens", *([labels_col] if labels_col else [])), "doc_id")


def _score_pairs(
    docs_ments: DataFrame, labels: tuple[str, ...],
    max_distance: int | None, labels_col: str | None = None,
) -> DataFrame:
    """(doc_id, tokens, _ments[, labels_col]) -> one row per entity pair,
    ``probs`` aligned to ``_labels``: ``labels``, or with ``labels_col``
    the row's own label set."""
    ments = F.array_sort(F.transform("_ments", lambda m: F.struct(
        *[m[c].alias(c) for c in ("start", "end", "type", "text")]
    )))
    packed = docs_ments.filter(F.size("_ments") >= 2).select(
        "doc_id", "tokens", ments.alias("_ments"),
        *([F.col(labels_col).alias("_labels")] if labels_col else []),
    )
    # The scorer stage is PYTHON-CPU-bound (~10ms/doc through the
    # transformer) while its input is tiny in BYTES (tokens + spans),
    # so AQE's byte-based partition coalescing collapses it to ONE task
    # (measured: 10k docs = 126s single-task vs ~30s on 4 cores). Pin
    # the partition count with an explicit ROUND-ROBIN repartition:
    # repartition(N) is REPARTITION_BY_NUM, which AQE never coalesces,
    # whereas repartition(N, doc_id) collapses into an upstream doc_id
    # exchange and gets coalesced with it (measured: back to 1 task).
    # Nothing downstream needs doc_id clustering: decode is row-local.
    sc = docs_ments.sparkSession.sparkContext
    packed = packed.repartition(sc.defaultParallelism * 2)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = DeterministicGLiREL.get()
        for pdf in batches:
            # T2-T6 transformer encode per document (prompt and document
            # attend JOINTLY), then the T8 BiLSTM batched over the WHOLE
            # Arrow batch: its python recurrence loop is O(max_len).
            toks = [list(t) for t in pdf["tokens"]]
            labs = [tuple(ls) for ls in pdf["_labels"]] if labels_col else [labels] * len(toks)
            enc = [model.encode_doc(t, ls) for t, ls in zip(toks, labs)]
            reps = model.encode_batch([word for word, _ in enc])
            chunks: list[pd.DataFrame] = []
            for i, (tokens, ments) in enumerate(zip(toks, pdf["_ments"])):
                # P4: filter HERE, each span's mention index riding along
                # as a third column, so the pair indices score_doc returns
                # map to the right positions AND type/text payload.
                kept = model.valid_spans(np.asarray(
                    [(m["start"], m["end"], j) for j, m in enumerate(ments)], dtype=np.int64
                ).reshape(-1, 3), len(tokens))
                pidx, probs = model.score_doc(
                    tokens, kept[:, :2], labs[i], max_distance,
                    tok_reps=reps[i], lab_reps=model.label_ffn(enc[i][1]),
                )
                if len(pidx) == 0:
                    continue
                h, t = kept[pidx[:, 0]], kept[pidx[:, 1]]
                types, texts = (np.asarray([m[c] for m in ments], dtype=object) for c in ("type", "text"))
                chunk = pd.DataFrame({
                    "doc_id": pdf["doc_id"].iat[i],
                    "h_start": h[:, 0].astype(np.int32), "h_end": h[:, 1].astype(np.int32),
                    "t_start": t[:, 0].astype(np.int32), "t_end": t[:, 1].astype(np.int32),
                    "h_type": types[h[:, 2]], "t_type": types[t[:, 2]],
                    "h_text": texts[h[:, 2]], "t_text": texts[t[:, 2]],
                    "probs": list(probs.astype(np.float64)),
                })
                if labels_col:
                    chunk["_labels"] = [list(labs[i])] * len(chunk)
                chunks.append(chunk)
            if chunks:
                yield pd.concat(chunks, ignore_index=True)

    if labels_col:
        return packed.mapInPandas(run, _PAIR_SCHEMA + ", _labels array<string>")
    names = F.array(*[F.lit(lab) for lab in labels]).cast("array<string>")
    return packed.mapInPandas(run, _PAIR_SCHEMA).withColumn("_labels", names)


def score_pairs_neural(
    docs_tokens: DataFrame,
    mentions: DataFrame,
    labels: list[str] | None = None,
    max_distance: int | None = config.MAX_PAIR_DISTANCE,
    labels_col: str | None = None,
) -> DataFrame:
    """(doc_id, tokens) x (doc_id, mentions) -> scored (pair, label) rows
    (doc_id, positions, label, prob): the posexplode of each pair's
    ``probs``. ``labels_col`` names an ``array<string>`` column of
    PER-DOCUMENT label sets (the reference's ``fixed_relation_types:
    false`` mode, base.py:327-339): the prompt is built per document
    anyway, so per-example labels cost nothing extra."""
    labs = tuple(labels if labels is not None else sorted(config.RELATION_LABELS))
    pairs = _score_pairs(_pack(docs_tokens, mentions, labels_col), labs, max_distance, labels_col)
    return pairs.select(
        *PAIR_KEY, "_labels", F.posexplode("probs").alias("_i", "prob")
    ).select(*PAIR_KEY, F.col("_labels")[F.col("_i")].alias("label"), "prob")


def neural_triples_from(
    docs_ments: DataFrame,
    labels: dict[str, dict[str, list[str]]] | None = None,
    threshold: float = config.THRESHOLD,
    top_k: int = config.TOP_K,
    labels_col: str | None = None,
) -> DataFrame:
    """Per-doc mention arrays (doc_id, tokens, _ments[, labels_col]),
    e.g. the cached ``fused.with_mentions`` frame -> formatted triples.

    Decode is one narrow projection over each pair row: labels with prob
    > threshold, sorted by struct(-prob, label, prob) (prob desc, label
    asc: ``decode.top_k_per_pair``'s tie-break), sliced to k, exploded,
    P9-filtered by a literal label when-chain, then output-formatted.
    Row-identical to the relational decode over ``score_pairs_neural``
    (tests/test_neural_decode.py)."""
    labels = config.RELATION_LABELS if labels is None else labels
    labs = tuple(sorted(labels))
    pairs = _score_pairs(docs_ments, labs, config.MAX_PAIR_DISTANCE, labels_col)
    cand = F.filter(
        F.transform("probs", lambda p, i: F.struct(
            (-p).alias("_np"), F.col("_labels")[i].alias("label"), p.alias("prob")
        )),
        lambda s: s["prob"] > F.lit(threshold),
    )
    payload = [*PAIR_KEY, "h_type", "t_type", "h_text", "t_text"]
    best = pairs.select(
        *payload, F.explode(F.slice(F.sort_array(cand), 1, top_k)).alias("_b")
    ).select(
        *payload, "_b.label", F.lit(None).cast("int").alias("raw"), "_b.prob"
    ).filter(lexical_constraint_ok(labels, F.col("label")))
    return format_output(best)


def neural_triples(
    docs_tokens: DataFrame,
    mentions: DataFrame,
    threshold: float = config.THRESHOLD,
    top_k: int = config.TOP_K,
) -> DataFrame:
    """(doc_id, tokens) + a mentions table (doc_id, start, end, type, text)
    -> formatted triples: mentions packed per doc, then neural_triples_from."""
    return neural_triples_from(_pack(docs_tokens, mentions), threshold=threshold, top_k=top_k)
